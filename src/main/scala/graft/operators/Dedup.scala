package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Deduplication operators.
  *
  * `keepFirst` reproduces the reference's keep-first dedup-on-append
  * semantics (`sam_extract/writers/ZarrWriter.py:355-378`) with an explicit
  * order column — Spark has no implicit row order, so "first" must be
  * defined by data (SURVEY §7.4 hard part 2).
  *
  * `exactByHash` is content-addressed exact dedup for document pipelines:
  * group by a hash of the normalized content, keep the lowest id. The
  * hash-groupBy shuffles only (hash, id) pairs, not the documents themselves,
  * and the final semi-join prunes columns until the last moment — the shape
  * that scales to 100 TB of text.
  */
object Dedup {

  /** Keep the first row per key, "first" = smallest `orderCol`. */
  def keepFirst(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val rn = "__graft_dedup_rn"
    require(!df.columns.contains(rn), s"input already has a '$rn' column")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
  }

  /** Exact content dedup: canonical row per distinct `contentHash`, choosing
    * the smallest `idCol`. Returns the full surviving rows. */
  def exactByHash(df: DataFrame, contentHash: Column, idCol: String): DataFrame = {
    val (h, rn) = ("__graft_dedup_h", "__graft_dedup_rn")
    require(!df.columns.contains(h) && !df.columns.contains(rn),
      s"input already has a '$h' / '$rn' column")
    val hashed = df.withColumn(h, contentHash)
    val w      = Window.partitionBy(col(h)).orderBy(col(idCol))
    hashed.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn, h)
  }

  /** Normalized text hash used for exact document dedup: lowercase, collapse
    * whitespace runs, md5. Matches DuckDB
    * `md5(regexp_replace(lower(text), '\s+', ' ', 'g'))`. */
  def normalizedTextHash(text: Column): Column =
    md5(regexp_replace(lower(text), "\\s+", " ").cast("binary"))

  /** Duplicate-group stats: one row per distinct content hash with its
    * canonical (minimum) id and copy count. */
  def exactStats(df: DataFrame, contentHash: Column, idCol: String): DataFrame =
    df.groupBy(contentHash.as("content_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Connected components over an undirected pair list (the near-dup
    * CLUSTERING step: pair-finding emits edges; dedup needs one canonical
    * doc per transitive cluster). Returns (id, comp): one row per id in
    * `pairs`, comp = the smallest id of its cluster, so the canonical
    * selection (keep comp, drop the rest) falls out directly. Ids are
    * non-null and may be any orderable type (Long and String doc ids).
    *
    * Alternating large-star / small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): with
    * m(x) = min(x, smallest neighbour of x), large-star rewires x's larger
    * neighbours y to (m, y), small-star its smaller ones (y ≠ m); both keep
    * (m, x). Every phase is one exchange of the edge list (both
    * orientations) by x, sorted by (x, y), and one walk with O(1) state per
    * vertex ([[starWalk]]): m is the group's first row, duplicate pairs are
    * skipped in passing, and the id order the walk needs is computed in SQL
    * before it. Rounds are logarithmic in the cluster diameter on any
    * topology (a shuffled 10⁴-node chain takes 11–12).
    *
    * Stop rule: the large-star walk also runs the exact star test on the
    * edge set it reads — every vertex's smallest neighbour is larger than
    * it, or it has exactly one neighbour. Then each cluster is a star round
    * its minimum, and m(x) is the label. Testing only each edge's low
    * endpoint is not enough: on the path 0–2–1 or a hub 3 over 0, 1, 2, the
    * vertex with two smaller neighbours is the high endpoint of every
    * edge, and the graph passed as converged with split clusters.
    *
    * Each round is one `localCheckpoint` that frees its predecessor; the
    * test is one `isEmpty` over it. Ids seen only in self-pairs carry
    * themselves from walk to walk and label themselves. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    components(pairs, aCol, bCol)._1

  /** [[connectedComponents]]'s labels with the number of contraction
    * rounds (small-star + large-star pairs) it ran. */
  private[graft] def components(pairs: DataFrame, aCol: String, bCol: String): (DataFrame, Int) = {
    val mirrored = explode(array(
      struct(col(aCol).as("x"), col(bCol).as("y")), struct(col(bCol).as("x"), col(aCol).as("y"))))
    var ls     = starPhase(pairs.select(mirrored.as("e")).select("e.*"), large = true).localCheckpoint()
    var rounds = 0
    while (!ls.filter(col("kind") === NotStar).isEmpty) {
      val edges = ls.filter(col("kind") === Edge).select("x", "y")
      val next  = starPhase(starPhase(edges, large = false), large = true).localCheckpoint()
      Checkpoints.free(ls)
      ls = next
      rounds += 1
    }
    val labels = ls.filter(col("kind") === Label).select(col("x").as("id"), col("y").as("comp")).localCheckpoint()
    Checkpoints.free(ls)
    (labels, rounds)
  }

  // the kinds of row a star walk emits: a mirrored edge, (x, m(x)), and
  // the large-star marker of a vertex that fails the star test
  private val Edge    = 0
  private val Label   = 1
  private val NotStar = 2

  /** One star phase over the edge list (x, y): exchange by x, sort by
    * (x, y), walk. Output (x, y, kind). */
  private def starPhase(edges: DataFrame, large: Boolean): DataFrame = {
    val sorted = edges
      .repartition(col("x"))
      .sortWithinPartitions("x", "y")
      .select(col("x"), col("y"), col("y") > col("x"), col("y") < col("x"))
    val out = StructType(Seq(sorted.schema("x"), sorted.schema("y"),
      StructField("kind", IntegerType, nullable = false)))
    sorted.mapPartitions(rows => starWalk(rows, large))(Encoders.row(out))
  }

  /** The walk of one star phase over rows (x, y, y > x, y < x) sorted by
    * (x, y). Large-star emits (m, y) for each y > x and labels x with m;
    * small-star emits (m, y) for each y < x but the first (which is m);
    * both emit (m, x) when m ≠ x, every edge in both orientations. */
  private def starWalk(rows: Iterator[Row], large: Boolean): Iterator[Row] = {
    var x: Any     = null
    var m: Any     = null
    var prev: Any  = null
    var open       = false
    var lower      = false // x has a smaller neighbour, so m ≠ x
    var nbrs       = 0     // distinct neighbours of x so far, self excluded
    var out        = new ArrayBuffer[Row](4)
    def edge(a: Any, b: Any): Unit = { out += Row(a, b, Edge); out += Row(b, a, Edge) }
    // an id seen only in self-pairs carries itself to the next phase
    def close(): Unit = if (open && nbrs == 0) out += Row(x, x, Edge)
    rows.flatMap { r =>
      out = new ArrayBuffer[Row](4)
      val (y, gt, lt) = (r.get(1), r.getBoolean(2), r.getBoolean(3))
      if (!open || r.get(0) != x) {
        close()
        open = true; x = r.get(0); lower = lt; m = if (lt) y else x; prev = null; nbrs = 0
        if (lower) edge(m, x)
        if (large) out += Row(x, m, Label)
      }
      if ((gt || lt) && y != prev) {
        nbrs += 1
        if (large && gt) edge(m, y)
        if (!large && lt && nbrs > 1) edge(m, y)
        if (large && lower && nbrs == 2) out += Row(x, m, NotStar)
      }
      prev = y
      out
    } ++ { out = new ArrayBuffer[Row](1); close(); out }
  }

  /** Quality-aware canonical selection over near-dup clusters — the
    * RefinedWeb-style refinement of keep-first: cluster the pair graph
    * ([[connectedComponents]]), then keep each cluster's HIGHEST-scoring
    * member (ties → lowest id), instead of blindly keeping the lowest id.
    * Returns one row per cluster: `(cluster, n_members, keep_id,
    * best_score)`; callers semi-join `keep_id` to compact the corpus.
    *
    * Scale shape: clustering is the star contraction over pair
    * participants only; the argmax is ONE map-side-combined
    * aggregate over (comp, id, score) rows — the lexicographic
    * struct-max trick, no per-cluster window/sort, so a million-member
    * degenerate cluster still reduces distributed.
    *
    * Score contract: scores compare as IEEE doubles (integral scores
    * beyond 2^53 may collapse under the cast; use a pre-scaled double
    * if you need finer resolution up there). A NULL score ranks BELOW
    * every non-null score — a null-scored member can only win a cluster
    * whose members are all null-scored (ties then fall to lowest id). */
  def keepBestInCluster(
      pairs: DataFrame, // (aCol, bCol) near-dup pair graph
      aCol: String,
      bCol: String,
      scores: DataFrame, // (idCol, scoreCol) — must cover every pair member
      idCol: String,
      scoreCol: String): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
    // struct-MIN over (-score, id): smallest negated score = highest score,
    // ties fall to the smallest id under the struct's natural ascending
    // order — no negation of the id, so string/any orderable ids work.
    // NULL scores coalesce to -Inf BEFORE the negation: a bare -NULL is
    // NULL, and struct-min sorts a NULL field FIRST, which would let one
    // null-scored member beat every real score in its cluster.
    val best = min(struct(
      (-coalesce(col(scoreCol).cast("double"), lit(Double.NegativeInfinity))).as("ns"),
      col("id").as("kid"),
      col(scoreCol).as("s")))
    comps
      .join(scores.select(col(idCol).as("id"), col(scoreCol)), Seq("id"))
      .groupBy(col("comp").as("cluster"))
      .agg(
        count(lit(1)).as("n_members"),
        best.getField("kid").as("keep_id"),
        best.getField("s").as("best_score"))
  }

  /** Incremental ingest dedup: flag each incoming row whose content hash
    * already exists in the corpus-hash index. Output is EXACT (the bloom
    * never decides membership, it only prunes the join).
    *
    * The 100 TB shape: a daily ingest batch joined directly against a
    * corpus-scale hash index shuffles the whole index every day. Instead a
    * Bloom filter of the index (mergeable aggregate — built map-side in one
    * pass, byte size fixed by `expectedCorpusItems`/`fpp`, NOT by data
    * volume) is broadcast to the ingest side; rows that MISS the bloom are
    * definitively new and never reach the join, so only true dups + an fpp
    * share of new rows join — and that maybe-hit sliver is typically
    * broadcast-able against the bucketed index at ingest scale. Sizing: ~1.2
    * bytes/item at fpp 0.01, so 10⁹ corpus hashes ≈ 1.2 GB of filter — at
    * larger index cardinalities raise `fpp` (the join stays exact, only the
    * prune weakens) or shard the index by hash prefix and run one
    * incremental pass per shard. The membership probe is a broadcast-closure
    * filter (not codegen) — one hash probe per row against in-memory bits,
    * never the hot cost next to the md5 itself.
    *
    * `corpusHashes` must be the single-column hash index (`hashCol`);
    * `contentHash` computes the same hash on `incoming` (use
    * [[normalizedTextHash]] on both sides). Returns all incoming rows with
    * an `is_dup` flag.
    *
    * `incoming` may be a STREAMING frame: every piece is streaming-native
    * (narrow filters, a stream-static left join, a union), so the same
    * operator is the ingest-queue dedup gate with no separate
    * implementation — the bloom and the index snapshot are fixed at query
    * start (restart the stream to pick up a grown corpus), and the bloom
    * prefilter is what keeps each micro-batch from paying a corpus-scale
    * join probe per trigger (pinned by StreamingIncrementalDedupSpec). */
  def incrementalByHash(
      incoming: DataFrame,
      corpusHashes: DataFrame,
      hashCol: String,
      contentHash: Column,
      expectedCorpusItems: Long,
      fpp: Double = 0.01): DataFrame = {
    val h = "__graft_dedup_h"
    require(!incoming.columns.contains(h), s"input already has a '$h' column")
    require(!incoming.columns.contains("is_dup"), "input already has an 'is_dup' column")
    val spark = incoming.sparkSession
    val bloomB = spark.sparkContext.broadcast(
      corpusHashes.stat.bloomFilter(hashCol, expectedCorpusItems, fpp))
    val mightContain = udf((s: String) => s != null && bloomB.value.mightContainString(s))
    val hashed = incoming.withColumn(h, contentHash)
    val maybe  = hashed.filter(mightContain(col(h)))
    val fresh  = hashed.filter(!mightContain(col(h))).withColumn("is_dup", lit(false))
    val index  = corpusHashes.select(col(hashCol).as(h)).distinct()
      .withColumn("__graft_hit", lit(true))
    val flagged = maybe
      .join(index, Seq(h), "left")
      .withColumn("is_dup", coalesce(col("__graft_hit"), lit(false)))
      .drop("__graft_hit")
    flagged.unionByName(fresh).drop(h)
  }
}
