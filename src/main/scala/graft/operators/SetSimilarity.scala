package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact n-gram Jaccard near-duplicate join — the signature-free member of
  * the dedup family (vs [[MinHashLSH]]'s approximate minhash candidates and
  * [[TextAnalysis.simHashNearDup]]'s hamming buckets).
  *
  * Candidate pairs come from an inverted shingle index (postings): two
  * documents pair iff they share at least one shingle whose document
  * frequency is ≤ `maxDocFreq`. Reported (n_common, jaccard) are EXACT over
  * the FULL shingle sets — the cap's only effect is dropping pairs whose
  * entire overlap is capped boilerplate (a shingle shared by thousands of
  * documents contributes candidate pairs quadratically while adding at most
  * 1 to any pair's intersection) — the documented contract, mirrored
  * exactly by the SQL oracle.
  *
  * Scale design (the postings / prefix-filter family, cf. PPJoin), fully
  * relational — NO per-pair kernel and NO candidate broadcast, because on
  * overlap-heavy corpora the candidate set is itself large (sf0.1's shared
  * synthetic vocabulary yields ~10⁶ pairs from 5k docs; a broadcast +
  * per-pair re-shingling verify took minutes where this plan takes
  * seconds):
  *
  *  1. one shuffle builds per-shingle postings (distinct doc ids);
  *  2. buckets with 2..maxDocFreq docs explode to in-bucket pairs — one row
  *     per SHARED sub-cap shingle — and a hash aggregate counts them, which
  *     yields the candidate set and its sub-cap intersection size in the
  *     same pass (work = Σ df², bounded per-shingle by the cap, fully
  *     distributed);
  *  3. the few over-cap (hot) shingles contribute their exact intersection
  *     term through a postings join against the candidate pairs — bounded
  *     by |candidates| × hot-shingles-per-doc;
  *  4. per-doc set sizes join in (narrow (id, n) rows; AQE broadcasts them
  *     when small) and the Jaccard filter runs last.
  *
  * The postings aggregate ([[shinglePostings]]) feeds THREE consumers
  * (steps 2, 3, 4). Spark's exchange reuse shares the shuffle but re-runs
  * the aggregate per consumer, so at scale the aggregate should
  * materialize ONCE: build the postings yourself, persist them through
  * [[graft.CacheScope.persist]], and release them when the pair output
  * has been consumed (q52, q57 and q94 do this):
  *
  * {{{
  * val post  = CacheScope.persist(SetSimilarity.shinglePostings(docs, "doc_id", "text"), level)
  * val pairs = SetSimilarity.ngramJaccardFromPostings(post)
  * pairs.write.parquet(out)          // one aggregate, three cache reads
  * post.unpersist()
  * }}}
  */
object SetSimilarity {

  /** Inverted shingle index: one row per distinct shingle with the sorted
    * list of containing doc ids — the shared subtree of the whole exact
    * set-similarity family (one shuffle on the shingle). */
  def shinglePostings(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3): DataFrame =
    MinHashLSH.shingles(df, idCol, textCol, shingleLen)
      .groupBy(col("shingle"))
      .agg(array_sort(collect_list(col(idCol))).as("ids"))

  /** Per-document distinct-shingle set sizes straight off the raw texts:
    * `size(WordGrams(distinct))` is a pure codegen projection, so callers
    * that still hold the document frame get the (id, n) table with ZERO
    * shuffle — where deriving the same sizes from the postings pays one
    * full explode + hash aggregate over the postings intermediate (two of
    * them, since each join side re-evaluates the subtree). Identical
    * values by construction: a doc's posting count IS its distinct-shingle
    * count. Docs with no shingles (< shingleLen words) have no postings
    * and are filtered to keep the frame row-identical to the
    * postings-derived form (guide §2.4: remove shuffles outright). */
  def shingleSizes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3): DataFrame =
    df.select(
        col(idCol).as("_id"),
        size(MinHashLSH.shingleArray(col(textCol), shingleLen)).cast("long").as("n"))
      .filter(col("n") >= 1L)

  /** Near-duplicate (doc_a, doc_b, n_common, jaccard) pairs with exact
    * n-gram Jaccard ≥ `minJaccard`, candidates from df-capped postings
    * (to materialize the postings once, see the object scaladoc). */
  def ngramJaccardNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      minJaccard: Double = 0.5,
      maxDocFreq: Int = 100): DataFrame =
    ngramJaccardFromPostings(
      shinglePostings(df, idCol, textCol, shingleLen), minJaccard, maxDocFreq,
      sizes = Some(shingleSizes(df, idCol, textCol, shingleLen)))

  /** The pair join over a prebuilt [[shinglePostings]] frame — callers that
    * persist the postings themselves get the materialize-once plan with an
    * explicit `unpersist()` point. `sizes` (optional, (_id, n)): pass
    * [[shingleSizes]] when the raw documents are still in hand — the
    * kernel projection replaces two postings-explode aggregates; default
    * derives sizes from the postings (identical values).
    *
    * CONTRACT: a supplied `sizes` frame MUST be [[shingleSizes]] over the
    * SAME documents and the SAME `shingleLen` that built `buckets` — a
    * filtered or differently-shingled frame silently corrupts `n_a`/`n_b`
    * and every downstream jaccard value (there is no cross-validation;
    * the invariant is "a doc's posting count IS its distinct-shingle
    * count"). */
  def ngramJaccardFromPostings(
      buckets: DataFrame,
      minJaccard: Double = 0.5,
      maxDocFreq: Int = 100,
      sizes: Option[DataFrame] = None): DataFrame =
    pairsWithSizes(buckets, maxDocFreq, sizes)
      .withColumn(
        "jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("jaccard"))

  /** Asymmetric CONTAINMENT near-dup over the same postings machinery:
    * containment = |A ∩ B| / min(|A|, |B|) — the smaller document's
    * covered fraction. This is the doc-inside-doc detector Jaccard
    * structurally misses: a short document fully embedded in a long one
    * has Jaccard |A|/|B| (arbitrarily small) but containment 1. Same
    * candidates, caps, and exact hot-shingle correction as
    * [[ngramJaccardFromPostings]] — including its `sizes` CONTRACT (same
    * documents, same `shingleLen` as `buckets`, or containment values are
    * silently wrong). */
  def containmentFromPostings(
      buckets: DataFrame,
      minContainment: Double = 0.8,
      maxDocFreq: Int = 100,
      sizes: Option[DataFrame] = None): DataFrame =
    pairsWithSizes(buckets, maxDocFreq, sizes)
      .withColumn(
        "containment",
        col("n_common").cast("double") / least(col("n_a"), col("n_b")))
      .filter(col("containment") >= lit(minContainment))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("containment"))

  /** [[containmentFromPostings]] from raw documents. */
  def containmentNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      minContainment: Double = 0.8,
      maxDocFreq: Int = 100): DataFrame =
    containmentFromPostings(
      shinglePostings(df, idCol, textCol, shingleLen), minContainment, maxDocFreq,
      sizes = Some(shingleSizes(df, idCol, textCol, shingleLen)))

  /** Shared pair core: candidate (doc_a, doc_b) pairs from df-capped
    * postings with exact n_common (sub-cap count + hot-shingle
    * correction) and both set sizes attached. `sizesOpt`: a prebuilt
    * (_id, n) table ([[shingleSizes]] — a zero-shuffle kernel projection
    * off the raw texts); when absent, sizes re-derive from the postings
    * (one explode + aggregate per join side). */
  private def pairsWithSizes(
      buckets: DataFrame,
      maxDocFreq: Int,
      sizesOpt: Option[DataFrame] = None): DataFrame = {
    require(maxDocFreq >= 2, "maxDocFreq < 2 can never produce a candidate pair")
    val sizes = sizesOpt.getOrElse(buckets
      .select(explode(col("ids")).as("_id"))
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n")))
    // candidate pairs + their sub-cap intersection count, in one aggregate:
    // each in-bucket pair row is one shared sub-cap shingle. The guard
    // predicate (its own filter, between the codegen df >= 2 pre-filter and
    // the cap filter) makes cap-dropped hot shingles loud via the session
    // listener; the pre-filter keeps the row-at-a-time guard off the df = 1
    // long tail, which can never be hot.
    val sub = buckets
      .filter(size(col("ids")) >= 2)
      .filter(LshDiagnostics.postingsCapGuard(
        buckets.sparkSession, size(col("ids")), maxDocFreq.toLong, "ngram_jaccard"))
      .filter(size(col("ids")) <= maxDocFreq)
      .select(explode(MinHashLSH.inBucketPairs(col("ids"))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_sub"))
    // exact correction for shingles above the cap: how many hot shingles
    // each candidate pair ALSO shares (keeps n_common exact over full sets)
    val hot = buckets
      .filter(size(col("ids")) > maxDocFreq)
      .select(col("shingle"), explode(col("ids")).as("id"))
    val nHot = sub
      .select(col("doc_a"), col("doc_b"))
      .join(hot.select(col("shingle"), col("id").as("doc_a")), "doc_a")
      .join(hot.select(col("shingle"), col("id").as("doc_b")), Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_hot"))
    sub
      .join(nHot, Seq("doc_a", "doc_b"), "left")
      .withColumn("n_common", col("n_sub") + coalesce(col("n_hot"), lit(0L)))
      .join(sizes.select(col("_id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("_id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"))
  }

  /** Cross-corpus n-gram overlap — the decontamination primitive: every
    * (left, right) document pair ACROSS two corpora sharing at least
    * `minOverlap` distinct shingles, with the exact shared count. The
    * training-data use is benchmark/eval leakage detection: left = the
    * train split, right = the held-out or benchmark set; any train doc
    * that surfaces here carries eval content.
    *
    * Scale shape: ONE shuffle groups a side-tagged shingle union into
    * per-shingle postings split by side; shingles above `maxDocFreq` on
    * either side are boilerplate and drop (same contract as
    * [[ngramJaccardNearDup]] — the cross product a hot shingle would emit
    * is quadratic while raising any pair's overlap by 1); surviving
    * buckets explode to (left, right) cross rows — work Σ df_l × df_r
    * bounded per shingle by the caps — and a hash aggregate counts them.
    * The right side is typically tiny (a benchmark), but nothing here
    * requires it: both sides stream through the same postings shuffle.
    * Unlike [[ngramJaccardNearDup]] this plan consumes its postings once;
    * when left/right share an upstream scan (e.g. two split filters of
    * one corpus), persist that INPUT. */
  def crossOverlap(
      left: DataFrame,
      right: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      minOverlap: Int = 5,
      maxDocFreq: Int = 100): DataFrame = {
    require(minOverlap >= 1 && maxDocFreq >= 1)
    val l = MinHashLSH.shingles(left, idCol, textCol, shingleLen).withColumn("_side", lit(0))
    val r = MinHashLSH.shingles(right, idCol, textCol, shingleLen).withColumn("_side", lit(1))
    val sides = l.unionByName(r)
      .groupBy(col("shingle"))
      .agg(
        collect_list(when(col("_side") === 0, col(idCol))).as("l_ids"),
        collect_list(when(col("_side") === 1, col(idCol))).as("r_ids"))
    // one-sided buckets can never pair, so dropping them first is both the
    // cheap codegen pre-filter for the guard AND makes the warning precise:
    // only hot buckets that actually LOSE cross pairs count
    sides
      .filter(size(col("l_ids")) >= 1 && size(col("r_ids")) >= 1)
      .filter(LshDiagnostics.postingsCapGuard(
        left.sparkSession,
        greatest(size(col("l_ids")), size(col("r_ids"))), maxDocFreq.toLong, "cross_overlap"))
      .filter(
        size(col("l_ids")) <= maxDocFreq && size(col("r_ids")) <= maxDocFreq)
      .select(explode(col("l_ids")).as("left_id"), col("r_ids"))
      .select(col("left_id"), explode(col("r_ids")).as("right_id"))
      .groupBy(col("left_id"), col("right_id"))
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= lit(minOverlap))
  }

  /** Per-document n-gram novelty of a probe corpus against a reference
    * corpus: for each probe doc, how many of its distinct shingles occur
    * ANYWHERE in the reference, and the novel fraction. The data-audit
    * companion to [[crossOverlap]] — where crossOverlap reports pairwise
    * leakage (which train doc leaked), novelty reports aggregate
    * memorization exposure per held-out doc ("87% of this eval doc's
    * trigrams appear in train"), the metric generalization audits track.
    *
    * Scale shape: NO pairing — the probe gram stream left-joins the
    * reference's distinct gram universe on the gram key (one shuffle
    * each side, work linear in both corpora; hot boilerplate grams cost
    * one row per probe occurrence, never df², so no df cap is needed) and
    * aggregates per doc. Docs shorter than the shingle length report
    * zeros with a null fraction. */
  def gramNovelty(
      reference: DataFrame,
      probe: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3): DataFrame = {
    val ref = MinHashLSH.shingles(reference, idCol, textCol, shingleLen)
      .select(col("shingle")).distinct().withColumn("_seen", lit(1L))
    val stats = MinHashLSH.shingles(probe, idCol, textCol, shingleLen)
      .join(ref, Seq("shingle"), "left")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("_n"),
        sum(coalesce(col("_seen"), lit(0L))).as("_seen_n"))
    probe.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_grams"),
        coalesce(col("_seen_n"), lit(0L)).as("n_seen"),
        ((col("_n") - col("_seen_n")).cast("double") / col("_n")).as("novelty"))
  }
}
