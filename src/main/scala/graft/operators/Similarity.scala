package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline and a bucket-partitioned (IVF-style) near-duplicate variant as
  * the scale path.
  *
  * Vector math uses codegen'd higher-order functions (`zip_with` /
  * `aggregate`) over double arrays with a sequential left fold — both
  * deterministic and exactly reproducible by the DuckDB oracle's
  * `list_reduce(list_transform(...))`.
  *
  * Scale notes: brute force is O(|Q|·|C|) with the query side broadcast —
  * correct for small query batches against any corpus size, since the corpus
  * never shuffles. The bucketed variant turns all-pairs near-dup into
  * per-bucket self-joins (the coarse quantizer bounds each bucket), which is
  * the IVF/LSH shape that survives 10⁹ vectors.
  */
object Similarity {

  /** Sequential-fold dot product of two double-array columns — a native
    * codegen expression (graft.functions.DotProduct); identical accumulation
    * order and doubles as the higher-order `aggregate(zip_with(...))` form
    * and the oracle's list_reduce fold. */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** L2 norm (sequential fold of squares). */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Shared tail: partial top-k aggregate per qid (no per-qid global
    * window — each input partition contributes at most k candidates per
    * query to the shuffle), then posexplode into ranked rows. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("qid"))
      .agg(graft.functions.TopK.topK(k, col("cid"), col("cos")).as("_tk"))
      .select(col("qid"), posexplode(col("_tk")).as(Seq("_pos", "_nb")))
      .select(
        col("qid"),
        col("_nb.cid").as("cid"),
        (col("_pos") + 1).cast("int").as("rank"),
        col("_nb.cos").as("cos"))

  /** Exact top-k neighbors per query vector (brute force over the corpus;
    * queries broadcast). Norms are computed once per vector, not per pair —
    * cos = dot / (qnorm * cnorm), numerically identical to the inline form.
    * Ties broken by corpus id. */
  def bruteForceTopK(
      queries: DataFrame, // (qid, qvec: array<double>)
      corpus: DataFrame,  // (cid, cvec: array<double>)
      k: Int): DataFrame = {
    val q = queries.withColumn("_qn", norm(col("qvec")))
    val c = corpus.withColumn("_cn", norm(col("cvec")))
    val joined = c
      .crossJoin(broadcast(q))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", dot(col("qvec"), col("cvec")) / (col("_qn") * col("_cn")))
    rankTopK(joined, k)
  }

  /** Deterministic random hyperplanes for sign-LSH (seeded; the same
    * constants are embedded in the SQL oracle so both engines bucket
    * identically). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-LSH bucket key: one bit per hyperplane (dot ≥ 0), concatenated in
    * plane order — a pure projection, no shuffle. Vectors in the same
    * bucket are ANN candidates; at 10⁹ vectors the bucket join replaces the
    * brute-force cross product. */
  private def lshBucket(vec: Column, planes: Array[Array[Double]]): Column =
    concat(planes.toIndexedSeq.map { p =>
      val lp = array(p.toIndexedSeq.map(lit): _*)
      when(dot(vec, lp) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** LSH-bucketed top-k: exact cosine rank restricted to same-bucket
    * candidates (the approximate/scale path next to bruteForceTopK). */
  def lshTopK(
      queries: DataFrame, // (qid, qvec)
      corpus: DataFrame,  // (cid, cvec)
      planes: Array[Array[Double]],
      k: Int): DataFrame = {
    val q = queries
      .withColumn("_qb", lshBucket(col("qvec"), planes))
      .withColumn("_qn", norm(col("qvec")))
    val c = corpus
      .withColumn("_cb", lshBucket(col("cvec"), planes))
      .withColumn("_cn", norm(col("cvec")))
    val joined = c
      .join(broadcast(q), col("_qb") === col("_cb") && col("qid") =!= col("cid"))
      .withColumn("cos", dot(col("qvec"), col("cvec")) / (col("_qn") * col("_cn")))
    rankTopK(joined, k)
  }

  /** Corpus-wide approximate k-NN graph: every vector's top-k cosine
    * neighbors among its sign-LSH bucket peers. Unlike [[lshTopK]] (small
    * query batch, broadcast side), BOTH sides here are the full corpus:
    * candidates come from a plain shuffled equi-join on the bucket key —
    * nothing broadcasts, nothing goes cartesian, and the per-bucket
    * quadratic is bounded by bucket size (add planes as the corpus grows;
    * the [[nearDupPairsBucketed]] contract). The top-k reduce is the
    * partial [[graft.functions.TopK]] aggregate, so each task ships at
    * most k candidates per vector to the shuffle. This is the kNN-graph
    * build that feeds graph-based dedup / diversity analyses at corpus
    * scale; vectors alone in their bucket emit no rows (run with fewer
    * planes or multi-probe upstream if isolated vectors need neighbors). */
  /** Corpus-wide approximate k-NN graph — see class doc. Adding planes
    * bounds UNIFORM bucket depth, but no hyperplane splits a genuinely
    * tight cluster: a corpus whose vectors bunch into dense clusters keeps
    * per-bucket quadratic cost ∝ cluster size at any plane count (measured
    * 4× per 2× data on a 100-cluster synthetic corpus — dev/PLANS_r10.md).
    * `maxCandidatesPerBucket` is the scale contract for that shape: the
    * CANDIDATE side of each bucket thins to an expected m members by a
    * deterministic md5 coin against the bucket count (no per-bucket
    * window/sort — an aggregate + join, hot buckets stay distributed),
    * making total work ~n·m, linear. Every vector still receives
    * neighbors (the query side is never thinned), and inside an
    * over-deep bucket the members are near-identical by construction, so
    * top-k against a deterministic sample is the published IVF/LSH probe
    * trade, not a correctness loss. */
  def knnGraphLsh(
      df: DataFrame, // (id, vec: array<double>)
      idCol: String,
      vecCol: String,
      planes: Array[Array[Double]],
      k: Int,
      maxCandidatesPerBucket: Option[Int] = None): DataFrame = {
    val b = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("_b", lshBucket(col("vec"), planes))
      .withColumn("_n", norm(col("vec")))
    val l  = b.select(col("_b"), col("id").as("qid"), col("vec").as("qvec"), col("_n").as("_qn"))
    val r0 = b.select(col("_b"), col("id").as("cid"), col("vec").as("cvec"), col("_n").as("_cn"))
    val r = maxCandidatesPerBucket.fold(r0) { m =>
      require(m >= 1, "maxCandidatesPerBucket must be >= 1")
      val counts = b.groupBy(col("_b")).agg(count(lit(1)).as("_bn"))
      // 60-bit md5 coin mod the bucket count: expected m survivors per
      // bucket, everything survives when the bucket is already ≤ m;
      // bit-for-bit mirrored by the oracle's md5 arithmetic
      val coin = conv(substring(md5(col("cid").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long") % col("_bn")
      r0.join(counts, Seq("_b")).filter(coin < lit(m.toLong)).drop("_bn")
    }
    val joined = l.join(r, Seq("_b"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", dot(col("qvec"), col("cvec")) / (col("_qn") * col("_cn")))
    rankTopK(joined, k)
  }

  /** IVF multi-probe top-k search — the production ANN read path over a
    * coarse quantizer: the corpus is bucketed once by nearest centroid
    * (KMeans.assign, zero corpus shuffle beyond the bucket key), and each
    * query probes its `nprobe` NEAREST cells instead of only its own —
    * the recall knob every IVF index exposes (nprobe = |cells| degrades
    * to exact search). Query-side cell ranking is a per-query window over
    * |centroids| rows (bounded by the quantizer, not the corpus); the
    * probe set broadcasts to the bucket join; candidates reduce through
    * the partial TopK aggregate. Distances use the expanded-algebra fold
    * dot(q,q) − 2·dot(q,c) + dot(c,c) — the same sequential-fold doubles
    * the SQL oracle computes, so cell ranking is engine-identical (ties
    * break on centroid index). */
  def ivfTopK(
      queries: DataFrame, // (qid, qvec: array<double>)
      corpus: DataFrame,  // (cid, cvec: array<double>)
      centroids: Array[Array[Double]],
      nprobe: Int,
      k: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length, "nprobe must be in [1, |centroids|]")
    val spark = queries.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    val bucketed = KMeans
      .assign(corpus.select(col("cid"), col("cvec").as("vec")), "vec", centroids)
      .select(col("bucket"), col("cid"), col("vec").as("cvec"))
      .withColumn("_cn", norm(col("cvec")))

    val cents = centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq.toDF("cent", "centv")
    val probes = queries
      .withColumn("_qn", norm(col("qvec")))
      .crossJoin(broadcast(cents))
      .withColumn("_d",
        dot(col("qvec"), col("qvec")) - lit(2.0) * dot(col("qvec"), col("centv")) +
          dot(col("centv"), col("centv")))
      .withColumn("_pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("_d").asc, col("cent").asc)))
      .filter(col("_pr") <= nprobe)
      .select(col("qid"), col("qvec"), col("_qn"), col("cent").as("bucket"))

    val joined = bucketed
      .join(broadcast(probes), Seq("bucket"))
      .filter(col("qid") =!= col("cid"))
      .withColumn("cos", dot(col("qvec"), col("cvec")) / (col("_qn") * col("_cn")))
    rankTopK(joined, k)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic dedup via the
    * learned coarse quantizer — k-means cluster the embeddings, find
    * within-cluster cosine near-dups, and KEEP the lowest id of each
    * duplicate pair (the keep-first convention of the whole dedup family).
    * Returns one row per input vector: (id, cluster, keep).
    *
    * Scale shape: clustering is the quantizer's (corpus never shuffles in
    * assignment), pair-finding is per-cluster — quadratic only within a
    * cluster, which is the published algorithm's own contract (k grows
    * with the corpus so clusters stay bounded); the drop set is
    * id-distinct pair losers and broadcasts under AQE. `iters = 0`
    * assigns against the deterministic init exemplars (exact input
    * vectors — no float drift anywhere, the oracle-able configuration);
    * trained quantizers (iters > 0) are the production path, convergence
    * spec-gated via KMeans. */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      minCos: Double,
      iters: Int = 5,
      maxPerBucket: Option[Int] = None): DataFrame = {
    val centroids = KMeans.fit(df, vecCol, idCol, k, iters)
    val bucketed = KMeans.assign(df, vecCol, centroids)
      .select(col("bucket"), col(idCol).as("id"), col(vecCol).as("vec"))
    val drops = nearDupPairsBucketed(bucketed, minCos, maxPerBucket)
      .select(col("id_b").as("id")).distinct()
      .withColumn("_drop", lit(true))
    bucketed
      .join(drops, Seq("id"), "left")
      .select(
        col("id"),
        col("bucket").as("cluster"),
        coalesce(col("_drop"), lit(false)).as("_d"))
      .select(col("id"), col("cluster"), (!col("_d")).as("keep"))
  }

  /** Cluster-balanced diversity subsample — the selection shape of the
    * SemDeDup/DCLM family's "prototypicality" stage: k-means cluster the
    * embeddings, then keep up to `quota` members PER CLUSTER, so the
    * subsample preserves the corpus' semantic spread instead of letting
    * dominant clusters swamp a uniform sample. Members are chosen by a
    * deterministic md5 rank over the id (13 hex chars = 52 bits, exactly
    * representable as a double, so the [[graft.functions.TopK]] score
    * round-trips bit-exactly and both engines order identically; ties —
    * impossible at 52 bits in practice — fall to the smaller id, the
    * aggregator's own tiebreak). Output: `(cluster, id, pick)` with
    * pick = 1..quota in coin order.
    *
    * Scale shape: assignment is the quantizer's map (corpus never
    * shuffles), and selection is the partial-aggregating TopK — each
    * task ships at most `quota` candidates per cluster to the shuffle,
    * never a per-cluster window/sort, so a degenerate million-member
    * cluster still reduces distributed. Numeric-id contract as for the
    * TopK family. `iters = 0` is the oracle-able exemplar configuration;
    * trained quantizers are the production path. */
  def clusterBalancedSample(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      quota: Int,
      iters: Int = 5): DataFrame = {
    require(quota >= 1, "quota must be positive")
    val centroids = KMeans.fit(df, vecCol, idCol, k, iters)
    val coin = conv(substring(md5(col("id").cast("string").cast("binary")), 1, 13), 16, 10)
      .cast("long")
    KMeans.assign(df, vecCol, centroids)
      .select(col("bucket").as("cluster"), col(idCol).as("id"))
      .withColumn("_coin", coin)
      .groupBy(col("cluster"))
      .agg(graft.functions.TopK.topK(quota, col("id"), -col("_coin").cast("double")).as("_tk"))
      .select(col("cluster"), posexplode(col("_tk")).as(Seq("_pos", "_nb")))
      .select(
        col("cluster"),
        col("_nb.cid").as("id"),
        (col("_pos") + 1).cast("int").as("pick"))
  }

  // ---------------------------------------------------------------- PQ

  /** Train a product-quantization codebook (Jégou, Douze & Schmid 2011,
    * "Product Quantization for Nearest Neighbor Search"): the vector is
    * split into `m` contiguous subspaces of dim/m and each subspace gets
    * its own k-means codebook. Returns m × k × (dim/m) centroids.
    *
    * Scale shape: each subspace fit is the [[KMeans.fit]] contract (corpus
    * never shuffles in assignment; k×dsub aggregate rows reach the
    * driver), run m times. PQ codebooks are conventionally trained on a
    * SAMPLE — pass a `Sampling.hashSplit` slice as `df` to bound the m
    * passes; encoding (the corpus-sized pass) is always a single map. */
  def pqFit(
      df: DataFrame, // (orderCol, vecCol: array<double>)
      vecCol: String,
      orderCol: String,
      m: Int,
      k: Int,
      iters: Int = 5): Array[Array[Array[Double]]] = {
    // BATCHED across subspaces: the per-subspace KMeans.fit form paid
    // ~2m corpus passes (an init top-k sort + an update aggregate per
    // subspace, plus a dim probe); here ONE init collect seeds all m
    // books (same first-k-by-order rows, sliced after) and each Lloyd
    // iteration is ONE pass — per row, every subspace's assignment and
    // (s, c, d, x) contributions explode together into a single
    // map-side-combined decimal aggregate (grouping by (s, c, d) yields
    // the identical per-subspace decimal sums, so the means are
    // bit-identical to the sequential form — spec- and oracle-pinned).
    val vecs = df.select(
        col(orderCol).as("_ord"), col(vecCol).cast("array<double>").as("_v"))
      .filter(col("_v").isNotNull)
    val initRows = vecs.orderBy(col("_ord")).limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    require(initRows.nonEmpty, "kmeans: no vectors to fit")
    val dim = initRows.head.length
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val dsub = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m)(s => initRows.map(v => v.slice(s * dsub, (s + 1) * dsub)))
    var it = 0
    while (it < iters) {
      val perSub = (0 until m).map { s =>
        val sv = slice(col("_v"), s * dsub + 1, dsub)
        struct(
          lit(s).as("_s"),
          graft.functions.NearestCentroid(sv, books(s)).as("_c"),
          sv.as("_sv"))
      }
      val sums = vecs
        .select(explode(array(perSub: _*)).as("_a"))
        .select(col("_a._s").as("_s"), col("_a._c").as("_c"),
          posexplode(col("_a._sv")).as(Seq("_d", "_x")))
        .groupBy(col("_s"), col("_c"), col("_d"))
        .agg(
          sum(col("_x").cast("decimal(24,14)")).cast("double").as("_sum"),
          count(lit(1)).as("_n"))
        .collect() // bounded: m · k · dsub = dim · k rows
      val next = books.map(_.map(_.clone()))
      sums.foreach { r =>
        val s = r.getInt(0); val c = r.getInt(1); val d = r.getInt(2)
        val n = r.getLong(4)
        if (n > 0 && d < dsub) next(s)(c)(d) = r.getDouble(3) / n
      }
      books = next
      it += 1
    }
    books
  }

  /** Encode every vector as m small codes — one [[graft.functions.NearestCentroid]]
    * scan per subspace fused into a single generated map (zero shuffle,
    * zero joins). At 100 TB this is the storage story: a 64-dim double
    * vector (512 B) compresses to m codes (m bytes at k ≤ 256) plus one
    * shared codebook, and ADC search reads only the codes. Appends
    * `codesCol: array<int>` of length m. */
  def pqEncode(
      df: DataFrame,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      codesCol: String = "codes"): DataFrame = {
    val m    = codebooks.length
    val dsub = codebooks.head.head.length
    val codes = (0 until m).map { s =>
      graft.functions.NearestCentroid(
        slice(col(vecCol).cast("array<double>"), s * dsub + 1, dsub), codebooks(s))
    }
    df.withColumn(codesCol, array(codes: _*))
  }

  // ------------------------------------------------------------- IVF-PQ

  /** Nested literal of the coarse centroids, indexable by cell id. */
  private def centroidsLit(centroids: Array[Array[Double]]): Column =
    array(centroids.toIndexedSeq.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)

  /** Residual of `vec` against its cell's centroid — an exact per-element
    * IEEE subtraction (codegen `zip_with`), bit-identical in both
    * engines when the centroids are. */
  private def residual(vec: Column, cell: Column, centroids: Array[Array[Double]]): Column =
    zip_with(vec.cast("array<double>"),
      element_at(centroidsLit(centroids), cell + 1), (a, b) => a - b)

  /** Train the RESIDUAL product-quantization codebooks of an IVF-PQ index
    * (Jégou et al. 2011 §III: PQ runs on `v − centroid(cell)`, which
    * concentrates the energy the sub-quantizers must explain): assign each
    * vector to its coarse cell (one generated map), subtract the centroid
    * element-exact, and run [[pqFit]] on the residuals. Train on a
    * `Sampling.hashSplit` slice at scale, as with [[pqFit]]. */
  def ivfPqFit(
      df: DataFrame, // (orderCol, vecCol: array<double>)
      vecCol: String,
      orderCol: String,
      centroids: Array[Array[Double]],
      m: Int,
      k: Int,
      iters: Int = 5): Array[Array[Array[Double]]] = {
    val assigned = KMeans.assign(df, vecCol, centroids)
    val res = assigned.select(
      col(orderCol),
      residual(col(vecCol), col("bucket"), centroids).as("_res"))
    pqFit(res, "_res", orderCol, m, k, iters)
  }

  /** Encode the corpus for IVF-PQ: `(…, cell, codes)` — the cell from the
    * coarse quantizer and the residual's PQ codes, all in ONE generated
    * map over the scan (zero shuffle, zero joins): the 100 TB index-build
    * pass. Storage per vector: one small int + m bytes of codes. */
  def ivfPqEncode(
      df: DataFrame,
      vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      cellCol: String = "cell",
      codesCol: String = "codes"): DataFrame = {
    val assigned = KMeans.assign(df, vecCol, centroids)
      .withColumnRenamed("bucket", cellCol)
    pqEncode(
      assigned.withColumn("_res", residual(col(vecCol), col(cellCol), centroids)),
      "_res", codebooks, codesCol)
      .drop("_res")
  }

  /** Near-duplicate pairs within coarse-quantizer buckets: per-bucket
    * self-join (a < b) keeping pairs with cosine ≥ minCos. Norms
    * precomputed per vector.
    *
    * `maxPerBucket` bends the within-cluster quadratic — the published
    * algorithms' own pair term, measured ~3× per 2× data at fixed k on
    * cluster-dense corpora (dev/PLANS_r10.md §18) — exactly as
    * [[knnGraphLsh]]'s candidate cap does: the CANONICAL (id_a) side of
    * each bucket thins to an expected m members by the deterministic md5
    * coin against the bucket count (an aggregate + join, no per-bucket
    * window — hot buckets stay distributed), making pair work ~n·m,
    * linear. Sampled semantics, stated: a member is dropped iff it
    * matches a SAMPLED smaller-id canonical, so inside an over-deep
    * near-identical cluster — the only place the cap bites — members
    * still match virtually any canonical; isolated near-dup pairs whose
    * smaller id loses the coin are the documented recall trade. The coin
    * is engine-portable (q79's md5 arithmetic), so capped variants
    * oracle-gate bit-exactly. */
  def nearDupPairsBucketed(
      df: DataFrame, // (id, vec: array<double>, bucket)
      minCos: Double,
      maxPerBucket: Option[Int] = None): DataFrame = {
    val withN = df.withColumn("_n", norm(col("vec")))
    val l0 = withN.select(col("bucket"), col("id").as("id_a"), col("vec").as("va"), col("_n").as("_na"))
    val l = maxPerBucket.fold(l0) { m =>
      require(m >= 1, "maxPerBucket must be >= 1")
      val counts = withN.groupBy(col("bucket")).agg(count(lit(1)).as("_bn"))
      val coin = conv(substring(md5(col("id_a").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("long") % col("_bn")
      l0.join(counts, Seq("bucket")).filter(coin < lit(m.toLong)).drop("_bn")
    }
    val r = withN.select(col("bucket"), col("id").as("id_b"), col("vec").as("vb"), col("_n").as("_nb"))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("_na") * col("_nb")))
      .filter(col("cos") >= lit(minCos))
      .select(col("bucket"), col("id_a"), col("id_b"), col("cos"))
  }
}
