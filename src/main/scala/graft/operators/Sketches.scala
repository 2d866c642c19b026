package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SketchHasher, SketchRegisters}

/** HyperLogLog cardinality sketching (Flajolet et al. 2007) — the
  * bounded-size answer to "how many distinct X per group" over a corpus
  * where exact `countDistinct` would shuffle every distinct key.
  *
  * Scale shape: each sketch is ONE typed aggregate
  * ([[graft.functions.HllRegisterAgg]], [[graft.functions.CmsRegisterAgg]]):
  * one register buffer per group per partition (2^p rho bytes; depth·width
  * counters), so a 100 TB scan reduces to a kilobyte-scale buffer per
  * group, and only those buffers shuffle. Buffers merge by register-wise
  * max (HLL) or elementwise sum (CMS), which is how partial aggregation
  * combines them; the register tables merge the same way
  * ([[hllMergeRegisters]], [[cmsMergeRegisters]]), so cross-day /
  * cross-corpus unions are free.
  *
  * Portability contract (the oracle-gate law), stated on bytes: a value
  * hashes as the UTF-8 bytes of its string cast (CMS hash row `d`:
  * the bytes of `"d|"` followed by them), and the 60-bit hash is the first
  * 8 bytes of their MD5 digest as an unsigned big-endian long shifted
  * right by 4 — the digest's first 15 hex digits, which the oracle SQL
  * reads as such. Register index = `h mod m`, rho = leading-zero count of
  * the remaining `60 − p` bits + 1: all integer-exact in both engines. The
  * estimate is the RAW HLL estimator `α_m · m² / Σ 2^(−M_j)`, evaluated
  * with an exact-integer denominator (`Σ 2^(maxM − M_j)` as a long,
  * empty registers included) and one correctly-rounded IEEE
  * multiply/divide chain, so even the double hashes identically. Small/
  * large-range bias corrections (linear counting needs a non-portable
  * `ln`) are intentionally NOT applied; at sketch sizes ≪ cardinality
  * the raw regime is the operating point, and a driver-side post-pass
  * on the merged registers can always re-estimate with corrections.
  */
object Sketches {

  /** Standard HLL bias constant for `m = 2^p` registers. */
  private def alphaFor(m: Long): Double =
    if (m == 16L) 0.673
    else if (m == 32L) 0.697
    else if (m == 64L) 0.709
    else 0.7213 / (1.0 + 1.079 / m)

  /** Per-group HLL registers of `value`: one row per NON-EMPTY register,
    * `(groupCols…, register, rho)` with `rho` = max over the group's
    * values. `p` ∈ [4, 16] (m = 2^p registers; the 60-bit hash leaves
    * `60 − p` rho bits). A group holding a null value also gets one
    * `(null, null)` row. */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], value: Column, p: Int): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(SketchRegisters.hll(value, p).as("_regs"))
      .select(groupCols.map(col) :+ inline(col("_regs")): _*)

  /** Merge sketches over the same group/register schema: register-wise
    * max. Inputs may cover different groups; the result is the sketch of
    * the UNION of the underlying row sets (HLL's lossless merge law,
    * spec-pinned). */
  def hllMergeRegisters(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty)
    val groupCols = sketches.head.columns.filterNot(c => c == "register" || c == "rho")
    val all       = sketches.reduce(_.unionByName(_))
    all
      .groupBy(groupCols.map(col) :+ col("register"): _*)
      .agg(max(col("rho")).as("rho"))
  }

  /** Per-group estimate from a [[hllRegisters]] table:
    * `(groupCols…, n_registers, max_rho, estimate)` where `n_registers`
    * counts non-empty registers and `estimate` is the raw HLL estimator
    * rounded to 6 dp (see the portability contract above). With
    * `keepRegisters = true` the register rows ride along — one exploded
    * `(register, rho)` pair per row next to the group's summary — so a
    * caller wanting both never references (= recomputes) the register
    * aggregation twice.
    *
    * ONE aggregation pass over `regs`: the register list is
    * collect_list-bounded at 2^p entries per group (a sketch, not data),
    * so the denominator Σ2^(maxM − rho) folds over the in-row array —
    * exact longs, since every 2^k ≤ 2^62 is an exact double and the
    * fold adds integers. An earlier join-back formulation re-computed
    * the register aggregate (and re-scanned the source) once per
    * reference — plan-reviewed away. */
  def hllEstimate(
      regs: DataFrame,
      groupCols: Seq[String],
      p: Int,
      keepRegisters: Boolean = false): DataFrame = {
    val m     = 1L << p
    val alpha = alphaFor(m)
    val est = regs
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_registers"),
        max(col("rho")).as("max_rho"),
        collect_list(struct(col("register"), col("rho"))).as("_regs"))
      // exact-integer denominator: non-empty registers contribute
      // 2^(maxM - rho), the (m - n) empty ones 2^maxM each
      .withColumn("_s_nonzero",
        aggregate(col("_regs"), lit(0L),
          (acc, r) => acc + pow(lit(2.0), col("max_rho") - r.getField("rho")).cast("long")))
      .withColumn("estimate",
        round(
          lit(alpha) * lit((m * m).toDouble) * pow(lit(2.0), col("max_rho")) /
            (col("_s_nonzero") +
              (lit(m) - col("n_registers")) * expr("shiftleft(1L, int(max_rho))"))
              .cast("double"),
          6))
      .drop("_s_nonzero")
    if (!keepRegisters) est.drop("_regs")
    else est
      .select(groupCols.map(col) ++ Seq(
        col("n_registers"), col("max_rho"), col("estimate"),
        explode(col("_regs")).as("_r")): _*)
      .withColumn("register", col("_r.register"))
      .withColumn("rho", col("_r.rho"))
      .drop("_r")
  }

  /** Set-overlap estimation from two HLL register tables
    * (inclusion–exclusion over the merge law): |A ∩ B| ≈ est(A) +
    * est(B) − est(A ∪ B), with the union sketch FREE via
    * [[hllMergeRegisters]]. This is how two 100 TB crawls' dedup
    * potential is sized WITHOUT ever joining them — three
    * kilobyte-scale sketches and one subtraction. Standard caveat
    * (documented, not hidden): the intersection inherits the additive
    * error of three estimates, so small overlaps of large sets drown in
    * noise — it is a sizing instrument, not a membership test. Output
    * per group: `est_a, est_b, est_union, est_intersection` (all at the
    * estimator's 6 dp, intersection from the rounded public estimates —
    * deterministic cross-engine). */
  def hllIntersectionEstimate(
      regsA: DataFrame,
      regsB: DataFrame,
      groupCols: Seq[String],
      p: Int): DataFrame = {
    // each register table feeds TWO consumers (its own estimate + the
    // union sketch); un-materialized, the full upstream scan re-executes
    // per consumer. The tables are sketch-bounded (≤ 2^p rows per group),
    // so an eager localCheckpoint pins each once and the three estimates
    // run over kilobyte slivers (guide §3.3 — materialize shared
    // subtrees; the device connectedComponents uses to pin each round's
    // edge list for the star test and the next round).
    val a = regsA.localCheckpoint()
    val b = regsB.localCheckpoint()
    def est(r: DataFrame, name: String) =
      hllEstimate(r, groupCols, p)
        .select(groupCols.map(col) :+ col("estimate").as(name): _*)
    est(a, "est_a")
      .join(est(b, "est_b"), groupCols)
      .join(est(hllMergeRegisters(a, b), "est_union"), groupCols)
      .withColumn("est_intersection",
        round(col("est_a") + col("est_b") - col("est_union"), 6))
  }

  // -------------------------------------------------------------- CMS

  /** Count-Min Sketch registers (Cormode & Muthukrishnan 2005) of
    * `value` per group: `depth × width` counters, counter (d, b) = how
    * many rows hash to bucket b in hash row d. The heavy-hitter /
    * frequency-estimate counterpart to [[hllRegisters]]: only one
    * depth·width counter buffer per group per partition ever shuffles,
    * regardless of data volume, and the counts sum map-side. Rows for
    * empty buckets are omitted (they are zero); a group holding null
    * values gets one `(d, null, n)` row per hash row `d`.
    *
    * Merge law: sketches of disjoint row sets merge by ELEMENTWISE SUM
    * ([[cmsMergeRegisters]]) — lossless, the fold-per-day shape.
    * Estimate law: [[cmsEstimate]] never underestimates a value's true
    * count, and overestimates only by hash-collision mass (both
    * spec-pinned; registers + estimates are integer-exact, so the whole
    * surface hash-gates cross-engine). */
  def cmsRegisters(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      depth: Int,
      width: Int): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(SketchRegisters.cms(value, depth, width).as("_regs"))
      .select(groupCols.map(col) :+ inline(col("_regs")): _*)

  /** Merge CMS register tables (same depth/width) by elementwise sum —
    * the sketch of the UNION of the underlying row sets. */
  def cmsMergeRegisters(sketches: DataFrame*): DataFrame = {
    require(sketches.nonEmpty)
    val groupCols = sketches.head.columns
      .filterNot(c => c == "depth" || c == "bucket" || c == "cnt")
    sketches.reduce(_.unionByName(_))
      .groupBy(groupCols.map(col) ++ Seq(col("depth"), col("bucket")): _*)
      .agg(sum(col("cnt")).as("cnt"))
  }

  /** Point-query estimates from a [[cmsRegisters]] table: for each row of
    * `queries` (same groupCols + `valueCol`), the CMS count estimate =
    * min over hash rows of the value's counter (absent counter = 0).
    * Output: `(groupCols…, valueCol, cms_count)`. The queries side is
    * usually a bounded candidate set (e.g. a vocabulary slice); each
    * query hashes once per depth in one call
    * ([[graft.functions.CmsBuckets]]) and costs `depth` register lookups
    * via one equi-join against the bounded register table —
    * broadcast-able by construction.
    *
    * Heavy-hitter harvest: with the distinct values of a candidate pool
    * as `queries` and a `cms_count >= minCount` filter, CMS never
    * underestimates, so no candidate whose true count reaches `minCount`
    * is lost; in the collision-free regime (width ≫ candidates) over every
    * distinct value it equals [[cmsHeavyHitters]] exactly. */
  def cmsEstimate(
      regs: DataFrame,
      groupCols: Seq[String],
      queries: DataFrame,
      valueCol: String,
      depth: Int,
      width: Int): DataFrame = {
    // a null value keeps its row: one (null, null) lookup, count 0
    val q = queries.select(groupCols.map(col) ++ Seq(
      col(valueCol),
      posexplode_outer(SketchRegisters.cmsBuckets(col(valueCol), depth, width))
        .as(Seq("depth", "bucket"))): _*)
    q.join(broadcast(regs), groupCols ++ Seq("depth", "bucket"), "left")
      .groupBy(groupCols.map(col) :+ col(valueCol): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))
  }

  /** CMS-backed heavy hitters — the top-of-distribution counterpart that
    * completes the sketch tier (HLL = cardinality, [[cmsEstimate]] =
    * point query, this = "which values are frequent"): every value whose
    * TRUE count ≥ `minCount`, with its exact count, WITHOUT ever
    * shuffling the full distinct-value set.
    *
    * Two passes, both bounded:
    *  1. [[cmsRegisters]] — only (group, depth, bucket) rows shuffle.
    *     The register table collects to the driver and broadcasts
    *     (≤ depth·width counters per group — the [[cmsEstimate]] bounded-
    *     model contract; caller guarantees bounded group cardinality,
    *     like the LM/DSIR compact-model family).
    *  2. A per-row kernel computes each row's CMS estimate (min over
    *     `depth` lookups against the broadcast counters, hashed by the
    *     [[graft.functions.SketchHasher]] the registers use) and FILTERS
    *     to rows whose estimate clears `minCount` BEFORE the exact
    *     count. CMS never
    *     underestimates, so no true heavy hitter is lost; the exact
    *     groupBy then touches only the surviving rows — at most
    *     Σcount/minCount distinct values plus collision mass — and the
    *     final `HAVING count ≥ minCount` removes collision survivors.
    *
    * The output is therefore EXACT (deterministic on any partitioning,
    * DuckDB-expressible as GROUP BY … HAVING): the sketch buys the scale
    * shape, not an approximation. Output: `(groupCols…, value, n)`,
    * `value` = the string form of `valueCol` (the hash domain). */
  def cmsHeavyHitters(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      depth: Int,
      width: Int,
      minCount: Long): DataFrame = {
    require(minCount >= 1L, "minCount must be positive")
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    val spark = df.sparkSession
    val regs  = cmsRegisters(df, groupCols, value, depth, width)

    // bounded collect: ≤ depth·width rows per group (sketch, not data).
    // The group key MUST render through Spark's own cast("string") — the
    // exact expression the probe key below uses — not JVM String.valueOf:
    // the two disagree for types like TimestampType ("…00:00:00.0" vs
    // "…00:00:00"), and a rendering mismatch zeroes every estimate,
    // silently dropping true heavy hitters before the exact count.
    val gKey = if (groupCols.isEmpty) lit("")
      else concat_ws("\u0000",
        groupCols.map(c => coalesce(col(c).cast("string"), lit("\u0000N"))): _*)
    val table: Map[(String, Int, Long), Long] = regs
      .select(gKey.as("gk"), col("depth"), col("bucket"), col("cnt"))
      .collect().map { r =>
        (r.getAs[String]("gk"), r.getAs[Int]("depth"), r.getAs[Long]("bucket")) ->
          r.getAs[Long]("cnt")
      }.toMap
    val bc = spark.sparkContext.broadcast(table)

    val est = udf { (g: String, v: String) =>
      if (v == null) 0L
      else {
        val h = SketchHasher.local()
        h.load(v.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var minCnt = Long.MaxValue
        var d = 0
        while (d < depth) {
          val bucket = h.hashAtDepth(d) % width
          minCnt = math.min(minCnt, bc.value.getOrElse((g, d, bucket), 0L))
          d += 1
        }
        minCnt
      }
    }
    df.select(groupCols.map(col) :+ value.cast("string").as("value"): _*)
      .filter(est(gKey, col("value")) >= lit(minCount))
      .groupBy(groupCols.map(col) :+ col("value"): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= lit(minCount))
  }

  /** Ranked top-k heavy hitters per group — [[cmsHeavyHitters]] plus a
    * deterministic rank (count desc, value asc): "the k most frequent
    * tokens per language", the production question the sketch tier
    * exists to answer. The row_number window runs over the HEAVY SET
    * only — at most Σcount/minCount values per group survive the floor,
    * a sketch-bounded row count, never the distinct-value set — so the
    * per-group sort is bounded by the caller's floor, not the data.
    * Output: `(groupCols…, value, n, rank)`, rank 1..k. */
  def cmsTopK(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      depth: Int,
      width: Int,
      minCount: Long,
      k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val w =
      (if (groupCols.isEmpty) Window.partitionBy()
       else Window.partitionBy(groupCols.map(col): _*))
        .orderBy(col("n").desc, col("value").asc)
    cmsHeavyHitters(df, groupCols, value, depth, width, minCount)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= lit(k))
  }
}
