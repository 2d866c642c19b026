package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered-stream sessionization ("region splitting") — the reference's
  * signature operator, re-expressed as gaps-and-islands window algebra.
  *
  * The reference walks the per-sounding table linearly, opening a region when
  * `operation_mode` enters SAM/Target and closing it on mode or target change
  * (`sam_extract/processors/OCO3SamProcessor.py:353-432`), merging two
  * consecutive same-target runs separated by fewer than `margin` rows
  * (`OCO3SamProcessor.py:365-376`). Here each pass is one window scan:
  * `break = key != lag(key) [|| gap > margin]`, `region_id = sum(break)`.
  *
  * Scale note: `partitionCols` MUST be supplied at scale (granule / mission /
  * day); with no partition columns Spark falls back to a single-partition
  * global window, which is only acceptable for small per-granule slices.
  * At 100 TB the stream is partitioned per granule-day, so every window here
  * stays within one shuffle partition per day. The fallback is LOUD when
  * misused: every entry point logs a once-per-JVM warning when called with
  * no partition columns on an input whose plan-time size estimate exceeds
  * [[Sessionize.GlobalWindowWarnBytes]].
  */
object Sessionize {

  /** Estimated-input-size threshold above which calling a Sessionize entry
    * point with NO partition columns logs a loud warning: the global-window
    * fallback sorts every row in ONE task, which is the documented contract
    * for small per-granule slices and a silent scale killer for anything
    * else. 64 MB ≈ the largest single-granule slice in the reference's
    * workload; Catalyst's plan-time size estimate costs no job. */
  private[graft] val GlobalWindowWarnBytes: BigInt = BigInt(64L << 20)

  private val warnedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True when `partitionCols` is empty AND the plan-time size estimate of
    * `df` exceeds [[GlobalWindowWarnBytes]] — the misuse the guard exists
    * for. Exposed package-private so the spec pins the trigger condition. */
  private[graft] def globalWindowFallback(df: DataFrame, partitionCols: Seq[String]): Boolean =
    partitionCols.isEmpty &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes > GlobalWindowWarnBytes

  /** Opt-in strict mode: when this session conf is `true`, the global-window
    * misuse FAILS FAST (IllegalArgumentException at plan time) instead of
    * warning once into a log nobody reads — the production-job setting, so a
    * 100× scale-up cannot silently funnel through one task. Default stays
    * warn-only: the small-slice fallback is a documented contract. */
  private[graft] val StrictConfKey = "spark.graft.sessionize.strictPartitioning"

  private def guard(df: DataFrame, partitionCols: Seq[String], op: String): Unit =
    if (globalWindowFallback(df, partitionCols)) {
      val msg =
        s"Sessionize.$op called with no partitionCols on an input whose plan-time size " +
          s"estimate exceeds $GlobalWindowWarnBytes bytes: the global-window fallback " +
          "sorts ALL rows in ONE task. Supply partitionCols (granule / mission / day) " +
          "at scale."
      // strict parse: only "true"/"false" (case-insensitive) are valid — a
      // malformed value ("1", "yes") intended to ENABLE fail-fast must not
      // silently disable the safety guard, so it is a configuration error
      // with a message naming the bad value (clearer than a bare toBoolean
      // NumberFormatException deep in the window build)
      val strict = df.sparkSession.conf.getOption(StrictConfKey).map(_.trim) match {
        case None => false
        case Some(v) if v.equalsIgnoreCase("true")  => true
        case Some(v) if v.equalsIgnoreCase("false") => false
        case Some(v) =>
          throw new IllegalArgumentException(
            s"$StrictConfKey must be true or false, got '$v'")
      }
      require(!strict, s"$msg ($StrictConfKey=true)")
      if (warnedOnce.compareAndSet(false, true)) log.warn(s"$msg (warned once per JVM)")
    }

  private def w(orderCol: String, partitionCols: Seq[String]) = {
    val base =
      if (partitionCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(partitionCols.map(col): _*)
    base.orderBy(col(orderCol))
  }

  private def keyChanged(keyCols: Seq[String], win: org.apache.spark.sql.expressions.WindowSpec): Column =
    keyCols
      .map { k =>
        val prev = lag(col(k), 1).over(win)
        // null-safe inequality: first row (lag null) counts as a change
        !(col(k) <=> prev)
      }
      .reduce(_ || _)

  /** Run detection (R1/R3/R4): contiguous runs of identical `keyCols` values
    * ordered by `orderCol` get one `region_id` (0-based, dense per partition).
    */
  def byKeyChange(
      df: DataFrame,
      orderCol: String,
      keyCols: Seq[String],
      partitionCols: Seq[String] = Nil,
      regionCol: String = "region_id"): DataFrame = {
    guard(df, partitionCols, "byKeyChange")
    val win = w(orderCol, partitionCols)
    df.withColumn("_brk", keyChanged(keyCols, win).cast("long"))
      .withColumn(regionCol, sum(col("_brk")).over(win) - lit(1))
      .drop("_brk")
  }

  /** Run detection with margin merge (R1+R2): rows have already been filtered
    * to the modes of interest, so consecutive kept rows may be separated by a
    * gap in `orderCol` (the dropped rows). A new region starts when the key
    * changes OR the gap exceeds `margin` (the reference merges when
    * `next.start - prev.end < margin`, i.e. strictly fewer than `margin`
    * intervening rows — `OCO3SamProcessor.py:365-376`, margin = 2).
    */
  def byKeyChangeWithMargin(
      df: DataFrame,
      orderCol: String,
      keyCols: Seq[String],
      margin: Long,
      partitionCols: Seq[String] = Nil,
      regionCol: String = "region_id"): DataFrame = {
    guard(df, partitionCols, "byKeyChangeWithMargin")
    val win = w(orderCol, partitionCols)
    val gap = col(orderCol) - lag(col(orderCol), 1).over(win)
    val brk = keyChanged(keyCols, win) || gap > lit(margin)
    df.withColumn("_brk", brk.cast("long"))
      .withColumn(regionCol, sum(col("_brk")).over(win) - lit(1))
      .drop("_brk")
  }

  /** Time-gap sessionization: a new session starts when the event is more
    * than `gapSeconds` after the previous one (whole-second boundary count,
    * matching DuckDB's date_diff('second', ...)).
    */
  def byTimeGap(
      df: DataFrame,
      tsCol: String,
      gapSeconds: Long,
      partitionCols: Seq[String] = Nil,
      sessionCol: String = "session_id"): DataFrame = {
    guard(df, partitionCols, "byTimeGap")
    val win = w(tsCol, partitionCols)
    val prev = lag(col(tsCol), 1).over(win)
    val brk = prev.isNull || (unix_timestamp(col(tsCol)) - unix_timestamp(prev)) > lit(gapSeconds)
    df.withColumn("_brk", brk.cast("long"))
      .withColumn(sessionCol, sum(col("_brk")).over(win) - lit(1))
      .drop("_brk")
  }

  /** Declarative session windows via Spark's native `session_window`
    * (§2.9): one hash aggregate with runtime session merging — no ordered
    * window scan at all, so it parallelizes by key without a per-key sort
    * and works unchanged under Structured Streaming with a watermark (the
    * streaming-native alternative to [[StatefulSessions]]'s explicit
    * state). Emits one row per closed session with the same aggregate
    * surface as the q08 shape. Session semantics: events closer than
    * `gap` chain into one session (half-open [start, end+gap) windows) —
    * identical membership to `byTimeGap` with whole-second timestamps
    * EXCEPT events exactly `gap` apart: the half-open window opens a new
    * session where `byTimeGap`'s `diff > gap` keeps them together. */
  def bySessionWindow(
      df: DataFrame,
      tsCol: String,
      gap: String,
      partitionCols: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(
        (partitionCols.map(col) :+ session_window(col(tsCol), gap).as("_w")): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("session_value"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
      .drop("_w")

  /** Make per-granule region ids globally unique: region ids from
    * granule-partitioned windows are dense PER PARTITION, so granule A's
    * region 0 would merge with granule B's region 0 in every downstream
    * groupBy. Offsets each granule's ids by a dense granule index from a
    * broadcast one-row-per-granule dimension (bounded by the manifest,
    * never the data). No product path calls it: the domain pipelines key
    * regions by (granule_path, region_id) instead. It stays behind
    * `Pipeline.sessionizePerGranule` for the perfbench operator probes
    * until the next benchmark change retires both. */
  def globalizeRegionIds(s: DataFrame, granuleCol: String, regionCol: String = "region_id"): DataFrame = {
    val gids = s
      .select(col(granuleCol)).distinct()
      .withColumn("_gidx", row_number().over(Window.orderBy(col(granuleCol))).cast("long"))
    s.join(broadcast(gids), granuleCol)
      .withColumn(regionCol, col("_gidx") * lit(1L << 40) + col(regionCol))
      .drop("_gidx")
  }

  /** Wildcard coalescing (R5, SIF 'none' targets): rows whose `keyCol` equals
    * `wildcard` inherit the nearest preceding non-wildcard value in
    * `orderCol` order (forward fill), falling back to the nearest following
    * value for a leading wildcard run (`OCO3SifProcessor.py:377-477`).
    */
  def coalesceWildcard(
      df: DataFrame,
      orderCol: String,
      keyCol: String,
      wildcard: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    guard(df, partitionCols, "coalesceWildcard")
    val base =
      if (partitionCols.isEmpty) Window.partitionBy()
      else Window.partitionBy(partitionCols.map(col): _*)
    val fwd = base.orderBy(col(orderCol)).rowsBetween(Window.unboundedPreceding, 0)
    val bwd = base.orderBy(col(orderCol)).rowsBetween(0, Window.unboundedFollowing)
    val v = when(col(keyCol) === lit(wildcard), lit(null)).otherwise(col(keyCol))
    df.withColumn("_v", v)
      .withColumn("_f", last(col("_v"), ignoreNulls = true).over(fwd))
      .withColumn("_b", first(col("_v"), ignoreNulls = true).over(bwd))
      .withColumn(keyCol, coalesce(col("_f"), col("_b"), col(keyCol)))
      .drop("_v", "_f", "_b")
  }
}
