package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Ordered-stream sessionization ("region splitting") — the reference's
  * signature operator, as the reference runs it: one linear walk over each
  * granule's ordered soundings.
  *
  * The reference opens a region when `operation_mode` enters SAM/Target and
  * closes it on mode or target change
  * (`sam_extract/processors/OCO3SamProcessor.py:353-432`), merging two
  * consecutive same-target runs separated by fewer than `margin` rows
  * (`OCO3SamProcessor.py:365-376`); SIF first fills 'none' targets from the
  * neighbouring run (`OCO3SifProcessor.py:377-477`). [[regions]] is that
  * walk: one exchange by the partition columns, a sort within partitions,
  * and one `mapPartitions` pass with O(1) state that assigns `region_id`.
  *
  * Scale note: `partitionCols` MUST be supplied at scale (granule / mission /
  * day); with no partition columns every row goes to ONE partition, which
  * is only acceptable for small per-granule slices. At 100 TB the stream is
  * partitioned per granule-day, so each walk holds one day. The fallback is
  * LOUD when misused: [[regions]] logs a once-per-JVM warning when called
  * with no partition columns on an input whose plan-time size estimate
  * exceeds [[Sessionize.GlobalWindowWarnBytes]].
  */
object Sessionize {

  /** Estimated-input-size threshold above which calling [[regions]] with NO
    * partition columns logs a loud warning: the single-partition fallback
    * sorts every row in ONE task, which is the documented contract for
    * small per-granule slices and a silent scale killer for anything else.
    * 64 MB ≈ the largest single-granule slice in the reference's workload;
    * Catalyst's plan-time size estimate costs no job. */
  private[graft] val GlobalWindowWarnBytes: BigInt = BigInt(64L << 20)

  private val warnedOnce = new java.util.concurrent.atomic.AtomicBoolean(false)
  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True when `partitionCols` is empty AND the plan-time size estimate of
    * `df` exceeds [[GlobalWindowWarnBytes]] — the misuse the guard exists
    * for. Exposed package-private so the spec pins the trigger condition. */
  private[graft] def globalWindowFallback(df: DataFrame, partitionCols: Seq[String]): Boolean =
    partitionCols.isEmpty &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes > GlobalWindowWarnBytes

  /** Opt-in strict mode: when this session conf is `true`, the
    * single-partition misuse FAILS FAST (IllegalArgumentException at plan
    * time) instead of warning once into a log nobody reads — the
    * production-job setting, so a 100× scale-up cannot silently funnel
    * through one task. Default stays warn-only: the small-slice fallback is
    * a documented contract. */
  private[graft] val StrictConfKey = "spark.graft.sessionize.strictPartitioning"

  private def guard(df: DataFrame, partitionCols: Seq[String]): Unit =
    if (globalWindowFallback(df, partitionCols)) {
      val msg =
        s"Sessionize.regions called with no partitionCols on an input whose plan-time size " +
          s"estimate exceeds $GlobalWindowWarnBytes bytes: the single-partition fallback " +
          "sorts ALL rows in ONE task. Supply partitionCols (granule / mission / day) " +
          "at scale."
      // strict parse: only "true"/"false" (case-insensitive) are valid — a
      // malformed value ("1", "yes") intended to ENABLE fail-fast must not
      // silently disable the safety guard, so it is a configuration error
      // with a message naming the bad value (clearer than a bare toBoolean
      // NumberFormatException deep in the plan build)
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

  /** Wildcard fill of one key column (R5, SIF 'none' targets): a row whose
    * `keyCol` is `wildcard` (or null) takes the key of the nearest preceding
    * row of its partition that is neither, else of the nearest following
    * one (a leading run), else keeps its own. Every input row is a fill
    * source, the rows `keep` drops included; after the fill, rows whose key
    * is null or in `drop` get no region. */
  final case class Fill(keyCol: String, wildcard: String, drop: Set[String])

  private val OrderCol = "_sessionize_order"
  private val KeepCol  = "_sessionize_keep"

  /** Run detection (R1–R5): the rows `keep` selects, ordered by `order` (a
    * long expression) within each `partitionCols` group, get a `regionCol`
    * id, dense from 0 per group. A new region starts on a group's first
    * row, when any of `keyCols` changes (null-safe: null equals null), or
    * when `order` advances by more than `margin` from the previous kept
    * row; a null order value on either side is no gap. The reference
    * merges when `next.start - prev.end < margin`, i.e. strictly fewer than
    * `margin` intervening rows (`OCO3SamProcessor.py:365-376`, margin = 2).
    *
    * Plan: one exchange by `partitionCols` (one partition without them),
    * `sortWithinPartitions(partitionCols, order, keyCols)` and one walk
    * that streams with O(1) state; only a [[Fill]]'s leading wildcard run
    * is buffered. Rows tied on `order` are walked in key order: a tie that
    * shares its key never breaks (the rows meet with gap 0), so the ids
    * equal a RANGE-frame running sum of breaks; ties with different keys
    * get ids by that key order, where a window over `order` alone would
    * depend on arrival order.
    *
    * Without a [[Fill]], `keep` filters before the exchange; with one, the
    * walk fills over every row and applies `keep` (null is false) after.
    * The walk is opaque to column pruning: it carries every input column,
    * so select what the consumer reads first. Output: the input's columns
    * (the [[Fill]] key filled) and `regionCol`. */
  def regions(
      df: DataFrame,
      order: Column,
      keyCols: Seq[String],
      partitionCols: Seq[String] = Nil,
      margin: Option[Long] = None,
      keep: Column = lit(true),
      fill: Option[Fill] = None,
      regionCol: String = "region_id"): DataFrame = {
    guard(df, partitionCols)
    val ordered = (if (fill.isEmpty) df.filter(keep) else df.withColumn(KeepCol, coalesce(keep, lit(false))))
      .withColumn(OrderCol, order.cast("long"))
    val spread =
      if (partitionCols.isEmpty) ordered.repartition(1) else ordered.repartition(partitionCols.map(col): _*)
    val sorted = spread.sortWithinPartitions((partitionCols ++ (OrderCol +: keyCols)).map(col): _*)
    val in     = sorted.schema
    val part   = partitionCols.map(in.fieldIndex).toArray
    val keys   = keyCols.map(in.fieldIndex).toArray
    val ord    = in.fieldIndex(OrderCol)
    val filled = fill.map(f => (in.fieldIndex(f.keyCol), f.wildcard, f.drop, in.fieldIndex(KeepCol)))
    sorted.mapPartitions { rows =>
      // each row's values with one trailing slot for the region id
      val cells = rows.map(r => Array.tabulate[Any](r.length + 1)(i => if (i < r.length) r.get(i) else null))
      val kept = filled.fold(cells) { case (k, wildcard, drop, keepAt) =>
        fillRuns(cells, part, k, wildcard)
          .filter(v => v(keepAt) == true && v(k) != null && !drop(v(k).asInstanceOf[String]))
      }
      var prev: Array[Any] = null
      var id               = 0L
      kept.map { v =>
        if (prev == null || !same(v, prev, part)) id = 0L
        else if (!same(v, prev, keys) || margin.exists(m => v(ord) != null && prev(ord) != null &&
            v(ord).asInstanceOf[Long] - prev(ord).asInstanceOf[Long] > m)) id += 1
        prev = v
        v(v.length - 1) = id
        new GenericRow(v): Row
      }
    }(Encoders.row(in.add(regionCol, LongType, nullable = false))).drop(OrderCol, KeepCol)
  }

  /** [[Fill]]'s forward fill of key `k` per partition group: a leading
    * wildcard run waits for the group's first source, or leaves unfilled
    * at the group's end — the walk's only buffer. */
  private def fillRuns(
      rows: Iterator[Array[Any]], part: Array[Int], k: Int, wildcard: String): Iterator[Array[Any]] = {
    val lead             = ArrayBuffer.empty[Array[Any]]
    var last: Any        = null
    var prev: Array[Any] = null
    def flush(): Iterator[Array[Any]] = { val out = lead.toList; lead.clear(); out.iterator }
    rows.flatMap { v =>
      val done = if (prev != null && !same(v, prev, part)) { last = null; flush() } else Iterator.empty
      prev = v
      if (v(k) != null && v(k) != wildcard) {
        last = v(k)
        lead.foreach(_(k) = last)
        done ++ flush() ++ Iterator.single(v)
      } else if (last != null) { v(k) = last; done ++ Iterator.single(v) }
      else { lead += v; done }
    } ++ flush()
  }

  /** Null-safe equality of `a` and `b` at `idx` (SQL's `<=>` for the
    * string and integral keys the callers walk on). */
  private def same(a: Array[Any], b: Array[Any], idx: Array[Int]): Boolean =
    idx.forall(i => a(i) == b(i))

  /** Make per-granule region ids globally unique: region ids from
    * [[regions]] are dense PER PARTITION, so granule A's region 0 would
    * merge with granule B's region 0 in every downstream groupBy. Offsets
    * each granule's ids by a dense granule index from a broadcast
    * one-row-per-granule dimension (bounded by the manifest, never the
    * data). No product path calls it: the domain pipelines key regions by
    * (granule_path, region_id) instead. It stays behind
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
}
