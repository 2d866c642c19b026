package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Climatology
import graft.sinks.{ProductStore, ZarrStore}

/** The reference's companion climatology tool
  * (`tools/climatology/main.py:151-486`) over the engine's OWN product
  * stores — both formats:
  *
  *  - **Zarr store** (the reference's primary sink): read each variable off
  *    the chunk files, compute per-pixel temporal means
  *    (monthly / seasonal / annual) and optionally the monthly-consolidated
  *    second level (mean-of-monthly-means, `main.py:281-329`), and write
  *    the result back as a new Zarr store whose time axis is the span
  *    starts — the analytic output opens in any Zarr client exactly like
  *    the product store it came from.
  *  - **Parquet store** (target mode): the same two levels keyed
  *    (target_id, variable), written as parquet.
  *
  * Scale shape: the Zarr scan fans one task per chunk file
  * ([[ZarrStore.read]]); each climatology level is one hash aggregate with
  * map-side partial combine keyed (span, lat_idx, lon_idx) — pixels never
  * concentrate on the driver, and no shuffle is wider than the output cube
  * itself. The entire reference tool (span slicing, dask pools, temp-Zarr
  * spills) reduces to these aggregates.
  *
  * Usage: ClimatologyJob <store> <out> [span] [--consolidated]
  *        [--variable <v>] [--from YYYY-MM-DD] [--to YYYY-MM-DD]
  * span ∈ month | season | seasonal-ref | quarter | year (default month);
  * `seasonal-ref` reproduces the reference tool's exact season boundaries
  * (spans end on the 20th of Mar/Jun/Sep/Dec, first span clipped to the
  * store's coverage start — `tools/climatology/main.py:194-210`), while
  * `season` keeps clean month-aligned DJF/MAM/JJA/SON. `--from`/`--to`
  * (inclusive/exclusive) are the reference's time-slice subset
  * (`main.py:220`): the day bounds resolve to a time-index range on the
  * driver and prune the store's chunk FILES, not just rows.
  */
object ClimatologyJob {

  /** Store rows with real timestamps: time_idx resolves through the
    * store's 1-D time coordinate (driver-read, broadcast — the time axis
    * is bounded by the store's day count). Date bounds become a time-index
    * range that [[ZarrStore.read]] turns into chunk-file pruning. */
  def readWithTime(
      spark: SparkSession, store: String, variable: String,
      from: Option[java.time.LocalDate] = None,
      to: Option[java.time.LocalDate] = None): DataFrame = {
    import spark.implicits._
    val days = ZarrStore.existingDays(spark, store)
    require(days.nonEmpty, s"store $store has no time axis")
    val range = if (from.isEmpty && to.isEmpty) None else {
      val lo = from.map(d => days.count(_ < d.toEpochDay)).getOrElse(0)
      val hi = to.map(d => days.count(_ < d.toEpochDay)).getOrElse(days.length)
      Some((lo, hi))
    }
    val lookup = days.zipWithIndex
      .map { case (d, i) => (i, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d))) }
      .toDF("time_idx", "date")
    ZarrStore.read(spark, store, variable, timeIdxRange = range)
      .join(broadcast(lookup), "time_idx")
      .select(col("lat_idx"), col("lon_idx"), col("date").cast("timestamp").as("time"), col("value"))
  }

  /** Per-pixel per-span means over a Zarr store variable (A7). */
  private def spanMeans(
      spark: SparkSession, store: String, variable: String, span: String,
      from: Option[java.time.LocalDate] = None,
      to: Option[java.time.LocalDate] = None): DataFrame =
    Climatology.temporalMean(
      readWithTime(spark, store, variable, from, to), "time", "value", span,
      keyCols = Seq("lat_idx", "lon_idx"))

  /** Per-pixel monthly-consolidated means over a Zarr store variable (A8):
    * mean-of-monthly-means per month-of-year, NOT mean-of-days. */
  private def consolidated(
      spark: SparkSession, store: String, variable: String,
      from: Option[java.time.LocalDate] = None,
      to: Option[java.time.LocalDate] = None): DataFrame =
    Climatology.consolidateMonthly(
      spanMeans(spark, store, variable, "month", from, to),
      keyCols = Seq("lat_idx", "lon_idx"))

  /** Data variables of a Zarr store (array dirs minus the coordinates). */
  def storeVariables(spark: SparkSession, store: String): Seq[String] = {
    val root = new Path(store)
    val fs   = root.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(Set("time", "lat", "lon"))
      .filter(n => fs.exists(new Path(new Path(root, n), ".zarray")))
      .sorted
  }

  /** Consolidated month-of-year → the nominal time axis of the output
    * store (year 2000: a representative annual cycle). */
  private def monthAxis(df: DataFrame): DataFrame =
    df.select(
      make_date(lit(2000), col("month_of_year"), lit(1)).cast("timestamp").as("time"),
      col("lat_idx"), col("lon_idx"),
      col("mean_of_means").as("value"))

  private def runZarr(
      spark: SparkSession, store: String, out: String, span: String,
      doConsolidated: Boolean, variable: Option[String],
      from: Option[java.time.LocalDate], to: Option[java.time.LocalDate]): String = {
    val vars = variable.map(Seq(_)).getOrElse(storeVariables(spark, store))
    require(vars.nonEmpty, s"store $store has no data variables")
    val meta = ZarrStore.gridOf(spark, store)
    val means = vars.map { v =>
      spanMeans(spark, store, v, span, from, to).select(
        to_date(col("span_start")).cast("timestamp").as("time"),
        col("lat_idx"), col("lon_idx"),
        col("mean_value").as("value"))
        .withColumn("variable", lit(s"${v}_${span}_mean"))
    }.reduce(_.unionByName(_))
    ZarrStore.write(means, out, meta)
    if (doConsolidated) {
      val cons = vars.map { v =>
        monthAxis(consolidated(spark, store, v, from, to))
          .withColumn("variable", lit(s"${v}_monthly_climatology"))
      }.reduce(_.unionByName(_))
      ZarrStore.write(cons, s"$out-consolidated", meta)
    }
    s""""format":"zarr","variables":${vars.size}"""
  }

  private def runParquet(
      spark: SparkSession, store: String, out: String, span: String,
      doConsolidated: Boolean): String = {
    val product = ProductStore.read(spark, store)
    val means   = Climatology.temporalMean(product, "time", "value", span, Seq("target_id", "variable"))
    val result =
      if (doConsolidated) Climatology.consolidateMonthly(means, Seq("target_id", "variable"))
      else means
    result.write.mode("overwrite").parquet(out)
    s""""format":"parquet""""
  }

  /** Incremental parquet mode (`--state <dir>`): maintain the day-grain
    * exact-sum state ([[Climatology.updateDailyState]]) instead of
    * rescanning the whole store per run. Days present in the store but
    * absent from the state refresh automatically (the nightly case);
    * days present in the state but DELETED from the store are dropped
    * (their `day=` partitions removed) so a shrunk store cannot leave
    * stale rows contaminating span means. `--refresh-days d1,d2` forces
    * specific days — REQUIRED for in-place rewrites (the S8 reprocessing
    * case: a day whose store partition was replaced with corrected data
    * still exists on both sides, so only the operator knows it's stale).
    * Span means then fold the bounded state, bit-identical to the full
    * recompute. */
  private def runParquetIncremental(
      spark: SparkSession, store: String, out: String, span: String,
      doConsolidated: Boolean, statePath: String, refreshDays: Seq[String],
      compactKeep: Option[Int]): String = {
    val keys    = Seq("target_id", "variable")
    val product = ProductStore.read(spark, store)
    val storeDays = product.select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0))
    val stateRoot = new Path(statePath)
    val fs        = stateRoot.getFileSystem(spark.sessionState.newHadoopConf())
    // the streaming loop's durable alarm: a per-batch refresh failed and
    // the state is stale. Surface it LOUDLY here and AUTO-HEAL: the marker
    // body names the failed days (Climatology marker protocol), which this
    // run adds to refreshDays — new-day detection alone misses a day whose
    // FIRST refresh succeeded and a later same-day refresh failed (it is
    // in both store and state, so `touched` would exclude it and the stale
    // values would survive the marker's deletion — ADVICE r19). A marker
    // with UNKNOWN days (failure before the day set was computable) forces
    // a full reconcile: every store day re-aggregates. A day REWRITTEN in
    // place without any refresh failure still needs --refresh-days.
    val refreshMarker = new Path(stateRoot, "_REFRESH_FAILED")
    val markerWasPresent = fs.exists(refreshMarker)
    val markerDays: Option[Set[String]] =
      if (markerWasPresent) Climatology.markerFailedDays(fs, refreshMarker) else Some(Set.empty)
    if (markerWasPresent) {
      val txt =
        try {
          val src = scala.io.Source.fromInputStream(fs.open(refreshMarker), "UTF-8")
          try src.mkString.trim finally src.close()
        } catch { case _: Exception => "(unreadable)" }
      System.err.println(
        s"[climatology] WARNING: state $statePath carries a _REFRESH_FAILED marker — " +
          s"a streaming per-batch refresh failed and the state was stale: $txt")
      if (markerDays.isEmpty)
        System.err.println(
          "[climatology] marker names no failed days (unknown) — re-aggregating EVERY " +
            "store day to reconcile")
    }
    // both tiers (hot day= partitions + the compacted _base segment); a
    // state dir holding ONLY the failure marker lists as zero days instead
    // of crashing the parquet read with UNABLE_TO_INFER_SCHEMA
    val stateDays = Climatology.stateDays(spark, statePath).toArray
    // stale side: state days whose store partition no longer exists — drop
    // them, or they silently ride every future fold (bounded: one dir/day).
    // Guard: an EMPTY store (empty-but-valid parquet, or a mistyped store
    // path paired with a long-lived --state dir) would classify every state
    // day as stale and destroy the expensive incremental state in one run —
    // refuse the drop and fail loudly instead, so the operator can fix the
    // path or intentionally delete the state dir.
    val stale = stateDays.diff(storeDays).sorted
    if (stale.nonEmpty && storeDays.isEmpty)
      throw new IllegalStateException(
        s"[climatology] store $store has ZERO days but state $statePath has " +
          s"${stale.length} — refusing to drop ALL state days (likely a wrong " +
          "store path or an empty store; delete the state dir manually if intended)")
    stale.foreach { d => fs.delete(new Path(stateRoot, s"day=$d"), true) }
    Climatology.dropDaysFromBase(spark, statePath, stale.toSeq)
    if (stale.nonEmpty)
      System.err.println(
        s"[climatology] dropped ${stale.length} state day(s) no longer in the store: " +
          stale.mkString(","))
    // a --refresh-days day absent from the store would be a silent no-op
    // (the pruned scan yields zero rows, dynamic overwrite writes nothing)
    // yet still count as "refreshed" — surface the operator typo instead
    val absentRefresh = refreshDays.diff(storeDays).sorted
    if (absentRefresh.nonEmpty)
      System.err.println(
        s"[climatology] WARNING: --refresh-days day(s) not present in the store " +
          s"(check the day strings): ${absentRefresh.mkString(",")}")
    // marker-driven healing: known failed days join the refresh set
    // (intersected with the store — a failed day since deleted from the
    // store has no rows to re-aggregate and its stale state partition is
    // dropped above); an unknown marker refreshes everything
    val healDays: Seq[String] = markerDays match {
      case Some(ds) => ds.toSeq.intersect(storeDays.toSeq)
      case None     => storeDays.toSeq
    }
    val touched = (storeDays.diff(stateDays) ++ refreshDays.intersect(storeDays) ++ healDays)
      .distinct.sorted
    if (touched.nonEmpty)
      Climatology.refreshDaysFromStore(
        product, "day", touched.toSeq, "time", "value", keys, statePath)
    // opt-in small-file compaction (VERDICT r19 #3): settle all but the
    // newest `keep` hot days into the month-partitioned base — idempotent,
    // fold-preserving (limb sums are associative; hot wins on overlap)
    val compacted = compactKeep.map { keep =>
      Climatology.compactState(spark, statePath, keep)
    }
    val means = Climatology.meansFromState(spark, statePath, span, keys)
    val result =
      if (doConsolidated) Climatology.consolidateMonthly(means, keys)
      else means
    result.write.mode("overwrite").parquet(out)
    if (markerWasPresent) {
      // safe to clear: every marker day still in the store was just
      // re-aggregated (healDays ⊆ touched; unknown → all store days), and
      // marker days deleted from the store had their state dropped above
      fs.delete(refreshMarker, false)
      System.err.println(
        "[climatology] _REFRESH_FAILED marker cleared — failed days re-aggregated " +
          s"(${touched.length} day(s) refreshed, of which ${healDays.length} marker-driven)")
    }
    val compactDetail = compacted.fold("")(c =>
      s""","compacted_days":${c._1},"hot_days":${c._2}""")
    s""""format":"parquet","refreshed_days":${touched.length},"dropped_days":${stale.length},""" +
      s""""absent_refresh_days":${absentRefresh.length},"refresh_failed_marker":$markerWasPresent""" +
      compactDetail
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: ClimatologyJob <store> <out> [span] [--consolidated] [--variable <v>] " +
        "[--state <dir> [--refresh-days d1,d2] [--compact-state [--compact-keep N]]]  " +
        "(--refresh-days is REQUIRED after rewriting a store day in place; " +
        "new/deleted store days are detected automatically; --compact-state settles " +
        "all but the newest N (default 7) hot day partitions into the month-" +
        "partitioned _base segment)")
    val Array(store, out) = args.take(2)
    val flags = args.drop(2)
    // span is positional (before any --flag): a bare find would misread a
    // flag VALUE ("--compact-keep 7", "--state <dir>") as the span
    val span = flags.headOption.filterNot(_.startsWith("--")).getOrElse("month")
    val doConsolidated = flags.contains("--consolidated")
    val variable = flags.sliding(2).collectFirst { case Array("--variable", v) => v }
    val from = flags.sliding(2).collectFirst { case Array("--from", d) => java.time.LocalDate.parse(d) }
    val to   = flags.sliding(2).collectFirst { case Array("--to", d) => java.time.LocalDate.parse(d) }
    val statePath = flags.sliding(2).collectFirst { case Array("--state", p) => p }
    val refreshDays = flags.sliding(2)
      .collectFirst { case Array("--refresh-days", d) => d.split(",").map(_.trim).filter(_.nonEmpty).toSeq }
      .getOrElse(Nil)
    val compactKeep =
      if (!flags.contains("--compact-state")) None
      else Some(flags.sliding(2)
        .collectFirst { case Array("--compact-keep", n) => n.toInt }
        .getOrElse(7))
    val preExisting = SparkSession.getActiveSession.isDefined
    val spark = Jobs.session("graft-climatology")
    spark.sparkContext.setLogLevel("WARN")

    val isZarr = {
      val root = new Path(store)
      root.getFileSystem(spark.sessionState.newHadoopConf()).exists(new Path(root, ".zgroup"))
    }
    val detail =
      if (isZarr) runZarr(spark, store, out, span, doConsolidated, variable, from, to)
      else statePath match {
        case Some(sp) =>
          runParquetIncremental(spark, store, out, span, doConsolidated, sp, refreshDays, compactKeep)
        case None     => runParquet(spark, store, out, span, doConsolidated)
      }
    println(s"""{"job":"climatology","store":"$store","span":"$span",$detail}""")
    if (!preExisting) spark.stop()
  }
}
