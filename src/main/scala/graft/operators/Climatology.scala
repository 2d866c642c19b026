package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Portable._

/** Temporal-aggregate climatology (SURVEY A7/A8,
  * `tools/climatology/main.py:151-486`).
  *
  * The reference's companion tool computes per-span temporal means over the
  * output store (monthly / seasonal / annual), plus a "monthly consolidated"
  * second level that averages the monthly means per month-of-year —
  * explicitly mean-of-monthly-means, not mean-of-days
  * (`tools/climatology/main.py:281-329`).
  *
  * Consolidation exists ONLY at monthly granularity: the tool's span
  * choices are exactly `['monthly', 'seasonal', 'annual',
  * 'monthly-consolidated']` (`tools/climatology/main.py:544`) and the
  * consolidation block is gated on `span == 'monthly-consolidated'`
  * (`main.py:281`) — there is no seasonal- or annual-consolidated level,
  * so none is implemented here. [[consolidateMonthly]] composed over
  * [[temporalMean]]("seasonal-ref") would express one in two aggregates if
  * the reference ever grows it.
  *
  * In Spark each level is one hash aggregate with map-side partial
  * aggregation; on a time-partitioned store the span filter prunes
  * partitions before the scan.
  */
object Climatology {

  /** Span start boundary: calendar units via date_trunc, plus "season" =
    * meteorological season (DJF/MAM/JJA/SON — clean month-aligned seasons),
    * computed as quarter-truncate of (ts + 1 month) minus 1 month so
    * December joins the following DJF. For the reference tool's EXACT
    * seasonal boundaries use [[spanStartSeasonalRef]]. */
  def spanStart(ts: Column, span: String): Column = span match {
    case "season" =>
      date_trunc("quarter", ts + expr("INTERVAL 1 MONTH")) - expr("INTERVAL 1 MONTH")
    case unit => date_trunc(unit, ts)
  }

  /** Reference-faithful seasonal span start (`tools/climatology/main.py:
    * 194-210`): the reference ends each seasonal span on the **20th** of
    * Mar/Jun/Sep/Dec (month-end boundary dates re-pinned to day 20), so a
    * span is [21st of one boundary month, 20th of the next], and the FIRST
    * span is clipped to the store's coverage start — a partial span labeled
    * by the coverage start itself (`time_slices[0] = slice(start_date,
    * pd_dates[0])`).
    *
    * Shifting by 20 days maps [Mar 21, Jun 20] onto calendar [Mar 1,
    * May 31], which is exactly the DJF-style season of the shifted date —
    * so the unclipped boundary is `spanStart(ts - 20d, "season") + 20d`,
    * then `greatest` applies the coverage clip. */
  def spanStartSeasonalRef(ts: Column, coverageStart: Column): Column =
    greatest(
      spanStart(ts - expr("INTERVAL 20 DAYS"), "season") + expr("INTERVAL 20 DAYS"),
      coverageStart.cast("timestamp"))

  /** Per-span mean/count over a value column, grouped by extra keys.
    * `span` ∈ {"month", "quarter", "season", "seasonal-ref", "year", ...}.
    * "seasonal-ref" (the reference tool's 20th-of-month boundaries with a
    * coverage-clipped partial first span) needs the data's coverage start:
    * one single-row min aggregate, broadcast under every row — the only
    * span mode whose boundary depends on the data itself. */
  def temporalMean(
      df: DataFrame,
      tsCol: String,
      valueCol: String,
      span: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val (in, start) =
      if (span == "seasonal-ref") {
        val cov = df.agg(min(col(tsCol)).as("_coverage_start"))
        (df.crossJoin(broadcast(cov)), spanStartSeasonalRef(col(tsCol), col("_coverage_start")))
      } else (df, spanStart(col(tsCol), span))
    val spanCol = date_format(start, "yyyy-MM-dd").as("span_start")
    in.groupBy(spanCol +: keyCols.map(col): _*)
      .agg(
        // fast two-limb exact mean — bit-identical to the decimal mean (PortableSpec),
        // long aggregation buffers instead of per-row Decimal adds
        avg2fast(col(valueCol)).as("mean_value"),
        count(col(valueCol)).as("valid_count"),
        countDistinct(col(tsCol).cast("date")).as("n_days"))
  }

  /** Incremental climatology maintenance — day-grain exact-sum state.
    *
    * The reference tool recomputes every span mean from the full store on
    * each run (`tools/climatology/main.py:151-486`); at 100 TB that is a
    * full-store rescan per nightly day. This pair maintains a parquet
    * STATE table at (day, keys) grain holding [[graft.functions.Portable]]
    * two-limb exact sum partials (plain longs, associative), so:
    *
    *  - [[updateDailyState]] ingests one day-batch by aggregating ONLY the
    *    new rows and dynamic-partition-overwriting exactly the day
    *    partitions present in the batch — idempotent per day (re-ingesting
    *    a day converges, the store's exactly-once-effect contract). The
    *    ingest unit is whole days (the granule-day contract): a batch
    *    holding half a day would replace the other half.
    *  - [[meansFromState]] folds the bounded state (days × keys rows, not
    *    the raw 100 TB) into any span level, bit-identical to
    *    [[temporalMean]] over all raw rows because limb addition is
    *    associative and the overflow guard re-proves from merged
    *    witnesses ([[graft.functions.Portable.sumFastMerge]]).
    */
  def updateDailyState(
      df: DataFrame,
      tsCol: String,
      valueCol: String,
      keyCols: Seq[String],
      statePath: String): Unit = {
    val day = col(tsCol).cast("date").as("day")
    df.groupBy(day +: keyCols.map(col): _*)
      .agg(sumFastPartial(col(valueCol), 2).as("_p"))
      .select(
        (col("day") +: keyCols.map(col)) ++ Seq(
          col("_p.sq").as("sq"), col("_p.sr").as("sr"), col("_p.n").as("n"),
          col("_p.mq").as("mq"), col("_p.nc").as("nc")): _*)
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(statePath)
  }

  /** State refresh after a store-day REWRITE (the reprocessing flow):
    * when a day's store partition is replaced with corrected data
    * (`ProductStore.appendIdempotent` re-delivering a fixed day — the
    * reference's S8 verify/repair semantics), the climatology state for
    * that day is stale. This re-aggregates exactly the touched days FROM
    * THE STORE with a day-partition-pruned scan and overwrites their
    * state partitions — idempotent like the store rewrite itself, and
    * never a full-store rescan. `dayCol` must be the store's day
    * partition column so the `isin` prunes to the touched partitions. */
  def refreshDaysFromStore(
      store: DataFrame,
      dayCol: String,
      days: Seq[String],
      tsCol: String,
      valueCol: String,
      keyCols: Seq[String],
      statePath: String): Unit = {
    require(days.nonEmpty, "refreshDaysFromStore: no days to refresh")
    updateDailyState(
      store.filter(col(dayCol).isin(days: _*)),
      tsCol, valueCol, keyCols, statePath)
  }

  /** Name of the compacted segment inside a state dir (underscore-prefixed
    * so plain parquet readers of the day-partitioned hot tier ignore it). */
  val StateBaseDir = "_base"

  /** Hot-tier day partitions of a state dir (driver listing — one status
    * call; the state is bounded by day count). */
  private def hotStateDays(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("day="))
      .map(_.getPath.getName.stripPrefix("day=")).sorted

  private def hasBase(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Boolean = {
    val base = new org.apache.hadoop.fs.Path(root, StateBaseDir)
    fs.exists(base) && fs.listStatus(base).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("month="))
  }

  /** The full day-grain state: hot tier (one `day=` partition per
    * recently-touched day, the [[updateDailyState]] write unit) unioned
    * with the compacted base ([[compactState]]: `_base/month=` partitions,
    * ~one file per month instead of one per day). HOT WINS on a day
    * present in both tiers — that single invariant makes every mutation
    * crash-safe and simple: a refresh of a compacted day just writes the
    * hot partition (the base's stale rows are ignored and swept by the
    * next compaction), and a compaction crash between the base write and
    * the hot-dir deletes double-stores some days without double-COUNTING
    * them. With no base the read is byte-identical to the pre-compaction
    * layout. */
  private def readState(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs   = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!hasBase(fs, root)) return spark.read.parquet(statePath)
    val hotDays = hotStateDays(fs, root)
    val base0 = spark.read.parquet(new org.apache.hadoop.fs.Path(root, StateBaseDir).toString)
    val base  = (if (hotDays.isEmpty) base0
                 else base0.filter(!col("day").cast("string").isin(hotDays: _*)))
      .drop("month")
    if (hotDays.isEmpty) base
    else {
      val hot = spark.read.parquet(statePath)
      hot.unionByName(base.select(hot.columns.map(col).toSeq: _*))
    }
  }

  /** Compact the state's hot tier (VERDICT r19 #3: one parquet file per
    * day with no compaction — ~365 objects/yr of small-file pressure):
    * move every hot day except the newest `keepDays` into the `_base`
    * month-partitioned segment, one file per month (the write
    * repartitions by month). Idempotent and fold-preserving: limb sums
    * are row-associative, the merge excludes the compacted days from the
    * existing base (so a re-run converges), and the hot-wins read makes
    * the crash window between base write and hot-dir deletion harmless.
    * The newest days stay hot because the streaming loop's per-batch
    * refresh rewrites them cheaply as `day=` overwrites. Returns
    * (compacted day count, remaining hot day count). */
  def compactState(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      keepDays: Int = 7): (Int, Int) = {
    require(keepDays >= 0, "compactState: keepDays must be >= 0")
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs   = root.getFileSystem(spark.sessionState.newHadoopConf())
    val hotDays   = hotStateDays(fs, root)
    val toCompact = hotDays.dropRight(keepDays)
    if (toCompact.isEmpty) return (0, hotDays.length)
    val months   = toCompact.map(_.take(7)).distinct
    val basePath = new org.apache.hadoop.fs.Path(root, StateBaseDir)
    val hot = spark.read.parquet(statePath)
      .filter(col("day").cast("string").isin(toCompact: _*))
    val merged =
      if (!hasBase(fs, root)) hot
      else {
        // existing base rows of the affected months ride along (a month
        // partition is replaced wholesale by the dynamic overwrite), minus
        // the days being compacted — their hot rows are the truth
        val existing = spark.read.parquet(basePath.toString)
          .filter(col("month").isin(months: _*))
          .filter(!col("day").cast("string").isin(toCompact: _*))
          .drop("month")
        hot.unionByName(existing.select(hot.columns.map(col).toSeq: _*))
      }
    // materialize before writing: the merge READS the base being
    // overwritten (same trick as ProductStore.compact)
    merged.localCheckpoint(true)
      .withColumn("month", date_format(col("day"), "yyyy-MM"))
      .repartition(col("month")) // one writer task → one file per month
      .write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("month")
      .parquet(basePath.toString)
    toCompact.foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(root, s"day=$d"), true))
    (toCompact.length, hotDays.length - toCompact.length)
  }

  /** Drop days from the compacted base (the stale-day path: a store day
    * was deleted outright, so its state rows must not ride future folds —
    * hot-tier staleness is handled by [[readState]]'s hot-wins rule, but
    * a base-only day has no fresher row to win over it). Rewrites only
    * the affected month partitions; a month left empty is deleted. */
  def dropDaysFromBase(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      days: Seq[String]): Unit = {
    if (days.isEmpty) return
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs   = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!hasBase(fs, root)) return
    val basePath = new org.apache.hadoop.fs.Path(root, StateBaseDir)
    val months   = days.map(_.take(7)).distinct
    val affected = spark.read.parquet(basePath.toString)
      .filter(col("month").isin(months: _*))
    // materialized: the rewrite reads the month partitions it overwrites
    val remaining = affected.filter(!col("day").cast("string").isin(days: _*))
      .localCheckpoint(true)
    val keepMonths = remaining.select(col("month").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    if (keepMonths.nonEmpty)
      remaining
        .repartition(col("month"))
        .write
        .mode(org.apache.spark.sql.SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("month")
        .parquet(basePath.toString)
    // months whose every day was dropped produce no partition in the
    // dynamic overwrite — delete their dirs outright
    months.filterNot(keepMonths).foreach(m =>
      fs.delete(new org.apache.hadoop.fs.Path(basePath, s"month=$m"), true))
  }

  /** Every day present in the state, across both tiers (the incremental
    * job's stale/new-day reconciliation needs the full set). */
  def stateDays(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(statePath)
    val fs   = root.getFileSystem(spark.sessionState.newHadoopConf())
    val hot  = hotStateDays(fs, root)
    val base =
      if (!hasBase(fs, root)) Nil
      else spark.read.parquet(new org.apache.hadoop.fs.Path(root, StateBaseDir).toString)
        .select(col("day").cast("string")).distinct().collect().map(_.getString(0)).toSeq
    (hot ++ base).distinct.sorted
  }

  /** Span means from the day-grain state — output schema identical to
    * [[temporalMean]] (span_start, keys…, mean_value, valid_count,
    * n_days). "seasonal-ref" derives its coverage clip from the state's
    * min day (the store's own daily grain). Reads both tiers
    * ([[readState]]); with no compacted base this is exactly the r19
    * single-tier read. */
  def meansFromState(
      spark: org.apache.spark.sql.SparkSession,
      statePath: String,
      span: String,
      keyCols: Seq[String] = Nil): DataFrame = {
    val st = readState(spark, statePath)
    val ts = col("day").cast("timestamp")
    val (in, start) =
      if (span == "seasonal-ref") {
        val cov = st.agg(min(ts).as("_coverage_start"))
        (st.crossJoin(broadcast(cov)), spanStartSeasonalRef(ts, col("_coverage_start")))
      } else (st, spanStart(ts, span))
    val spanCol = date_format(start, "yyyy-MM-dd").as("span_start")
    val p = struct(col("sq"), col("sr"), col("n"), col("mq"), col("nc"))
    in.groupBy(spanCol +: keyCols.map(col): _*)
      .agg(
        (sumFastMerge(p, 2) / sum(col("nc"))).as("mean_value"),
        sum(col("nc")).as("valid_count"),
        countDistinct(col("day")).as("n_days"))
  }

  /** `_REFRESH_FAILED` marker protocol (the streaming loop's durable
    * stale-state alarm; see [[graft.streaming.MicroBatchIngest]]). The
    * marker body is `<iso-instant> <error>` followed by a
    * `failed_days=d1,d2` line naming exactly the days whose refresh
    * failed — so a later healthy pass can clear the alarm ONLY when its
    * refreshed days cover them (ADVICE r19: a day whose FIRST refresh
    * succeeded and a later same-day refresh failed is in both store and
    * state, so new-day detection never re-aggregates it — the day list is
    * what makes clearing safe). `failed_days=unknown` (or a legacy marker
    * without the line) means the failure struck before the day set was
    * computable; only a full reconcile (ClimatologyJob `--state`, which
    * re-aggregates every store day on unknown) clears those. */
  def markerFailedDays(
      fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path): Option[Set[String]] = {
    val txt =
      try {
        val src = scala.io.Source.fromInputStream(fs.open(marker), "UTF-8")
        try src.mkString finally src.close()
      } catch { case _: Exception => "" }
    txt.linesIterator.find(_.startsWith("failed_days=")).map(_.stripPrefix("failed_days="))
      .filter(_ != "unknown")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  }

  /** Write (or extend) the refresh-failure marker: merges `days` with any
    * existing marker's failed days so consecutive failures accumulate
    * instead of overwriting — an unknown on either side stays unknown
    * (a day set that might be incomplete cannot justify clearing). */
  def writeRefreshFailedMarker(
      fs: org.apache.hadoop.fs.FileSystem,
      marker: org.apache.hadoop.fs.Path,
      error: String,
      days: Option[Set[String]]): Unit = {
    val merged: Option[Set[String]] =
      if (!fs.exists(marker)) days
      else for { prev <- markerFailedDays(fs, marker); cur <- days } yield prev ++ cur
    val dayLine = merged.fold("unknown")(_.toSeq.sorted.mkString(","))
    val out = fs.create(marker, true)
    try out.write(
      (s"${java.time.Instant.now()} $error\nfailed_days=$dayLine\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Second-level consolidation: group first-level monthly means by
    * month-of-year and average the means (mean-of-means), summing counts.
    * `monthOf` must extract the month number from span_start. */
  def consolidateMonthly(monthly: DataFrame, keyCols: Seq[String] = Nil): DataFrame = {
    val m = month(to_date(col("span_start"))).as("month_of_year")
    import graft.functions.Portable.orderedSumDouble
    monthly
      .groupBy(m +: keyCols.map(col): _*)
      .agg(
        // order-deterministic fold of the (double) monthly means
        (orderedSumDouble(col("mean_value"), Seq(col("span_start"))) / count(col("mean_value")))
          .as("mean_of_means"),
        sum(col("valid_count")).as("valid_count"),
        sum(col("n_days")).as("n_days"))
  }
}
