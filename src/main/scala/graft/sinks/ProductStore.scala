package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The engine-native product store (SURVEY S6/S7/S8/S12, §7.1).
  *
  * The reference appends dense arrays to Zarr with a hand-built transaction:
  * parallel backup of the store, a write-ahead state file, the append, a
  * post-append verify (time monotonic + duplicate-free, self-repair by
  * sort/drop_duplicates/rewrite), and backup deletion
  * (`writers/ZarrWriter.py:108-408`, `utils/ZarrUtils.py:115-344`).
  *
  * Spark-native replacement: a partitioned parquet table in sparse long
  * form, written with **idempotent partition overwrite** — an append of day
  * D rewrites only partition day=D (`partitionOverwriteMode=dynamic`), so
  * re-delivery of a day (the reference's at-least-once queue semantics)
  * converges instead of duplicating, which makes the entire
  * backup/WAL/verify/repair machinery unnecessary. `verify`/`repair` are
  * still provided for stores written by foreign writers.
  *
  * Scale notes: partitioning is (day) at the store root — partition pruning
  * serves the climatology time-slice reads (SURVEY P10); within a day,
  * files are written per shuffle partition keyed by target so a 1000-executor
  * append never funnels through one task.
  */
object ProductStore {

  /** Columns that identify a logical row for idempotence/dedup purposes. */
  val KeyCols: Seq[String] = Seq("day", "target_id", "variable", "lat_idx", "lon_idx")

  private def withDay(df: DataFrame): DataFrame =
    df.withColumn("day", col("time").cast("date"))

  /** S7+S8 replacement: idempotent append — dynamically overwrites exactly
    * the day partitions present in `df`, leaving the rest untouched.
    * Re-appending the same day converges (exactly-once effect over
    * at-least-once delivery). `dropEmpty` applies the P9/A11 all-NaN slice
    * guard before writing (the reference's config-gated `drop-empty`,
    * `runconfig.py:259-261`). */
  def appendIdempotent(df: DataFrame, path: String, dropEmpty: Boolean = false): Unit = {
    val in = if (dropEmpty) dropEmptySlices(df) else df
    withDay(in).write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
      .parquet(path)
  }

  def read(spark: SparkSession, path: String): DataFrame = spark.read.parquet(path)

  /** S8 verify: duplicate logical rows (foreign writers / plain appends).
    * Key columns adapt to the store's shape — the GLOBAL store's long form
    * carries no target_id (its logical key is the pixel). */
  def findDuplicates(spark: SparkSession, path: String): DataFrame = {
    val df = read(spark, path)
    df.groupBy(KeyCols.filter(df.columns.contains).map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
  }

  /** S8 repair: keep-first per logical key (first = earliest time, matching
    * the reference's keep='first' on the append dim) and rewrite the
    * affected day partitions in place. Returns the duplicate-group count. */
  def repair(spark: SparkSession, path: String): Long = {
    val dups = findDuplicates(spark, path).count()
    if (dups > 0) {
      // materialize before overwriting the path we are reading from
      val all = read(spark, path)
      val clean = graft.operators.Dedup
        .keepFirst(all, KeyCols.filter(all.columns.contains), "time")
        .localCheckpoint(true)
      clean.write
        .mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(path)
    }
    dups
  }

  /** Maintenance compaction for streaming appends. A long-running
    * micro-batch loop leaves each day partition with one file per write,
    * and a 100 TB store accretes millions of small files — the classic
    * lakehouse failure mode (listing pressure, tiny row groups whose
    * min/max stats prune nothing). Rewrites the given day partitions as
    * ceil(rows / targetRows) files, raster-sorted within files so the
    * stats tighten back up. Content-identical, idempotent, atomic per
    * partition (dynamic overwrite — the appendIdempotent contract).
    *
    * `zOrder` switches the within-(day, variable) layout from raster order
    * to the Morton key of (lat_idx, lon_idx) ([[graft.operators.Layout]]): a
    * raster-sorted day prunes only on the leading latitude, so a
    * longitude-box read (the climatology tool's lat/lon subset,
    * `tools/climatology/main.py:220`) touches every file — z-clustering
    * makes each file a compact spatial rectangle and the box skips the
    * rest, in any stats-reading engine. `bloomFilterCols` adds parquet
    * split-block blooms for point-probe columns (e.g. target_id) whose
    * min/max stats never prune. Both are pure layout: content identical.
    *
    * The pruned scan materializes ONCE (localCheckpoint before counting),
    * serving the row count, the overwrite-source safety, and the
    * repartition — not three scans.
    * Returns (files before, files after) across the given days. */
  def compact(
      spark: SparkSession,
      path: String,
      days: Seq[String],
      targetRows: Long = 4L * 1000 * 1000,
      zOrder: Boolean = false,
      bloomFilterCols: Seq[String] = Nil): (Long, Long) = {
    require(days.nonEmpty, "compact: no days given")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs   = root.getFileSystem(spark.sessionState.newHadoopConf())
    def dayFiles(): Long = days.map { d =>
      val p = new org.apache.hadoop.fs.Path(root, s"day=$d")
      if (fs.exists(p)) fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
      else 0L
    }.sum
    val before = dayFiles()
    // one materialization: checkpoint the pruned scan, then count the
    // checkpointed data (no second scan) and overwrite from the checkpoint
    val st = read(spark, path)
      .filter(col("day").cast("string").isin(days: _*))
      .localCheckpoint(true)
    val total  = st.count()
    val nFiles = math.max(1L, (total + targetRows - 1) / targetRows).toInt
    // z-clustering applies WITHIN each variable: dropping `variable` from the
    // layout would interleave all variables per file, wrecking the per-row-group
    // min/max stats that variable-filtered reads (the per-variable climatology
    // scan) prune on — the raster layout had that pruning, compaction must not
    // take it away.
    val layoutCols: Seq[org.apache.spark.sql.Column] =
      if (zOrder)
        Seq(col("day"), col("variable"), graft.functions.ZOrder2(col("lat_idx"), col("lon_idx")))
      else Seq(col("day"), col("variable"), col("lat_idx"), col("lon_idx"))
    val compacted = st
      .repartitionByRange(nFiles, layoutCols: _*)
      .sortWithinPartitions(layoutCols: _*)
    val writer = compacted.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day")
    bloomFilterCols
      .foldLeft(writer)((w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true"))
      .parquet(path)
    (before, dayFiles())
  }

  /** P9/A11: drop-empty guard — remove (target, day) slices whose every
    * value is null/NaN before writing (`utils/dataset_utils.py:21-26`,
    * `runconfig.py:259-261`). In sparse long form a fully-empty slice can
    * only arise from upstream NaN propagation; the guard is one aggregate +
    * a semi join, no wide shuffle. */
  def dropEmptySlices(df: DataFrame): DataFrame = {
    // global products carry no target column — their slice key is the day
    val tgt  = if (df.columns.contains("target_id")) Some("target_id") else None
    val keep = df
      .groupBy(tgt.map(col).toSeq :+ col("time").cast("date").as("_d"): _*)
      .agg(max(when(col("value").isNotNull && !isnan(col("value")), 1).otherwise(0)).as("_any"))
      .filter(col("_any") === 1)
      .drop("_any")
    // null-safe keys: a null target_id/time row must match its own slice,
    // not be silently dropped by three-valued === semantics
    df.join(
      keep,
      tgt.map(t => df(t) <=> keep(t)).getOrElse(lit(true)) &&
        df("time").cast("date") <=> keep("_d"),
      "left_semi")
  }
}
