package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Sessionize

/** OCO-3 SIF mission variant (SURVEY R5 + J6,
  * `sam_extract/processors/OCO3SifProcessor.py`).
  *
  * SIF granules name targets indirectly: each sounding carries a
  * `sequences_index` into a separate `sequences` table
  * (`OCO3SifProcessor.py:363-366`); index < 0 means 'none', and 'none'
  * rows inherit the neighboring run's target during region detection
  * (`:377-477`). Modes are SAM=3 / Target=2 (`:37-38`); quality keeps
  * flags {0,1} (`:499-505`); time is seconds since the 1990 epoch
  * (`:66,93-95`).
  */
object SifPipeline {

  val SifEpochSeconds: Long = 631152000L // 1990-01-01T00:00:00Z - unix epoch

  /** J6/R5 step 1: resolve target ids through the sequences lookup
    * (broadcast equi-join); missing/negative indices become 'none'.
    * Sequence indexes are per-granule — when both sides carry
    * `granule_path` (multi-file batches), it joins as a second key so
    * file A's sequence 0 never resolves through file B's table. */
  def resolveTargets(soundings: DataFrame, sequences: DataFrame): DataFrame = {
    val perGranule =
      soundings.columns.contains("granule_path") && sequences.columns.contains("granule_path")
    val rhsCols =
      Seq(col("seq_index").as("sequences_index"), col("seq_target")) ++
        (if (perGranule) Seq(col("granule_path")) else Nil)
    val keys = if (perGranule) Seq("sequences_index", "granule_path") else Seq("sequences_index")
    soundings
      .join(broadcast(sequences.select(rhsCols: _*)), keys, "left")
      .withColumn(
        "target_id",
        when(col("sequences_index") < 0 || col("seq_target").isNull, lit("none"))
          .otherwise(col("seq_target")))
      .drop("seq_target")
  }

  /** R5 step 2+3: 'none' wildcard coalescing then margin-merged run
    * detection on (mode, resolved target). `partitionCols` MUST carry the
    * granule column for multi-file batches: sounding indexes repeat per
    * file, so a global window would interleave files — wrong coalescing
    * AND cross-file region merges. */
  def sessionize(resolved: DataFrame, cfg: Pipeline.Config, partitionCols: Seq[String] = Nil): DataFrame = {
    val coalesced =
      Sessionize.coalesceWildcard(resolved, "sounding_index", "target_id", "none", partitionCols)
    Sessionize.byKeyChangeWithMargin(
      coalesced.filter(
        col("operation_mode").isin(cfg.samMode, cfg.targetMode) &&
          !col("target_id").isin("none", "Missing", "missing")),
      "sounding_index",
      Seq("operation_mode", "target_id"),
      cfg.margin,
      partitionCols)
  }

  /** Multi-granule sessionization — same contract as
    * [[Pipeline.sessionizePerGranule]]: per-file windows with region ids
    * made globally unique. */
  def sessionizePerGranule(resolved: DataFrame, cfg: Pipeline.Config, granuleCol: String): DataFrame =
    Sessionize.globalizeRegionIds(sessionize(resolved, cfg, Seq(granuleCol)), granuleCol)

  /** SIF quality: flags {0,1} are good (`OCO3SifProcessor.py:499-505`). */
  def qualityFilter(sessions: DataFrame): DataFrame =
    sessions.filter(col("quality_flag").isin(0, 1))

  /** Delta_Time seconds-since-1990 → timestamp column. */
  def sifTime(deltaTime: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_seconds(deltaTime + lit(SifEpochSeconds))

  /** Full SIF pipeline → sparse long form over `daily_sif`.
    * Input soundings: (sounding_index, latitude, longitude, delta_time,
    * vertex_latitude, vertex_longitude, quality_flag, daily_sif,
    * operation_mode, sequences_index); sequences: (seq_index, seq_target).
    */
  def process(
      soundings: DataFrame,
      sequences: DataFrame,
      catalog: DataFrame,
      cfg: Pipeline.Config = Pipeline.Config(samMode = 3, targetMode = 2)): DataFrame = {
    val withTime = soundings.withColumn("time", sifTime(col("delta_time")))
    val resolved = resolveTargets(withTime, sequences)
    val sessionized =
      if (resolved.columns.contains("granule_path"))
        sessionizePerGranule(resolved, cfg, "granule_path")
      else sessionize(resolved, cfg)
    val sessions0 = qualityFilter(sessionized)
    // two consumers (region summary + the region pass) — persist so the
    // sessionization window chain runs once
    val sessions =
      if (cfg.persistSessions)
        graft.CacheScope.persist(sessions0, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sessions0
    val regions  = TargetCatalog.associate(Pipeline.regionSummary(sessions), catalog)
    Pipeline.gridInterpMask(regions, sessions, cfg, Seq("daily_sif"))
  }
}
