package graft.domain

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Sessionize

/** OCO-2 mission variant (SURVEY R3 + J2, `sam_extract/processors/
  * OCO2Processor.py`).
  *
  * OCO-2 granules carry no target ids: regions are Target-mode(2) runs only
  * (`OCO2Processor.py:355-370`), each associated to the catalog by nearest
  * centroid — Euclidean distance from the region's mean (lat, lon) to every
  * catalog target's bbox center (`:400-425`) — then validated by requiring
  * the region bbox to intersect the matched target's bbox (`:427-430`).
  *
  * Spark shape: scan → granule exchange → sorted walk (sessionize) →
  * quality rule → the shared target-grid tail ([[Pipeline.targetGrid]]).
  * The region pass computes the centroid and bbox over the region's rows
  * it already holds and picks the target from the catalog snapshot it
  * carries ([[Pipeline.Targets.pick]]), so the plan has no region
  * aggregate, no nearest join and no join back onto the sessions.
  */
object Oco2Pipeline {

  /** Target-mode-only sessionization (no target key — R3). `partitionCols`
    * MUST carry the granule column for multi-file batches (sounding
    * indexes repeat per file). */
  def sessionize(granule: DataFrame, cfg: Pipeline.Config, partitionCols: Seq[String] = Nil): DataFrame =
    Sessionize.regions(
      granule,
      col("sounding_index"),
      Seq("operation_mode"),
      partitionCols,
      margin = Some(cfg.margin),
      keep = col("operation_mode") === cfg.targetMode)

  /** Full OCO-2 pipeline → sparse long form: sessionize → quality rule (as
    * [[Pipeline.process]]: `qfFilter` keeps the good rows, else the pass
    * drops regions with no good row) → [[Pipeline.targetGrid]] by nearest
    * centroid. Default science vars include xco2_x2019 when present
    * (`OCO2Processor.py:58-60`). */
  def process(
      granule: DataFrame,
      catalog: DataFrame,
      cfg: Pipeline.Config = Pipeline.Config(),
      valueCols: Seq[String] = Seq("xco2", "xco2_uncertainty")): DataFrame = {
    val sessions = sessionize(granule, cfg, Pipeline.granuleCols(granule))
    val kept     = if (cfg.qfFilter) Pipeline.qualityFilter(sessions, cfg) else sessions
    Pipeline.targetGrid(kept, col("xco2_quality_flag") === 0, catalog, byCentroid = true, cfg, valueCols)
  }
}
