package graft.domain

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.{NearestJoin, Sessionize}

/** OCO-2 mission variant (SURVEY R3 + J2, `sam_extract/processors/
  * OCO2Processor.py`).
  *
  * OCO-2 granules carry no target ids: regions are Target-mode(2) runs only
  * (`OCO2Processor.py:355-370`), each associated to the catalog by nearest
  * centroid — Euclidean distance from the region's mean (lat, lon) to every
  * catalog target's bbox center (`:400-425`) — then validated by requiring
  * the region bbox to intersect the matched target's bbox (`:427-430`).
  *
  * Spark shape: region summary is one hash aggregate (A4 centroid + A5
  * bbox); the nearest-centroid join broadcasts the catalog (559 rows) via
  * NearestJoin.argmin2D; validity is a plain predicate. Everything reuses
  * the shared grid/interp/mask tail.
  */
object Oco2Pipeline {

  /** Target-mode-only sessionization (no target key — R3). `partitionCols`
    * MUST carry the granule column for multi-file batches (sounding
    * indexes repeat per file). */
  def sessionize(granule: DataFrame, cfg: Pipeline.Config, partitionCols: Seq[String] = Nil): DataFrame =
    Sessionize.byKeyChangeWithMargin(
      granule.filter(col("operation_mode") === cfg.targetMode),
      "sounding_index",
      Seq("operation_mode"),
      cfg.margin,
      partitionCols)

  /** Region summary with centroid (A4) and bbox (A5), one row per region
    * key (`(granule_path, region_id)` for multi-granule batches). */
  def regionGeo(sessions: DataFrame): DataFrame =
    sessions
      .groupBy(Pipeline.regionKey(sessions).map(col): _*)
      .agg(
        date_trunc("day", min(col("time"))).as("time"),
        avg(col("latitude")).as("c_lat"),
        avg(col("longitude")).as("c_lon"),
        min(col("latitude")).as("r_min_lat"),
        max(col("latitude")).as("r_max_lat"),
        min(col("longitude")).as("r_min_lon"),
        max(col("longitude")).as("r_max_lon"),
        count(lit(1)).as("n_soundings"))

  /** J2: nearest-centroid association + bbox-intersects validity filter.
    * Returns regions with the matched target's id/name/bbox attached. */
  def associateByCentroid(regions: DataFrame, catalog: DataFrame): DataFrame = {
    val cat = catalog
      .withColumn("t_lat", (col("min_lat") + col("max_lat")) / 2)
      .withColumn("t_lon", (col("min_lon") + col("max_lon")) / 2)
    val matched = NearestJoin.argmin2D(
      regions,
      cat,
      leftKey = "region_id",
      leftX = "c_lon",
      leftY = "c_lat",
      rightKey = "target_id",
      rightX = "t_lon",
      rightY = "t_lat")
    // validity: region bbox ∩ target bbox non-empty, else the region is
    // dropped (OCO2Processor.py:427-430)
    matched.filter(
      col("r_min_lon") <= col("max_lon") && col("r_max_lon") >= col("min_lon") &&
        col("r_min_lat") <= col("max_lat") && col("r_max_lat") >= col("min_lat"))
  }

  /** Full OCO-2 pipeline → sparse long form. Default science vars include
    * xco2_x2019 when present (`OCO2Processor.py:58-60`). */
  def process(
      granule: DataFrame,
      catalog: DataFrame,
      cfg: Pipeline.Config = Pipeline.Config(),
      valueCols: Seq[String] = Seq("xco2", "xco2_uncertainty")): DataFrame = {
    val sessions0 = Pipeline.qualityFilter(
      sessionize(granule, cfg, Pipeline.granuleCols(granule)), cfg)
    // two consumers (region geometry + the region pass) — persist so the
    // sessionization window chain runs once
    val sessions =
      if (cfg.persistSessions)
        graft.CacheScope.persist(sessions0, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sessions0
    val key      = Pipeline.regionKey(sessions)
    val regions  = associateByCentroid(regionGeo(sessions), catalog)
      .select((key ++ Seq("target_id", "time", "min_lon", "min_lat", "max_lon", "max_lat")).map(col): _*)
    val sessionsWithTarget = sessions
      .drop("target_id")
      .join(regions.select((key :+ "target_id").map(col): _*), key)
    Pipeline.gridInterpMask(regions, sessionsWithTarget, cfg, valueCols)
  }
}
