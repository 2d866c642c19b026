package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.domain.Pipeline
import graft.functions.PointInPolygon

/** Relational reference for the target region pass
  * ([[graft.domain.Pipeline.targetGrid]]): the A3 region guard as an
  * aggregate joined back, the per-region pixel lattice as
  * an explode, footprint masking as a bbox-pruned join plus an exact
  * point-in-polygon filter, and nearest interpolation as a join plus a
  * rank-1 window. Same cells and values as the region pass, by a different
  * route; PipelineSpec and MissionVariantsSpec compare against it. */
object PipelineReference {

  /** P5/A3 as relational steps: under `qfFilter` keep the good rows, else
    * keep every row of a region with at least one good row — a per-region
    * aggregate joined back. The region passes drop a region with no good
    * row inline instead. */
  def qualityFilter(sessions: DataFrame, cfg: Pipeline.Config): DataFrame =
    if (cfg.qfFilter) sessions.filter(col("xco2_quality_flag") === 0)
    else {
      val key  = Seq("granule_path").filter(sessions.columns.contains) :+ "region_id"
      val good = sessions
        .groupBy(key.map(col): _*)
        .agg(max(when(col("xco2_quality_flag") === 0, 1).otherwise(0)).as("_any_good"))
        .filter(col("_any_good") === 1)
        .select(key.map(col): _*)
      sessions.join(good, key)
    }

  /** G1: per-region pixel grid from the associated target bbox (gridN², lon
    * minor / lat major linspace, identical arithmetic to Grid.generate). */
  def regionPixels(regionsWithBbox: DataFrame, cfg: Pipeline.Config): DataFrame = {
    val n = cfg.gridN
    val idx = sequence(lit(0), lit(n - 1))
    regionsWithBbox
      .withColumn("lon_idx", explode(idx))
      .withColumn("lat_idx", explode(idx))
      .withColumn(
        "lon",
        col("min_lon") + col("lon_idx") * ((col("max_lon") - col("min_lon")) / (lit(n) - lit(1))))
      .withColumn(
        "lat",
        col("min_lat") + col("lat_idx") * ((col("max_lat") - col("min_lat")) / (lit(n) - lit(1))))
  }

  /** G3 (nearest): per-region rank-1 nearest sounding per pixel. The join is
    * keyed by region_id; the window partitions by (region, pixel). */
  def interpolateNearest(pixels: DataFrame, soundings: DataFrame, valueCols: Seq[String]): DataFrame = {
    val pts = soundings.select(
      (col("region_id").as("_rid") +: col("longitude").as("px") +: col("latitude").as("py") +:
        col("sounding_index").as("_sidx") +: valueCols.map(col)): _*)
    val joined = pixels
      .join(pts, pixels("region_id") === pts("_rid"))
      .withColumn(
        "d2",
        (col("lon") - col("px")) * (col("lon") - col("px")) +
          (col("lat") - col("py")) * (col("lat") - col("py")))
    val w = Window
      .partitionBy(col("region_id"), col("lon_idx"), col("lat_idx"))
      .orderBy(col("d2"), col("_sidx"))
    joined
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn", "_rid", "_sidx", "px", "py", "d2")
  }

  /** G4 + M1 + M2: footprint mask. Footprints are the soundings' 4-vertex
    * rings, optionally centroid-scaled by `maskScale` clamped to [1, 1.5]
    * (`OCO3SamProcessor.py:234-249`). Phase 1 prunes by footprint bbox
    * (range predicates); phase 2 ray-casts the pixel center against the
    * scaled ring. Returns the distinct masked pixel keys. */
  def maskPixels(pixels: DataFrame, soundings: DataFrame, cfg: Pipeline.Config): DataFrame = {
    val s = math.min(math.max(cfg.maskScale, 1.0), 1.5)
    val fp = soundings.select(
      col("region_id").as("_rid"),
      col("vertex_longitude").cast("array<double>").as("vxs"),
      col("vertex_latitude").cast("array<double>").as("vys"))
      // centroid-affine scaling of the ring
      .withColumn("cx", aggregate(col("vxs"), lit(0.0), (a, v) => a + v) / size(col("vxs")))
      .withColumn("cy", aggregate(col("vys"), lit(0.0), (a, v) => a + v) / size(col("vys")))
      .withColumn("sxs", transform(col("vxs"), v => col("cx") + (v - col("cx")) * lit(s)))
      .withColumn("sys", transform(col("vys"), v => col("cy") + (v - col("cy")) * lit(s)))
      .withColumn("fminx", array_min(col("sxs")))
      .withColumn("fmaxx", array_max(col("sxs")))
      .withColumn("fminy", array_min(col("sys")))
      .withColumn("fmaxy", array_max(col("sys")))
      .select("_rid", "sxs", "sys", "fminx", "fmaxx", "fminy", "fmaxy")
    pixels
      .join(fp, pixels("region_id") === fp("_rid") &&
        col("lon").between(col("fminx"), col("fmaxx")) &&
        col("lat").between(col("fminy"), col("fmaxy")))
      .filter(PointInPolygon(col("lon"), col("lat"), col("sxs"), col("sys")))
      .select(col("region_id"), col("lon_idx"), col("lat_idx"))
      .distinct()
  }
}
