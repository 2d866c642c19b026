package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sessionize
import graft.functions.PointInPolygon

/** The end-to-end observation pipeline (SURVEY §3.1 / §7.2 step 5):
  * per-sounding table → region sessionization → quality filter → catalog
  * association → per-region grid → scatter→grid interpolation → footprint
  * mask → sparse long-form gridded product.
  *
  * Semantics mirror the reference's target-focused OCO-3 path
  * (`sam_extract/processors/OCO3SamProcessor.py`): SAM(4)/Target(2) mode
  * runs split on mode/target change with margin-2 merge (:353-432),
  * 'Missing' targets dropped (:441-445), regions without any good-quality
  * sounding dropped (:452-464), unknown targets dropped at the catalog join
  * (:70-77), per-target bbox grid (:106-109), nearest interpolation
  * (:150-159 fallback semantics), footprint mask = bbox prefilter + exact
  * polygon test with scaling (:234-295).
  *
  * Scale design: everything is keyed by `region_id` — the sessionization
  * windows partition by granule, the interpolation join shuffles soundings
  * and pixels on region only (a region is one SAM capture, O(10³) rows), and
  * the catalog is broadcast. Nothing materializes a dense global grid in
  * flight; output is sparse long form (SURVEY §7.1).
  */
object Pipeline {

  final case class Config(
      samMode: Int = 4,
      targetMode: Int = 2,
      margin: Long = 2,
      gridN: Int = 8,
      qfFilter: Boolean = true,
      maskScale: Double = 1.0,
      /** "nearest" (rank-1 join), "linear" (Delaunay/barycentric grouped
        * kernel with <4-point nearest fallback — the reference's deploy
        * default), or "cubic" (Bézier-triangle Hermite over the same
        * triangulation — the reference's code default). */
      method: String = "nearest",
      /** Persist the sessionized table across its three consumers (region
        * summary / interpolation / mask). Routed through
        * [[graft.CacheScope.persist]]: batch callers get session-lifetime
        * caches; long-lived loops bracket each batch in
        * `CacheScope.withScope` (as `MicroBatchIngest.ingestQueue` does)
        * so the cache footprint stays flat across micro-batches. AQE
        * coalesces the cached table's last shuffle read, so a one-granule
        * batch caches one partition and each consumer scans it with one
        * task. */
      persistSessions: Boolean = true)

  /** R1/R2 + P4/P6: mode-filtered, margin-merged region detection over the
    * ordered sounding table. Adds `region_id`. */
  def sessionize(granule: DataFrame, cfg: Config, partitionCols: Seq[String] = Nil): DataFrame = {
    val modes = granule.filter(
      col("operation_mode").isin(cfg.samMode, cfg.targetMode) &&
        !col("target_id").isin("Missing", "missing"))
    Sessionize.byKeyChangeWithMargin(
      modes,
      "sounding_index",
      Seq("operation_mode", "target_id"),
      cfg.margin,
      partitionCols)
  }

  /** P5/A3: drop regions with no good-quality sounding; under `qfFilter`
    * also drop the bad rows themselves (post-QF product). */
  def qualityFilter(sessions: DataFrame, cfg: Config): DataFrame =
    if (cfg.qfFilter) sessions.filter(col("xco2_quality_flag") === 0)
    else {
      val good = sessions
        .groupBy(col("region_id"))
        .agg(max(when(col("xco2_quality_flag") === 0, 1).otherwise(0)).as("_any_good"))
        .filter(col("_any_good") === 1)
        .select(col("region_id"))
      sessions.join(good, "region_id")
    }

  /** Region summary: one row per region with target, time (UTC midnight of
    * the first sounding's day — the granule-day timestamp), extent. */
  def regionSummary(sessions: DataFrame): DataFrame =
    sessions
      .groupBy(col("region_id"))
      .agg(
        min(col("target_id")).as("target_id"),
        min(col("operation_mode")).as("operation_mode"),
        date_trunc("day", min(col("time"))).as("time"),
        count(lit(1)).as("n_soundings"))

  /** G1: per-region pixel grid from the associated target bbox (gridN², lon
    * minor / lat major linspace, identical arithmetic to Grid.generate). */
  def regionPixels(regionsWithBbox: DataFrame, cfg: Config): DataFrame = {
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
  def maskPixels(pixels: DataFrame, soundings: DataFrame, cfg: Config): DataFrame = {
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

  /** Footprint mask on the per-region TARGET lattice — the footprint-driven
    * inversion of [[maskPixels]] (same move as
    * `GlobalPipeline.maskPixelsGlobal`, column-parameterized because each
    * region's linspace grid has its own bbox/step): each SCALED footprint
    * explodes to the grid indexes its bbox covers (±1-widened so rounding
    * can never exclude a pixel), the pixel center recomputes through the
    * EXACT [[regionPixels]] linspace expression, and the ORIGINAL
    * `between` prefilter + ray-cast decide — so the kept set is identical
    * to `maskPixels(regionPixels(...), …)` while the pair count drops from
    * |gridN²|×|footprints| per region to Σ footprint-covered cells.
    * Output: distinct (region_id, lon_idx, lat_idx, lon, lat). */
  def maskPixelsOnRegionGrid(
      sessions: DataFrame,
      regionsWithBbox: DataFrame,
      cfg: Config): DataFrame = {
    val s = math.min(math.max(cfg.maskScale, 1.0), 1.5)
    val n = cfg.gridN
    val stepX = (col("max_lon") - col("min_lon")) / (lit(n) - lit(1))
    val stepY = (col("max_lat") - col("min_lat")) / (lit(n) - lit(1))
    sessions.select(
      col("region_id"),
      col("vertex_longitude").cast("array<double>").as("vxs"),
      col("vertex_latitude").cast("array<double>").as("vys"))
      // one row per region — broadcast by construction
      .join(
        broadcast(regionsWithBbox.select(
          col("region_id"), col("min_lon"), col("max_lon"), col("min_lat"), col("max_lat"))),
        Seq("region_id"))
      .withColumn("cx", aggregate(col("vxs"), lit(0.0), (a, v) => a + v) / size(col("vxs")))
      .withColumn("cy", aggregate(col("vys"), lit(0.0), (a, v) => a + v) / size(col("vys")))
      .withColumn("sxs", transform(col("vxs"), v => col("cx") + (v - col("cx")) * lit(s)))
      .withColumn("sys", transform(col("vys"), v => col("cy") + (v - col("cy")) * lit(s)))
      .withColumn("fminx", array_min(col("sxs")))
      .withColumn("fmaxx", array_max(col("sxs")))
      .withColumn("fminy", array_min(col("sys")))
      .withColumn("fmaxy", array_max(col("sys")))
      .withColumn("_xlo", greatest(lit(0), ceil((col("fminx") - col("min_lon")) / stepX).cast("int") - 1))
      .withColumn("_xhi", least(lit(n - 1), floor((col("fmaxx") - col("min_lon")) / stepX).cast("int") + 1))
      .withColumn("_ylo", greatest(lit(0), ceil((col("fminy") - col("min_lat")) / stepY).cast("int") - 1))
      .withColumn("_yhi", least(lit(n - 1), floor((col("fmaxy") - col("min_lat")) / stepY).cast("int") + 1))
      .filter(col("_xlo") <= col("_xhi") && col("_ylo") <= col("_yhi"))
      .withColumn("lon_idx", explode(sequence(col("_xlo"), col("_xhi"))))
      .withColumn("lat_idx", explode(sequence(col("_ylo"), col("_yhi"))))
      // the EXACT regionPixels linspace expression — bit-identical centers
      .withColumn(
        "lon",
        col("min_lon") + col("lon_idx") * ((col("max_lon") - col("min_lon")) / (lit(n) - lit(1))))
      .withColumn(
        "lat",
        col("min_lat") + col("lat_idx") * ((col("max_lat") - col("min_lat")) / (lit(n) - lit(1))))
      // the ORIGINAL prefilter, verbatim
      .filter(
        col("lon").between(col("fminx"), col("fmaxx")) &&
          col("lat").between(col("fminy"), col("fmaxy")))
      .filter(PointInPolygon(col("lon"), col("lat"), col("sxs"), col("sys")))
      .select(col("region_id"), col("lon_idx"), col("lat_idx"), col("lon"), col("lat"))
      .distinct()
  }

  /** Shared tail: footprint mask on the per-region grid → interpolation of
    * the MASKED pixels only → sparse long form. `regionsWithBbox` must
    * carry (region_id, target_id, time, min/max lon/lat); `sessions` the
    * per-sounding rows with region_id.
    *
    * Mask-first (r16): interpolation is per-pixel pure, so running it on
    * the masked set gives bit-identical values while the kernel input
    * drops from gridN² cells per region to the footprint-covered cells —
    * and the gridN²×|footprints| mask join disappears entirely. */
  def gridInterpMask(
      regionsWithBbox: DataFrame,
      sessions: DataFrame,
      cfg: Config,
      valueCols: Seq[String]): DataFrame = {
    // slim pixel payload: per-region constants (target/time/bbox) do NOT
    // ride the per-pixel explode — they re-attach at the end from the
    // region-level table, which is bounded by region count, not pixels
    val pixels = maskPixelsOnRegionGrid(sessions, regionsWithBbox, cfg)
    val interped0 = cfg.method match {
      case m @ ("nearest" | "linear" | "cubic") =>
        graft.operators.LinearInterp.interpolate(pixels, sessions, valueCols, m)
      // legacy join-based nearest (rank-1 window over pixels×soundings);
      // only for small regions — the kernel form above is the scale path
      case "nearest_join" => interpolateNearest(pixels, sessions, valueCols)
      case other          => throw new IllegalArgumentException(s"unknown method: $other")
    }
    val interped = interped0.select(
      (Seq("region_id", "lon_idx", "lat_idx", "lon", "lat") ++ valueCols).map(col): _*)
    val masked = interped
      // one row per region — broadcast by construction (granule-day contract)
      .join(broadcast(regionsWithBbox.select(col("region_id"), col("target_id"), col("time"))),
        Seq("region_id"))
    val stackExpr = valueCols.map(v => s"'$v', $v").mkString(s"stack(${valueCols.size}, ", ", ", ") AS (variable, value)")
    masked
      .select(
        col("target_id"),
        col("time"),
        col("lat_idx"),
        col("lon_idx"),
        col("lat"),
        col("lon"),
        expr(stackExpr))
      // sparse long form: outside-hull pixels (NaN under linear) are absent
      .filter(!isnan(col("value")))
  }

  /** Multi-granule sessionization: windows partition by the granule column
    * (each granule is an independent ordered stream — the reference
    * processes one file at a time, `main.py` loops granules), then region
    * ids are made globally unique by offsetting with a dense granule index
    * (region ids are dense PER PARTITION; without the offset, granule A's
    * region 0 would merge with granule B's region 0 in every downstream
    * groupBy). The index dim is one row per granule — broadcast-sized. */
  def sessionizePerGranule(granule: DataFrame, cfg: Config, granuleCol: String): DataFrame =
    Sessionize.globalizeRegionIds(sessionize(granule, cfg, Seq(granuleCol)), granuleCol)

  /** Full target-focused pipeline → sparse long form
    * (target_id, time, lat_idx, lon_idx, lat, lon, variable, value).
    * A `granule_path` column (as produced by the netcdf3 source / manifest
    * reader) switches sessionization to per-granule windows — the shape
    * that scales to a year of granules in one run. */
  def process(
      granule: DataFrame,
      catalog: DataFrame,
      cfg: Config = Config(),
      valueCols: Seq[String] = Seq("xco2", "xco2_uncertainty")): DataFrame = {
    // sessions feed three consumers (region summary, interpolation, mask);
    // persist so the sessionization window chain runs once, not three times
    // (the Spark analog of the reference's temp-store spill, SURVEY S11)
    val sessionized =
      if (granule.columns.contains("granule_path"))
        sessionizePerGranule(granule, cfg, "granule_path")
      else sessionize(granule, cfg)
    val sessions0 = qualityFilter(sessionized, cfg)
    val sessions =
      if (cfg.persistSessions)
        graft.CacheScope.persist(sessions0, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sessions0
    val regions = TargetCatalog.associate(regionSummary(sessions), catalog)
    gridInterpMask(regions, sessions, cfg, valueCols)
  }
}
