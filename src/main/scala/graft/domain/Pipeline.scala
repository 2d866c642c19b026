package graft.domain

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Sessionize
import graft.functions.{PointInPolygon, PointInPolygonKernel}

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
  * Scale design: after sessionization (windows partition by granule) and
  * the broadcast catalog join, the plan has ONE region exchange: each
  * region (one SAM capture, O(10³) soundings) meets in one task, which
  * covers its footprints on the target grid, triangulates once and emits
  * the long form. Nothing materializes a dense global grid in flight;
  * output is sparse long form (SURVEY §7.1). The small plan matters for
  * the queue loop: every micro-batch re-plans it, and a plan whose
  * generated classes outgrow Spark's codegen cache
  * (`spark.sql.codegen.cache.maxEntries`, 100) recompiles them on every
  * batch.
  */
object Pipeline {

  final case class Config(
      samMode: Int = 4,
      targetMode: Int = 2,
      margin: Long = 2,
      gridN: Int = 8,
      qfFilter: Boolean = true,
      maskScale: Double = 1.0,
      /** "nearest" (exact grid-indexed argmin, ties to the lowest
        * sounding_index — the rank-1 join's result; the legacy name
        * "nearest_join" means the same), "linear" (Delaunay/barycentric
        * kernel with <4-point nearest fallback — the reference's deploy
        * default), or "cubic" (Bézier-triangle Hermite over the same
        * triangulation — the reference's code default). */
      method: String = "nearest",
      /** Persist the sessionized table in the pipelines whose sessions
        * feed more than one consumer (`Oco2Pipeline`, `SifPipeline`,
        * `GlobalPipeline`: a region-level aggregate, then the
        * per-sounding work); [[process]] has one and does not read this.
        * Routed through [[graft.CacheScope.persist]]: batch callers get
        * session-lifetime caches; long-lived loops bracket each batch in
        * `CacheScope.withScope` (as `MicroBatchIngest.ingestQueue` does)
        * so the cache footprint stays flat across micro-batches. AQE
        * coalesces the cached table's last shuffle read, so a one-granule
        * batch caches one partition. */
      persistSessions: Boolean = true) {

    /** [[method]] with the legacy name "nearest_join" read as "nearest". */
    def interpMethod: String = method match {
      case "nearest_join"                      => "nearest"
      case m @ ("nearest" | "linear" | "cubic") => m
      case other => throw new IllegalArgumentException(s"unknown method: $other")
    }
  }

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

  /** Footprint mask on the per-region TARGET lattice: the cells of
    * [[regionPixels]]' grid that some footprint of the region covers,
    * computed by [[coverCells]] — the cover the region pass of
    * [[gridInterpMask]] evaluates — so the kept set is identical to
    * `maskPixels(regionPixels(...), …)` while the pair count is Σ
    * footprint-covered cells, not |gridN²|×|footprints| per region.
    * `regionsWithBbox` carries one row per region_id with its bbox.
    * Output: distinct (region_id, lon_idx, lat_idx, lon, lat). */
  def maskPixelsOnRegionGrid(
      sessions: DataFrame,
      regionsWithBbox: DataFrame,
      cfg: Config): DataFrame = {
    val spark = sessions.sparkSession
    import spark.implicits._
    val n = cfg.gridN
    val s = math.min(math.max(cfg.maskScale, 1.0), 1.5)
    withRegion(sessions.select(col("region_id"), ring("vertex_longitude").as("vxs"),
        ring("vertex_latitude").as("vys")), regionsWithBbox, Bbox)
      .select((col("region_id").cast("long") +: col("vxs") +: col("vys") +:
        Bbox.map(c => col(c).cast("double"))): _*)
      .as[Footprint]
      .groupByKey(_.region_id)
      .flatMapGroups { (rid, it) =>
        val rows = it.toArray
        val r0   = rows(0)
        cells(coverCells(rows.iterator.map(r => (r.vxs, r.vys)),
          r0.min_lon, r0.max_lon, r0.min_lat, r0.max_lat, n, s)).map { c =>
          val (xi, yi) = (c % n, c / n)
          Cell(rid, xi, yi, center(r0.min_lon, r0.max_lon, n, xi), center(r0.min_lat, r0.max_lat, n, yi))
        }
      }
      .toDF()
  }

  /** One sounding as the region pass reads it: region key, position,
    * footprint ring, values and good-quality flag, plus its region's
    * target, day (µs since the epoch) and bbox, attached per row. */
  final case class RegionRow(
      granule: String,
      region_id: Long,
      sounding_index: Long,
      px: Double,
      py: Double,
      vxs: Array[Double],
      vys: Array[Double],
      values: Array[Double],
      good: Boolean,
      target_id: String,
      day: Option[Long],
      min_lon: Double,
      max_lon: Double,
      min_lat: Double,
      max_lat: Double)

  /** One footprint ring with its region's bbox, as the mask reads it. */
  final case class Footprint(
      region_id: Long,
      vxs: Array[Double],
      vys: Array[Double],
      min_lon: Double,
      max_lon: Double,
      min_lat: Double,
      max_lat: Double)

  final case class Cell(region_id: Long, lon_idx: Int, lat_idx: Int, lon: Double, lat: Double)

  final case class LongForm(
      target_id: String,
      day: Option[Long],
      lat_idx: Int,
      lon_idx: Int,
      lat: Double,
      lon: Double,
      variable: String,
      value: Double)

  /** Footprint ring as array<double>; null when the ring holds a null
    * vertex, so the footprint covers nothing — as in [[maskPixels]], whose
    * centroid sum is null there. */
  private def ring(c: String): Column = {
    val a = col(c).cast("array<double>")
    when(!exists(a, _.isNull), a)
  }

  /** The region pass's input rows. `df` carries the per-sounding columns
    * plus `target_id`, `time` and the bbox columns; the row's day is
    * `date_trunc('day', time)`. */
  private def regionRows(
      df: DataFrame, granule: Column, good: Column, valueCols: Seq[String]): Dataset[RegionRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        granule.as("granule"),
        col("region_id").cast("long"),
        col("sounding_index").cast("long"),
        col("longitude").cast("double").as("px"),
        col("latitude").cast("double").as("py"),
        ring("vertex_longitude").as("vxs"),
        ring("vertex_latitude").as("vys"),
        array(valueCols.map(c => col(c).cast("double")): _*).cast("array<double>").as("values"),
        coalesce(good, lit(false)).as("good"),
        col("target_id"),
        unix_micros(date_trunc("day", col("time"))).as("day"),
        col("min_lon").cast("double"),
        col("max_lon").cast("double"),
        col("min_lat").cast("double"),
        col("max_lat").cast("double"))
      .as[RegionRow]
  }

  private val Bbox = Seq("min_lon", "max_lon", "min_lat", "max_lat")

  /** `sessions` with the columns `cols` of its region attached per row —
    * `regionsWithBbox` has one row per region, broadcast by construction.
    * Regions with a null bbox bound drop here: they cover no cell. */
  private def withRegion(
      sessions: DataFrame, regionsWithBbox: DataFrame, cols: Seq[String]): DataFrame =
    sessions.drop(cols: _*).join(
      broadcast(regionsWithBbox.filter(TargetCatalog.hasBbox)
        .select(("region_id" +: cols).map(col): _*)),
      Seq("region_id"))

  /** The linspace center of grid index `idx` — the EXACT [[regionPixels]]
    * expression, so centers are bit-identical. */
  private def center(lo: Double, hi: Double, n: Int, idx: Int): Double =
    lo + idx * ((hi - lo) / (n - 1))

  /** Set bits of `b`, ascending, lazily. */
  private def cells(b: java.util.BitSet): Iterator[Int] =
    Iterator.iterate(b.nextSetBit(0))(c => b.nextSetBit(c + 1)).takeWhile(_ >= 0)

  /** The footprint cover of one region on its n×n linspace lattice, as
    * bits `lat_idx * n + lon_idx`. Per footprint ring: scale about its
    * centroid by `scale` (`OCO3SamProcessor.py:234-249`), widen the scaled
    * bbox to a ±1 index range (so rounding can never exclude a cell), take
    * each candidate's linspace center, and keep it when the inclusive
    * bbox prefilter and the exact ray cast both pass. Min, max and the
    * prefilter compare with Spark SQL's double ordering (NaN greatest), so
    * the cover equals the relational `maskPixels` over [[regionPixels]]. */
  private[graft] def coverCells(
      rings: Iterator[(Array[Double], Array[Double])],
      minLon: Double, maxLon: Double, minLat: Double, maxLat: Double,
      n: Int, scale: Double): java.util.BitSet = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    def scaled(v: Array[Double]): Array[Double] = {
      var sum = 0.0
      v.foreach(sum += _)
      val c = sum / v.length
      v.map(x => c + (x - c) * scale)
    }
    def extreme(v: Array[Double], sign: Int): Double =
      v.reduceLeft((m, x) => if (compareDoubles(x, m) * sign < 0) x else m)
    // index range of [lo, hi] on the lattice from `min` by `step`, ±1
    def range(lo: Double, hi: Double, min: Double, step: Double): (Int, Int) =
      (math.max(0L, math.ceil((lo - min) / step).toLong - 1).toInt,
        math.min(n - 1L, math.floor((hi - min) / step).toLong + 1).toInt)
    val stepX = (maxLon - minLon) / (n - 1)
    val stepY = (maxLat - minLat) / (n - 1)
    val bits  = new java.util.BitSet(n * n)
    rings.foreach { case (vxs, vys) =>
      if (vxs != null && vys != null && vxs.nonEmpty && vys.nonEmpty) {
        val sxs = scaled(vxs)
        val sys = scaled(vys)
        val (fminx, fmaxx) = (extreme(sxs, 1), extreme(sxs, -1))
        val (fminy, fmaxy) = (extreme(sys, 1), extreme(sys, -1))
        val (xlo, xhi) = range(fminx, fmaxx, minLon, stepX)
        val (ylo, yhi) = range(fminy, fmaxy, minLat, stepY)
        val ringX = UnsafeArrayData.fromPrimitiveArray(sxs)
        val ringY = UnsafeArrayData.fromPrimitiveArray(sys)
        var xi = xlo
        while (xi <= xhi) {
          val lon = center(minLon, maxLon, n, xi)
          if (compareDoubles(lon, fminx) >= 0 && compareDoubles(lon, fmaxx) <= 0) {
            var yi = ylo
            while (yi <= yhi) {
              val lat = center(minLat, maxLat, n, yi)
              if (compareDoubles(lat, fminy) >= 0 && compareDoubles(lat, fmaxy) <= 0 &&
                  PointInPolygonKernel.contains(lon, lat, ringX, ringY))
                bits.set(yi * n + xi)
              yi += 1
            }
          }
          xi += 1
        }
      }
    }
    bits
  }

  /** The region pass: one task per region key evaluates the region's
    * footprint cover, builds its interpolation kernel once over the
    * region's soundings in `sounding_index` order, evaluates every
    * covered cell and emits the sparse long form (target_id, time,
    * lat_idx, lon_idx, lat, lon, variable, value) — NaN values (outside
    * the hull under linear/cubic) are absent. A region with no `good`
    * row emits nothing. Mask-first (r16): interpolation is per-pixel pure,
    * so evaluating only the covered cells gives the same values as
    * evaluating the full grid and masking after. */
  private def regionPass(
      rows: Dataset[RegionRow], cfg: Config, valueCols: Seq[String]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val method = cfg.interpMethod
    val n     = cfg.gridN
    val s     = math.min(math.max(cfg.maskScale, 1.0), 1.5)
    val names = valueCols.toArray
    rows
      .groupByKey(r => (r.granule, r.region_id))
      .flatMapGroups { (_, it) =>
        val pts = it.toArray.sortBy(_.sounding_index)
        if (!pts.exists(_.good)) Iterator.empty
        else {
          val r0      = pts(0)
          val covered = coverCells(pts.iterator.map(p => (p.vxs, p.vys)),
            r0.min_lon, r0.max_lon, r0.min_lat, r0.max_lat, n, s)
          if (covered.isEmpty) Iterator.empty
          else {
            val ev  = graft.operators.LinearInterp.evaluator(pts.map(_.px), pts.map(_.py),
              Array.tabulate(names.length)(vi => pts.map(_.values(vi))), method)
            val day = pts.iterator.flatMap(_.day).minOption
            cells(covered).flatMap { c =>
              val (xi, yi) = (c % n, c / n)
              val lon = center(r0.min_lon, r0.max_lon, n, xi)
              val lat = center(r0.min_lat, r0.max_lat, n, yi)
              val v   = ev.eval(lon, lat)
              names.indices.iterator.filterNot(vi => v(vi).isNaN).map(vi =>
                LongForm(r0.target_id, day, yi, xi, lat, lon, names(vi), v(vi)))
            }
          }
        }
      }
      .select(col("target_id"), timestamp_micros(col("day")).as("time"), col("lat_idx"),
        col("lon_idx"), col("lat"), col("lon"), col("variable"), col("value"))
  }

  /** Footprint mask + interpolation + long form for sessions whose regions
    * are already associated: `regionsWithBbox` carries one row per
    * region_id with (target_id, time, min/max lon/lat); `sessions` the
    * per-sounding rows with region_id. The Oco2 and SIF pipelines'
    * tail: the region pass over `sessions ⋈ broadcast(regionsWithBbox)`. */
  def gridInterpMask(
      regionsWithBbox: DataFrame,
      sessions: DataFrame,
      cfg: Config,
      valueCols: Seq[String]): DataFrame =
    regionPass(
      regionRows(withRegion(sessions, regionsWithBbox, "target_id" +: "time" +: Bbox), lit(""),
        lit(true), valueCols),
      cfg, valueCols)

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
    * reader) switches sessionization to per-granule windows and keys
    * regions by (granule_path, region_id) — the shape that scales to a
    * year of granules in one run.
    *
    * Plan: scan → window exchange → sessionize + QF → broadcast catalog
    * join → one region exchange → region pass. The catalog bbox attaches
    * per sounding ([[TargetCatalog.associate]]'s inner join, so unknown
    * targets drop there); region time is the first day of its soundings,
    * `min(date_trunc('day', time))` in the session time zone; with
    * `qfFilter = false` the pass drops regions with no good sounding.
    * The sessions have one consumer, so nothing is cached. */
  def process(
      granule: DataFrame,
      catalog: DataFrame,
      cfg: Config = Config(),
      valueCols: Seq[String] = Seq("xco2", "xco2_uncertainty")): DataFrame = {
    val perGranule = granule.columns.contains("granule_path")
    val sessions   = sessionize(granule, cfg, if (perGranule) Seq("granule_path") else Nil)
    val kept       = if (cfg.qfFilter) qualityFilter(sessions, cfg) else sessions
    val rows = regionRows(
      TargetCatalog.associate(kept, catalog.select(("target_id" +: Bbox).map(col): _*)),
      if (perGranule) col("granule_path") else lit(""),
      col("xco2_quality_flag") === 0,
      valueCols)
    regionPass(rows, cfg, valueCols)
  }
}
