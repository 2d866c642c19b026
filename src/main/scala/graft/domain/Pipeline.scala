package graft.domain

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.Sessionize
import graft.operators.Grid.GridSpec
import graft.functions.PointInPolygonKernel

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
  * Scale design: after sessionization (one sorted walk per granule) and
  * the mission's quality rule, the plan has ONE region exchange: each
  * region (one SAM capture, O(10³) soundings) meets in one task, which
  * picks its target from a catalog snapshot carried by the pass
  * ([[Targets]]), covers its footprints on the target grid, triangulates
  * once and emits the long form. The OCO-3, OCO-2 and SIF pipelines share
  * this tail ([[targetGrid]]); nothing is cached, joined back or
  * aggregated per region outside the pass. Nothing materializes a dense
  * global grid in flight;
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
      method: String = "nearest") {

    /** [[method]] with the legacy name "nearest_join" read as "nearest". */
    def interpMethod: String = method match {
      case "nearest_join"                      => "nearest"
      case m @ ("nearest" | "linear" | "cubic") => m
      case other => throw new IllegalArgumentException(s"unknown method: $other")
    }
  }

  /** R1/R2 + P4/P6: mode-filtered, margin-merged region detection over the
    * ordered sounding table. Adds `region_id`. */
  def sessionize(granule: DataFrame, cfg: Config, partitionCols: Seq[String] = Nil): DataFrame =
    Sessionize.regions(
      granule,
      col("sounding_index"),
      Seq("operation_mode", "target_id"),
      partitionCols,
      margin = Some(cfg.margin),
      keep = col("operation_mode").isin(cfg.samMode, cfg.targetMode) &&
        !col("target_id").isin("Missing", "missing"))

  /** The columns that name a region of `df`: `(granule_path, region_id)`
    * when the rows carry their granule (region ids are dense per granule),
    * else `region_id`. */
  private[domain] def regionKey(df: DataFrame): Seq[String] = granuleCols(df) :+ "region_id"

  /** The sessionization partition of `df`: its granule column, if any —
    * each granule is an independent ordered stream (the reference
    * processes one file at a time, `main.py` loops granules). */
  private[domain] def granuleCols(df: DataFrame): Seq[String] =
    Seq("granule_path").filter(df.columns.contains)

  /** The granule half of the region key as the region passes read it:
    * `granule_path`, or `""` for rows of one unnamed granule. */
  private[domain] def granuleOf(df: DataFrame): Column =
    granuleCols(df).headOption.fold(lit(""))(col)

  /** P5/A3: drop regions with no good-quality sounding; under `qfFilter`
    * also drop the bad rows themselves (post-QF product). */
  def qualityFilter(sessions: DataFrame, cfg: Config): DataFrame =
    if (cfg.qfFilter) sessions.filter(col("xco2_quality_flag") === 0)
    else {
      val key  = regionKey(sessions)
      val good = sessions
        .groupBy(key.map(col): _*)
        .agg(max(when(col("xco2_quality_flag") === 0, 1).otherwise(0)).as("_any_good"))
        .filter(col("_any_good") === 1)
        .select(key.map(col): _*)
      sessions.join(good, key)
    }

  /** Region summary: one row per region key with target, time (UTC
    * midnight of the first sounding's day — the granule-day timestamp),
    * sounding count. No product path uses it (the region pass reads its
    * region's rows directly); the perfbench operator probes and the
    * relational reference specs still do. */
  def regionSummary(sessions: DataFrame): DataFrame =
    sessions
      .groupBy(regionKey(sessions).map(col): _*)
      .agg(
        min(col("target_id")).as("target_id"),
        min(col("operation_mode")).as("operation_mode"),
        date_trunc("day", min(col("time"))).as("time"),
        count(lit(1)).as("n_soundings"))

  /** Footprint mask on the per-region TARGET lattice: the cells of the
    * region's gridN × gridN bbox lattice that some footprint of the region
    * covers, computed by [[coverCells]] — the cover the region pass of
    * [[targetGrid]] evaluates — so the kept set is identical to the
    * test-scope relational reference (`PipelineReference.maskPixels`
    * over its `regionPixels`) while the pair count is Σ
    * footprint-covered cells, not |gridN²|×|footprints| per region.
    * `regionsWithBbox` carries one row per region_id with its bbox.
    * Output: distinct (region_id, lon_idx, lat_idx, lon, lat). No product
    * path uses it (the region passes cover inline); the perfbench operator
    * probe `operators.mask_s` still calls it, and the next benchmark
    * change retires it. */
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
          GridSpec(r0.min_lon, r0.max_lon, n, r0.min_lat, r0.max_lat, n), 0, n - 1, 0, n - 1, s)).map { c =>
          val (xi, yi) = (c % n, c / n)
          Cell(rid, xi, yi, center(r0.min_lon, r0.max_lon, n, xi), center(r0.min_lat, r0.max_lat, n, yi))
        }
      }
      .toDF()
  }

  /** One sounding as the region pass reads it: region key, position,
    * footprint ring, values, good-quality flag, the target it names (null
    * for OCO-2, whose soundings name none) and its day (µs since the
    * epoch). */
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
      day: Option[Long])

  /** The catalog as the region pass reads it: the targets with all four
    * bounds ([[TargetCatalog.hasBbox]]), sorted by `target_id` in UTF-8
    * byte order (as `orderBy` sorts strings), with their bboxes and bbox
    * centers. [[targets]] collects it on the driver once per pipeline
    * call; the catalog is broadcast-sized by construction (559 rows). */
  private[domain] final case class Targets(
      ids: Array[String],
      minLon: Array[Double],
      maxLon: Array[Double],
      minLat: Array[Double],
      maxLat: Array[Double]) {

    private val index = ids.zipWithIndex.filter(_._1 != null).toMap
    private val cLon  = ids.indices.map(i => (minLon(i) + maxLon(i)) / 2).toArray
    private val cLat  = ids.indices.map(i => (minLat(i) + maxLat(i)) / 2).toArray

    /** The lattice of target `t`: its bbox, `n` × `n` points. */
    def grid(t: Int, n: Int): GridSpec = GridSpec(minLon(t), maxLon(t), n, minLat(t), maxLat(t), n)

    /** Which target, over which of its rows, the region `pts` (in
      * `sounding_index` order) grids onto; None drops the region.
      *
      * By id (OCO-3, SIF: `OCO3SamProcessor.py:70-77`): rows naming a
      * target outside the catalog drop, and the first remaining row names
      * the target — a region is one run of a constant target, so this is
      * the per-sounding catalog join.
      *
      * `byCentroid` (OCO-2, `OCO2Processor.py:400-430`): the target whose
      * bbox center is nearest the region's centroid (Σ/n of the sounding
      * positions summed in order, as `avg` sums them; hypot distance, the
      * first — smallest-id — target on exact ties), kept only when the
      * region's bbox over sounding centers (SQL `min`/`max`) intersects
      * the target's bbox. There is no fallback to the second nearest. */
    def pick(pts: Array[RegionRow], byCentroid: Boolean): Option[(Int, Array[RegionRow])] =
      if (byCentroid) {
        import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
        // [min(v), max(v)] meets [lo, hi], compared as SQL compares doubles
        def meets(v: Array[Double], lo: Double, hi: Double): Boolean =
          compareDoubles(extreme(v, 1), hi) <= 0 && compareDoubles(extreme(v, -1), lo) >= 0
        val (xs, ys) = (pts.map(_.px), pts.map(_.py))
        val t = graft.functions.NearestIndexKernel.nearest(
          xs.foldLeft(0.0)(_ + _) / xs.length, ys.foldLeft(0.0)(_ + _) / ys.length, cLon, cLat, oneD = false)
        Option.when(t >= 0 && meets(xs, minLon(t), maxLon(t)) && meets(ys, minLat(t), maxLat(t)))((t, pts))
      } else {
        val kept = pts.filter(p => index.contains(p.target_id))
        kept.headOption.map(r0 => (index(r0.target_id), kept))
      }
  }

  /** [[Targets]] of `catalog`. A repeated `target_id` among the rows with
    * a bbox is malformed input — it would grid every sounding of that
    * target twice — and throws an IllegalArgumentException naming it. */
  private[domain] def targets(catalog: DataFrame): Targets = {
    import org.apache.spark.unsafe.types.UTF8String
    val rows = catalog.filter(TargetCatalog.hasBbox)
      .select(col("target_id").cast("string") +: Bbox.map(c => col(c).cast("double")): _*)
      .collect()
      .sortBy(r => Option(r.getString(0)).map(UTF8String.fromString))
    val ids = rows.map(_.getString(0))
    ids.zip(ids.drop(1)).collectFirst { case (a, b) if a == b => a }.foreach { id =>
      throw new IllegalArgumentException(s"target catalog repeats target_id $id")
    }
    def bound(i: Int) = rows.map(_.getDouble(i))
    Targets(ids, bound(1), bound(2), bound(3), bound(4))
  }

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
    * vertex, so the footprint covers nothing — as in the relational
    * reference `PipelineReference.maskPixels`, whose centroid sum is null
    * there. */
  private[domain] def ring(c: String): Column = {
    val a = col(c).cast("array<double>")
    when(!exists(a, _.isNull), a)
  }

  /** The region pass's input rows. `df` carries the per-sounding columns
    * and `time`; the row's day is `date_trunc('day', time)`. */
  private def regionRows(
      df: DataFrame, target: Column, good: Column, valueCols: Seq[String]): Dataset[RegionRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        granuleOf(df).as("granule"),
        col("region_id").cast("long"),
        col("sounding_index").cast("long"),
        col("longitude").cast("double").as("px"),
        col("latitude").cast("double").as("py"),
        ring("vertex_longitude").as("vxs"),
        ring("vertex_latitude").as("vys"),
        array(valueCols.map(c => col(c).cast("double")): _*).cast("array<double>").as("values"),
        coalesce(good, lit(false)).as("good"),
        target.as("target_id"),
        unix_micros(date_trunc("day", col("time"))).as("day"))
      .as[RegionRow]
  }

  private val Bbox = Seq("min_lon", "max_lon", "min_lat", "max_lat")

  /** `sessions` with the columns `cols` of its region attached per row —
    * `regionsWithBbox` has one row per region key, broadcast by
    * construction; the key is the pair when both sides carry
    * `granule_path`. Regions with a null bbox bound drop here: they cover
    * no cell. */
  private def withRegion(
      sessions: DataFrame, regionsWithBbox: DataFrame, cols: Seq[String]): DataFrame = {
    val key = regionKey(sessions).filter(regionsWithBbox.columns.contains)
    sessions.drop(cols: _*).join(
      broadcast(regionsWithBbox.filter(TargetCatalog.hasBbox).select((key ++ cols).map(col): _*)),
      key)
  }

  /** The linspace center of grid index `idx` — the EXACT expression of
    * the relational reference `PipelineReference.regionPixels`, so centers
    * are bit-identical. */
  private[domain] def center(lo: Double, hi: Double, n: Int, idx: Int): Double =
    lo + idx * ((hi - lo) / (n - 1))

  /** The SQL `min` (`sign` 1) or `max` (-1) of `v`: Spark's double
    * ordering, NaN greatest. */
  private def extreme(v: Array[Double], sign: Int): Double = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    v.reduceLeft((m, x) => if (compareDoubles(x, m) * sign < 0) x else m)
  }

  /** Set bits of `b`, ascending, lazily. */
  private[domain] def cells(b: java.util.BitSet): Iterator[Int] =
    Iterator.iterate(b.nextSetBit(0))(c => b.nextSetBit(c + 1)).takeWhile(_ >= 0)

  /** The footprint cover of one region on the lattice `g`, clipped to
    * the index window [xlo, xhi] × [ylo, yhi], as bits
    * `(lat_idx - ylo) * (xhi - xlo + 1) + (lon_idx - xlo)`. Per footprint
    * ring: scale about its centroid by `scale` (`OCO3SamProcessor.py:
    * 234-249`), widen the scaled bbox to a ±1 index range (so rounding can
    * never exclude a cell), take each candidate's linspace center, and keep
    * it when the inclusive bbox prefilter and the exact ray cast both pass.
    * Min, max and the prefilter compare with Spark SQL's double ordering
    * (NaN greatest), so the cover equals `PipelineReference.maskPixels` over
    * the window's pixels. The target pass covers its gridN² bbox lattice
    * whole; the global pass covers the global mesh within a region's
    * extent. */
  private[graft] def coverCells(
      rings: Iterator[(Array[Double], Array[Double])],
      g: GridSpec, xlo: Int, xhi: Int, ylo: Int, yhi: Int,
      scale: Double): java.util.BitSet = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    def scaled(v: Array[Double]): Array[Double] = {
      var sum = 0.0
      v.foreach(sum += _)
      val c = sum / v.length
      v.map(x => c + (x - c) * scale)
    }
    // index range of [lo, hi] on the lattice from `min` by `step`, ±1,
    // clipped to the window [wlo, whi]
    def range(lo: Double, hi: Double, min: Double, step: Double, wlo: Int, whi: Int): (Int, Int) =
      (math.max(wlo.toLong, math.ceil((lo - min) / step).toLong - 1).toInt,
        math.min(whi.toLong, math.floor((hi - min) / step).toLong + 1).toInt)
    val stepX = (g.maxX - g.minX) / (g.nX - 1)
    val stepY = (g.maxY - g.minY) / (g.nY - 1)
    val width = xhi - xlo + 1
    val bits  = new java.util.BitSet(width * (yhi - ylo + 1))
    rings.foreach { case (vxs, vys) =>
      if (vxs != null && vys != null && vxs.nonEmpty && vys.nonEmpty) {
        val sxs = scaled(vxs)
        val sys = scaled(vys)
        val (fminx, fmaxx) = (extreme(sxs, 1), extreme(sxs, -1))
        val (fminy, fmaxy) = (extreme(sys, 1), extreme(sys, -1))
        val (cxlo, cxhi) = range(fminx, fmaxx, g.minX, stepX, xlo, xhi)
        val (cylo, cyhi) = range(fminy, fmaxy, g.minY, stepY, ylo, yhi)
        val ringX = UnsafeArrayData.fromPrimitiveArray(sxs)
        val ringY = UnsafeArrayData.fromPrimitiveArray(sys)
        var xi = cxlo
        while (xi <= cxhi) {
          val lon = center(g.minX, g.maxX, g.nX, xi)
          if (compareDoubles(lon, fminx) >= 0 && compareDoubles(lon, fmaxx) <= 0) {
            var yi = cylo
            while (yi <= cyhi) {
              val lat = center(g.minY, g.maxY, g.nY, yi)
              if (compareDoubles(lat, fminy) >= 0 && compareDoubles(lat, fmaxy) <= 0 &&
                  PointInPolygonKernel.contains(lon, lat, ringX, ringY))
                bits.set((yi - ylo) * width + (xi - xlo))
              yi += 1
            }
          }
          xi += 1
        }
      }
    }
    bits
  }

  /** The region pass: one task per region key picks the region's target
    * ([[Targets.pick]]), evaluates the region's footprint cover on the
    * target's lattice, builds its interpolation kernel once over the
    * picked soundings in `sounding_index` order, evaluates every covered
    * cell and emits the sparse long form (target_id, time, lat_idx,
    * lon_idx, lat, lon, variable, value) — NaN values (outside the hull
    * under linear/cubic) are absent. A region with no `good` row emits
    * nothing. Mask-first (r16): interpolation is per-pixel pure, so
    * evaluating only the covered cells gives the same values as
    * evaluating the full grid and masking after. */
  private def regionPass(
      rows: Dataset[RegionRow], targets: Targets, byCentroid: Boolean,
      cfg: Config, valueCols: Seq[String]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val method = cfg.interpMethod
    val n     = cfg.gridN
    val s     = math.min(math.max(cfg.maskScale, 1.0), 1.5)
    val names = valueCols.toArray
    rows
      .groupByKey(r => (r.granule, r.region_id))
      .flatMapGroups { (_, it) =>
        targets.pick(it.toArray.sortBy(_.sounding_index), byCentroid) match {
          case Some((t, pts)) if pts.exists(_.good) =>
            val g       = targets.grid(t, n)
            val covered = coverCells(pts.iterator.map(p => (p.vxs, p.vys)), g, 0, n - 1, 0, n - 1, s)
            if (covered.isEmpty) Iterator.empty
            else {
              val ev  = graft.operators.LinearInterp.evaluator(pts.map(_.px), pts.map(_.py),
                Array.tabulate(names.length)(vi => pts.map(_.values(vi))), method)
              val day = pts.iterator.flatMap(_.day).minOption
              cells(covered).flatMap { c =>
                val (xi, yi) = (c % n, c / n)
                val lon = center(g.minX, g.maxX, n, xi)
                val lat = center(g.minY, g.maxY, n, yi)
                val v   = ev.eval(lon, lat)
                names.indices.iterator.filterNot(vi => v(vi).isNaN).map(vi =>
                  LongForm(targets.ids(t), day, yi, xi, lat, lon, names(vi), v(vi)))
              }
            }
          case _ => Iterator.empty
        }
      }
      .select(col("target_id"), timestamp_micros(col("day")).as("time"), col("lat_idx"),
        col("lon_idx"), col("lat"), col("lon"), col("variable"), col("value"))
  }

  /** The target-grid tail of the OCO-3, OCO-2 and SIF pipelines: `kept`
    * (sessionized soundings after the mission's quality rule, `good`
    * marking the good-quality rows) → one region exchange → the region
    * pass, which picks each region's target from `catalog`'s snapshot by
    * the rows' `target_id`, or `byCentroid` by nearest centroid. */
  private[domain] def targetGrid(
      kept: DataFrame,
      good: Column,
      catalog: DataFrame,
      byCentroid: Boolean,
      cfg: Config,
      valueCols: Seq[String]): DataFrame = {
    val target = if (byCentroid) lit(null).cast("string") else col("target_id")
    regionPass(regionRows(kept, target, good, valueCols), targets(catalog), byCentroid, cfg, valueCols)
  }

  /** Multi-granule sessionization with region ids made globally unique
    * (`Sessionize.globalizeRegionIds`: a second scan, two aggregate
    * exchanges and an unpartitioned window). No product path uses it: the
    * pipelines key regions by (granule_path, region_id) instead. The
    * perfbench operator probes still call it; the next benchmark change
    * retires it. */
  def sessionizePerGranule(granule: DataFrame, cfg: Config, granuleCol: String): DataFrame =
    Sessionize.globalizeRegionIds(sessionize(granule, cfg, Seq(granuleCol)), granuleCol)

  /** Full target-focused pipeline → sparse long form
    * (target_id, time, lat_idx, lon_idx, lat, lon, variable, value).
    * A `granule_path` column (as produced by the netcdf3 source / manifest
    * reader) switches sessionization to one walk per granule and keys
    * regions by (granule_path, region_id) — the shape that scales to a
    * year of granules in one run.
    *
    * Plan: scan → granule exchange → sorted walk (sessionize) + QF → one
    * region exchange → region pass ([[targetGrid]]). The pass names each
    * region's target by its soundings' `target_id` (unknown targets and
    * targets without a bbox drop there); region time is the first day of
    * its soundings, `min(date_trunc('day', time))` in the session time
    * zone; with `qfFilter = false` the pass drops regions with no good
    * sounding. Nothing is cached. */
  def process(
      granule: DataFrame,
      catalog: DataFrame,
      cfg: Config = Config(),
      valueCols: Seq[String] = Seq("xco2", "xco2_uncertainty")): DataFrame = {
    val sessions = sessionize(granule, cfg, granuleCols(granule))
    val kept     = if (cfg.qfFilter) qualityFilter(sessions, cfg) else sessions
    targetGrid(kept, col("xco2_quality_flag") === 0, catalog, byCentroid = false, cfg, valueCols)
  }
}
