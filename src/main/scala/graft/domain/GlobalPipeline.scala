package graft.domain

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Grid.GridSpec
import graft.operators.{LinearInterp, Sessionize}

/** Global-product variant (SURVEY R4 + M4 + G5 + J5,
  * `sam_extract/processors/OCO3SamGlobalProcessor.py`).
  *
  * The global processors grid every region onto one shared global mesh
  * (18000×36000 in production) and annotate each written pixel with
  * target_id/target_type/operation_mode, first writer wins
  * (`OCO3SamGlobalProcessor.py:330-410`). Days with no data for a mission
  * are synthesized as all-fill (`:639-718`).
  *
  * Sparse long-form design: the global mesh is never materialized. One
  * typed region pass per (granule_path, region_id) covers the region's
  * footprints on the mesh within its extent, builds its interpolation
  * kernel once and cuts the extent into latitude-strip tiles; a tile
  * exchange spreads the tiles of an oversized region across tasks, each
  * tile evaluates its covered cells, and first-writer-wins is a
  * deterministic rank-1 by region key (SURVEY §7.4 hard part 3). In-flight
  * data stays proportional to covered pixels. Empty-day synthesis is a
  * no-op in sparse form (absence = fill); the Zarr store declares an absent
  * mission's arrays through `ZarrStore.write(…, ensureVariables)`.
  */
object GlobalPipeline {

  /** Default test-scale global mesh (production: 18000 × 36000). */
  val DefaultGrid: GridSpec = GridSpec(-180.0, 180.0, 360, -90.0, 90.0, 180)

  /** R4: mode runs only, not keyed by target; the mode label rides along. */
  def sessionize(granule: DataFrame, cfg: Pipeline.Config, partitionCols: Seq[String] = Nil): DataFrame =
    Sessionize.regions(
      granule,
      col("sounding_index"),
      Seq("operation_mode"),
      partitionCols,
      margin = Some(cfg.margin),
      keep = col("operation_mode").isin(cfg.samMode, cfg.targetMode))

  /** Conf key bounding a single region's extent window, in mesh cells
    * ([[regionTiles]]). */
  val MaxRegionPixelsConfKey = "spark.graft.global.maxRegionPixels"

  /** Default region-size ceiling: 3 orders of magnitude above any sane
    * SAM/target region at the 1-km deploy mesh (a 2°×2° box ≈ 4·10⁴
    * pixels), well below the degenerate whole-granule region that OOMs a
    * task (measured: a constant-mode 100k-sounding granule sessionizes to
    * ONE region covering the observation band ≈ 3.8·10⁷ pixels at
    * 36000×18000, and the one task holding it dies). */
  val DefaultMaxRegionPixels = 32L * 1000 * 1000

  /** Conf key selecting what [[process]] does with a region above
    * [[MaxRegionPixelsConfKey]]: `"split"` (default — tile the region's
    * covered extent into latitude strips that SHARE the region's soundings,
    * so a legitimate giant capture processes in parallel instead of
    * aborting; the reference processes it too, just serially —
    * `OCO3SamGlobalProcessor.py:152-191`) or `"fail"` (the loud guard:
    * raise in the region pass, the right mode when an oversized region can
    * only mean degenerate input). */
  val OversizeRegionsConfKey = "spark.graft.global.oversizeRegions"

  /** Conf key for the per-tile pixel target when splitting an oversized
    * region (default [[DefaultTilePixels]]): each latitude-strip tile
    * covers ≈ this many grid cells, i.e. one interpolation task's
    * working set. */
  val TilePixelsConfKey = "spark.graft.global.tilePixels"

  /** 4M cells/tile — an order of magnitude under the measured single-task
    * OOM point, and ~10 tiles for the measured 38M-cell degenerate band (so
    * the one straggler task becomes ~10 parallel ones). */
  val DefaultTilePixels = 4L * 1000 * 1000

  /** Parse a long conf naming the key on a malformed value (a bare
    * `.toLong` throws an opaque NumberFormatException that doesn't say
    * WHICH conf was bad). */
  private def longConf(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).map { v =>
      try v.trim.toLong
      catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$key: invalid long value '$v'")
      }
    }.getOrElse(default)

  /** The region-size confs, read once when the plan is built: the ceiling
    * [[MaxRegionPixelsConfKey]], the tile target [[TilePixelsConfKey]]
    * (never above the ceiling: an operator who lowered maxRegionPixels
    * below the tile target meant "smaller tasks") and whether an oversized
    * region fails ([[OversizeRegionsConfKey]]). */
  final case class Tiling(maxPixels: Long, tilePixels: Long, failOversize: Boolean)

  /** [[Tiling]] from the session conf; a malformed value names its key. */
  def tiling(spark: SparkSession): Tiling = {
    val maxPx = longConf(spark, MaxRegionPixelsConfKey, DefaultMaxRegionPixels)
    val fail = spark.conf.getOption(OversizeRegionsConfKey).getOrElse("split") match {
      case "split" => false
      case "fail"  => true
      case other =>
        throw new IllegalArgumentException(
          s"$OversizeRegionsConfKey: unknown value '$other' (expected split | fail)")
    }
    Tiling(maxPx, math.max(1L, math.min(longConf(spark, TilePixelsConfKey, DefaultTilePixels), maxPx)),
      fail)
  }

  /** An inclusive index window [xlo, xhi] × [ylo, yhi] on the mesh. */
  final case class Span(xlo: Int, xhi: Int, ylo: Int, yhi: Int) {
    def width: Int = xhi - xlo + 1
    def rows: Long = (yhi - ylo + 1).toLong
    def area: Long = width * rows
  }

  /** The mesh cells whose centers an extent covers: `ceil` of its low
    * edges, `floor` of its high edges (Spark's double → long → int
    * casts), clipped to the mesh. None when the window is empty, or when
    * the extent is unknown (a region without any vertex). */
  def span(fminx: Double, fmaxx: Double, fminy: Double, fmaxy: Double, g: GridSpec): Option[Span] = {
    val stepX = (g.maxX - g.minX) / (g.nX - 1)
    val stepY = (g.maxY - g.minY) / (g.nY - 1)
    Some(Span(
      math.max(0, math.ceil((fminx - g.minX) / stepX).toLong.toInt),
      math.min(g.nX - 1, math.floor((fmaxx - g.minX) / stepX).toLong.toInt),
      math.max(0, math.ceil((fminy - g.minY) / stepY).toLong.toInt),
      math.min(g.nY - 1, math.floor((fmaxy - g.minY) / stepY).toLong.toInt)))
      .filter(s => s.xlo <= s.xhi && s.ylo <= s.yhi)
  }

  /** The oversized-region split: a region window above the ceiling is cut
    * into contiguous, full-width latitude strips of ≈`tilePixels` cells
    * (a ceil-div, capped at the row count so a tilePixels below the
    * window's width still yields at most one strip per row); a window
    * within the ceiling is one tile. The tiles of a region share its
    * kernel (the interpolation needs all of a region's points whichever
    * pixels a task evaluates), so split output is pixel-identical to the
    * unsplit region: the strips partition the window disjointly. Under
    * `failOversize` an oversized region raises instead, naming `region`
    * and the ceiling — the loud guard for input where a giant region can
    * only mean a degenerate granule. */
  def regionTiles(region: String, s: Span, t: Tiling): Seq[Span] = {
    val nTiles =
      if (s.area <= t.maxPixels) 1L
      else if (t.failOversize)
        throw new IllegalArgumentException(
          s"GlobalPipeline: region $region covers ${s.area} grid cells " +
            s"(> $MaxRegionPixelsConfKey=${t.maxPixels}); a region this size concentrates a " +
            "dense band in one interpolation task. Check the granule's session keys " +
            "(operation mode / target) or raise the conf.")
      else math.min((s.area + t.tilePixels - 1) / t.tilePixels, s.rows)
    val rowsPerTile = (s.rows + nTiles - 1) / nTiles
    // ceil rounding can leave trailing strips past the window — drop them
    (0L until nTiles).iterator.map(i => (s.ylo + i * rowsPerTile).toInt).takeWhile(_ <= s.yhi)
      .map(lo => s.copy(ylo = lo, yhi = math.min(s.yhi, (lo + rowsPerTile - 1).toInt)))
      .toSeq
  }

  /** One sounding as the global region pass reads it: region key,
    * position, footprint ring (null when a vertex is null: it covers no
    * cell), the ring's unscaled vertex extent (`array_min`/`array_max`:
    * nulls skipped, NaN greatest), values and the region annotations'
    * inputs (day as µs since the epoch). */
  final case class GlobalRow(
      granule: String,
      region_id: Long,
      sounding_index: Long,
      px: Double,
      py: Double,
      vxs: Array[Double],
      vys: Array[Double],
      xmin: Option[Double],
      xmax: Option[Double],
      ymin: Option[Double],
      ymax: Option[Double],
      values: Array[Double],
      operation_mode: Option[Int],
      target_id: String,
      day: Option[Long])

  /** One latitude strip of a region: its annotations, the region's
    * serialized kernel and the strip's covered cells. */
  final case class Tile(
      granule: String,
      region_id: Long,
      tile: Int,
      day: Option[Long],
      operation_mode: Option[Int],
      target_id: String,
      kernel: LinearInterp.RegionKernel,
      lon_idx: Array[Int],
      lat_idx: Array[Int])

  /** One evaluated cell of a region, before first-writer-wins. */
  final case class Pixel(
      granule: String,
      region_id: Long,
      day: Option[Long],
      operation_mode: Option[Int],
      target_id: String,
      lat_idx: Int,
      lon_idx: Int,
      lat: Double,
      lon: Double,
      values: Array[Double])

  /** One variable of a pixel's first writer. */
  final case class Written(
      day: Option[Long],
      lat_idx: Int,
      lon_idx: Int,
      lat: Double,
      lon: Double,
      target_id: String,
      operation_mode: Option[Int],
      variable: String,
      value: Double)

  private[graft] def globalRows(sessions: DataFrame, valueCols: Seq[String]): Dataset[GlobalRow] = {
    val spark = sessions.sparkSession
    import spark.implicits._
    def vertices(c: String) = col(c).cast("array<double>")
    sessions.select(
        Pipeline.granuleOf(sessions).as("granule"),
        col("region_id").cast("long"),
        col("sounding_index").cast("long"),
        col("longitude").cast("double").as("px"),
        col("latitude").cast("double").as("py"),
        Pipeline.ring("vertex_longitude").as("vxs"),
        Pipeline.ring("vertex_latitude").as("vys"),
        array_min(vertices("vertex_longitude")).as("xmin"),
        array_max(vertices("vertex_longitude")).as("xmax"),
        array_min(vertices("vertex_latitude")).as("ymin"),
        array_max(vertices("vertex_latitude")).as("ymax"),
        array(valueCols.map(c => col(c).cast("double")): _*).cast("array<double>").as("values"),
        col("operation_mode").cast("int"),
        col("target_id"),
        unix_micros(date_trunc("day", col("time"))).as("day"))
      .as[GlobalRow]
  }

  /** The window of a region's extent — min of the rows' minima, max of
    * their maxima, as SQL's `min`/`max` aggregate them (nulls skipped, NaN
    * greatest). */
  private[graft] def regionSpan(pts: Array[GlobalRow], g: GridSpec): Option[Span] = {
    def extreme(vs: Iterator[Double], sign: Int): Option[Double] =
      vs.reduceOption((m, x) => if (compareDoubles(x, m) * sign < 0) x else m)
    for {
      fminx <- extreme(pts.iterator.flatMap(_.xmin), 1)
      fmaxx <- extreme(pts.iterator.flatMap(_.xmax), -1)
      fminy <- extreme(pts.iterator.flatMap(_.ymin), 1)
      fmaxy <- extreme(pts.iterator.flatMap(_.ymax), -1)
      s     <- span(fminx, fmaxx, fminy, fmaxy, g)
    } yield s
  }

  /** Evaluate one tile: every covered cell at its mesh center (the
    * linspace expression of `Grid.generate`), through the region's
    * kernel — rebuilt once per tile from its serialized form. */
  private[graft] def evalTile(t: Tile, g: GridSpec): Iterator[Pixel] = {
    val ev = new LinearInterp.KernelEval(t.kernel)
    t.lon_idx.indices.iterator.map { i =>
      val (xi, yi) = (t.lon_idx(i), t.lat_idx(i))
      val lon = Pipeline.center(g.minX, g.maxX, g.nX, xi)
      val lat = Pipeline.center(g.minY, g.maxY, g.nY, yi)
      Pixel(t.granule, t.region_id, t.day, t.operation_mode, t.target_id, yi, xi, lat, lon,
        ev.eval(lon, lat).toArray)
    }
  }

  /** Full global pipeline → sparse long form with per-pixel annotations
    * (M4: numeric target id, target type code, operation mode;
    * first-writer-wins = lowest (granule_path, region_id)). `quality` is
    * the per-mission quality rule (default: the CO2 `xco2_quality_flag ==
    * 0` filter; SIF passes flags {0,1} via [[SifPipeline.qualityFilter]]).
    *
    * Plan: scan → granule exchange → sorted walk (sessionize, one walk
    * per `granule_path`) → quality rule → one region exchange → region pass →
    * one tile exchange → evaluate → one pixel exchange → first-writer-wins
    * pass. Per region key the region pass takes the extent window
    * ([[span]]), tiles it
    * ([[regionTiles]]; fail mode raises here, in the task), covers the
    * footprints on the mesh within the window (`Pipeline.coverCells`),
    * builds the kernel once over the soundings in `sounding_index` order
    * and annotates the region: day = `min(date_trunc('day', time))`, the
    * minimum `operation_mode` and `target_id`. Mask-first: interpolation
    * is per-pixel pure, so only covered cells are evaluated. The
    * first-writer-wins pass groups each day's pixel; NaN values (outside
    * the hull under linear/cubic) drop AFTER it, so a NaN first writer
    * still owns its pixel. The sessions have one consumer, so nothing is
    * cached. */
  def process(
      granule: DataFrame,
      grid: GridSpec = DefaultGrid,
      cfg: Pipeline.Config = Pipeline.Config(),
      valueCols: Seq[String] = Seq("xco2", "xco2_uncertainty"),
      quality: (DataFrame, Pipeline.Config) => DataFrame = Pipeline.qualityFilter): DataFrame = {
    val spark = granule.sparkSession
    import spark.implicits._
    val sessions = quality(sessionize(granule, cfg, Pipeline.granuleCols(granule)), cfg)
    val t        = tiling(spark)
    val method   = cfg.interpMethod
    val scale    = math.min(math.max(cfg.maskScale, 1.0), 1.5)
    val names    = valueCols.toArray
    val tiles = globalRows(sessions, valueCols)
      .repartition(col("granule"), col("region_id"))
      .groupBy(col("granule"), col("region_id")).as[(String, Long), GlobalRow]
      .flatMapGroups { (key, it) =>
        val (g, rid) = key
        val pts = it.toArray.sortBy(_.sounding_index)
        regionSpan(pts, grid).iterator.flatMap { span =>
          val strips = regionTiles(if (g.isEmpty) s"$rid" else s"$rid of $g", span, t)
          val cover  = Pipeline.coverCells(pts.iterator.map(p => (p.vxs, p.vys)), grid,
            span.xlo, span.xhi, span.ylo, span.yhi, scale)
          if (cover.isEmpty) Iterator.empty
          else {
            val kernel = LinearInterp.mkKernel(rid, pts.map(_.px), pts.map(_.py),
              Array.tabulate(names.length)(vi => pts.map(_.values(vi))), method)
            val day    = pts.iterator.flatMap(_.day).minOption
            val mode   = pts.iterator.flatMap(_.operation_mode).minOption
            // SQL's string min: UTF-8 byte order
            val target = pts.iterator.flatMap(p => Option(p.target_id)).minByOption(UTF8String.fromString)
            strips.iterator.zipWithIndex.flatMap { case (strip, i) =>
              val bits = cover.get((strip.ylo - span.ylo) * span.width, (strip.yhi - span.ylo + 1) * span.width)
              val cs   = Pipeline.cells(bits).toArray
              if (cs.isEmpty) None
              else Some(Tile(g, rid, i, day, mode, target.orNull, kernel,
                cs.map(c => span.xlo + c % span.width), cs.map(c => strip.ylo + c / span.width)))
            }
          }
        }
      }
    val pixels = tiles
      .repartition(col("granule"), col("region_id"), col("tile"))
      .flatMap(evalTile(_, grid))
    // M4 first-writer-wins per global pixel per day: the lowest
    // (granule_path, region_id), granules in SQL's string order, owns the
    // pixel; then its NaN values drop (sparse long form, as in the
    // target region pass)
    val written = pixels
      .groupBy(col("day"), col("lat_idx"), col("lon_idx")).as[(Option[Long], Int, Int), Pixel]
      .flatMapGroups { (_, it) =>
        val p = it.minBy(p => (Option(p.granule).map(UTF8String.fromString), p.region_id))
        names.indices.iterator.filterNot(vi => p.values(vi).isNaN).map(vi =>
          Written(p.day, p.lat_idx, p.lon_idx, p.lat, p.lon, p.target_id, p.operation_mode,
            names(vi), p.values(vi)))
      }
    written.select(
      timestamp_micros(col("day")).as("time"),
      col("lat_idx"),
      col("lon_idx"),
      col("lat"),
      col("lon"),
      coalesce(TargetCatalog.resolveNumericId(col("target_id")), lit(-1)).as("target_num"),
      TargetCatalog.idTypeCode(col("target_id")).as("target_type"),
      col("operation_mode").cast(sessions.schema("operation_mode").dataType),
      col("variable"),
      col("value"))
  }

  /** J5: multi-mission day merge — disjoint variable sets over the same
    * coords union in long form under a mission discriminator. */
  def mergeMissions(products: Map[String, DataFrame]): DataFrame =
    products
      .map { case (mission, df) => df.withColumn("mission", lit(mission)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  // ------------------------------------------------- reference store naming

  /** Reference global-product variable prefixes per mission
    * (`OCO3SamGlobalProcessor.py:43`, `OCO2GlobalProcessor.py:40`,
    * `OCO3SifGlobalProcessor.py:43`). */
  val MissionPrefix: Map[String, String] = Map(
    "oco3"     -> "OCO3_global_",
    "oco2"     -> "OCO2_global_",
    "oco3_sif" -> "OCO3_SIF_global_")

  /** Science variables each mission contributes to the global store (the
    * engine's defaults for the reference's `DEFAULT_INCLUDED_VARS`). */
  val MissionScienceVars: Map[String, Seq[String]] = Map(
    "oco3"     -> Seq("xco2", "xco2_uncertainty"),
    "oco2"     -> Seq("xco2", "xco2_uncertainty"),
    "oco3_sif" -> Seq("daily_sif"))

  /** Missions whose global masking annotates per-pixel target metadata
    * (`OCO3SamGlobalProcessor.py:353-410`, `OCO3SifGlobalProcessor.py:
    * 748-751`); OCO-2's global mask takes no target args
    * (`OCO2GlobalProcessor.py:206`). */
  private val Annotating = Set("oco3", "oco3_sif")

  /** Every variable a mission's slot in the global store carries — used to
    * synthesize the arrays of ABSENT missions (G5, `main.py:219-230`,
    * `:275-283`): in sparse form an empty day writes no chunks, so an
    * absent mission is just its variable metadata with no data, and any
    * Zarr client reads it back as all-fill. */
  def missionStoreVariables(mission: String): Seq[String] = {
    val p = MissionPrefix(mission)
    MissionScienceVars(mission).map(p + _) ++
      (if (Annotating(mission))
         Seq("target_id", "target_type", "operation_mode").map(p + _)
       else Nil)
  }

  /** Rename one mission's sparse global product ([[process]] output) to
    * the reference's store naming: science variables prefixed, and — for
    * annotating missions — the per-pixel annotation columns re-emitted as
    * store variables (float64, like every array in the store; absence
    * stays the fill). Annotation rows derive from the first science
    * variable's pixel set: every variable of a pixel carries identical
    * annotations (same first-writer-wins row), so no dedup shuffle is
    * needed.
    *
    * ONE pass over the product: each row explodes into its science pair
    * plus (first-science-variable rows only) the three annotation pairs.
    * The earlier sci-UNION-ann form referenced `product` twice, so the
    * whole upstream pipeline — including its broadcast builds — executed
    * twice in the same job; at the 36000×18000 deploy mesh that doubled
    * driver memory and OOM'd the global-day probe at 10⁵ soundings. */
  def toStoreVariables(mission: String, product: DataFrame): DataFrame = {
    val p    = MissionPrefix(mission)
    val base = Seq("time", "lat_idx", "lon_idx", "lat", "lon").map(col)
    val sci = array(struct(
      concat(lit(p), col("variable")).as("variable"),
      col("value").cast("double").as("value")))
    val pairs =
      if (!Annotating(mission)) sci
      else {
        val first = MissionScienceVars(mission).head
        val ann = array(
          struct(lit(p + "target_id").as("variable"),
            col("target_num").cast("double").as("value")),
          struct(lit(p + "target_type").as("variable"),
            col("target_type").cast("double").as("value")),
          struct(lit(p + "operation_mode").as("variable"),
            col("operation_mode").cast("double").as("value")))
        when(col("variable") === first, concat(sci, ann)).otherwise(sci)
      }
    product
      .select(base :+ explode(pairs).as("_pv"): _*)
      .select(base :+ col("_pv.variable").as("variable") :+ col("_pv.value").as("value"): _*)
  }
}
