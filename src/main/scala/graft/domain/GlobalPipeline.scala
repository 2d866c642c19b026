package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Grid.GridSpec
import graft.operators.Sessionize

/** Global-product variant (SURVEY R4 + M4 + G5 + J5,
  * `sam_extract/processors/OCO3SamGlobalProcessor.py`).
  *
  * The global processors grid every region onto one shared global mesh
  * (18000×36000 in production) and annotate each written pixel with
  * target_id/target_type/operation_mode, first writer wins
  * (`OCO3SamGlobalProcessor.py:330-410`). Days with no data for a mission
  * are synthesized as all-fill (`:639-718`).
  *
  * Sparse long-form design: the global mesh is never materialized — each
  * region generates only the global index range its footprints cover
  * (per-region `sequence()` explode), so in-flight data stays proportional
  * to observed pixels. First-writer-wins becomes a deterministic rank-1 by
  * region order (SURVEY §7.4 hard part 3). Empty-day synthesis is a no-op
  * in sparse form (absence = fill); `emptyDay` provides the dense export
  * when byte-parity output is required.
  */
object GlobalPipeline {

  /** Default test-scale global mesh (production: 18000 × 36000). */
  val DefaultGrid: GridSpec = GridSpec(-180.0, 180.0, 360, -90.0, 90.0, 180)

  /** R4: mode runs only, not keyed by target; the mode label rides along. */
  def sessionize(granule: DataFrame, cfg: Pipeline.Config, partitionCols: Seq[String] = Nil): DataFrame =
    Sessionize.byKeyChangeWithMargin(
      granule.filter(col("operation_mode").isin(cfg.samMode, cfg.targetMode)),
      "sounding_index",
      Seq("operation_mode"),
      cfg.margin,
      partitionCols)

  /** Multi-granule sessionization — same contract as
    * [[Pipeline.sessionizePerGranule]]: per-file windows (each granule is
    * an independent ordered stream; sounding indexes repeat across files)
    * with region ids made globally unique by a broadcast granule index. */
  def sessionizePerGranule(granule: DataFrame, cfg: Pipeline.Config, granuleCol: String): DataFrame =
    Sessionize.globalizeRegionIds(sessionize(granule, cfg, Seq(granuleCol)), granuleCol)

  /** Per-region footprint extent (drives which global pixels to generate). */
  def regionExtent(sessions: DataFrame): DataFrame =
    sessions
      .groupBy(col("region_id"))
      .agg(
        date_trunc("day", min(col("time"))).as("time"),
        min(col("operation_mode")).as("operation_mode"),
        min(col("target_id")).as("target_id"),
        min(array_min(col("vertex_longitude").cast("array<double>"))).as("fminx"),
        max(array_max(col("vertex_longitude").cast("array<double>"))).as("fmaxx"),
        min(array_min(col("vertex_latitude").cast("array<double>"))).as("fminy"),
        max(array_max(col("vertex_latitude").cast("array<double>"))).as("fmaxy"))

  /** Conf key bounding a single region's covered-pixel explode (below). */
  val MaxRegionPixelsConfKey = "spark.graft.global.maxRegionPixels"

  /** Default region-size ceiling: 3 orders of magnitude above any sane
    * SAM/target region at the 1-km deploy mesh (a 2°×2° box ≈ 4·10⁴
    * pixels), well below the degenerate whole-granule region that OOMs a
    * task (measured: a constant-mode 100k-sounding granule sessionizes to
    * ONE region covering the observation band ≈ 3.8·10⁷ pixels at
    * 36000×18000, and its single cogroup task dies). */
  val DefaultMaxRegionPixels = 32L * 1000 * 1000

  /** Conf key selecting what [[process]] does with a region above
    * [[MaxRegionPixelsConfKey]]: `"split"` (default — tile the region's
    * covered extent into latitude strips that SHARE the region's soundings,
    * so a legitimate giant capture processes in parallel instead of
    * aborting; the reference processes it too, just serially —
    * `OCO3SamGlobalProcessor.py:152-191`) or `"fail"` (the loud guard:
    * raise at the explode, the right mode when an oversized region can only
    * mean degenerate input). */
  val OversizeRegionsConfKey = "spark.graft.global.oversizeRegions"

  /** Conf key for the per-tile pixel target when splitting an oversized
    * region (default [[DefaultTilePixels]]): each latitude-strip tile
    * covers ≈ this many grid cells, i.e. one interpolation task's
    * working set. */
  val TilePixelsConfKey = "spark.graft.global.tilePixels"

  /** 4M pixels/tile ≈ 64 MB of pixel structs in a cogroup task — an order
    * of magnitude under the measured single-task OOM point, and ~10 tiles
    * for the measured 38M-pixel degenerate band (so the one straggler task
    * becomes ~10 parallel ones). */
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

  /** Global pixels covered by each region's extent: per-region explode of
    * the covered global index ranges; coordinates via the global linspace
    * formula (no global mesh materialization).
    *
    * Scale guard: in-flight data is proportional to Σ region areas, and the
    * interpolation cogroup downstream materializes ONE region per task — a
    * degenerate region (a granule whose session key never changes, e.g. a
    * constant operation mode) silently concentrates a band-sized dense
    * array in one task and OOMs it mid-job. Regions above
    * [[MaxRegionPixelsConfKey]] (default [[DefaultMaxRegionPixels]]) fail
    * AT THE EXPLODE with a message naming the region and its area instead —
    * same philosophy as the Sessionize global-window guard: the silent
    * scale killer must be loud. The check is one per-REGION comparison
    * (bounded rows), zero extra jobs. */
  def coveredPixels(extents: DataFrame, g: GridSpec): DataFrame = {
    val stepX = (g.maxX - g.minX) / (g.nX - 1)
    val stepY = (g.maxY - g.minY) / (g.nY - 1)
    val maxPx = longConf(extents.sparkSession, MaxRegionPixelsConfKey, DefaultMaxRegionPixels)
    val area = (col("_xhi") - col("_xlo") + 1).cast("long") *
      (col("_yhi") - col("_ylo") + 1).cast("long")
    val guardedXlo = when(
      area > maxPx,
      raise_error(concat(
        lit("coveredPixels: region "), col("region_id").cast("string"),
        lit(" covers "), area.cast("string"),
        lit(s" grid cells (> $MaxRegionPixelsConfKey=$maxPx); a region this size "),
        lit("concentrates a dense band in one interpolation task. Check the "),
        lit("granule's session keys (operation mode / target) or raise the conf.")))
        .cast("int"))
      .otherwise(col("_xlo"))
    extents
      .withColumn("_xlo", greatest(lit(0), ceil((col("fminx") - g.minX) / stepX).cast("int")))
      .withColumn("_xhi", least(lit(g.nX - 1), floor((col("fmaxx") - g.minX) / stepX).cast("int")))
      .withColumn("_ylo", greatest(lit(0), ceil((col("fminy") - g.minY) / stepY).cast("int")))
      .withColumn("_yhi", least(lit(g.nY - 1), floor((col("fmaxy") - g.minY) / stepY).cast("int")))
      .filter(col("_xlo") <= col("_xhi") && col("_ylo") <= col("_yhi"))
      .withColumn("lon_idx", explode(sequence(guardedXlo, col("_xhi"))))
      .withColumn("lat_idx", explode(sequence(col("_ylo"), col("_yhi"))))
      .withColumn("lon", lit(g.minX) + col("lon_idx") * ((lit(g.maxX) - lit(g.minX)) / (lit(g.nX) - lit(1))))
      .withColumn("lat", lit(g.minY) + col("lat_idx") * ((lit(g.maxY) - lit(g.minY)) / (lit(g.nY) - lit(1))))
      .drop("_xlo", "_xhi", "_ylo", "_yhi", "fminx", "fmaxx", "fminy", "fmaxy")
  }

  /** Per-(region, tile) index-space extents — the oversized-region SPLIT
    * (the scale-safe completion of the r15 fail-only guard).
    *
    * A region whose covered extent exceeds [[MaxRegionPixelsConfKey]] is
    * tiled into contiguous latitude strips of ≈[[TilePixelsConfKey]] grid
    * cells each; every tile SHARES the region's full sounding set (the
    * interpolation is per-region-global: the Delaunay triangulation /
    * nearest scan needs all of a region's points regardless of which pixels
    * a task evaluates — bounded, a region is one capture, O(10³–10⁵)
    * soundings), so per-tile results are pixel-identical to the unsplit
    * region: identical triangulation, identical mask, and tiles partition
    * the extent disjointly. Normal regions get exactly one tile — the
    * common path is unchanged up to a surrogate-key rename.
    *
    * Under `oversizeRegions=fail` the r15 behavior is kept: the explode
    * raises, naming the region and its area.
    *
    * Output (bounded rows: Σ regions' tile counts): `region_id`, `tile`,
    * `rkey` (dense surrogate cogroup/join key per tile — region ids are
    * arbitrary longs, so packing (region, tile) arithmetically could
    * collide; a row_number over this bounded table cannot), and the tile's
    * inclusive index bounds `_xlo/_xhi/_tylo/_tyhi`. */
  def regionTiles(extents: DataFrame, g: GridSpec): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark  = extents.sparkSession
    val stepX  = (g.maxX - g.minX) / (g.nX - 1)
    val stepY  = (g.maxY - g.minY) / (g.nY - 1)
    val maxPx  = longConf(spark, MaxRegionPixelsConfKey, DefaultMaxRegionPixels)
    // tiles never exceed the region ceiling: an operator who lowered
    // maxRegionPixels below the tile target meant "smaller tasks"
    val tilePx = math.max(1L, math.min(
      longConf(spark, TilePixelsConfKey, DefaultTilePixels), maxPx))
    val mode = spark.conf.getOption(OversizeRegionsConfKey).getOrElse("split") match {
      case m @ ("split" | "fail") => m
      case other =>
        throw new IllegalArgumentException(
          s"$OversizeRegionsConfKey: unknown value '$other' (expected split | fail)")
    }
    val area = (col("_xhi") - col("_xlo") + 1).cast("long") *
      (col("_yhi") - col("_ylo") + 1).cast("long")
    val nTiles =
      if (mode == "fail")
        when(
          area > maxPx,
          raise_error(concat(
            lit("coveredPixels: region "), col("region_id").cast("string"),
            lit(" covers "), area.cast("string"),
            lit(s" grid cells (> $MaxRegionPixelsConfKey=$maxPx); a region this size "),
            lit("concentrates a dense band in one interpolation task. Check the "),
            lit("granule's session keys (operation mode / target) or raise the conf.")))
            .cast("long"))
          .otherwise(lit(1L))
      // Column./ is double division; areas ≤ nX·nY ≤ ~6.5·10⁸ are exact in
      // a double, so floor-of-quotient is the exact integer ceil-div.
      // Capped at the strip count (latitude rows): strips are full-width,
      // so a tilePixels below the region's column width would otherwise
      // explode more tile rows than there are strips to assign
      // (pathological tilePixels=1 at a band region ⇒ 4·10⁸ tile rows) —
      // the cap clamps the effective tile to ≥ one full row.
      else when(
        area > maxPx,
        least(
          floor((area + lit(tilePx - 1)) / lit(tilePx)).cast("long"),
          (col("_yhi") - col("_ylo") + 1).cast("long")))
        .otherwise(lit(1L))
    extents
      .withColumn("_xlo", greatest(lit(0), ceil((col("fminx") - g.minX) / stepX).cast("int")))
      .withColumn("_xhi", least(lit(g.nX - 1), floor((col("fmaxx") - g.minX) / stepX).cast("int")))
      .withColumn("_ylo", greatest(lit(0), ceil((col("fminy") - g.minY) / stepY).cast("int")))
      .withColumn("_yhi", least(lit(g.nY - 1), floor((col("fmaxy") - g.minY) / stepY).cast("int")))
      .filter(col("_xlo") <= col("_xhi") && col("_ylo") <= col("_yhi"))
      .withColumn("_ntiles", nTiles)
      .withColumn(
        "_rpt", // latitude rows per tile, ceil — the last strip may be short
        floor(((col("_yhi") - col("_ylo") + 1).cast("long") + col("_ntiles") - 1) /
          col("_ntiles")).cast("long"))
      .withColumn("tile", explode(sequence(lit(0L), col("_ntiles") - 1)))
      .withColumn("_tylo", (col("_ylo") + col("tile") * col("_rpt")).cast("int"))
      .withColumn("_tyhi", least(col("_yhi"), (col("_tylo") + col("_rpt") - 1).cast("int")))
      // ceil rounding can leave trailing strips past the extent — drop them
      .filter(col("_tylo") <= col("_yhi"))
      .select(col("region_id"), col("tile"), col("_xlo"), col("_xhi"), col("_tylo"), col("_tyhi"))
      .withColumn(
        "rkey",
        row_number().over(Window.orderBy(col("region_id"), col("tile"))).cast("long"))
  }

  /** Covered global pixels per TILE ([[regionTiles]] output), keyed by the
    * tile surrogate `rkey` — same per-row explode and linspace arithmetic
    * as [[coveredPixels]], over the tile's latitude strip. */
  def coveredPixelsByTile(tiles: DataFrame, g: GridSpec): DataFrame =
    tiles
      .select(col("rkey"), col("_xlo"), col("_xhi"), col("_tylo"), col("_tyhi"))
      .withColumn("lon_idx", explode(sequence(col("_xlo"), col("_xhi"))))
      .withColumn("lat_idx", explode(sequence(col("_tylo"), col("_tyhi"))))
      .withColumn("lon", lit(g.minX) + col("lon_idx") * ((lit(g.maxX) - lit(g.minX)) / (lit(g.nX) - lit(1))))
      .withColumn("lat", lit(g.minY) + col("lat_idx") * ((lit(g.maxY) - lit(g.minY)) / (lit(g.nY) - lit(1))))
      .drop("_xlo", "_xhi", "_tylo", "_tyhi")

  /** Footprint mask on the GLOBAL lattice (M1+M2), footprint-driven.
    *
    * [[Pipeline.maskPixels]] joins the region's pixels against its
    * footprints on the region key with the bbox ranges as residual
    * predicates — per region that's |pixels|×|footprints| pair
    * evaluations, which a degenerate band region turns into O(10¹¹) (4M
    * pixels/tile × 10⁵ replicated footprints): the mask, not the
    * interpolation, becomes the stall. On the global integer lattice the
    * join can be inverted: each SCALED footprint explodes to the mesh
    * indexes its bbox covers (bounded by Σ footprint areas — a 1-km mesh
    * footprint covers ~4–9 cells, so ~10⁶ candidate rows for a 10⁵-
    * sounding day, independent of region size), then the original
    * semantics apply EXACTLY: the center-in-bbox `between` prefilter and
    * the exact ray-cast. The index range is widened ±1 cell so ulp-level
    * rounding differences against the linspace pixel centers can never
    * exclude a pixel the `between` would keep; the widened extras are
    * dropped by that same `between`, and candidates outside the region's
    * pixel set drop in the caller's inner join with the interpolated
    * pixels. Output: distinct (region_id, lon_idx, lat_idx) — the same
    * contract as `Pipeline.maskPixels`.
    *
    * Reference semantics unchanged (`OCO3SamProcessor.py:234-295`): bbox
    * prefilter + exact polygon test with centroid scaling. */
  /** `clipTo` (optional): the TILE table `(region_id, rkey, _xlo, _xhi,
    * _tylo, _tyhi)` — each candidate joins its region's tiles (broadcast,
    * bounded rows) and keeps only the tile strips containing it, emitted
    * under the tile surrogate `rkey` as the output's region key. Strips
    * partition a region's extent disjointly, so a candidate lands in at
    * most one tile; the clip both enforces the covered-extent contract
    * and assigns tile ownership WITHOUT replicating the soundings (the
    * r16 form masked per-tile-replicated soundings — an oversized region
    * re-evaluated every footprint once per tile). */
  def maskPixelsGlobal(
      soundings: DataFrame,
      g: GridSpec,
      cfg: Pipeline.Config,
      clipTo: Option[DataFrame] = None): DataFrame = {
    val s     = math.min(math.max(cfg.maskScale, 1.0), 1.5)
    val stepX = (g.maxX - g.minX) / (g.nX - 1)
    val stepY = (g.maxY - g.minY) / (g.nY - 1)
    val candidates = soundings.select(
      col("region_id"),
      col("vertex_longitude").cast("array<double>").as("vxs"),
      col("vertex_latitude").cast("array<double>").as("vys"))
      // centroid-affine scaling of the ring (same arithmetic as maskPixels)
      .withColumn("cx", aggregate(col("vxs"), lit(0.0), (a, v) => a + v) / size(col("vxs")))
      .withColumn("cy", aggregate(col("vys"), lit(0.0), (a, v) => a + v) / size(col("vys")))
      .withColumn("sxs", transform(col("vxs"), v => col("cx") + (v - col("cx")) * lit(s)))
      .withColumn("sys", transform(col("vys"), v => col("cy") + (v - col("cy")) * lit(s)))
      .withColumn("fminx", array_min(col("sxs")))
      .withColumn("fmaxx", array_max(col("sxs")))
      .withColumn("fminy", array_min(col("sys")))
      .withColumn("fmaxy", array_max(col("sys")))
      .withColumn("_xlo", greatest(lit(0), ceil((col("fminx") - g.minX) / stepX).cast("int") - 1))
      .withColumn("_xhi", least(lit(g.nX - 1), floor((col("fmaxx") - g.minX) / stepX).cast("int") + 1))
      .withColumn("_ylo", greatest(lit(0), ceil((col("fminy") - g.minY) / stepY).cast("int") - 1))
      .withColumn("_yhi", least(lit(g.nY - 1), floor((col("fmaxy") - g.minY) / stepY).cast("int") + 1))
      .filter(col("_xlo") <= col("_xhi") && col("_ylo") <= col("_yhi"))
      .withColumn("lon_idx", explode(sequence(col("_xlo"), col("_xhi"))))
      .withColumn("lat_idx", explode(sequence(col("_ylo"), col("_yhi"))))
      .withColumn("lon", lit(g.minX) + col("lon_idx") * ((lit(g.maxX) - lit(g.minX)) / (lit(g.nX) - lit(1))))
      .withColumn("lat", lit(g.minY) + col("lat_idx") * ((lit(g.maxY) - lit(g.minY)) / (lit(g.nY) - lit(1))))
      // the ORIGINAL prefilter, verbatim — the widened index range is a
      // superset, this keeps the kept-pixel set bit-identical
      .filter(
        col("lon").between(col("fminx"), col("fmaxx")) &&
          col("lat").between(col("fminy"), col("fmaxy")))
      .filter(graft.functions.PointInPolygon(col("lon"), col("lat"), col("sxs"), col("sys")))
      .select(col("region_id"), col("lon_idx"), col("lat_idx"))
    val clipped = clipTo match {
      case Some(tiles) =>
        candidates
          .join(broadcast(tiles), Seq("region_id"))
          .filter(
            col("lon_idx").between(col("_xlo"), col("_xhi")) &&
              col("lat_idx").between(col("_tylo"), col("_tyhi")))
          .select(col("rkey").as("region_id"), col("lon_idx"), col("lat_idx"))
      case None => candidates
    }
    clipped.distinct()
  }

  /** Full global pipeline → sparse long form with per-pixel annotations
    * (M4: numeric target id, target type code, operation mode;
    * first-writer-wins = lowest region_id). `quality` is the per-mission
    * quality rule (default: the CO2 `xco2_quality_flag == 0` filter; SIF
    * passes flags {0,1} via [[SifPipeline.qualityFilter]]). */
  def process(
      granule: DataFrame,
      grid: GridSpec = DefaultGrid,
      cfg: Pipeline.Config = Pipeline.Config(),
      valueCols: Seq[String] = Seq("xco2", "xco2_uncertainty"),
      quality: (DataFrame, Pipeline.Config) => DataFrame = Pipeline.qualityFilter): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sessionized =
      if (granule.columns.contains("granule_path"))
        sessionizePerGranule(granule, cfg, "granule_path")
      else sessionize(granule, cfg)
    val sessions0 = quality(sessionized, cfg)
    val sessions =
      if (cfg.persistSessions)
        graft.CacheScope.persist(sessions0, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sessions0
    val extents  = regionExtent(sessions)
    // slim pixel payload: per-region constants (time/mode/target) stay in
    // the bounded region-level table and re-attach AFTER the mask join —
    // they must not ride the per-pixel explode at the 36000×18000 mesh
    val attrs    = extents.select(
      col("region_id"), col("time"), col("operation_mode"), col("target_id"))
    // oversized-region split: the unit of interpolation work is a TILE
    // (normal regions = 1 tile); tiles of one region share its soundings,
    // so the pixel/evaluation key is the tile surrogate `rkey` and results
    // are pixel-identical to the unsplit region (see regionTiles)
    val tiles    = regionTiles(
      extents.select("region_id", "fminx", "fmaxx", "fminy", "fmaxy"), grid)
    val keymap   = tiles.select(col("rkey"), col("region_id"))
    // MASK FIRST, then interpolate only the masked pixels: interpolation
    // is per-pixel pure (the Delaunay/nearest kernel is built from the
    // region's POINTS alone), so evaluating it on the masked set gives
    // bit-identical values while shrinking the cogroup input from the
    // covered EXTENT (Σ region areas — 2·10⁷–4·10⁷ cells/day at the
    // 36000×18000 mesh) to the footprint-covered set (Σ footprint areas ≈
    // soundings × O(1) cells ≈ 10⁶/day). The mask runs ONCE per region on
    // the original region ids; the broadcast tile clip assigns each
    // candidate its owning tile (and enforces the covered-extent
    // contract) — the extent itself is never exploded, and footprints are
    // never re-evaluated per tile.
    val pixels = maskPixelsGlobal(
      sessions, grid, cfg,
      clipTo = Some(tiles.select(
        col("region_id"), col("rkey"), col("_xlo"), col("_xhi"), col("_tylo"), col("_tyhi"))))
      .withColumn("lon", lit(grid.minX) + col("lon_idx") * ((lit(grid.maxX) - lit(grid.minX)) / (lit(grid.nX) - lit(1))))
      .withColumn("lat", lit(grid.minY) + col("lat_idx") * ((lit(grid.maxY) - lit(grid.minY)) / (lit(grid.nY) - lit(1))))
    // cogroup kernel, not the rank-1-window join: the join form materializes
    // |pixels|×|soundings| per region and OOMs at ~1M soundings — the global
    // mesh (18000×36000 in production) is exactly where that bites.
    // TRIANGULATE ONCE PER REGION: the kernel (triangulation + aligned
    // values + cubic gradients) is built on the original region key, then
    // the serialized kernel row — not the soundings — replicates per tile
    // through the broadcast keymap (r16 re-built the same 90k-point
    // triangulation once per tile: 12× redundant work on the degenerate
    // band day, which is why it ran 9.5× the normal day instead of ~2×).
    val spark = granule.sparkSession
    import spark.implicits._
    val kernels = graft.operators.LinearInterp.buildKernels(
      sessions, valueCols, cfg.interpMethod)
    val kernelsK = kernels.toDF()
      .join(broadcast(keymap), Seq("region_id"))
      .drop("region_id")
      .withColumnRenamed("rkey", "region_id")
      .as[graft.operators.LinearInterp.RegionKernel]
    val interped = graft.operators.LinearInterp.interpolateKernels(pixels, kernelsK, valueCols)
    val masked   = interped
      // back from tile surrogate to the ORIGINAL region id (first-writer-
      // wins must order by region order, not tile order)
      .withColumnRenamed("region_id", "rkey")
      .join(broadcast(keymap), Seq("rkey"))
      .drop("rkey")
      // one row per region — broadcast by construction (granule-day contract)
      .join(broadcast(attrs), Seq("region_id"))
    // M4 first-writer-wins per global pixel per day
    val w = Window
      .partitionBy(col("time"), col("lat_idx"), col("lon_idx"))
      .orderBy(col("region_id"))
    val first = masked.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
    val stackExpr = valueCols.map(v => s"'$v', $v")
      .mkString(s"stack(${valueCols.size}, ", ", ", ") AS (variable, value)")
    first.select(
      col("time"),
      col("lat_idx"),
      col("lon_idx"),
      col("lat"),
      col("lon"),
      coalesce(TargetCatalog.resolveNumericId(col("target_id")), lit(-1)).as("target_num"),
      TargetCatalog.idTypeCode(col("target_id")).as("target_type"),
      col("operation_mode"),
      expr(stackExpr))
      // sparse long form: outside-hull pixels (NaN under linear/cubic) are
      // absent — same contract as Pipeline.gridInterpMask
      .filter(!isnan(col("value")))
  }

  /** G5: dense all-fill day for export parity (sparse form treats absence
    * as fill, so this is only needed by dense exporters). */
  def emptyDay(
      spark: SparkSession,
      grid: GridSpec,
      day: String,
      variables: Seq[String],
      fill: Double = Double.NaN): DataFrame = {
    import spark.implicits._
    val vars = variables.toDF("variable")
    graft.operators.Grid
      .generate(spark, grid)
      .crossJoin(vars)
      .select(
        to_timestamp(lit(day)).as("time"),
        col("y_idx").as("lat_idx"),
        col("x_idx").as("lon_idx"),
        col("y").as("lat"),
        col("x").as("lon"),
        lit(-1).as("target_num"),
        lit(-1).cast("byte").as("target_type"),
        lit(-1).as("operation_mode"),
        col("variable"),
        lit(fill).as("value"))
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
