package graft

import org.apache.spark.sql.functions._
import graft.domain._
import graft.domain.TargetCatalog.Target
import graft.sources.SyntheticGranule
import graft.sources.SyntheticGranule.sounding

/** OCO-2 (nearest-centroid association), SIF (sequence resolution + 'none'
  * coalescing), and global-product (first-writer-wins annotation) variants.
  */
class MissionVariantsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val catalog = TargetCatalog.toDF(
    spark,
    Seq(
      Target("fossil0001", "Plant A", 10.0, 40.0, 12.0, 42.0),
      Target("volcano0002", "Volcano B", -5.0, -1.0, -3.0, 1.0)))

  test("OCO-2: regions associate to nearest centroid with bbox validity") {
    // region near Plant A's center (11, 41); no target ids in input
    val g = SyntheticGranule.toDF(
      spark,
      (0 until 6).map(i => sounding(i, 40.9 + 0.05 * i, 10.9 + 0.05 * i, mode = 2, target = "")) ++
        // far-away region: nearest is still one of the two targets, but its
        // bbox does not intersect -> dropped (OCO2Processor.py:427-430)
        (6 until 9).map(i => sounding(i, -40.0, 100.0, mode = 2, target = "")))
    val out = Oco2Pipeline.process(g, catalog)
    val targets = out.select("target_id").distinct().collect().map(_.getString(0))
    assert(targets === Array("fossil0001"))
    assert(out.count() > 0)
  }

  test("SIF: sequence lookup resolves targets and 'none' coalesces into runs") {
    val sequences = Seq((0, "fossil0001"), (1, "volcano0002")).toDF("seq_index", "seq_target")
    // soundings: indices [0,-1,0] -> fossil0001 run with interior 'none'
    // that must coalesce, then a volcano0002 run
    val rows = Seq(
      (0L, 41.0, 11.0, 0),
      (1L, 41.1, 11.1, -1),
      (2L, 41.2, 11.2, 0),
      (3L, -0.5, -4.5, 1),
      (4L, -0.4, -4.4, 1)
    ).map { case (i, lat, lon, seq) =>
      (i, lat, lon, 1071878400.0 + i, // ~2023-12 in s-since-1990
        Seq(lat - 0.3, lat - 0.3, lat + 0.3, lat + 0.3),
        Seq(lon - 0.3, lon + 0.3, lon + 0.3, lon - 0.3),
        0, 1.5 + i, 3, seq)
    }.toDF("sounding_index", "latitude", "longitude", "delta_time",
      "vertex_latitude", "vertex_longitude", "quality_flag", "daily_sif",
      "operation_mode", "sequences_index")
    val out = Pipeline.Config(samMode = 3, targetMode = 2)
    val result = SifPipeline.process(rows, sequences, catalog, out)
    val targets = result.select("target_id").distinct().collect().map(_.getString(0)).sorted
    assert(targets === Array("fossil0001", "volcano0002"))
    // the 'none' sounding joined the fossil0001 run: its value appears there
    val fossilVals = result
      .filter(col("target_id") === "fossil0001" && col("variable") === "daily_sif")
      .select("value").distinct().collect().map(_.getDouble(0)).toSet
    assert(fossilVals.subsetOf(Set(1.5, 2.5, 3.5)))
    assert(fossilVals.contains(2.5)) // the coalesced 'none' sounding's value
  }

  test("OCO-2 multi-granule batches sessionize per file (no target key, indexes repeat)") {
    // two files, identical index ranges, Target-mode runs near different
    // catalog targets: a global window would interleave them into one
    // fragmented stream; per-granule windows give one region per file,
    // each nearest-centroid-associated to its own target
    val g = ((0 until 6).map(i =>
      sounding(i, 40.9 + 0.05 * i, 10.9 + 0.05 * i, mode = 2, target = "")) ++
      (0 until 6).map(i =>
        sounding(i, -0.9 + 0.05 * i, -4.9 + 0.05 * i, mode = 2, target = "")))
    val df = SyntheticGranule.toDF(spark, g.take(6)).withColumn("granule_path", lit("A.nc4"))
      .unionByName(SyntheticGranule.toDF(spark, g.drop(6)).withColumn("granule_path", lit("B.nc4")))
    val s = Oco2Pipeline.sessionize(df, Pipeline.Config(), Seq("granule_path"))
    val regions = s.groupBy(col("granule_path"), col("region_id"))
      .agg(count(lit(1)).as("n"))
      .collect()
    assert(regions.length === 2)
    assert(regions.forall(_.getAs[Long]("n") === 6L))
    // region ids are dense per file: both files number their region 0, so
    // only the (granule_path, region_id) pair tells them apart
    assert(regions.map(_.getAs[Long]("region_id")).distinct.length === 1)
    val out = Oco2Pipeline.process(df, catalog)
    assert(out.select("target_id").distinct().collect().map(_.getString(0)).sorted ===
      Array("fossil0001", "volcano0002"))
  }

  test("SIF multi-granule batches sessionize per file — repeated sounding indexes must not interleave") {
    // two files with IDENTICAL sounding_index ranges and their own
    // /Sequences tables: a global window would interleave A,B,A,B by index
    // (fragmenting runs and coalescing 'none' across files); per-granule
    // windows keep each file an independent ordered stream
    val sequences = Seq(
      ("A.nc4", 0, "fossil0001"),
      ("B.nc4", 0, "volcano0002")
    ).toDF("granule_path", "seq_index", "seq_target")
    def rows(path: String, lat0: Double, lon0: Double) = (0 until 3).map { i =>
      val lat = lat0 + 0.05 * i; val lon = lon0 + 0.05 * i
      (i.toLong, lat, lon, 1071878400.0 + i,
        Seq(lat - 0.3, lat - 0.3, lat + 0.3, lat + 0.3),
        Seq(lon - 0.3, lon + 0.3, lon + 0.3, lon - 0.3),
        0, 1.5 + i, 3, 0, path)
    }
    val soundings = (rows("A.nc4", 41.0, 11.0) ++ rows("B.nc4", -0.5, -4.5))
      .toDF("sounding_index", "latitude", "longitude", "delta_time",
        "vertex_latitude", "vertex_longitude", "quality_flag", "daily_sif",
        "operation_mode", "sequences_index", "granule_path")
    val cfg = Pipeline.Config(samMode = 3, targetMode = 2)
    val s = SifPipeline.sessionize(
      SifPipeline.resolveTargets(soundings, sequences), cfg, Seq("granule_path"))
    val regions = s.groupBy(col("granule_path"), col("region_id"))
      .agg(
        min(col("target_id")).as("t"),
        count(lit(1)).as("n"))
      .collect()
    assert(regions.length === 2) // one region per file, not 6 fragments
    assert(regions.forall(_.getAs[Long]("n") === 3L))
    assert(regions.map(_.getAs[Long]("region_id")).distinct.length === 1) // dense per file
    // per-granule sequence resolution: file A's seq 0 != file B's seq 0
    assert(regions.map(_.getAs[String]("t")).sorted === Array("fossil0001", "volcano0002"))
    // end-to-end: both files' products come out of the full pipeline
    val out = SifPipeline.process(soundings, sequences, catalog, cfg)
    assert(out.select("target_id").distinct().collect().map(_.getString(0)).sorted ===
      Array("fossil0001", "volcano0002"))
  }

  test("global product: first-writer-wins annotation on overlapping regions") {
    // two SAM regions over the same area (separated by a non-SAM gap so they
    // sessionize apart), different targets: lower region_id must win
    val g = SyntheticGranule.toDF(
      spark,
      (0 until 4).map(i => sounding(i, 41.0, 11.0 + 0.01 * i, mode = 4, target = "fossil0001", xco2 = 400.0)) ++
        Seq(sounding(4, 0.0, 0.0, mode = 0, target = "x"), sounding(5, 0.0, 0.0, mode = 0, target = "x"), sounding(6, 0.0, 0.0, mode = 0, target = "x")) ++
        (7 until 11).map(i => sounding(i, 41.0, 11.0 + 0.01 * (i - 7), mode = 4, target = "volcano0020", xco2 = 500.0)))
    val out = GlobalPipeline.process(g, GlobalPipeline.DefaultGrid)
    val vals = out.filter(col("variable") === "xco2").select("value").distinct()
      .collect().map(_.getDouble(0)).toSet
    // every overlapping pixel resolves to the first region's value
    assert(vals === Set(400.0))
    val ann = out.select("target_num", "target_type").distinct().collect()
      .map(r => (r.getInt(0), r.getByte(1)))
    assert(ann === Array((1, 1.toByte))) // fossil0001 -> num 1, type fossil=1 (TargetInfo.py TARGET_TYPES)
    // global indices are within the global mesh
    val mx = out.agg(max("lon_idx"), max("lat_idx")).collect()(0)
    assert(mx.getInt(0) < 360 && mx.getInt(1) < 180)
  }

  test("global product keys regions by (granule_path, region_id): granule A's region 0 writes first over B's") {
    // two files whose ONLY region is their local region 0, covering the
    // same global pixels with different targets and values; B is listed
    // first, so neither input order nor a region_id-only key picks A
    def file(path: String, target: String, xco2: Double) =
      SyntheticGranule.toDF(
        spark,
        (0 until 5).map(i => sounding(i, 41.0 + 0.01 * i, 11.0 + 0.01 * i, mode = 4,
          target = target, xco2 = xco2, half = 0.4)))
        .withColumn("granule_path", lit(path))
    val a = file("A.nc4", "fossil0001", 400.0)
    val b = file("B.nc4", "volcano0002", 500.0)
    def pixels(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("variable") === "xco2").select("lat_idx", "lon_idx").collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
    val g      = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    val alone  = Seq(a, b).map(f => pixels(GlobalPipeline.process(f, g)))
    val out    = GlobalPipeline.process(b.unionByName(a), g)
    val shared = alone(0) intersect alone(1)
    assert(shared.nonEmpty)
    assert(pixels(out) === alone(0) ++ alone(1))
    val won = out.filter(col("variable") === "xco2")
      .select("lat_idx", "lon_idx", "value", "target_num", "target_type").collect()
      .filter(r => shared((r.getInt(0), r.getInt(1))))
    assert(won.length === shared.size) // one writer per pixel
    assert(won.forall(r => r.getDouble(2) === 400.0 && r.getInt(3) === 1 && r.getByte(4) === 1.toByte),
      won.mkString(", "))
  }

  test("mission merge unions long forms under a mission column") {
    val a = Seq(("t1", "xco2", 1.0)).toDF("target_id", "variable", "value")
    val b = Seq(("t2", "sif", 2.0)).toDF("target_id", "variable", "value")
    val m = GlobalPipeline.mergeMissions(Map("oco3" -> a, "oco3_sif" -> b))
    assert(m.count() === 2)
    assert(m.select("mission").distinct().count() === 2)
  }

  test("empty-day synthesis produces a dense all-fill mesh") {
    // an absent mission's variable: the store declares its array over the
    // whole 3×3 mesh with a NaN fill and writes no chunk, so every cell
    // reads as fill in any Zarr client (G5, the RunJob path)
    val path = java.nio.file.Files.createTempDirectory("emptyday").toString
    val day  = Seq(("2023-06-15 00:00:00", "xco2", 1, 1, 400.0))
      .toDF("t", "variable", "lat_idx", "lon_idx", "value").withColumn("time", to_timestamp($"t"))
    graft.sinks.ZarrStore.write(day, path, graft.sinks.ZarrStore.GridSpec(3, 3, 0.0, 1.0, 0.0, 1.0),
      ensureVariables = Seq("daily_sif"))
    val za = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "daily_sif", ".zarray")), "UTF-8")
    assert(za.contains("\"shape\": [1, 3, 3]") && za.contains("\"fill_value\": \"NaN\""))
    assert(new java.io.File(path, "daily_sif").listFiles().forall(_.getName.startsWith(".")))
    assert(graft.sinks.ZarrStore.read(spark, path, "daily_sif").count() === 0)
  }

  test("region ceiling guard: an oversized region fails loudly in fail mode, not as a task OOM") {
    val g = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    // two regions: a sane 2°×2°-ish box and a band-sized degenerate one
    val sane = GlobalPipeline.span(10.0, 12.0, 40.0, 42.0, g).get      // ~20×20 cells at 0.1°
    val band = GlobalPipeline.span(-170.0, 150.0, -40.0, -28.0, g).get // ~3200×120 cells = 384k
    assert(sane.area === 400L) // 20×20 (ceil/floor inner-cell rounding)
    assert(band.area === 384000L) // 3200×120
    // default ceiling (32M) is 2+ orders above even the degenerate band
    assert(GlobalPipeline.regionTiles("1", band, GlobalPipeline.tiling(spark)) === Seq(band))
    // with the ceiling below the band's area, fail mode raises a message
    // naming the region and the conf; the sane region alone passes
    spark.conf.set(GlobalPipeline.MaxRegionPixelsConfKey, "100000")
    spark.conf.set(GlobalPipeline.OversizeRegionsConfKey, "fail")
    try {
      val t = GlobalPipeline.tiling(spark)
      val e = intercept[IllegalArgumentException] { GlobalPipeline.regionTiles("1", band, t) }
      assert(e.getMessage.contains("region 1") && e.getMessage.contains("maxRegionPixels"),
        s"unexpected message: ${e.getMessage}")
      assert(graft.streaming.Disposition.nonRetryable(e))
      assert(GlobalPipeline.regionTiles("0", sane, t) === Seq(sane))
    } finally {
      spark.conf.unset(GlobalPipeline.MaxRegionPixelsConfKey)
      spark.conf.unset(GlobalPipeline.OversizeRegionsConfKey)
    }
  }

  test("regionTiles: oversized regions split into disjoint latitude strips covering the extent") {
    val g = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    val sane = GlobalPipeline.span(10.0, 12.0, 40.0, 42.0, g).get      // ~20×20 cells — one tile
    val band = GlobalPipeline.span(-170.0, 150.0, -40.0, -28.0, g).get // ~3200×120 cells = 384k — splits
    spark.conf.set(GlobalPipeline.MaxRegionPixelsConfKey, "100000")
    spark.conf.set(GlobalPipeline.TilePixelsConfKey, "37000") // non-round: exercises ceil remainders
    try {
      val t      = GlobalPipeline.tiling(spark)
      val small  = GlobalPipeline.regionTiles("0", sane, t)
      val strips = GlobalPipeline.regionTiles("1", band, t)
      assert(small === Seq(sane))
      assert(strips.length > 1)
      // the strips are full-width, disjoint, ordered, and exactly cover
      // the window, every strip ≤ the tile target's row count
      assert(strips.forall(s => s.xlo == band.xlo && s.xhi == band.xhi && s.ylo <= s.yhi))
      assert(strips.head.ylo === band.ylo && strips.last.yhi === band.yhi)
      assert(strips.sliding(2).forall {
        case Seq(a, b) => b.ylo == a.yhi + 1
        case _         => true
      })
      assert(strips.forall(_.area <= 37000L + band.width))
    } finally {
      spark.conf.unset(GlobalPipeline.MaxRegionPixelsConfKey)
      spark.conf.unset(GlobalPipeline.TilePixelsConfKey)
    }
  }

  test("regionTiles: pathological tilePixels below the region width clamps to one strip per row") {
    val g = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    val band = GlobalPipeline.span(-170.0, 150.0, -40.0, -28.0, g).get // ~3200×120 cells
    spark.conf.set(GlobalPipeline.MaxRegionPixelsConfKey, "100000")
    spark.conf.set(GlobalPipeline.TilePixelsConfKey, "1") // << region width
    try {
      val strips = GlobalPipeline.regionTiles("1", band, GlobalPipeline.tiling(spark))
      val rows   = strips.map(s => s.yhi - s.ylo + 1)
      // unclamped, ceil(384k / 1) would cut 384k tiles; the cap bounds
      // tiles at the strip count (latitude rows) — one row each
      assert(strips.length <= 121, s"${strips.length} tiles for a 120-row extent")
      assert(rows.forall(_ >= 1))
      assert(rows.sum.toLong === band.rows)
    } finally {
      spark.conf.unset(GlobalPipeline.MaxRegionPixelsConfKey)
      spark.conf.unset(GlobalPipeline.TilePixelsConfKey)
    }
  }

  test("coverCells on the global lattice equals the pixels×footprints mask exactly (incl. on-grid-line bboxes)") {
    val g   = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    val cfg = graft.domain.Pipeline.Config(maskScale = 1.2)
    // footprints whose scaled bboxes land EXACTLY on grid lines (0.1°
    // cells, half-width 0.5° ⇒ 0.6° scaled) — the boundary case where a
    // prefilter rewrite could drift by one cell
    val granule = SyntheticGranule.toDF(
      spark,
      (0 until 8).map(i => sounding(i, 40.0 + 0.1 * i, 10.0 + 0.1 * i, mode = 4,
        target = "fossil0001", half = 0.5)) ++
        Seq(sounding(8, 0.0, 0.0, mode = 0, target = "x")) ++
        (9 until 14).map(i => sounding(i, -0.35 + 0.07 * (i - 9), -4.35 + 0.07 * (i - 9),
          mode = 4, target = "volcano0002", half = 0.33)))
    val sessions = graft.domain.Pipeline.qualityFilter(GlobalPipeline.sessionize(granule, cfg), cfg)
    // each region's extent window, and its pixels exploded test-side with
    // the mesh's linspace centers
    val spans = sessions.groupBy(col("region_id").cast("long"))
      .agg(
        min(array_min(col("vertex_longitude"))), max(array_max(col("vertex_longitude"))),
        min(array_min(col("vertex_latitude"))), max(array_max(col("vertex_latitude"))))
      .collect().map(r => r.getLong(0) ->
        GlobalPipeline.span(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), g).get)
      .toMap
    def center(lo: Double, hi: Double, n: Int, i: Int) = lo + i * ((hi - lo) / (n - 1))
    val pixels = spans.toSeq.flatMap { case (rid, s) =>
      for (x <- s.xlo to s.xhi; y <- s.ylo to s.yhi)
        yield (rid, x, y, center(g.minX, g.maxX, g.nX, x), center(g.minY, g.maxY, g.nY, y))
    }.toDF("region_id", "lon_idx", "lat_idx", "lon", "lat")
    val oldMask = PipelineReference.maskPixels(pixels, sessions, cfg)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val rings = sessions.select(col("region_id").cast("long"), col("vertex_longitude"), col("vertex_latitude"))
      .collect().groupBy(_.getLong(0))
    val newMask = spans.toSeq.flatMap { case (rid, s) =>
      val bits = graft.domain.Pipeline.coverCells(
        rings(rid).iterator.map(r => (r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray)),
        g, s.xlo, s.xhi, s.ylo, s.yhi, cfg.maskScale)
      Iterator.iterate(bits.nextSetBit(0))(c => bits.nextSetBit(c + 1)).takeWhile(_ >= 0)
        .map(c => (rid, s.xlo + c % s.width, s.ylo + c / s.width))
    }.toSet
    assert(oldMask.nonEmpty)
    assert(newMask === oldMask)
  }

  test("oversized-region split: tiled output is pixel-identical to the unsplit run; fail mode still raises") {
    val g = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    // one ~2°×2.2° region (≈ 20×22 cells at 0.1°), enough soundings for a
    // real Delaunay triangulation, plus a second small region for ordering
    val granule = SyntheticGranule.toDF(
      spark,
      (0 until 12).map(i =>
        sounding(i, 40.2 + 0.15 * i, 10.2 + 0.13 * ((i * 5) % 12), mode = 4,
          target = "fossil0001", xco2 = 400.0 + i)) ++
        Seq(sounding(12, 0.0, 0.0, mode = 0, target = "x")) ++
        (13 until 18).map(i =>
          sounding(i, -0.4 + 0.1 * (i - 13), -4.4 + 0.1 * (i - 13), mode = 4,
            target = "volcano0002", xco2 = 500.0)))
    def run(): Seq[String] =
      GlobalPipeline.process(granule, g, graft.domain.Pipeline.Config(method = "linear"))
        .collect().map(_.toString).sorted.toSeq
    val base = run() // default confs: every region is a single tile
    assert(base.nonEmpty)
    // force the first region to split into many strips
    spark.conf.set(GlobalPipeline.MaxRegionPixelsConfKey, "100")
    spark.conf.set(GlobalPipeline.TilePixelsConfKey, "37")
    try {
      assert(run() === base) // pixel-identical: same triangulation per tile
      // fail mode keeps the r15 loud-guard semantics through process()
      spark.conf.set(GlobalPipeline.OversizeRegionsConfKey, "fail")
      val e = intercept[Exception] { run() }
      assert(e.getMessage.contains("maxRegionPixels"), s"unexpected: ${e.getMessage}")
      // raised in the task, it still classifies as a deterministic failure
      assert(graft.streaming.Disposition.nonRetryable(e))
      // and a malformed mode value names the conf key
      spark.conf.set(GlobalPipeline.OversizeRegionsConfKey, "tile")
      val bad = intercept[IllegalArgumentException] { run() }
      assert(bad.getMessage.contains(GlobalPipeline.OversizeRegionsConfKey))
    } finally {
      spark.conf.unset(GlobalPipeline.MaxRegionPixelsConfKey)
      spark.conf.unset(GlobalPipeline.TilePixelsConfKey)
      spark.conf.unset(GlobalPipeline.OversizeRegionsConfKey)
    }
  }
}
