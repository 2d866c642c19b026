package graft

import org.apache.spark.sql.functions._
import graft.domain.{Oco2Pipeline, Pipeline, SifPipeline, TargetCatalog}
import graft.domain.TargetCatalog.Target
import graft.sources.SyntheticGranule
import graft.sources.SyntheticGranule.sounding

/** End-to-end domain pipeline over a synthetic granule (FIXTURES §A1
  * scenarios 3, 4 plus the happy path). */
class PipelineSpec extends SparkSpec {

  private lazy val catalog = TargetCatalog.toDF(
    spark,
    Seq(
      Target("fossil0001", "Plant A", 10.0, 40.0, 12.0, 42.0),
      Target("volcano0002", "Volcano B", -5.0, -1.0, -3.0, 1.0)))

  private lazy val granule = SyntheticGranule.toDF(
    spark,
    // region 1: SAM on fossil0001, 5 good soundings clustered in-bbox
    (0 until 5).map(i => sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = "fossil0001", xco2 = 400.0 + i)) ++
      // nadir gap (not a kept mode)
      Seq(sounding(5, 0.0, 0.0, mode = 0, target = "Missing")) ++
      // region 2: Target mode on volcano0002
      (6 until 10).map(i => sounding(i, -0.5 + 0.2 * (i - 6), -4.5 + 0.2 * (i - 6), mode = 2, target = "volcano0002", xco2 = 410.0 + i)) ++
      // scenario 3: region with every sounding bad-quality → dropped
      (10 until 13).map(i => sounding(i, 41.0, 11.0, mode = 4, target = "fossil0001", qf = 1)) ++
      // scenario 4: target absent from catalog → dropped at association
      (13 until 16).map(i => sounding(i, 50.0, 50.0, mode = 4, target = "tccon9999")))

  /** An OCO-2 granule (no target ids): a Target-mode capture around
    * fossil0001's center, a nadir gap, one around volcano0002's. */
  private lazy val oco2Granule = SyntheticGranule.toDF(
    spark,
    (0 until 5).map(i => sounding(i, 40.9 + 0.05 * i, 10.9 + 0.05 * i, mode = 2, target = "")) ++
      (5 until 9).map(i => sounding(i, 0.0, 0.0, mode = 0, target = "")) ++
      (9 until 13).map(i => sounding(i, -0.5 + 0.1 * (i - 9), -4.5 + 0.1 * (i - 9), mode = 2, target = "")))

  /** SIF soundings and their sequences table: a SAM run on fossil0001, one
    * on volcano0002. */
  private lazy val (sifSoundings, sifSequences) = {
    import spark.implicits._
    val rows = Seq((0L, 41.0, 11.0, 0), (1L, 41.1, 11.1, 0), (2L, -0.5, -4.5, 1), (3L, -0.4, -4.4, 1))
      .map { case (i, lat, lon, seq) =>
        (i, lat, lon, 1071878400.0 + i, Seq(lat - 0.3, lat - 0.3, lat + 0.3, lat + 0.3),
          Seq(lon - 0.3, lon + 0.3, lon + 0.3, lon - 0.3), 0, 1.5 + i, 3, seq)
      }.toDF("sounding_index", "latitude", "longitude", "delta_time", "vertex_latitude",
        "vertex_longitude", "quality_flag", "daily_sif", "operation_mode", "sequences_index")
    (rows, Seq((0, "fossil0001"), (1, "volcano0002")).toDF("seq_index", "seq_target"))
  }

  private val sifCfg = Pipeline.Config(samMode = 3, targetMode = 2, gridN = 8)

  private def targetsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("target_id").distinct().collect().map(_.getString(0)).toSeq.sorted

  /** The region pass's inline kernel (LinearInterp.evaluator) over each
    * region's points in sounding_index order, evaluated at every pixel of
    * that region: (region_id, lon_idx, lat_idx) → value bits per column. */
  private def evalInline(
      pts: org.apache.spark.sql.DataFrame, pixels: org.apache.spark.sql.DataFrame,
      cols: Seq[String], method: String): Map[(Long, Int, Int), Seq[Long]] = {
    val byRegion = pts.collect().groupBy(_.getAs[Long]("region_id")).map { case (rid, rs) =>
      val s = rs.sortBy(_.getAs[Long]("sounding_index"))
      rid -> graft.operators.LinearInterp.evaluator(
        s.map(_.getAs[Double]("longitude")), s.map(_.getAs[Double]("latitude")),
        cols.map(c => s.map(_.getAs[Double](c))).toArray, method)
    }
    pixels.collect().flatMap { p =>
      val rid = p.getAs[Long]("region_id")
      byRegion.get(rid).map { ev =>
        (rid, p.getAs[Int]("lon_idx"), p.getAs[Int]("lat_idx")) ->
          ev.eval(p.getAs[Double]("lon"), p.getAs[Double]("lat"))
            .map(java.lang.Double.doubleToLongBits).toSeq
      }
    }.toMap
  }

  test("pipeline produces masked long-form output for valid regions only") {
    val out = Pipeline.process(granule, catalog, Pipeline.Config(gridN = 8)).cache()
    val targets = out.select("target_id").distinct().collect().map(_.getString(0)).sorted
    assert(targets === Array("fossil0001", "volcano0002"))
    // two variables per masked pixel
    val vars = out.select("variable").distinct().collect().map(_.getString(0)).sorted
    assert(vars === Array("xco2", "xco2_uncertainty"))
    // every xco2 value must equal one of the region's sounding values
    // (nearest interpolation reproduces inputs exactly at sample points)
    val xs = out.filter(col("variable") === "xco2" && col("target_id") === "fossil0001")
      .select("value").distinct().collect().map(_.getDouble(0)).toSet
    assert(xs.nonEmpty && xs.subsetOf((0 until 5).map(400.0 + _).toSet))
    assert(out.count() > 0)
  }

  test("all-bad-quality region contributes nothing (scenario 3)") {
    // isolate: granule with ONLY the bad region
    val g = SyntheticGranule.toDF(
      spark,
      (0 until 3).map(i => sounding(i, 41.0, 11.0, mode = 4, target = "fossil0001", qf = 1)))
    assert(Pipeline.process(g, catalog).count() === 0)
  }

  test("unknown target dropped at catalog association (scenario 4)") {
    val g = SyntheticGranule.toDF(
      spark,
      (0 until 3).map(i => sounding(i, 50.0, 50.0, mode = 4, target = "tccon9999")))
    assert(Pipeline.process(g, catalog).count() === 0)
  }

  test("a catalog row with a null latitude bound yields no pixels, and the batch still runs") {
    // volcano0002 keeps its lon bounds but loses min_lat: every caller of
    // the region pass drops that region and keeps fossil0001's
    val nullLat = catalog.withColumn("min_lat",
      when(col("target_id") =!= "volcano0002", col("min_lat")))
    val cfg = Pipeline.Config(gridN = 8)
    assert(targetsOf(Pipeline.process(granule, nullLat, cfg)) === Seq("fossil0001"))
    // OCO-2: volcano0002's center is unknown, so its region's nearest
    // target is fossil0001, whose bbox it misses; SIF: as the target path
    assert(targetsOf(Oco2Pipeline.process(oco2Granule, catalog, cfg)) === Seq("fossil0001", "volcano0002"))
    assert(targetsOf(Oco2Pipeline.process(oco2Granule, nullLat, cfg)) === Seq("fossil0001"))
    assert(targetsOf(SifPipeline.process(sifSoundings, sifSequences, catalog, sifCfg)) ===
      Seq("fossil0001", "volcano0002"))
    assert(targetsOf(SifPipeline.process(sifSoundings, sifSequences, nullLat, sifCfg)) === Seq("fossil0001"))
    val sessions = Pipeline.qualityFilter(Pipeline.sessionize(granule, cfg), cfg)
    // joined without associate's filter, so the null bound reaches the mask
    val regions = Pipeline.regionSummary(sessions).join(
      nullLat.select("target_id", "min_lon", "max_lon", "min_lat", "max_lat"), "target_id")
    val fossil = regions.filter(col("target_id") === "fossil0001")
      .select(col("region_id").cast("long")).collect().map(_.getLong(0)).toSet
    val masked = Pipeline.maskPixelsOnRegionGrid(sessions, regions, cfg)
      .select(col("region_id").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(masked.nonEmpty && masked === fossil)
  }

  test("a catalog that repeats a target_id is rejected when the pipeline is planned") {
    // an inner join on a repeated id would grid every sounding of that
    // target twice; each target-grid pipeline refuses the catalog instead
    val dup = catalog.unionByName(catalog.filter(col("target_id") === "fossil0001"))
    val calls = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "Pipeline" -> (() => Pipeline.process(granule, dup)),
      "Oco2Pipeline" -> (() => Oco2Pipeline.process(oco2Granule, dup)),
      "SifPipeline" -> (() => SifPipeline.process(sifSoundings, sifSequences, dup, sifCfg)))
    for ((name, call) <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("fossil0001"), s"$name: ${e.getMessage}")
    }
  }

  test("linear method interpolates within hull and falls back to nearest for tiny regions") {
    val out = Pipeline.process(granule, catalog, Pipeline.Config(gridN = 8, method = "linear")).cache()
    assert(out.count() > 0)
    // linear interpolation stays within the region's value bounds
    val xs = out
      .filter(col("variable") === "xco2" && col("target_id") === "fossil0001")
      .select("value").collect().map(_.getDouble(0))
    assert(xs.forall(v => v >= 400.0 - 1e-9 && v <= 404.0 + 1e-9))
    // a 3-point region (< 4) uses the nearest fallback and still produces output
    val tiny = SyntheticGranule.toDF(
      spark,
      (0 until 3).map(i => sounding(i, 41.0 + 0.2 * i, 11.0 + 0.2 * i, mode = 4, target = "fossil0001", xco2 = 400.0 + i)))
    val tinyOut = Pipeline.process(tiny, catalog, Pipeline.Config(gridN = 8, method = "linear"))
    assert(tinyOut.filter(col("variable") === "xco2").count() > 0)
    // cubic path runs end-to-end and reproduces the constant-uncertainty
    // field exactly (cubic of constant data is constant)
    val cub = Pipeline.process(granule, catalog, Pipeline.Config(gridN = 8, method = "cubic"))
    val unc = cub.filter(col("variable") === "xco2_uncertainty")
      .select("value").distinct().collect().map(_.getDouble(0))
    assert(unc.length === 1 && math.abs(unc(0) - 0.5) < 1e-9)
  }

  test("pre-QF branch keeps regions that have at least one good sounding") {
    val g = SyntheticGranule.toDF(
      spark,
      Seq(
        sounding(0, 41.0, 11.0, mode = 4, target = "fossil0001", qf = 0),
        sounding(1, 41.1, 11.1, mode = 4, target = "fossil0001", qf = 1)))
    val sess = Pipeline.qualityFilter(
      Pipeline.sessionize(g, Pipeline.Config()),
      Pipeline.Config(qfFilter = false))
    // both rows survive (region guard passes), including the bad one
    assert(sess.count() === 2)
  }

  test("interpolate emits a self-contained slim payload: kernel-emitted coords, no pass-through") {
    import spark.implicits._
    import graft.domain.GlobalPipeline
    // the slim-payload contract (r13): a tile carries its region's
    // annotations once and its covered cells as bare mesh indexes — the
    // cell coordinates are computed where the kernel evaluates them, so
    // nothing per-cell rides the tile exchange but two ints
    val g = graft.operators.Grid.GridSpec(0.0, 20.0, 41, 30.0, 50.0, 41) // 0.5° cells
    val kernel = graft.operators.LinearInterp.mkKernel(
      1L, Array(10.0, 10.6), Array(40.0, 40.1), Array(Array(400.0, 401.0)), "nearest")
    val tile = GlobalPipeline.Tile("A.nc4", 1L, 0, Some(0L), Some(4), "fossil0001", kernel,
      Array(20, 21, 20), Array(20, 20, 21))
    assert(spark.createDataset(Seq(tile)).columns.toSeq === Seq("granule", "region_id", "tile",
      "day", "operation_mode", "target_id", "kernel", "lon_idx", "lat_idx"))
    val out = spark.createDataset(Seq(tile)).flatMap(GlobalPipeline.evalTile(_, g)).collect()
    val got = out.map(p => (p.lon_idx, p.lat_idx) -> ((p.lon, p.lat, p.values.toSeq))).toMap
    assert(got === Map(
      (20, 20) -> ((10.0, 40.0, Seq(400.0))),
      (21, 20) -> ((10.5, 40.0, Seq(401.0))),
      (20, 21) -> ((10.0, 40.5, Seq(400.0)))))
    assert(out.forall(p => p.granule == "A.nc4" && p.region_id == 1L && p.target_id == "fossil0001"))
  }

  test("maskPixelsOnRegionGrid equals the full-grid pixels×footprints mask exactly") {
    // the footprint-driven inversion must keep the EXACT pixel set and
    // bit-identical centers; footprints use a half-width whose scaled
    // bbox lands on grid lines (the boundary-rounding hazard)
    val cfg = Pipeline.Config(gridN = 16, maskScale = 1.2)
    val sessions = Pipeline.qualityFilter(Pipeline.sessionize(granule, cfg), cfg)
    val regions  = TargetCatalog.associate(Pipeline.regionSummary(sessions), catalog)
    val pixels   = PipelineReference.regionPixels(regions, cfg)
      .select("region_id", "lon_idx", "lat_idx", "lon", "lat")
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("region_id").cast("long"), col("lon_idx"), col("lat_idx"),
        col("lon"), col("lat"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)),
          java.lang.Double.doubleToLongBits(r.getDouble(4)))).toSet
    val oldMask = keySet(
      PipelineReference.maskPixels(pixels, sessions, cfg)
        .join(pixels, Seq("region_id", "lon_idx", "lat_idx")))
    val newMask = keySet(Pipeline.maskPixelsOnRegionGrid(sessions, regions, cfg))
    assert(oldMask.nonEmpty)
    assert(newMask === oldMask) // exact, incl. bit-level lon/lat centers
  }

  test("grid-indexed nearest kernel equals the rank-1 join form exactly (incl. distance ties)") {
    import spark.implicits._
    // the kernel's nearest path now runs a point-grid ring search instead
    // of a per-pixel linear scan — the argmin (ties → lowest
    // sounding_index) must be bit-identical to the independent
    // window-join implementation. Points include EXACT duplicates
    // (distance ties) and a clustered blob far from some queries (the
    // ring search's worst case).
    val rng = new scala.util.Random(11)
    val pts = (0 until 500).map { i =>
      if (i >= 490) (1L, (i - 490).toLong + 500, 10.123, 40.456, 600.0 + i) // 10 coincident points
      else (1L, i.toLong, 10.0 + rng.nextDouble(), 40.0 + rng.nextDouble(), 400.0 + i)
    }.toDF("region_id", "sounding_index", "longitude", "latitude", "xco2")
    val pixels = (0 until 400).map { k =>
      (1L, k % 20, k / 20, 9.5 + (k % 20) * 0.1, 39.5 + (k / 20) * 0.1)
    }.toDF("region_id", "lon_idx", "lat_idx", "lon", "lat")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select("lon_idx", "lat_idx", "xco2").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val kernel = evalInline(pts, pixels, Seq("xco2"), "nearest").map { case ((_, x, y), v) =>
      (x, y) -> java.lang.Double.longBitsToDouble(v.head)
    }
    val join   = keyed(PipelineReference.interpolateNearest(pixels, pts, Seq("xco2")))
    assert(kernel.size === 400)
    assert(kernel === join)
  }

  test("serialized region kernels evaluate bit-identically to the region pass's inline kernel (all methods)") {
    import spark.implicits._
    import graft.domain.GlobalPipeline
    // the triangulate-once-per-region path (the serialized kernel a global
    // region's tiles share, evaluated per tile by GlobalPipeline.evalTile)
    // must reproduce the kernel the target region pass builds inline
    // (LinearInterp.evaluator) exactly — the kernel survives the tile's
    // encoder round trip, so every double must come back bit-identical.
    // Two regions: a real triangulation (12 pts, 2 variables) and a
    // 3-point nearest-fallback.
    val rng = new scala.util.Random(5)
    val pts = ((0 until 12).map { i =>
      (1L, i.toLong, 10.0 + rng.nextDouble() * 2, 40.0 + rng.nextDouble() * 2,
        400.0 + rng.nextDouble() * 10, 0.1 + rng.nextDouble())
    } ++ (0 until 3).map { i =>
      (2L, i.toLong, -5.0 + i * 0.3, -45.0 + i * 0.2, 500.0 + i, 0.5)
    }).toDF("region_id", "sounding_index", "longitude", "latitude", "xco2", "xco2_uncertainty")
    // a 0.1° × 0.25° mesh; region 1 evaluates a 20×10 block, region 2 a row
    val g = graft.operators.Grid.GridSpec(-6.0, 14.0, 201, -46.0, 44.0, 361)
    val cells = Map(
      1L -> (for (y <- 343 until 353; x <- 158 until 178) yield (x, y)),
      2L -> (8 until 28).map(x => (x, 4)))
    def center(lo: Double, hi: Double, n: Int, i: Int) = lo + i * ((hi - lo) / (n - 1))
    val pixels = cells.toSeq.flatMap { case (rid, cs) =>
      cs.map { case (x, y) => (rid, x, y, center(g.minX, g.maxX, g.nX, x), center(g.minY, g.maxY, g.nY, y)) }
    }.toDF("region_id", "lon_idx", "lat_idx", "lon", "lat")
    val cols = Seq("xco2", "xco2_uncertainty")
    Seq("nearest", "linear", "cubic").foreach { m =>
      val inline = evalInline(pts, pixels, cols, m)
      val tiles  = pts.collect().groupBy(_.getAs[Long]("region_id")).toSeq.map { case (rid, rs) =>
        val r  = rs.sortBy(_.getAs[Long]("sounding_index"))
        val k  = graft.operators.LinearInterp.mkKernel(rid, r.map(_.getAs[Double]("longitude")),
          r.map(_.getAs[Double]("latitude")), cols.map(c => r.map(_.getAs[Double](c))).toArray, m)
        val cs = cells(rid)
        GlobalPipeline.Tile("", rid, 0, None, None, null, k, cs.map(_._1).toArray, cs.map(_._2).toArray)
      }
      val shared = spark.createDataset(tiles).flatMap(GlobalPipeline.evalTile(_, g)).collect()
        .map(p => (p.region_id, p.lon_idx, p.lat_idx) -> p.values.toSeq.map(java.lang.Double.doubleToLongBits))
        .toMap
      assert(inline.nonEmpty)
      assert(shared === inline, s"method=$m")
    }
  }

  test("process equals the relational composition bit for bit, keyed per granule, both QF modes") {
    // the region pass replaces regionSummary → associate → regionPixels →
    // mask → rank-1 join → stack; those pieces stay as the reference. Two
    // granules share sounding indexes and region ids, so a pass keyed on
    // region_id alone would merge their regions and change the values.
    val other = SyntheticGranule.toDF(
      spark,
      (0 until 5).map(i => sounding(i, 41.05 + 0.1 * i, 10.95 + 0.1 * i, mode = 4,
        target = "fossil0001", xco2 = 500.0 + i, qf = i % 2, day = "2023-06-16")) ++
        (6 until 10).map(i => sounding(i, -0.45 + 0.2 * (i - 6), -4.45 + 0.2 * (i - 6), mode = 2,
          target = "volcano0002", xco2 = 510.0 + i, half = 0.35)))
    val g = granule.withColumn("granule_path", lit("oco3_A.nc"))
      .unionByName(other.withColumn("granule_path", lit("oco3_B.nc")))
    val cols = Seq("xco2", "xco2_uncertainty")
    for (qf <- Seq(true, false)) {
      val cfg      = Pipeline.Config(gridN = 16, maskScale = 1.2, qfFilter = qf)
      val sessions = Pipeline.qualityFilter(Pipeline.sessionizePerGranule(g, cfg, "granule_path"), cfg)
      val regions  = TargetCatalog.associate(Pipeline.regionSummary(sessions), catalog)
      val pixels   = PipelineReference.regionPixels(regions, cfg)
        .select("region_id", "lon_idx", "lat_idx", "lon", "lat")
      val masked   = PipelineReference.maskPixels(pixels, sessions, cfg)
        .join(pixels, Seq("region_id", "lon_idx", "lat_idx"))
      val stack    = cols.map(v => s"'$v', $v").mkString("stack(2, ", ", ", ") AS (variable, value)")
      val reference = PipelineReference.interpolateNearest(masked, sessions, cols)
        .join(regions.select("region_id", "target_id", "time"), "region_id")
        .select(col("target_id"), col("time"), col("lat_idx"), col("lon_idx"), col("lat"),
          col("lon"), expr(stack))
        .filter(!isnan(col("value")))
      val got = Pipeline.process(g, catalog, cfg)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("target_id"), col("time").cast("string"), col("lat_idx"), col("lon_idx"),
          col("lat"), col("lon"), col("variable"), col("value"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
            java.lang.Double.doubleToLongBits(r.getDouble(4)),
            java.lang.Double.doubleToLongBits(r.getDouble(5)), r.getString(6),
            java.lang.Double.doubleToLongBits(r.getDouble(7)))).toSeq.sorted
      assert(got.columns.toSeq === reference.columns.toSeq)
      val want = rows(reference)
      assert(want.map(_._2).distinct.size === 2, s"qfFilter=$qf: both granule days present")
      assert(rows(got) === want, s"qfFilter=$qf")
    }
  }

  test("Oco2Pipeline.process equals its relational composition bit for bit, both QF modes") {
    import graft.operators.Sessionize
    import org.apache.spark.sql.expressions.Window
    // the reference association: the region aggregate (centroid = avg,
    // bbox = min/max), a hypot argmin over the target centers with the
    // smaller target_id winning a tie, and the bbox-intersects validity
    // filter; then the relational grid, mask and rank-1 interpolation.
    // Region ids are made global for the reference's region_id joins.
    val cat = TargetCatalog.toDF(spark, Seq(
      Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0),
      Target("volcano0002", "B", -5.0, -1.0, -3.0, 1.0),
      // centers (15, 21) and (11, 21): a centroid at (13, 21) ties them
      Target("tie0010", "C", 13.0, 20.0, 17.0, 22.0),
      Target("tie0009", "D", 9.0, 20.0, 13.0, 22.0),
      // nearest to (30.2, 21.2) but missed by its bbox; the second nearest
      // would intersect, and must not be taken
      Target("far0001", "E", 30.5, 20.0, 31.5, 22.0),
      Target("wide0001", "F", 20.0, 10.0, 30.1, 32.0)))
    def at(i: Int, lat: Double, lon: Double, qf: Int = 0, day: String = "2023-06-15") =
      sounding(i, lat, lon, mode = 2, target = "", qf = qf, xco2 = 400.0 + i, day = day)
    def gap(from: Int) = (from until from + 4).map(i => sounding(i, 0.0, 0.0, mode = 0, target = ""))
    val a = (0 until 6).map(i => at(i, 40.8 + 0.08 * i, 10.8 + 0.07 * i, qf = i % 3 / 2)) ++ gap(6) ++
      Seq(at(10, 20.5, 12.5), at(11, 21.5, 13.5), at(12, 20.75, 12.75), at(13, 21.25, 13.25)) ++ gap(14) ++
      (18 until 23).map(i => at(i, 21.0 + 0.1 * (i - 18), 30.0 + 0.1 * (i - 18)))
    val b = (0 until 5).map(i => at(i, -0.6 + 0.15 * i, -4.6 + 0.1 * i, qf = i % 2, day = "2023-06-16")) ++
      gap(5) ++ (9 until 14).map(i => at(i, 41.3 - 0.1 * (i - 9), 11.2 + 0.05 * (i - 9), day = "2023-06-16")) ++
      gap(14) ++ (18 until 21).map(i => at(i, 41.0, 11.0, qf = 1, day = "2023-06-16"))
    val g = SyntheticGranule.toDF(spark, a).withColumn("granule_path", lit("oco2_A.nc4"))
      .unionByName(SyntheticGranule.toDF(spark, b).withColumn("granule_path", lit("oco2_B.nc4")))
    val cols  = Seq("xco2", "xco2_uncertainty")
    val stack = cols.map(v => s"'$v', $v").mkString("stack(2, ", ", ", ") AS (variable, value)")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("target_id"), col("time").cast("string"), col("lat_idx"), col("lon_idx"),
        col("lat"), col("lon"), col("variable"), col("value"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
          java.lang.Double.doubleToLongBits(r.getDouble(4)),
          java.lang.Double.doubleToLongBits(r.getDouble(5)), r.getString(6),
          java.lang.Double.doubleToLongBits(r.getDouble(7)))).toSeq.sorted
    for (qf <- Seq(true, false)) {
      val cfg      = Pipeline.Config(gridN = 16, maskScale = 1.2, qfFilter = qf)
      val sessions = Pipeline.qualityFilter(Sessionize.globalizeRegionIds(
        Oco2Pipeline.sessionize(g, cfg, Seq("granule_path")), "granule_path"), cfg).drop("target_id")
      val geo = sessions.groupBy("region_id").agg(
        date_trunc("day", min(col("time"))).as("time"),
        avg(col("latitude")).as("c_lat"), avg(col("longitude")).as("c_lon"),
        min(col("latitude")).as("r_min_lat"), max(col("latitude")).as("r_max_lat"),
        min(col("longitude")).as("r_min_lon"), max(col("longitude")).as("r_max_lon"))
      val byDist = Window.partitionBy("region_id").orderBy(col("d"), col("target_id"))
      val regions = geo.crossJoin(cat.drop("name"))
        .withColumn("d", hypot(col("c_lon") - (col("min_lon") + col("max_lon")) / 2,
          col("c_lat") - (col("min_lat") + col("max_lat")) / 2))
        .withColumn("_rn", row_number().over(byDist))
        .filter(col("_rn") === 1 &&
          col("r_min_lon") <= col("max_lon") && col("r_max_lon") >= col("min_lon") &&
          col("r_min_lat") <= col("max_lat") && col("r_max_lat") >= col("min_lat"))
        .select("region_id", "target_id", "time", "min_lon", "max_lon", "min_lat", "max_lat")
      val pixels = PipelineReference.regionPixels(regions, cfg).select("region_id", "lon_idx", "lat_idx", "lon", "lat")
      val masked = PipelineReference.maskPixels(pixels, sessions, cfg).join(pixels, Seq("region_id", "lon_idx", "lat_idx"))
      val reference = PipelineReference.interpolateNearest(masked, sessions, cols)
        .join(regions.select("region_id", "target_id", "time"), "region_id")
        .select(col("target_id"), col("time"), col("lat_idx"), col("lon_idx"), col("lat"),
          col("lon"), expr(stack))
        .filter(!isnan(col("value")))
      val want = rows(reference)
      assert(want.map(_._1).distinct.sorted === Seq("fossil0001", "tie0009", "volcano0002"), s"qfFilter=$qf")
      assert(want.map(_._2).distinct.size === 2, s"qfFilter=$qf: both granule days present")
      assert(rows(Oco2Pipeline.process(g, cat, cfg)) === want, s"qfFilter=$qf")
    }
  }

  test("the serialized region kernel keeps the sliver repair: DelaunaySpec's layouts round-trip exactly") {
    import spark.implicits._
    import scala.collection.mutable.ArrayBuffer
    import graft.functions.Delaunay
    import graft.operators.LinearInterp
    // a RegionKernel that drops nnVerts/nnRadius evaluates AT and NEAR a
    // sliver-only vertex through the plain triangle walk, which never saw
    // that sample; after an encoder round trip (as GlobalPipeline ships
    // kernels to its tiles) it must still equal the original triangulation
    val sx = Array(0.0, 1.0, 0.0, 2.0)
    val sy = Array(0.0, 0.0, 1.0, 0.0)
    val stris = ArrayBuffer(Array(0, 1, 2))
    val snn = Delaunay.repairCoverage(sx, sy, 4, stris)
    assert(snn.nonEmpty)
    val spike = Delaunay.Triangulation(sx, sy, Array(0, 1, 2, 3), stris.toArray, snn, Array(0.5))
    val px = Array(0.0, 2.0, 0.0, 2.0, 1.0)
    val py = Array(0.0, 0.0, 2.0, 2.0, 0.0)
    val overlap = Delaunay.Triangulation(px, py, Array(0, 1, 2, 3, 4),
      Array(Array(0, 1, 2), Array(1, 3, 2), Array(0, 1, 4)), Array(4), Array(0.5))
    val cases = Seq(
      (spike, Array(10.0, 20.0, 30.0, 99.0), Seq((2.0, 0.0), (1.9, 0.01), (1.8, 0.02), (0.25, 0.25))),
      (overlap, Array(0.0, 0.0, 0.0, 0.0, 10.0), Seq((1.0, 0.0), (1.0, 0.1), (0.9, 0.05), (1.0, 0.5))))
    for ((tri, vals, queries) <- cases; method <- Seq("linear", "cubic")) {
      val kernel = Seq(LinearInterp.kernelOf(1L, tri, Array(vals), method)).toDS().collect().head
      val ev = new LinearInterp.KernelEval(kernel)
      val grads = Delaunay.estimateGradients(tri, vals)
      queries.foreach { case (qx, qy) =>
        val want =
          if (method == "cubic") Delaunay.interpolateCubic(tri, vals, grads, qx, qy)
          else Delaunay.interpolateLinear(tri, vals, qx, qy)
        val got = ev.eval(qx, qy).head
        assert(java.lang.Double.doubleToLongBits(got) === java.lang.Double.doubleToLongBits(want),
          s"$method at ($qx, $qy): kernel $got, triangulation $want")
      }
    }
  }
}
