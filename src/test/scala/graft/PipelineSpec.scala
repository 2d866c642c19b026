package graft

import org.apache.spark.sql.functions._
import graft.domain.{Pipeline, TargetCatalog}
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
    def targets(df: org.apache.spark.sql.DataFrame) =
      df.select("target_id").distinct().collect().map(_.getString(0)).toSeq
    assert(targets(Pipeline.process(granule, nullLat, cfg)) === Seq("fossil0001"))
    val sessions = Pipeline.qualityFilter(Pipeline.sessionize(granule, cfg), cfg)
    // joined without associate's filter, so the null bound reaches the pass
    val regions = Pipeline.regionSummary(sessions).join(
      nullLat.select("target_id", "min_lon", "max_lon", "min_lat", "max_lat"), "target_id")
    assert(targets(Pipeline.gridInterpMask(regions, sessions, cfg, Seq("xco2"))) ===
      Seq("fossil0001"))
    val fossil = regions.filter(col("target_id") === "fossil0001")
      .select(col("region_id").cast("long")).collect().map(_.getLong(0)).toSet
    val masked = Pipeline.maskPixelsOnRegionGrid(sessions, regions, cfg)
      .select(col("region_id").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(masked.nonEmpty && masked === fossil)
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
    // the slim-payload contract (r13): extra pixel columns must NOT ride
    // the per-pixel explode through the kernel — at the 36000×18000 deploy
    // mesh a pass-through meant a second pixel-sized shuffle join whose
    // only purpose was re-attaching per-region constants
    val pixels = Seq(
      (1L, 0, 0, 10.0, 40.0, "per-region-constant"),
      (1L, 1, 0, 10.5, 40.0, "per-region-constant"),
      (1L, 0, 1, 10.0, 40.5, "per-region-constant")
    ).toDF("region_id", "lon_idx", "lat_idx", "lon", "lat", "extra_payload")
    val soundings = Seq(
      (1L, 0L, 10.0, 40.0, 400.0),
      (1L, 1L, 10.6, 40.1, 401.0)
    ).toDF("region_id", "sounding_index", "longitude", "latitude", "xco2")
    val out = graft.operators.LinearInterp.interpolateKernels(pixels,
      graft.operators.LinearInterp.buildKernels(soundings, Seq("xco2"), "nearest"), Seq("xco2"))
    assert(out.columns.toSeq === Seq("region_id", "lon_idx", "lat_idx", "lon", "lat", "xco2"))
    val got = out.collect().map(r =>
      (r.getAs[Int]("lon_idx"), r.getAs[Int]("lat_idx")) ->
        ((r.getAs[Double]("lon"), r.getAs[Double]("lat")))).toMap
    assert(got === Map(
      (0, 0) -> ((10.0, 40.0)),
      (1, 0) -> ((10.5, 40.0)),
      (0, 1) -> ((10.0, 40.5))))
  }

  test("maskPixelsOnRegionGrid equals the full-grid pixels×footprints mask exactly") {
    // the footprint-driven inversion must keep the EXACT pixel set and
    // bit-identical centers; footprints use a half-width whose scaled
    // bbox lands on grid lines (the boundary-rounding hazard)
    val cfg = Pipeline.Config(gridN = 16, maskScale = 1.2)
    val sessions = Pipeline.qualityFilter(Pipeline.sessionize(granule, cfg), cfg)
    val regions  = TargetCatalog.associate(Pipeline.regionSummary(sessions), catalog)
    val pixels   = Pipeline.regionPixels(regions, cfg)
      .select("region_id", "lon_idx", "lat_idx", "lon", "lat")
    def keySet(df: org.apache.spark.sql.DataFrame) =
      df.select(col("region_id").cast("long"), col("lon_idx"), col("lat_idx"),
        col("lon"), col("lat"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
          java.lang.Double.doubleToLongBits(r.getDouble(3)),
          java.lang.Double.doubleToLongBits(r.getDouble(4)))).toSet
    val oldMask = keySet(
      Pipeline.maskPixels(pixels, sessions, cfg)
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
    val join   = keyed(graft.domain.Pipeline.interpolateNearest(pixels, pts, Seq("xco2")))
    assert(kernel.size === 400)
    assert(kernel === join)
  }

  test("serialized region kernels evaluate bit-identically to the region pass's inline kernel (all methods)") {
    import spark.implicits._
    // the triangulate-once-per-region path (buildKernels →
    // interpolateKernels, what GlobalPipeline shares across an oversized
    // region's tiles) must reproduce the kernel the region pass builds
    // inline (LinearInterp.evaluator) exactly —
    // the kernel survives an encoder round-trip (Tungsten serialization),
    // so every double must come back bit-identical. Two regions: a real
    // triangulation (12 pts, 2 variables) and a 3-point nearest-fallback.
    val rng = new scala.util.Random(5)
    val pts = ((0 until 12).map { i =>
      (1L, i.toLong, 10.0 + rng.nextDouble() * 2, 40.0 + rng.nextDouble() * 2,
        400.0 + rng.nextDouble() * 10, 0.1 + rng.nextDouble())
    } ++ (0 until 3).map { i =>
      (2L, i.toLong, -5.0 + i * 0.3, -45.0 + i * 0.2, 500.0 + i, 0.5)
    }).toDF("region_id", "sounding_index", "longitude", "latitude", "xco2", "xco2_uncertainty")
    val pixels = ((0 until 200).map { k =>
      (1L, k % 20, k / 20, 9.8 + (k % 20) * 0.12, 39.8 + (k / 20) * 0.25)
    } ++ (0 until 20).map { k =>
      (2L, k, 0, -5.2 + k * 0.06, -44.9)
    }).toDF("region_id", "lon_idx", "lat_idx", "lon", "lat")
    val cols = Seq("xco2", "xco2_uncertainty")
    def bits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getAs[Long]("region_id"), r.getAs[Int]("lon_idx"), r.getAs[Int]("lat_idx")) ->
          cols.map(c => java.lang.Double.doubleToLongBits(r.getAs[Double](c)))
      }.toMap
    Seq("nearest", "linear", "cubic").foreach { m =>
      val inline = evalInline(pts, pixels, cols, m)
      val shared = bits(graft.operators.LinearInterp.interpolateKernels(
        pixels, graft.operators.LinearInterp.buildKernels(pts, cols, m), cols))
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
      val pixels   = Pipeline.regionPixels(regions, cfg)
        .select("region_id", "lon_idx", "lat_idx", "lon", "lat")
      val masked   = Pipeline.maskPixels(pixels, sessions, cfg)
        .join(pixels, Seq("region_id", "lon_idx", "lat_idx"))
      val stack    = cols.map(v => s"'$v', $v").mkString("stack(2, ", ", ", ") AS (variable, value)")
      val reference = Pipeline.interpolateNearest(masked, sessions, cols)
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
