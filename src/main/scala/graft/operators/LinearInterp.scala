package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.functions.Delaunay

/** Region-grouped linear (Delaunay/barycentric) scatter→grid interpolation —
  * the reference's production method (`griddata(method='linear')`,
  * SURVEY G3 / §2.10 kernel 1), with the reference's `< 4 points → nearest`
  * fallback (`OCO3SamProcessor.py:150-159`; also used when the point set is
  * degenerate, where scipy would raise).
  *
  * One region's points build one kernel (triangulation, aligned values,
  * cubic gradients), reused for every pixel and variable of the region.
  * `Pipeline`'s region pass builds it inline ([[evaluator]]); the global
  * product serializes it ([[buildKernels]]) so the tiles of an oversized
  * region share one build ([[interpolateKernels]]).
  */
object LinearInterp {

  final case class PixelIn(region_id: Long, lon_idx: Int, lat_idx: Int, lon: Double, lat: Double)
  final case class PointIn(region_id: Long, sounding_index: Long, px: Double, py: Double, values: Seq[Double])
  final case class PixelOut(
      region_id: Long, lon_idx: Int, lat_idx: Int, lon: Double, lat: Double, values: Seq[Double])

  /** A region's interpolation state, SERIALIZED — triangulation (or raw
    * points for the nearest fallback), per-variable aligned values, and
    * (cubic) per-variable gradients. Built ONCE per region by
    * [[buildKernels]] and shared across every tile of an oversized region:
    * the r16 tile split re-ran the full Delaunay build per tile (a 12-tile
    * band day triangulated the same 90k points 12×, making the band day
    * 9.5× the normal-day wall instead of ~2×). `tri` empty ⇒ nearest
    * fallback on the raw point arrays; `gx` non-empty ⇒ cubic.
    * `nnVerts`/`nnRadius` carry the triangulation's sliver repair
    * ([[Delaunay.Triangulation]]): without them the evaluator walks past
    * the exact match and near-sliver blend. */
  final case class RegionKernel(
      region_id: Long,
      px: Array[Double],
      py: Array[Double],
      tri: Array[Int],            // flattened index triples into px/py
      vals: Array[Array[Double]], // one array per value column, aligned to px/py
      gx: Array[Array[Double]],   // cubic only: per-variable gradient x
      gy: Array[Array[Double]],
      nnVerts: Array[Int],
      nnRadius: Array[Double])

  /** Kernel construction from one region's points, in sounding-index
    * order: `perVar(v)` holds variable v aligned to `xs`/`ys`. */
  private def mkKernel(
      rid: Long, xs: Array[Double], ys: Array[Double], perVar: Array[Array[Double]],
      method: String): RegionKernel = {
    val triOpt =
      if (method != "nearest" && xs.length >= 4) Delaunay.triangulate(xs, ys) else None
    triOpt match {
      case Some(t) => kernelOf(rid, t, perVar, method)
      case None =>
        // nearest fallback evaluates over the FULL point arrays (exact
        // duplicates included): argmin ties break to the lowest
        // sounding_index, which dedup would re-order
        RegionKernel(rid, xs, ys, Array.empty, perVar, Array.empty, Array.empty,
          Array.empty, Array.empty)
    }
  }

  /** The serialized form of a triangulation over `perVar` (values per
    * ORIGINAL point, aligned here to the deduplicated vertices). */
  private[graft] def kernelOf(
      rid: Long, t: Delaunay.Triangulation, perVar: Array[Array[Double]],
      method: String): RegionKernel = {
    val aligned = perVar.map(t.alignValues)
    val flat    = new Array[Int](t.triangles.length * 3)
    var i = 0
    while (i < t.triangles.length) {
      val tr = t.triangles(i)
      flat(3 * i) = tr(0); flat(3 * i + 1) = tr(1); flat(3 * i + 2) = tr(2)
      i += 1
    }
    val (gxs, gys) =
      if (method == "cubic") {
        val g = aligned.map(Delaunay.estimateGradients(t, _))
        (g.map(_.map(_._1)), g.map(_.map(_._2)))
      } else (Array.empty[Array[Double]], Array.empty[Array[Double]])
    RegionKernel(rid, t.px, t.py, flat, aligned, gxs, gys, t.nnVerts, t.nnRadius)
  }

  /** The evaluator of one region's points (sounding-index order), built
    * in the calling task without a serialization step. */
  private[graft] def evaluator(
      xs: Array[Double], ys: Array[Double], perVar: Array[Array[Double]],
      method: String): KernelEval =
    new KernelEval(mkKernel(0L, xs, ys, perVar, method))

  /** Per-task evaluator over a (possibly deserialized) [[RegionKernel]] —
    * rebuilds the lazy triangle/point indexes once, then evaluates pixels. */
  private[graft] final class KernelEval(k: RegionKernel) {
    private val nVars = k.vals.length
    private val triOpt: Option[Delaunay.Triangulation] =
      if (k.tri.isEmpty) None
      else Some(Delaunay.Triangulation(
        k.px, k.py, Array.tabulate(k.px.length)(identity),
        Array.tabulate(k.tri.length / 3)(i =>
          Array(k.tri(3 * i), k.tri(3 * i + 1), k.tri(3 * i + 2))),
        k.nnVerts, k.nnRadius))
    private val grads: Array[Array[(Double, Double)]] =
      if (k.gx.isEmpty) null
      else Array.tabulate(nVars)(vi =>
        Array.tabulate(k.px.length)(j => (k.gx(vi)(j), k.gy(vi)(j))))
    private lazy val pgrid = new PointGrid(k.px, k.py)
    def eval(qx: Double, qy: Double): IndexedSeq[Double] = triOpt match {
      case Some(tri) =>
        (0 until nVars).map { vi =>
          if (grads != null) Delaunay.interpolateCubic(tri, k.vals(vi), grads(vi), qx, qy)
          else Delaunay.interpolateLinear(tri, k.vals(vi), qx, qy)
        }
      case None =>
        val ni = pgrid.nearest(qx, qy)
        (0 until nVars).map(vi => k.vals(vi)(ni))
    }
  }

  private def pointsOf(soundings: DataFrame, valueCols: Seq[String]): Dataset[PointIn] = {
    val spark = soundings.sparkSession
    import spark.implicits._
    soundings
      .select(
        col("region_id").cast("long"),
        col("sounding_index").cast("long"),
        col("longitude").cast("double").as("px"),
        col("latitude").cast("double").as("py"),
        array(valueCols.map(c => col(c).cast("double")): _*).as("values"))
      .as[PointIn]
  }

  private def pixelsOf(pixels: DataFrame): Dataset[PixelIn] = {
    val spark = pixels.sparkSession
    import spark.implicits._
    pixels
      .select(
        col("region_id").cast("long"),
        col("lon_idx").cast("int"),
        col("lat_idx").cast("int"),
        col("lon").cast("double"),
        col("lat").cast("double"))
      .as[PixelIn]
  }

  /** One serialized [[RegionKernel]] per region: shuffle the soundings by
    * region once, build the triangulation/gradients once. Bounded output —
    * one row per region, sized by that region's point count. */
  def buildKernels(
      soundings: DataFrame, valueCols: Seq[String], method: String): Dataset[RegionKernel] = {
    val spark = soundings.sparkSession
    import spark.implicits._
    pointsOf(soundings, valueCols)
      .groupByKey(_.region_id)
      .mapGroups { (rid, it) =>
        val pts = it.toArray.sortBy(_.sounding_index)
        mkKernel(rid, pts.map(_.px), pts.map(_.py),
          Array.tabulate(valueCols.length)(vi => pts.map(_.values(vi))), method)
      }
  }

  /** Evaluate pre-built kernels against pixels — cogroup on the pixel key
    * (a TILE surrogate when an oversized region was split: each tile
    * carries a replicated copy of its region's kernel, so per-tile results
    * are bit-identical to the unsplit region at one triangulation's build
    * cost instead of one per tile). Returns `(region_id, lon_idx, lat_idx,
    * lon, lat, valueCols…)` — one row per pixel of a region that has a
    * kernel (NaN outside the convex hull for linear/cubic; callers drop
    * NaN rows in sparse form). */
  def interpolateKernels(
      pixels: DataFrame, kernels: Dataset[RegionKernel], valueCols: Seq[String]): DataFrame = {
    val spark = pixels.sparkSession
    import spark.implicits._
    val out = pixelsOf(pixels)
      .groupByKey(_.region_id)
      .cogroup(kernels.groupByKey(_.region_id)) { (_, pit, kit) =>
        if (!kit.hasNext) Iterator.empty
        else {
          val ev = new KernelEval(kit.next())
          pit.map(p =>
            PixelOut(p.region_id, p.lon_idx, p.lat_idx, p.lon, p.lat, ev.eval(p.lon, p.lat)))
        }
      }
    expand(out.toDF(), valueCols)
  }

  private def expand(out: DataFrame, valueCols: Seq[String]): DataFrame = {
    val expanded = valueCols.zipWithIndex.foldLeft(out) { case (df, (c, i)) =>
      df.withColumn(c, col("values")(i))
    }
    expanded.drop("values")
  }

  /** Exact nearest-point index: argmin of squared distance, ties to the
    * LOWEST point index — identical to the linear scan's `strict <` over
    * ascending indices, which is what keeps the reference's
    * keep-first-sounding semantics. Uniform grid + outward Chebyshev-ring
    * search: a cell at ring k holds points at distance ≥ (k−1)·min(cw,ch)
    * from anywhere in the query's (clamped) cell, so the search stops as
    * soon as that bound exceeds the best hit — O(1) expected per query
    * versus the O(points) scan that made a degenerate 90k-point band
    * region O(10¹⁰) under `method=nearest`. */
  private final class PointGrid(xs: Array[Double], ys: Array[Double]) {
    private val n = xs.length
    private var minX = Double.MaxValue; private var minY = Double.MaxValue
    private var maxX = Double.MinValue; private var maxY = Double.MinValue
    locally {
      var i = 0
      while (i < n) {
        if (xs(i) < minX) minX = xs(i); if (xs(i) > maxX) maxX = xs(i)
        if (ys(i) < minY) minY = ys(i); if (ys(i) > maxY) maxY = ys(i)
        i += 1
      }
    }
    private val side = math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
    private val cw   = math.max((maxX - minX) / side, 1e-300)
    private val ch   = math.max((maxY - minY) / side, 1e-300)
    private val minStep = math.min(cw, ch)
    private val cells: Array[Array[Int]] = {
      val bufs = Array.fill(side * side)(new scala.collection.mutable.ArrayBuffer[Int](2))
      var i = 0
      while (i < n) { // ascending index order per cell — tie-break preserved
        bufs(cellOf(ys(i), minY, ch) * side + cellOf(xs(i), minX, cw)) += i
        i += 1
      }
      bufs.map(_.toArray)
    }
    @inline private def cellOf(v: Double, lo: Double, w: Double): Int =
      math.min(side - 1, math.max(0, ((v - lo) / w).toInt))

    def nearest(qx: Double, qy: Double): Int = {
      val cx = cellOf(qx, minX, cw)
      val cy = cellOf(qy, minY, ch)
      var bestI = -1; var bestD = Double.MaxValue
      @inline def scanCell(gx: Int, gy: Int): Unit = {
        val cell = cells(gy * side + gx)
        var j = 0
        while (j < cell.length) {
          val i  = cell(j)
          val dx = qx - xs(i); val dy = qy - ys(i)
          val d  = dx * dx + dy * dy
          if (d < bestD || (d == bestD && i < bestI)) { bestD = d; bestI = i }
          j += 1
        }
      }
      var r = 0
      var done = false
      while (!done) {
        // the whole Chebyshev ring r (clipped to the grid)
        val x0 = cx - r; val x1 = cx + r; val y0 = cy - r; val y1 = cy + r
        if (x0 >= side || x1 < 0 || y0 >= side || y1 < 0) done = true
        else {
          var gx = math.max(0, x0)
          while (gx <= math.min(side - 1, x1)) {
            if (y0 >= 0) scanCell(gx, y0)
            if (r > 0 && y1 < side) scanCell(gx, y1)
            gx += 1
          }
          if (r > 0) {
            var gy = math.max(0, y0 + 1)
            while (gy <= math.min(side - 1, y1 - 1)) {
              if (x0 >= 0) scanCell(x0, gy)
              if (x1 < side) scanCell(x1, gy)
              gy += 1
            }
          }
          if (bestI >= 0) {
            val lb = r.toDouble * minStep // ring r+1 points are ≥ r·minStep away
            if (lb * lb > bestD) done = true
          }
          r += 1
        }
      }
      bestI
    }
  }
}
