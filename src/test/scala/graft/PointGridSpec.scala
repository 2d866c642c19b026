package graft

import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

import graft.operators.LinearInterp.PointGrid

/** The nearest-point grid equals a brute-force scan (ties to the lowest
  * index) on degenerate inputs, and its ring search stops promptly on
  * them: a zero-extent axis must not stall the distance bound. */
class PointGridSpec extends AnyFunSuite with TimeLimits {

  private def bruteForce(xs: Array[Double], ys: Array[Double], qx: Double, qy: Double): Int =
    xs.indices.minBy(i => ((qx - xs(i)) * (qx - xs(i)) + (qy - ys(i)) * (qy - ys(i)), i))

  test("PointGrid.nearest equals brute force on single, duplicate and collinear points, in time") {
    val rnd = new scala.util.Random(12)
    val line = Array.tabulate(50)(i => 10.0 + i * 0.25 + rnd.nextDouble() * 0.1)
    val inputs = Seq(
      "single"     -> (Array(3.5), Array(-7.25)),
      "duplicate"  -> (Array.fill(9)(3.5), Array.fill(9)(-7.25)),
      "horizontal" -> (line, Array.fill(line.length)(-7.25)),
      "vertical"   -> (Array.fill(line.length)(3.5), line))
    val queries = Seq.tabulate(8)(i => (rnd.nextDouble() * 40 - 10, rnd.nextDouble() * 40 - 20)) ++
      Seq((3.5, -7.25), (10.0, 10.0), (1e6, -1e6))
    failAfter(5.seconds) {
      for ((name, (xs, ys)) <- inputs) {
        val grid = new PointGrid(xs, ys)
        for ((qx, qy) <- queries)
          assert(grid.nearest(qx, qy) === bruteForce(xs, ys, qx, qy), s"$name at ($qx, $qy)")
      }
    }
  }
}
