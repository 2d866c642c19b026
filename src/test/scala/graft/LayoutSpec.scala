package graft

import org.apache.spark.sql.functions._

import graft.functions.{ZOrder2, ZOrderKernel}

/** Z-order clustering: kernel laws and the Catalyst expression (codegen
  * path). The layout's data-skipping effect on the product store is
  * StoreStreamingSpec's (`compact zOrder`). */
class LayoutSpec extends SparkSpec {

  private val rng = new scala.util.Random(7)

  /** Inverse of `ZOrderKernel.interleave`: gather the even bit positions
    * of `z` (x) and of `z >>> 1` (y) back. */
  private def deinterleave(z: Long): (Int, Int) = {
    def unspread(v: Long): Long = {
      var x = v & 0x5555555555555555L
      x = (x | (x >>> 1)) & 0x3333333333333333L
      x = (x | (x >>> 2)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x >>> 4)) & 0x00FF00FF00FF00FFL
      x = (x | (x >>> 8)) & 0x0000FFFF0000FFFFL
      x = (x | (x >>> 16)) & 0x00000000FFFFFFFFL
      x
    }
    (unspread(z).toInt, unspread(z >>> 1).toInt)
  }

  test("kernel: interleave/deinterleave round-trips, bits land at even/odd positions") {
    // representative corners + random draws
    val cases = Seq((0, 0), (1, 0), (0, 1), (65535, 0), (0, 65535),
      (Int.MaxValue, 0), (0, Int.MaxValue), (Int.MaxValue, Int.MaxValue)) ++
      Seq.fill(200)((rng.nextInt(Int.MaxValue), rng.nextInt(Int.MaxValue)))
    cases.foreach { case (x, y) =>
      val z = ZOrderKernel.interleave(x, y)
      assert(deinterleave(z) === ((x, y)), s"roundtrip ($x,$y)")
    }
    // bit i of x → bit 2i; bit i of y → bit 2i+1
    (0 until 31).foreach { i =>
      assert(ZOrderKernel.interleave(1 << i, 0) === (1L << (2 * i)))
      assert(ZOrderKernel.interleave(0, 1 << i) === (1L << (2 * i + 1)))
    }
  }

  test("kernel: z order sorts quadrants before cells (prefix property)") {
    // all cells of the lower-left 2^k quadrant precede every cell of the
    // other quadrants — the property that makes file ranges rectangles
    val k = 4 // 16×16 quadrants inside a 32×32 grid
    val lowerLeft = for (x <- 0 until 16; y <- 0 until 16) yield ZOrderKernel.interleave(x, y)
    val others = for (x <- 16 until 32; y <- 16 until 32) yield ZOrderKernel.interleave(x, y)
    assert(lowerLeft.max < others.min)
  }

  test("expression: codegen result matches the kernel, null propagates, negative raises") {
    import spark.implicits._
    val df = Seq((3, 5), (0, 0), (1023, 511)).toDF("x", "y")
      .select(col("x"), col("y"), ZOrder2(col("x"), col("y")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) === ZOrderKernel.interleave(r.getInt(0), r.getInt(1)))
    }
    val withNull = Seq((Some(3), None: Option[Int])).toDF("x", "y")
      .select(ZOrder2(col("x"), col("y")).as("z")).collect()
    assert(withNull.head.isNullAt(0))
    val neg = intercept[Exception] {
      Seq((-1, 2)).toDF("x", "y").select(ZOrder2(col("x"), col("y"))).collect()
    }
    assert(neg.getMessage != null)
  }
}
