package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.functions.{ZOrder2, ZOrderKernel}
import graft.operators.Layout

/** Z-order clustering: kernel laws, the Catalyst expression (codegen
  * path), and the layout's actual data-skipping effect on parquet. */
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

  test("bloomFilterCols: the written row groups carry bloom filters for the named column") {
    import spark.implicits._
    val df = (0 until 4096).map(i => (i % 64, i / 64, s"id-$i")).toDF("lat_idx", "lon_idx", "doc_id")
    val dir = Files.createTempDirectory("bloom").resolve("z").toString
    Layout.zOrderedParquet(df, "lat_idx", "lon_idx", dir, numFiles = 2, bloomFilterCols = Seq("doc_id"))
    val conf = spark.sessionState.newHadoopConf()
    val part = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size).map(cols.get)
        .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
      assert(byName("doc_id") === true, s"doc_id must carry a bloom filter: $byName")
      assert(byName("lat_idx") === false, "unlisted columns stay bloom-free")
    } finally reader.close()
  }

  test("zOrderedParquet: a lon-box predicate touches fewer files than the row-major layout") {
    import spark.implicits._
    // 64×64 grid; row-major = the store's natural (lat, lon) sort
    val grid = (for (lat <- 0 until 64; lon <- 0 until 64) yield (lat, lon, lat * 64 + lon))
      .toDF("lat_idx", "lon_idx", "value")
    val dir = Files.createTempDirectory("layout")
    val rowMajor = dir.resolve("rowmajor").toString
    val zOrdered = dir.resolve("zordered").toString
    grid.repartitionByRange(16, col("lat_idx"), col("lon_idx"))
      .sortWithinPartitions(col("lat_idx"), col("lon_idx"))
      .write.parquet(rowMajor)
    Layout.zOrderedParquet(grid, "lat_idx", "lon_idx", zOrdered, numFiles = 16)

    // content identical regardless of layout
    val back = spark.read.parquet(zOrdered)
    assert(back.count() === 64 * 64)
    assert(back.agg(sum(col("value"))).head.getLong(0) === grid.agg(sum(col("value"))).head.getLong(0))

    // a longitude box crosses EVERY latitude strip, so the row-major
    // layout spreads its rows over ~all files; the z-order layout
    // confines them to the files whose rectangles overlap the box
    def filesHolding(path: String): Long =
      spark.read.parquet(path)
        .filter(col("lon_idx").between(8, 15))
        .select(input_file_name()).distinct().count()
    val rmFiles = filesHolding(rowMajor)
    val zFiles  = filesHolding(zOrdered)
    assert(rmFiles >= 12, s"row-major should spread the box over most files, got $rmFiles")
    assert(zFiles * 2 <= rmFiles, s"z-order should at least halve file touch: $zFiles vs $rmFiles")
  }
}
