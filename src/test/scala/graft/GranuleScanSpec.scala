package graft

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.{FSDataInputStream, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually.{eventually, interval, timeout}
import org.scalatest.time.SpanSugar._

import graft.sources.netcdf.{Hdf5, NetCDF3}

/** Local FS that counts the input streams it opens and closes. */
object CountingOpenFs {
  val opens  = new AtomicInteger()
  val closes = new AtomicInteger()
}
class CountingOpenFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String   = "countopen"
  override def getUri: java.net.URI = java.net.URI.create("countopen:///")
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    CountingOpenFs.opens.incrementAndGet()
    new FSDataInputStream(in) {
      private val closed = new AtomicBoolean(false)
      override def close(): Unit = {
        if (closed.compareAndSet(false, true)) CountingOpenFs.closes.incrementAndGet()
        super.close()
      }
    }
  }
}

/** The one granule scan over both containers: a logical granule written as
  * classic NetCDF and as HDF5 reads back the same rows and plans the same
  * splits, and a partition reader that fails to build leaks no stream. */
class GranuleScanSpec extends SparkSpec {

  private val n     = 10
  private val wideK = 64
  private val ids   = Array.tabulate(n)(i => 1000L + i)
  private val xs    = Array.tabulate(n)(i => if (i == 3) -999.0 else if (i == 7) Double.NaN else 400.0 + i)
  private val fs    = Array.tabulate(n)(i => i * 0.5f)
  private val ks    = Array.tabulate(n)(i => i * 7)
  private val ss    = Array.tabulate(n)(i => (i - 5).toShort)
  private val bs    = Array.tabulate(n)(i => (i % 3).toByte)
  private val vs    = Array.tabulate(n * 3)(i => i * 0.25)
  private val names = Array.tabulate(n)(i => s"t$i" * (1 + i % 3))
  private val wide  = Array.tabulate(n * wideK)(_.toDouble)

  /** The granule as classic NetCDF: names as a (row, 8) char matrix. */
  private lazy val classicPath: String = {
    import NetCDF3._
    val p  = Files.createTempDirectory("parity-nc").resolve("granule.nc")
    val os = new BufferedOutputStream(new FileOutputStream(p.toFile))
    try NetCDF3.write(
      os,
      Seq(Dim("row", n.toLong), Dim("k", 3L), Dim("name_len", 8L), Dim("w", wideK.toLong)),
      Seq(
        VarData("id", NC_INT64, Seq("row"), ids),
        VarData("x", NC_DOUBLE, Seq("row"), xs, atts = Seq(Att("_FillValue", NC_DOUBLE, Array(-999.0)))),
        VarData("f", NC_FLOAT, Seq("row"), fs),
        VarData("k", NC_INT, Seq("row"), ks),
        VarData("s", NC_SHORT, Seq("row"), ss),
        VarData("b", NC_BYTE, Seq("row"), bs),
        VarData("v", NC_DOUBLE, Seq("row", "k"), vs),
        VarData("Group/name", NC_CHAR, Seq("row", "name_len"), names),
        VarData("wide", NC_DOUBLE, Seq("row", "w"), wide)))
    finally os.close()
    p.toString
  }

  /** The same granule as HDF5: names as 8-byte fixed strings in a group. */
  private lazy val h5Path: String = {
    import Hdf5._
    val p = Files.createTempDirectory("parity-h5").resolve("granule.h5")
    val root = WGroup("", Seq(
      WVar("id", Seq(n.toLong), ids),
      WVar("x", Seq(n.toLong), xs, atts = Seq(Attr("_FillValue", Array(-999.0))), chunkRows = 4),
      WVar("f", Seq(n.toLong), fs),
      WVar("k", Seq(n.toLong), ks),
      WVar("s", Seq(n.toLong), ss),
      WVar("b", Seq(n.toLong), bs),
      WVar("v", Seq(n.toLong, 3L), vs, chunkRows = 3, deflateLevel = 6),
      WVar("wide", Seq(n.toLong, wideK.toLong), wide)))
    val group = WGroup("Group", Seq(WVar("name", Seq(n.toLong), names, strSize = 8)))
    Files.write(p, Hdf5.write(Seq(root, group)))
    p.toString
  }

  /** Each partition's [first, last + 1) row_index, in partition order. */
  private def plannedRanges(df: DataFrame): Seq[(Long, Long)] =
    df.rdd.mapPartitions { it =>
      val rows = it.map(_.getAs[Long]("row_index")).toSeq
      if (rows.isEmpty) Iterator.empty else Iterator((rows.min, rows.max + 1))
    }.collect().toSeq

  test("classic NetCDF and HDF5 granules read back the same rows") {
    // column order follows each container's listing order; compare by name
    def rows(fmt: String, path: String) = {
      val df = spark.read.format(fmt).load(path).drop("granule_path")
      df.select(df.columns.sorted.toIndexedSeq.map(col): _*).orderBy("row_index").collect().toSeq
    }
    val classic = rows("netcdf3", classicPath)
    assert(classic === rows("hdf5", h5Path))
    assert(classic.map(_.getAs[String]("Group_name")) === names.toSeq)
    assert(classic.map(r => Option(r.getAs[java.lang.Double]("x"))).count(_.isEmpty) === 2)
    assert(spark.read.format("netcdf3").load(classicPath).schema("x").metadata.getDouble("_FillValue") === -999.0)
  }

  test("classic NetCDF and HDF5 granules plan the same row ranges") {
    def both(opt: String, value: Long, cols: String*): Seq[Seq[(Long, Long)]] =
      Seq("netcdf3" -> classicPath, "hdf5" -> h5Path).map { case (fmt, path) =>
        plannedRanges(spark.read.format(fmt).option(opt, value).load(path).select(cols.map(col): _*))
      }
    val byRows = both("maxrowspersplit", 3, "id", "row_index")
    assert(byRows.distinct === Seq(Seq((0L, 3L), (3L, 6L), (6L, 9L), (9L, 10L))))
    // 64 bytes bound an 8-byte-wide read to 8 rows per split: the unread
    // 512-byte-wide variable does not narrow it
    val byBytes = both("maxbytespersplit", 64, "id", "x", "row_index")
    assert(byBytes.distinct === Seq(Seq((0L, 8L), (8L, 10L))))
    // a scan reading the wide variable is bounded by it: two rows per split
    assert(both("maxbytespersplit", 1024, "wide", "row_index").distinct ===
      Seq((0L until n.toLong by 2).map(i => (i, i + 2))))
  }

  test("a rowdim that names no dimension fails in both containers") {
    for ((fmt, path) <- Seq("netcdf3" -> classicPath, "hdf5" -> h5Path)) {
      val err = intercept[Exception] {
        spark.read.format(fmt).option("rowdim", "no_such_dim").load(path).collect()
      }
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains(s"$fmt: row dimension no_such_dim not found")), fmt)
    }
  }

  test("a partition reader that fails to build closes its input stream") {
    import Hdf5._
    val dir = Files.createTempDirectory("leak-h5")
    def granule(vars: Seq[String]) =
      Hdf5.write(Seq(WGroup("", vars.map(v => WVar(v, Seq(4L), Array(1.0, 2.0, 3.0, 4.0))))))
    Files.write(dir.resolve("a.h5"), granule(Seq("latitude", "longitude", "xco2")))
    Files.write(dir.resolve("b.h5"), granule(Seq("latitude", "longitude")))
    spark.conf.set("fs.countopen.impl", classOf[CountingOpenFileSystem].getName)
    try {
      val (opens0, closes0) = (CountingOpenFs.opens.get, CountingOpenFs.closes.get)
      // the schema comes from a.h5; b.h5 lacks its xco2
      val err = intercept[Exception](spark.read.format("hdf5").load(s"countopen://$dir").collect())
      assert(err.getMessage.contains("xco2"))
      assert(CountingOpenFs.opens.get - opens0 >= 4) // schema, planning, one reader per file
      eventually(timeout(10.seconds), interval(100.millis)) {
        assert(CountingOpenFs.closes.get - closes0 === CountingOpenFs.opens.get - opens0)
      }
    } finally spark.conf.unset("fs.countopen.impl")
  }
}
