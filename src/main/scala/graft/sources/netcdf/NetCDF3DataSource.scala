package graft.sources.netcdf

import java.nio.ByteOrder

import org.apache.hadoop.fs.FSDataInputStream

/** Classic NetCDF granules: `spark.read.format("netcdf3")`, the
  * [[GranuleScan]] over [[NetCDF3Container]]. */
class NetCDF3DataSource extends GranuleDataSource(NetCDF3Container)

/** Classic NetCDF (CDF-1/2/5) as a granule container. Each fixed-size
  * variable is stored contiguously, so a variable's row range is one
  * positioned big-endian read. The default row dimension is the one most
  * variables lead with — the sounding dimension. */
object NetCDF3Container extends GranuleContainer {
  import NetCDF3._

  final case class Classic(header: Header, in: FSDataInputStream)
  type File = Classic

  def format: String = "netcdf3"

  def open(in: FSDataInputStream, length: => Long): Classic = Classic(NetCDF3.readHeader(in), in)

  private def rowDimId(h: Header, rowDim: Option[String]): Int = {
    val name = rowDim.getOrElse {
      val counts = h.vars.filter(_.dimIds.nonEmpty).groupBy(_.dimIds.head).view.mapValues(_.size).toMap
      require(counts.nonEmpty, "netcdf3: no dimensioned variables")
      h.dims(counts.maxBy { case (id, n) => (n, -id) }._1).name
    }
    val i = h.dims.indexWhere(_.name == name)
    require(i >= 0, s"netcdf3: row dimension $name not found")
    i
  }

  def rowCount(f: Classic, rowDim: Option[String]): Long = f.header.dims(rowDimId(f.header, rowDim)).length

  def rowVars(f: Classic, rowDim: Option[String]): Seq[GranuleVar] = {
    val rid = rowDimId(f.header, rowDim)
    f.header.vars.filter(_.dimIds.headOption.contains(rid)).map { v =>
      val elem = v.ncType match {
        case NC_CHAR   => Elem.Chars
        case NC_BYTE   => Elem.I8
        case NC_SHORT  => Elem.I16
        case NC_INT    => Elem.I32
        case NC_INT64  => Elem.I64
        case NC_FLOAT  => Elem.F32
        case NC_DOUBLE => Elem.F64
      }
      GranuleVar(v.name, elem, f.header.shape(v), v.atts.map(a => a.name -> a.value), fillValue(v),
        ByteOrder.BIG_ENDIAN)
    }
  }

  def readRows(f: Classic, v: GranuleVar, start: Long, end: Long): Array[Byte] = {
    val rowBytes = v.perRow * v.elem.size
    val numBytes = (end - start) * rowBytes
    require(
      numBytes <= Int.MaxValue - 8,
      s"netcdf3: row range of ${v.name} is $numBytes bytes — over the JVM array " +
        "limit; read through narrower splits (maxbytespersplit/maxrowspersplit)")
    val buf = new Array[Byte](numBytes.toInt)
    f.in.readFully(f.header.variable(v.name).get.begin + start * rowBytes, buf, 0, buf.length)
    buf
  }
}
