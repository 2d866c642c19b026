package graft.sources.netcdf

import java.nio.ByteOrder

import org.apache.hadoop.fs.FSDataInputStream

/** netCDF-4/HDF5 granules — the reference's actual L2 Lite transport:
  * `spark.read.format("hdf5")`, the [[GranuleScan]] over [[Hdf5Container]]. */
class Hdf5DataSource extends GranuleDataSource(Hdf5Container)

/** netCDF-4/HDF5 as a granule container. A variable's row range comes from
  * `Hdf5.readRows`: chunked datasets read only the chunks overlapping the
  * range, in the file's own byte order. The default row count is the most
  * common leading dimension length across variable datasets. */
object Hdf5Container extends GranuleContainer {
  import Hdf5._

  type File = H5File

  def format: String = "hdf5"

  def open(in: FSDataInputStream, length: => Long): H5File = {
    val len = length
    Hdf5.open((off: Long, n: Int) => {
      val b    = new Array[Byte](n)
      val take = math.min(n.toLong, math.max(0L, len - off)).toInt
      if (take > 0) in.readFully(off, b, 0, take)
      b
    })
  }

  /** Datasets that can surface as columns: not pure netCDF dims, supported
    * dtype, rank 1 or 2. */
  private def variableDatasets(f: H5File): Seq[Dataset] =
    f.datasets.filter { d =>
      !d.isPureDim && d.shape.nonEmpty && d.shape.length <= 2 &&
        (d.dtype match {
          case _: IntT | _: FloatT => true
          case StrT(1)             => d.shape.length == 2
          case _: StrT             => d.shape.length == 1
          case _                   => false
        })
    }

  /** The `rowdim` option names a dimension-scale dataset (its leaf name)
    * and fails when no such scale exists, as netcdf3 does; without it, the
    * most common leading dimension length across variable datasets. */
  def rowCount(f: H5File, rowDim: Option[String]): Long = rowDim match {
    case Some(name) =>
      val dims = f.datasets.filter(_.isDimScale)
        .map(d => d.path.split('/').last -> d.shape.headOption.getOrElse(0L)).toMap
      require(dims.contains(name), s"hdf5: row dimension $name not found")
      dims(name)
    case None =>
      val lens = variableDatasets(f).flatMap(_.shape.headOption)
      require(lens.nonEmpty, "hdf5: no dimensioned datasets")
      lens.groupBy(identity).maxBy { case (len, g) => (g.size, len) }._1
  }

  def rowVars(f: H5File, rowDim: Option[String]): Seq[GranuleVar] = {
    val n = rowCount(f, rowDim)
    variableDatasets(f).filter(_.shape.headOption.contains(n)).flatMap { d =>
      val elem: Option[Elem] = d.dtype match {
        case StrT(sz) if d.shape.length == 1 => Some(Elem.FixedStr(sz))
        case StrT(_)                         => Some(Elem.Chars)
        case FloatT(8, _)                    => Some(Elem.F64)
        case FloatT(4, _)                    => Some(Elem.F32)
        case IntT(8, _, _)                   => Some(Elem.I64)
        case IntT(4, _, _)                   => Some(Elem.I32)
        case IntT(2, _, _)                   => Some(Elem.I16)
        case IntT(1, _, _)                   => Some(Elem.I8)
        case _                               => None
      }
      val order = d.dtype match {
        case IntT(_, _, true) | FloatT(_, true) => ByteOrder.LITTLE_ENDIAN
        case _                                  => ByteOrder.BIG_ENDIAN
      }
      elem.map(GranuleVar(d.path, _, d.shape.toSeq, d.atts.map(a => a.name -> a.value), d.fillValue, order))
    }
  }

  def readRows(f: H5File, v: GranuleVar, start: Long, end: Long): Array[Byte] =
    f.readRows(f.dataset(v.name).get, start, end)
}
