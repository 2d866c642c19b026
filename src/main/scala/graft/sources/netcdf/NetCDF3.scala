package graft.sources.netcdf

import java.io.{DataInputStream, DataOutputStream, EOFException, InputStream, OutputStream}

/** Minimal pure-JVM codec for the NetCDF classic file format (CDF-1/2/5) —
  * the engine's front door for granule files (SURVEY S1,
  * `readers/GranuleReader.py:87-155`) and the fixture/export encoder
  * (SURVEY S10, `writers/NetCDFWriter.py:30-61`).
  *
  * The container ships no netCDF library, and the classic format is a
  * simple, fully public specification (magic `CDF\x01|\x02|\x05`,
  * big-endian header of dims/attributes/variables, each fixed-size variable
  * stored CONTIGUOUSLY at a recorded byte offset). That contiguity is what
  * makes Spark-side projection pushdown real: reading a pruned column set
  * touches only those variables' byte ranges.
  *
  * Scope (documented boundary): fixed-size variables only — granules are
  * one-file-per-day with known sounding counts, so the record (unlimited)
  * dimension is unnecessary; NetCDF-4/HDF5 containers are out of scope
  * (their transport is a full HDF5 layer, not a column codec). Groups do
  * not exist in classic NetCDF; group-qualified names ("Sounding/...") are
  * encoded in the variable name, mirroring the reference's group-prefixed
  * column convention.
  */
object NetCDF3 {

  val NC_BYTE   = 1
  val NC_CHAR   = 2
  val NC_SHORT  = 3
  val NC_INT    = 4
  val NC_FLOAT  = 5
  val NC_DOUBLE = 6
  val NC_INT64  = 10 // CDF-5 only

  private val TAG_DIM = 0x0a
  private val TAG_VAR = 0x0b
  private val TAG_ATT = 0x0c

  private def typeSize(t: Int): Int = t match {
    case NC_BYTE | NC_CHAR => 1
    case NC_SHORT          => 2
    case NC_INT | NC_FLOAT => 4
    case NC_DOUBLE | NC_INT64 => 8
    case other => throw new IllegalArgumentException(s"unsupported nc_type $other")
  }

  final case class Dim(name: String, length: Long)

  /** Attribute value: String (NC_CHAR) or a primitive array. */
  final case class Att(name: String, ncType: Int, value: Any)

  final case class Var(
      name: String,
      ncType: Int,
      dimIds: Seq[Int],
      atts: Seq[Att],
      vsize: Long,
      begin: Long) {
    def att(n: String): Option[Att] = atts.find(_.name == n)
  }

  final case class Header(version: Int, numRecs: Long, dims: Seq[Dim], gatts: Seq[Att], vars: Seq[Var]) {
    def variable(n: String): Option[Var] = vars.find(_.name == n)
    def shape(v: Var): Seq[Long]         = v.dimIds.map(dims(_).length)
  }

  // ---------------------------------------------------------------- reading

  private final class In(is: InputStream) {
    val d = new DataInputStream(is)
    def u8(): Int    = { val b = d.read(); if (b < 0) throw new EOFException(); b }
    def i32(): Int   = d.readInt()
    def i64(): Long  = d.readLong()
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); d.readFully(b); b }
    def skip(n: Int): Unit = { var left = n; while (left > 0) { val s = d.skipBytes(left); if (s <= 0) throw new EOFException(); left -= s } }
  }

  /** Parse the header from a stream positioned at byte 0. The stream is
    * consumed exactly through the end of the header. */
  def readHeader(is: InputStream): Header = {
    val in = new In(is)
    if (in.u8() != 'C' || in.u8() != 'D' || in.u8() != 'F')
      throw new IllegalArgumentException("not a NetCDF classic file (bad magic)")
    val version = in.u8()
    require(version == 1 || version == 2 || version == 5, s"unsupported CDF version $version")
    def nonNeg(): Long = if (version == 5) in.i64() else in.i32().toLong
    val numRecs = nonNeg()

    def readName(): String = {
      val n      = nonNeg().toInt
      val padded = (n + 3) / 4 * 4
      val b      = in.bytes(padded)
      new String(b, 0, n, "UTF-8")
    }
    def readAtts(): Seq[Att] = {
      val tag = in.i32()
      val n   = nonNeg().toInt
      require(tag == TAG_ATT || (tag == 0 && n == 0), s"bad attribute list tag $tag")
      (0 until n).map { _ =>
        val name   = readName()
        val t      = in.i32()
        val nelems = nonNeg().toInt
        val sz     = typeSize(t)
        val padded = (nelems * sz + 3) / 4 * 4
        val raw    = in.bytes(padded)
        val bb     = java.nio.ByteBuffer.wrap(raw)
        val value: Any = t match {
          case NC_CHAR   => new String(raw, 0, nelems, "UTF-8")
          case NC_BYTE   => raw.take(nelems)
          case NC_SHORT  => Array.tabulate(nelems)(i => bb.getShort(i * 2))
          case NC_INT    => Array.tabulate(nelems)(i => bb.getInt(i * 4))
          case NC_FLOAT  => Array.tabulate(nelems)(i => bb.getFloat(i * 4))
          case NC_DOUBLE => Array.tabulate(nelems)(i => bb.getDouble(i * 8))
          case NC_INT64  => Array.tabulate(nelems)(i => bb.getLong(i * 8))
        }
        Att(name, t, value)
      }
    }

    // dim_list
    val dimTag = in.i32()
    val nDims  = nonNeg().toInt
    require(dimTag == TAG_DIM || (dimTag == 0 && nDims == 0), s"bad dim list tag $dimTag")
    val dims = (0 until nDims).map { _ =>
      val name = readName()
      Dim(name, nonNeg())
    }
    val gatts = readAtts()
    // var_list
    val varTag = in.i32()
    val nVars  = nonNeg().toInt
    require(varTag == TAG_VAR || (varTag == 0 && nVars == 0), s"bad var list tag $varTag")
    val vars = (0 until nVars).map { _ =>
      val name   = readName()
      val ndims  = nonNeg().toInt
      val dimIds = (0 until ndims).map(_ => nonNeg().toInt)
      val atts   = readAtts()
      val t      = in.i32()
      val vsize  = nonNeg()
      val begin  = if (version == 1) in.i32().toLong else in.i64()
      Var(name, t, dimIds, atts, vsize, begin)
    }
    Header(version, numRecs, dims, gatts, vars)
  }

  /** Fill value declared for a variable (`_FillValue` attribute), as Double
    * where numeric. */
  def fillValue(v: Var): Option[Double] = v.att("_FillValue").map { a =>
    a.value match {
      case arr: Array[Double] => arr(0)
      case arr: Array[Float]  => arr(0).toDouble
      case arr: Array[Int]    => arr(0).toDouble
      case arr: Array[Long]   => arr(0).toDouble
      case arr: Array[Short]  => arr(0).toDouble
      case arr: Array[Byte]   => arr(0).toDouble
      case s: String          => Double.NaN
    }
  }

  // ---------------------------------------------------------------- writing

  /** A variable to write: `data` is the flattened row-major primitive array
    * (Array[Double|Float|Int|Long|Short|Byte]); for NC_CHAR pass
    * Array[String] — each string is encoded and zero-padded to the last
    * dimension's length. */
  final case class VarData(
      name: String,
      ncType: Int,
      dims: Seq[String],
      data: AnyRef,
      atts: Seq[Att] = Nil)

  /** Write a classic file (CDF-1, CDF-2, or CDF-5 — default 5): header +
    * contiguous fixed-size variables, 4-byte aligned, big-endian. CDF-1/2
    * use 32-bit counts (and 32-bit begins in CDF-1); NC_INT64 variables
    * require CDF-5. */
  def write(
      os: OutputStream,
      dims: Seq[Dim],
      vars: Seq[VarData],
      gatts: Seq[Att] = Nil,
      version: Int = 5): Unit = {
    require(version == 1 || version == 2 || version == 5, s"bad CDF version $version")
    require(
      version == 5 || vars.forall(_.ncType != NC_INT64),
      "NC_INT64 requires CDF-5")
    val W   = if (version == 5) 8 else 4 // NON_NEG width
    val OFF = if (version == 1) 4 else 8 // begin width
    val dimIndex            = dims.map(_.name).zipWithIndex.toMap
    def nameLen(s: String)  = { val n = s.getBytes("UTF-8").length; W + (n + 3) / 4 * 4 }
    def attLen(a: Att): Int = {
      val (t, n) = attSpec(a)
      nameLen(a.name) + 4 + W + (n * typeSize(t) + 3) / 4 * 4
    }
    def attListLen(as: Seq[Att]): Int = 4 + W + as.map(attLen).sum
    def varLen(v: VarData): Int =
      nameLen(v.name) + W + W * v.dims.length + attListLen(v.atts) + 4 + W + OFF

    val headerLen =
      4 + W +                       // magic + numrecs
        4 + W + dims.map(d => nameLen(d.name) + W).sum + // dim list
        attListLen(gatts) +
        4 + W + vars.map(varLen).sum

    // layout: contiguous, 4-aligned
    var offset = (headerLen + 3L) / 4 * 4
    val layout = vars.map { v =>
      val n     = v.dims.map(d => dims(dimIndex(d)).length).product
      val vsize = (n * typeSize(v.ncType) + 3) / 4 * 4
      val begin = offset
      offset += vsize
      (v, vsize, begin)
    }

    val out = new DataOutputStream(os)
    def nn(v: Long): Unit = if (W == 8) out.writeLong(v) else out.writeInt(v.toInt)
    def begin(v: Long): Unit = if (OFF == 8) out.writeLong(v) else out.writeInt(v.toInt)
    out.write(Array[Byte]('C', 'D', 'F', version.toByte))
    nn(0L) // numrecs
    def writeName(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      nn(b.length.toLong)
      out.write(b)
      out.write(new Array[Byte]((4 - b.length % 4) % 4))
    }
    def writeAtt(a: Att): Unit = {
      val (t, n) = attSpec(a)
      writeName(a.name)
      out.writeInt(t)
      nn(n.toLong)
      val before = out.size()
      a.value match {
        case s: String          => out.write(s.getBytes("UTF-8"))
        case arr: Array[Double] => arr.foreach(out.writeDouble)
        case arr: Array[Float]  => arr.foreach(out.writeFloat)
        case arr: Array[Int]    => arr.foreach(out.writeInt)
        case arr: Array[Long]   => arr.foreach(out.writeLong)
        case arr: Array[Short]  => arr.foreach(v => out.writeShort(v.toInt))
        case arr: Array[Byte]   => out.write(arr)
      }
      val written = out.size() - before
      out.write(new Array[Byte]((4 - written % 4) % 4))
    }
    def writeAttList(as: Seq[Att]): Unit = {
      out.writeInt(if (as.isEmpty) 0 else TAG_ATT)
      nn(as.length.toLong)
      as.foreach(writeAtt)
    }
    out.writeInt(if (dims.isEmpty) 0 else TAG_DIM)
    nn(dims.length.toLong)
    dims.foreach { d => writeName(d.name); nn(d.length) }
    writeAttList(gatts)
    out.writeInt(if (vars.isEmpty) 0 else TAG_VAR)
    nn(vars.length.toLong)
    layout.foreach { case (v, vsize, beg) =>
      writeName(v.name)
      nn(v.dims.length.toLong)
      v.dims.foreach(d => nn(dimIndex(d).toLong))
      writeAttList(v.atts)
      out.writeInt(v.ncType)
      nn(vsize)
      begin(beg)
    }
    out.write(new Array[Byte](((headerLen + 3) / 4 * 4 - headerLen).toInt))

    layout.foreach { case (v, vsize, _) =>
      val before = out.size()
      v.data match {
        case arr: Array[Double] => arr.foreach(out.writeDouble)
        case arr: Array[Float]  => arr.foreach(out.writeFloat)
        case arr: Array[Int]    => arr.foreach(out.writeInt)
        case arr: Array[Long]   => arr.foreach(out.writeLong)
        case arr: Array[Short]  => arr.foreach(x => out.writeShort(x.toInt))
        case arr: Array[Byte]   => out.write(arr)
        case arr: Array[String] =>
          val strLen = dims(dimIndex(v.dims.last)).length.toInt
          arr.foreach { s =>
            val b = s.getBytes("UTF-8").take(strLen)
            out.write(b)
            out.write(new Array[Byte](strLen - b.length))
          }
      }
      val written = out.size() - before
      out.write(new Array[Byte]((vsize - written).toInt))
    }
    out.flush()
  }

  /** (nc_type, element count) of an attribute value. */
  private def attSpec(a: Att): (Int, Int) = a.value match {
    case s: String          => (NC_CHAR, s.getBytes("UTF-8").length)
    case arr: Array[Double] => (NC_DOUBLE, arr.length)
    case arr: Array[Float]  => (NC_FLOAT, arr.length)
    case arr: Array[Int]    => (NC_INT, arr.length)
    case arr: Array[Long]   => (NC_INT64, arr.length)
    case arr: Array[Short]  => (NC_SHORT, arr.length)
    case arr: Array[Byte]   => (NC_BYTE, arr.length)
    case other => throw new IllegalArgumentException(s"unsupported attribute value $other")
  }
}
