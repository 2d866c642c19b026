package graft.sources.netcdf

import java.io.{ObjectInputStream, ObjectOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Element kind of a granule variable: its byte width and Spark type. */
sealed abstract class Elem(val size: Int, val sparkType: DataType)

object Elem {
  case object F64 extends Elem(8, DoubleType)
  case object F32 extends Elem(4, FloatType)
  case object I64 extends Elem(8, LongType)
  case object I32 extends Elem(4, IntegerType)
  case object I16 extends Elem(2, ShortType)
  case object I8  extends Elem(1, ByteType)
  /** Char-matrix string: a (row, strlen) variable of 1-byte chars. */
  case object Chars extends Elem(1, StringType)
  /** One fixed-size string of `n` bytes per row. */
  final case class FixedStr(n: Int) extends Elem(n, StringType)
}

/** A row-dimension variable of one granule file, as its container lists it.
  * `name` is the in-file name; group-qualified names ("Sounding/target_id")
  * surface as columns with '/' → '_'. `order` is the byte order of the
  * bytes [[GranuleContainer.readRows]] returns. */
final case class GranuleVar(
    name: String,
    elem: Elem,
    shape: Seq[Long],
    atts: Seq[(String, Any)],
    fill: Option[Double],
    order: ByteOrder) {
  def column: String = name.replace('/', '_')

  /** Elements per row: the product of the non-row dimensions. */
  def perRow: Long = shape.drop(1).product

  /** Bytes of one row, at least one element wide (split sizing). */
  def rowBytes: Long = math.max(perRow, 1L) * elem.size

  /** 1-D → scalar column, (row, k) numeric → array column, (row, strlen)
    * chars or 1-D fixed strings → string column; anything else is not a
    * column. */
  def dataType: Option[DataType] = (elem, shape.length) match {
    case (Elem.Chars, 2) | (_: Elem.FixedStr, 1) => Some(StringType)
    case (Elem.Chars | _: Elem.FixedStr, _)      => None
    case (e, 1)                                   => Some(e.sparkType)
    case (e, 2)                                   => Some(ArrayType(e.sparkType, containsNull = true))
    case _                                        => None // >2-D per-row tensors: out of scope
  }
}

/** What differs between granule containers: how a file opens, how many
  * rows its row dimension has, which variables lie on it, and where a
  * variable's bytes for a row range come from. Everything else — schema,
  * pushdown, split planning, decoding, row assembly — is [[GranuleScan]]'s. */
trait GranuleContainer extends Serializable {
  type File
  def format: String
  /** Parse a file's metadata; `in` stays open (and owned by the caller)
    * while the returned file is used. */
  def open(in: FSDataInputStream, length: => Long): File
  /** Rows of the row dimension: the `rowdim` option's, else the
    * container's default. */
  def rowCount(f: File, rowDim: Option[String]): Long
  /** Variables on the row dimension, in file order. */
  def rowVars(f: File, rowDim: Option[String]): Seq[GranuleVar]
  /** Raw bytes of rows [start, end) of `v`, in `v.order`. */
  def readRows(f: File, v: GranuleVar, start: Long, end: Long): Array[Byte]

  /** The row-dimension variables that surface as columns. */
  final def columns(f: File, rowDim: Option[String]): Seq[GranuleVar] =
    rowVars(f, rowDim).filter(_.dataType.isDefined)
}

/** DataSource V2 for granule files (SURVEY S1 / §7.3, reference
  * `readers/GranuleReader.py:87-155`), one per container:
  * `spark.read.format("netcdf3")` and `spark.read.format("hdf5")`.
  *
  * - One row per index of the row dimension (option `rowdim`; default: the
  *   container's sounding dimension).
  * - 1-D variables → scalar columns; (row, k) numeric → array columns;
  *   char matrices and fixed-size strings → string columns. Variable
  *   attributes ride each column's metadata.
  * - `_FillValue` and NaN → null (the reference's fill→NaN normalization,
  *   `GranuleReader.py:150-152`), toggle with `fillasnull=false`.
  * - Projection pushdown is real I/O pruning: only required variables are
  *   read, each as its container's byte range / overlapping chunks.
  * - Splits: one input partition per `maxrowspersplit` rows (default 2^20)
  *   and at most `maxbytespersplit` (default 256 MB) of the widest column
  *   read; nothing is ever read on the driver but headers.
  * - Synthesized columns: `granule_path` (file), `row_index` (position in
  *   the row dimension — the explicit physical order the sessionizer keys
  *   on when the file carries no index variable).
  */
abstract class GranuleDataSource(container: GranuleContainer) extends TableProvider with DataSourceRegister {
  override def shortName(): String = container.format
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val conf  = SparkSession.active.sessionState.newHadoopConf()
    val paths = GranuleSource.resolvePaths(GranuleSource.requestedPaths(options), conf)
    require(paths.nonEmpty, s"${container.format}: no input files found")
    GranuleSource.withFile(container, paths.head, conf)(f =>
      GranuleSource.schemaOf(container.columns(f, Option(options.get("rowdim")))))
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GranuleTable(container, schema, new CaseInsensitiveStringMap(properties))
}

class GranuleTable(container: GranuleContainer, tableSchema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = container.format
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] = Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new GranuleScanBuilder(container, tableSchema, options)
}

class GranuleScanBuilder(container: GranuleContainer, fullSchema: StructType, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var countStar = false
  // COUNT(*) answers from headers alone: only a single global COUNT(*),
  // unfiltered and un-limited. Residual filters already block Spark from
  // offering aggregates here, and a pushed limit means planning was
  // truncated below the true count.
  override def pushAggregation(agg: Aggregation): Boolean = {
    countStar = accepted.isEmpty && limit.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 && agg.aggregateExpressions()(0).isInstanceOf[CountStar]
    countStar
  }
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(RowRangePushdown.bound(_).isDefined)
    // the range prune is exact for the accepted shapes, but every filter is
    // returned as residual: Spark's post-scan evaluation stays as a safety
    // net for negligible cost (the pruned scan emits few rows)
    filters
  }
  override def pushedFilters(): Array[Filter] = accepted
  // partial limit pushdown: planning stops once `limit` rows are covered
  // (a LIMIT head-peek at a 10k-granule manifest plans one split, not 10k
  // header-bounded scans); Spark's own Limit stays on top for exactness
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true
  override def build(): Scan =
    new GranuleScan(container, required, options, RowRangePushdown.ranges(accepted), limit, countStar)
}

final case class GranulePartition(path: String, start: Long, end: Long) extends InputPartition

/** A pushed COUNT(*)'s one partition: the header-derived total. */
final case class CountStarPartition(total: Long) extends InputPartition

/** P10 record-dim pushdown: filters on the synthesized `row_index`
  * coordinate (the record-dimension subscript, i.e. the reference's
  * time-slice subset shape, `tools/climatology/main.py:220`) translate to a
  * per-file row-range SET that partition planning intersects away —
  * unneeded chunks are never planned, so they are never read. The algebra
  * is closed under And (intersection), Or (union) and In (point union), so
  * a multi-slice predicate like `row_index IN (3, 9)` or
  * `(row_index < 2) OR (row_index >= 8)` prunes exactly. */
object RowRangePushdown {
  import org.apache.spark.sql.sources._

  /** Disjoint, sorted, non-empty `[lo, hi)` intervals. */
  type Ranges = Seq[(Long, Long)]

  val All: Ranges = Seq((0L, Long.MaxValue))

  private def num(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue)
    case _                   => None
  }

  /** Sort + merge overlapping/adjacent intervals, dropping empty ones. */
  private def normalize(rs: Ranges): Ranges =
    rs.filter(r => r._2 > r._1).sorted.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: tail, (l, h)) if l <= hi => (lo, math.max(hi, h)) :: tail
      case (acc, r)                              => r :: acc
    }.reverse

  private def intersect(a: Ranges, b: Ranges): Ranges =
    normalize(for {
      (al, ah) <- a; (bl, bh) <- b
      lo = math.max(al, bl); hi = math.min(ah, bh) if hi > lo
    } yield (lo, hi))

  /** The row-range set a filter implies, when it is a shape the scan
    * applies exactly; None marks unsupported filters. */
  def bound(f: Filter): Option[Ranges] = f match {
    case GreaterThan("row_index", v)        => num(v).map(a => Seq((a + 1, Long.MaxValue)))
    case GreaterThanOrEqual("row_index", v) => num(v).map(a => Seq((a, Long.MaxValue)))
    case LessThan("row_index", v)           => num(v).map(a => Seq((0L, a)))
    case LessThanOrEqual("row_index", v)    => num(v).map(a => Seq((0L, a + 1)))
    case EqualTo("row_index", v)            => num(v).map(a => Seq((a, a + 1)))
    case In("row_index", vs) =>
      val pts = vs.toSeq.map(num)
      if (pts.exists(_.isEmpty)) None
      else Some(normalize(pts.flatten.map(a => (a, a + 1))))
    case And(l, r) => for { a <- bound(l); b <- bound(r) } yield intersect(a, b)
    case Or(l, r)  => for { a <- bound(l); b <- bound(r) } yield normalize(a ++ b)
    case _ => None
  }

  /** Conjunction (intersection) of all accepted bounds. */
  def ranges(accepted: Array[Filter]): Ranges =
    accepted.flatMap(bound).foldLeft(All)(intersect)

  /** `rs` clipped to a file's `[0, n)` row universe. */
  def clip(rs: Ranges, n: Long): Ranges =
    rs.map { case (lo, hi) => (math.max(0L, lo), math.min(n, hi)) }.filter(r => r._2 > r._1)

  def describe(rs: Ranges): String =
    if (rs == All) ""
    else " rows=" + rs.map { case (lo, hi) =>
      s"[$lo,${if (hi == Long.MaxValue) "*" else hi})"
    }.mkString("+")
}

/** The granule scan. With `countStar` it is the header-only COUNT(*): the
  * count is the sum of row-dimension lengths read from file headers at
  * planning time, one partition carries the total (Spark sums the emitted
  * partial counts), and no executor opens a file. */
class GranuleScan(
    container: GranuleContainer,
    required: StructType,
    options: CaseInsensitiveStringMap,
    rowRanges: RowRangePushdown.Ranges,
    limit: Option[Int],
    countStar: Boolean)
    extends Scan with Batch with SupportsReportStatistics {
  private val rowDim = Option(options.get("rowdim"))

  override def readSchema(): StructType =
    if (countStar) StructType(Seq(StructField("count_star", LongType, nullable = false))) else required
  override def toBatch: Batch = this
  override def description(): String =
    if (countStar) s"${container.format} count(*) header-only"
    else s"${container.format} cols=[${required.fieldNames.mkString(",")}]" +
      RowRangePushdown.describe(rowRanges) + limit.map(l => s" limit=$l").getOrElse("")

  /** Per-file planning facts, computed once per scan (driver-side header
    * reads, parallel across a bounded pool — a 10k-granule manifest must not
    * serialize 10k round-trips): row count, split size, and the byte width
    * of one row under THIS projection (for [[estimateStatistics]]). */
  private lazy val fileFacts: Seq[GranuleScan.FileFacts] = {
    val conf     = SparkSession.active.sessionState.newHadoopConf()
    val paths    = GranuleSource.resolvePaths(GranuleSource.requestedPaths(options), conf)
    val maxRows  = Option(options.get("maxrowspersplit")).map(_.toLong).getOrElse(1L << 20)
    val maxBytes = Option(options.get("maxbytespersplit")).map(_.toLong).getOrElse(256L << 20)
    val reqCols  = required.fieldNames.toSet
    GranuleSource.parMap(paths) { p =>
      GranuleSource.withFile(container, p, conf) { f =>
        val cols = container.columns(f, rowDim)
        val read = cols.filter(v => reqCols.contains(v.column))
        // split size is bounded in BYTES via the widest row among the
        // columns this scan reads (all columns when it reads none): a fixed
        // row default alone turns a 36000-wide float64 row (production
        // global mesh) into a 288 GB split whose read buffer overflows the
        // JVM array limit
        val widest = (if (read.nonEmpty) read else cols).map(_.rowBytes).maxOption.getOrElse(1L)
        GranuleScan.FileFacts(p, container.rowCount(f, rowDim), math.max(1L, math.min(maxRows, maxBytes / widest)),
          read.map(_.rowBytes).sum + 8L) // + synthesized row_index
      }
    }
  }

  override def planInputPartitions(): Array[InputPartition] =
    if (countStar) Array(CountStarPartition(fileFacts.map(_.rows).sum))
    else GranuleScan.truncateToLimit(
      fileFacts.flatMap { f =>
        RowRangePushdown.clip(rowRanges, f.rows).flatMap { case (lo, hi) =>
          (lo until hi by f.rowsPerSplit).map(s => GranulePartition(f.path, s, math.min(s + f.rowsPerSplit, hi)))
        }
      }, limit).toArray

  /** Size/row estimates from file headers — lets Catalyst see that a pruned
    * granule scan is small (e.g. auto-broadcast it in a join) instead of
    * assuming the DSv2 default of "unknown = huge". */
  override def estimateStatistics(): Statistics = {
    val (nRows, rowBytes) =
      if (countStar) (1L, 8L)
      else {
        val rows = fileFacts.map(f => RowRangePushdown.clip(rowRanges, f.rows).map(r => r._2 - r._1).sum).sum
        (limit.map(l => math.min(l.toLong, rows)).getOrElse(rows), fileFacts.headOption.map(_.rowBytes).getOrElse(16L))
      }
    new Statistics {
      override def sizeInBytes(): util.OptionalLong = util.OptionalLong.of(rowBytes * nRows)
      override def numRows(): util.OptionalLong     = util.OptionalLong.of(nRows)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GranuleReaderFactory(
      container, required, rowDim, Option(options.get("fillasnull")).forall(_.toBoolean),
      new SerializableHadoopConf(SparkSession.active.sessionState.newHadoopConf()))
}

object GranuleScan {
  private final case class FileFacts(path: String, rows: Long, rowsPerSplit: Long, rowBytes: Long)

  /** Stop planning once a pushed limit's rows are covered, clamping the last
    * split — LIMIT without ordering may return any rows, so the prefix is a
    * valid (and maximally cheap) answer set. */
  private def truncateToLimit(parts: Seq[GranulePartition], limit: Option[Int]): Seq[GranulePartition] =
    limit match {
      case None => parts
      case Some(l) =>
        val out  = Seq.newBuilder[GranulePartition]
        var left = l.toLong
        val it   = parts.iterator
        while (left > 0 && it.hasNext) {
          val p    = it.next()
          val take = math.min(p.end - p.start, left)
          out += p.copy(end = p.start + take)
          left -= take
        }
        out.result()
    }
}

class GranuleReaderFactory(
    container: GranuleContainer,
    required: StructType,
    rowDim: Option[String],
    fillAsNull: Boolean,
    conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case CountStarPartition(total) =>
      new PartitionReader[InternalRow] {
        private var emitted = false
        override def next(): Boolean = !emitted && { emitted = true; true }
        override def get(): InternalRow = new GenericInternalRow(Array[Any](total))
        override def close(): Unit = ()
      }
    case p: GranulePartition => new GranulePartitionReader(container, p, required, rowDim, fillAsNull, conf.value)
  }
}

/** Reads the partition's row range of each required variable, then iterates
  * rows. The file is open only while the constructor reads: it is closed
  * whether decoding succeeds or throws, so a reader Spark never receives
  * leaks no stream. Per-partition memory is O(requiredVars × rowsPerSplit). */
class GranulePartitionReader(
    container: GranuleContainer,
    part: GranulePartition,
    required: StructType,
    rowDim: Option[String],
    fillAsNull: Boolean,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val nRows   = (part.end - part.start).toInt
  private val pathUtf = UTF8String.fromString(part.path)

  /** Per required column: its row-major decoded values (null for the
    * synthesized columns) and its elements per row (used by arrays). */
  private val (colData, colPerRow): (Array[Array[AnyRef]], Array[Int]) =
    GranuleSource.withFile(container, part.path, conf) { f =>
      val vars = container.columns(f, rowDim)
      required.fields.map { field =>
        field.name match {
          case "granule_path" | "row_index" => (null, 0)
          case name =>
            val v = vars.find(_.column == name).getOrElse(throw new IllegalArgumentException(
              s"${container.format}: no variable for column $name in ${part.path}"))
            val raw = container.readRows(f, v, part.start, part.end)
            (GranuleSource.decode(v, raw, nRows, fillAsNull), v.perRow.toInt)
        }
      }.unzip
    }

  private var row = -1

  override def next(): Boolean = { row += 1; row < nRows }

  override def get(): InternalRow = {
    val values = new Array[Any](required.length)
    var c      = 0
    while (c < required.length) {
      val f = required.fields(c)
      values(c) = f.name match {
        case "granule_path" => pathUtf
        case "row_index"    => part.start + row
        case _ =>
          val data = colData(c)
          f.dataType match {
            case _: ArrayType =>
              val perRow = colPerRow(c)
              new GenericArrayData(
                java.util.Arrays.copyOfRange(data, row * perRow, (row + 1) * perRow).asInstanceOf[Array[Any]])
            case _ => data(row)
          }
      }
      c += 1
    }
    new GenericInternalRow(values)
  }

  override def close(): Unit = ()
}

/** Path, schema and decoding helpers shared by both containers. */
object GranuleSource {

  /** Order-preserving parallel map over paths with a bounded thread pool —
    * driver-side metadata reads (file headers) for large manifests. */
  def parMap[A, B](items: Seq[A], threads: Int = 16)(f: A => B): Seq[B] = {
    if (items.lengthCompare(2) < 0) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(threads, items.length))
    try {
      val tasks: Seq[java.util.concurrent.Callable[B]] =
        items.map(a => (() => f(a)): java.util.concurrent.Callable[B])
      pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
  }

  def requestedPaths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).map(parseJsonStringArray).getOrElse(Nil)
    val single = Option(options.get("path")).toSeq
    (multi ++ single).distinct
  }

  /** DataFrameReader.load(paths*) passes a JSON-encoded string array. */
  private def parseJsonStringArray(s: String): Seq[String] = {
    val t = s.trim
    if (!t.startsWith("[")) Seq(t)
    else t.stripPrefix("[").stripSuffix("]").split(",").toSeq
      .map(_.trim.stripPrefix("\"").stripSuffix("\"").replace("\\\"", "\"").replace("\\\\", "\\"))
      .filter(_.nonEmpty)
  }

  def resolvePaths(patterns: Seq[String], conf: Configuration): Seq[String] =
    patterns.flatMap { pat =>
      val p  = new Path(pat)
      val fs = p.getFileSystem(conf)
      val matched: Seq[FileStatus] = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      matched.flatMap { st =>
        if (st.isDirectory)
          fs.listStatus(st.getPath).toSeq
            .filter(c => c.isFile && !c.getPath.getName.startsWith("_") && !c.getPath.getName.startsWith("."))
        else Seq(st)
      }.map(_.getPath.toString)
    }.distinct.sorted

  /** Open `path` as `c` for the duration of `body`; the stream is closed
    * however `body` ends. */
  def withFile[T](c: GranuleContainer, path: String, conf: Configuration)(body: c.File => T): T = {
    val p  = new Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try body(c.open(in, fs.getFileStatus(p).getLen)) finally in.close()
  }

  /** Schema: one column per row-dimension variable (in file order) +
    * synthesized granule_path and row_index. */
  def schemaOf(cols: Seq[GranuleVar]): StructType =
    StructType(
      cols.map(v => StructField(v.column, v.dataType.get, nullable = true, metadata = fieldMetadata(v.atts))) :+
        StructField("granule_path", StringType, nullable = false) :+
        StructField("row_index", LongType, nullable = false))

  /** Variable attributes as column metadata (units, long_name, fill …) —
    * the reference carries attrs with every variable (SURVEY §1.3); here
    * they ride the StructField so `df.schema("xco2").metadata` answers. */
  private def fieldMetadata(atts: Seq[(String, Any)]): Metadata = {
    val b = new MetadataBuilder()
    atts.foreach {
      case (name, s: String)                             => b.putString(name, s)
      case (name, arr: Array[Double]) if arr.length == 1 => b.putDouble(name, arr(0))
      case (name, arr: Array[Float]) if arr.length == 1  => b.putDouble(name, arr(0).toDouble)
      case (name, arr: Array[Int]) if arr.length == 1    => b.putLong(name, arr(0).toLong)
      case (name, arr: Array[Long]) if arr.length == 1   => b.putLong(name, arr(0))
      case (name, arr: Array[Short]) if arr.length == 1  => b.putLong(name, arr(0).toLong)
      case _                                             => () // multi-element numeric attrs: rare, skipped
    }
    b.build()
  }

  private val Padding = java.util.regex.Pattern.compile("[\\x00 ]+$")

  /** Trailing NULs/spaces are padding in fixed-width string encodings. */
  private def unpadded(raw: Array[Byte], off: Int, len: Int): UTF8String =
    UTF8String.fromString(Padding.matcher(new String(raw, off, len, UTF_8)).replaceAll(""))

  /** `nRows` rows of `v` from their raw bytes, row-major. Fill semantics
    * follow the reference: a declared `_FillValue` marks missing data, and
    * NaN always counts as missing for floating types
    * (`GranuleReader.py:150-152`). Missing → null. */
  def decode(v: GranuleVar, raw: Array[Byte], nRows: Int, fillAsNull: Boolean): Array[AnyRef] = {
    val n    = (nRows * v.perRow).toInt
    val fill = if (fillAsNull) v.fill else None
    val bb   = ByteBuffer.wrap(raw).order(v.order)
    v.elem match {
      case Elem.Chars =>
        val strLen = v.shape.last.toInt
        Array.tabulate[AnyRef](nRows)(i => unpadded(raw, i * strLen, strLen))
      case Elem.FixedStr(sz) =>
        Array.tabulate[AnyRef](nRows) { i =>
          var e = 0
          while (e < sz && raw(i * sz + e) != 0) e += 1
          unpadded(raw, i * sz, e)
        }
      case Elem.F64 =>
        Array.tabulate[AnyRef](n) { i =>
          val d = bb.getDouble(i * 8)
          if (d.isNaN || fill.exists(_ == d)) null else Double.box(d)
        }
      case Elem.F32 =>
        Array.tabulate[AnyRef](n) { i =>
          val d = bb.getFloat(i * 4)
          if (d.isNaN || fill.exists(_.toFloat == d)) null else Float.box(d)
        }
      case Elem.I64 =>
        Array.tabulate[AnyRef](n) { i =>
          val d = bb.getLong(i * 8)
          if (fill.exists(_.toLong == d)) null else Long.box(d)
        }
      case Elem.I32 =>
        Array.tabulate[AnyRef](n) { i =>
          val d = bb.getInt(i * 4)
          if (fill.exists(_.toInt == d)) null else Int.box(d)
        }
      case Elem.I16 =>
        Array.tabulate[AnyRef](n) { i =>
          val d = bb.getShort(i * 2)
          if (fill.exists(_.toShort == d)) null else Short.box(d)
        }
      case Elem.I8 =>
        Array.tabulate[AnyRef](n) { i =>
          val d = raw(i)
          if (fill.exists(_.toByte == d)) null else Byte.box(d)
        }
    }
  }
}

/** Hadoop Configuration is not Serializable; ship it to executors by
  * writing its key-value state. */
final class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
