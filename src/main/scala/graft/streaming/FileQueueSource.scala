package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.netcdf.SerializableHadoopConf

/** Queue streaming input (SURVEY S5, reference `sam_extract/main.py:670-801`).
  *
  * The reference's production entry point consumes granule-list messages
  * from RabbitMQ with prefetch 1 and a strict disposition taxonomy: bad
  * yaml / bad schema / non-retryable input → `basic_reject` (drop to
  * dead-letter), transient failure → `basic_nack` (requeue), success →
  * `basic_ack`. This source re-expresses that taxonomy on Spark's own
  * exactly-once streaming machinery, with a directory of message files as
  * the queue transport (no MQ broker ships in this container; a broker
  * adapter would swap only the discovery/ack I/O):
  *
  *  - **message** = one text file in the queue dir; each non-comment line
  *    is a granule path (the reference message's `inputs` list).
  *  - **validation → dead-letter**: unreadable/empty messages and messages
  *    referencing nonexistent inputs move to `<queue>/.deadletter/` at
  *    discovery and never enter the stream — `basic_reject(requeue=False)`.
  *  - **rate limit**: each micro-batch admits at most `maxmessagesperbatch`
  *    messages (prefetch analog), and the offset only advances past batches
  *    Spark has COMMITTED, so an uncommitted batch is never overtaken.
  *  - **ack**: on batch commit the consumed message files move to
  *    `<queue>/.acked/` — `basic_ack`.
  *  - **nack/requeue**: a failed batch is replayed by Spark from the
  *    checkpointed offset (the message files are still in place) — paired
  *    with the idempotent product store, redelivery converges.
  *
  * Scale: the stream carries only message metadata (name, granule path);
  * granule bytes are read in the data plane by the netcdf3/parquet sources.
  * Offsets index an ordered append-only message log under the stream's
  * checkpoint location, so restarts resume mid-queue exactly.
  */
object FileQueueSource {
  val Schema: StructType = StructType(Seq(
    StructField("message", StringType, nullable = false),
    StructField("granule_path", StringType, nullable = false)))
}

class FileQueueDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "filequeue"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = FileQueueSource.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FileQueueTable(new CaseInsensitiveStringMap(properties))
}

class FileQueueTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"filequeue(${options.get("path")})"
  override def schema(): StructType = FileQueueSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = FileQueueSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new FileQueueStream(
            Option(options.get("path")).getOrElse(
              throw new IllegalArgumentException("filequeue: 'path' option required")),
            Option(options.get("maxmessagesperbatch")).map(_.toInt).getOrElse(1),
            checkpointLocation,
            SparkSession.active.sessionState.newHadoopConf())
      }
    }
}

final case class MsgOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

final case class MsgPartition(queueDir: String, name: String) extends InputPartition

class FileQueueStream(
    queueDir: String,
    maxPerBatch: Int,
    checkpointLocation: String,
    conf: Configuration)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private val qPath    = new Path(queueDir)
  private val fs       = qPath.getFileSystem(conf)
  private val deadDir  = new Path(qPath, ".deadletter")
  private val ackedDir = new Path(qPath, ".acked")
  private val logPath  = new Path(checkpointLocation, "filequeue-messages.log")
  // the message log and the acked watermark live under the checkpoint,
  // which may sit on another filesystem than the queue
  private val ckptFs   = logPath.getFileSystem(conf)

  /** Ordered, append-only log of admitted message names — the queue's
    * stable offset space across restarts. */
  private def readLog(): Vector[String] =
    if (!ckptFs.exists(logPath)) Vector.empty
    else {
      val src = scala.io.Source.fromInputStream(ckptFs.open(logPath), "UTF-8")
      try src.getLines().filter(_.nonEmpty).toVector finally src.close()
    }

  private def appendLog(names: Seq[String]): Unit = if (names.nonEmpty) {
    val all = readLog() ++ names
    val out = ckptFs.create(logPath, true)
    try out.write((all.mkString("\n") + "\n").getBytes("UTF-8")) finally out.close()
  }

  /** Reference disposition: unreadable/empty or missing-input messages are
    * rejected without requeue (`main.py:715-724` yaml/schema errors,
    * `__validate_files` NonRetryable). */
  private def validate(p: Path): Boolean = {
    val lines =
      try {
        val src = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
        try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList
        finally src.close()
      } catch { case _: Exception => return false }
    lines.nonEmpty && lines.forall(l => fs.exists(new Path(l)))
  }

  /** Discover new message files, dead-letter the invalid, admit the valid
    * (sorted by name for determinism). */
  private def discover(): Unit = {
    if (!fs.exists(qPath)) return
    fs.mkdirs(deadDir); fs.mkdirs(ackedDir)
    val known = (readLog() ++ Seq(".deadletter", ".acked")).toSet
    val fresh = fs.listStatus(qPath).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith(".") && !known(s.getPath.getName))
      .map(_.getPath).sortBy(_.getName)
    val (good, bad) = fresh.partition(validate)
    bad.foreach(p => fs.rename(p, new Path(deadDir, p.getName)))
    appendLog(good.map(_.getName))
  }

  override def initialOffset(): Offset = MsgOffset(0L)
  override def deserializeOffset(json: String): Offset = MsgOffset(json.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerBatch.toLong)
  override def reportLatestOffset(): Offset = MsgOffset(readLog().length.toLong)

  /** Durable acked watermark: the count of messages already moved out of
    * the queue. Without it every ack re-probed EVERY prior message name
    * with an `exists` call — O(messages²) filesystem round-trips over the
    * queue's lifetime (at the reference's 15-min cadence that is tens of
    * thousands of object-store HEAD requests per batch within a year).
    * Written AFTER the renames, monotone, so a crash between rename and
    * watermark replays only the last delta (rename of a moved name is a
    * skipped no-op — the ack stays idempotent). */
  private val wmPath = new Path(checkpointLocation, "filequeue-acked.watermark")

  /** Tolerant read: a missing file means nothing acked yet, and a
    * corrupt/TRUNCATED file (crash between the truncating create and the
    * close of a non-atomic writer, or a partial upload) degrades to 0L —
    * re-acking from zero is an idempotent walk of skipped no-op renames,
    * whereas throwing here would crash `latestOffset` on every restart and
    * permanently wedge the queue behind a zero-byte file. */
  private def readWatermark(): Long = {
    if (!ckptFs.exists(wmPath)) return 0L
    val txt =
      try {
        val src = scala.io.Source.fromInputStream(ckptFs.open(wmPath), "UTF-8")
        try src.mkString.trim finally src.close()
      } catch { case _: java.io.IOException => "" }
    try txt.toLong catch { case _: NumberFormatException => 0L }
  }

  /** Durable write via temp-file + rename: the watermark path only ever
    * holds a complete value (rename is atomic on HDFS/local; on a
    * copy-rename object store the window exposes either the old value or
    * no file — both of which the tolerant reader handles). */
  private def writeWatermark(v: Long): Unit = {
    val tmp = new Path(checkpointLocation, "filequeue-acked.watermark.tmp")
    val out = ckptFs.create(tmp, true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
    if (!ckptFs.rename(tmp, wmPath)) { // FSs that refuse rename-over-existing
      ckptFs.delete(wmPath, false)
      if (!ckptFs.rename(tmp, wmPath)) {
        // second rename failed AFTER the delete: without this fallback the
        // watermark would silently vanish and every future ack would
        // re-walk ALL historical names. A direct write is non-atomic, but
        // a crash mid-write leaves a truncation the tolerant reader
        // already degrades to 0L — strictly better than no file.
        val direct = ckptFs.create(wmPath, true)
        try direct.write(s"$v\n".getBytes("UTF-8")) finally direct.close()
        ckptFs.delete(tmp, false)
      }
    }
  }

  @volatile private var ackedWatermark: Long = -1L // lazy: loaded on first ack

  /** Ack every message below `upTo`: move the DELTA above the durable
    * watermark out of the queue (idempotent — replays re-ack as a no-op,
    * and the reader falls back to `.acked/` so a replayed batch stays
    * readable even after its files moved). The watermark only advances
    * past names that were successfully moved or are confirmed absent: a
    * transiently failed rename stops the walk, so the stranded file is
    * retried on the next ack instead of being skipped forever. */
  private def ack(upTo: Long): Unit = {
    if (ackedWatermark < 0) ackedWatermark = readWatermark()
    if (upTo <= ackedWatermark) return
    var advanced = ackedWatermark
    val names = readLog().slice(ackedWatermark.toInt, upTo.toInt).iterator
    var halted = false
    while (!halted && names.hasNext) {
      val name = names.next()
      val p    = new Path(qPath, name)
      val dst  = new Path(ackedDir, name)
      val ok = !fs.exists(p) || (fs.rename(p, dst) && {
        // stamp ACK time on the archived copy: rename preserves the
        // producer-written mtime, so retention pruning (Disposition
        // .pruneAcked) would otherwise measure message AGE, not
        // time-since-ack — a backlog older than the cutoff could have a
        // just-acked file pruned inside the post-commit replay window,
        // and the replayed batch would find it in neither the queue nor
        // .acked (a spurious nonRetryable FileNotFound → dead-letter of
        // a committed message). Best-effort: a FS without setTimes
        // degrades to age-based pruning for that file only.
        try fs.setTimes(dst, System.currentTimeMillis(), -1) catch { case _: Exception => () }
        true
      }) || {
        // a crashed copy-rename can leave BOTH src and dst — and equal
        // byte LENGTH is not proof dst is a full copy (a partial
        // multipart upload of coincidentally equal length, or a
        // re-created message reusing an acked name with different
        // content, would delete the only good copy and serve the stale/
        // partial .acked file to replayed batches). Copy src OVER dst,
        // then drop src: dst ends a verified full copy, or the copy
        // fails and the walk halts to retry on the next ack.
        fs.exists(dst) && {
          try org.apache.hadoop.fs.FileUtil.copy(fs, p, fs, dst, true, true, conf)
          catch { case _: java.io.IOException => false }
        }
      }
      if (ok) advanced += 1 else halted = true
    }
    if (advanced > ackedWatermark) {
      writeWatermark(advanced)
      ackedWatermark = advanced
    }
  }

  /** Trigger.AvailableNow: freeze the drain target at query start — batches
    * still pace at `maxPerBatch`, and the query stops once the frozen
    * target is reached (messages arriving later wait for the next run). */
  @volatile private var availableTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit = {
    discover()
    availableTarget = Some(readLog().length.toLong)
  }

  /** Admission control: at most `maxPerBatch` messages past the start — the
    * pacing analog of the reference consumer's `basic_qos(prefetch_count=1)`
    * (`main.py:765`). The start offset Spark hands us is durably recorded
    * in its offset log, so everything below it is safe to ack here — this
    * also covers the final batch, whose `commit()` Spark only issues when a
    * subsequent batch is constructed. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[MsgOffset].n
    ack(s)
    val cap = availableTarget.getOrElse { discover(); readLog().length.toLong }
    MsgOffset(math.min(cap, s + maxPerBatch))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control latestOffset is used")

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[MsgOffset].n, end.asInstanceOf[MsgOffset].n)
    readLog().slice(s.toInt, e.toInt).map(n => MsgPartition(queueDir, n)).toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new MsgReaderFactory(new SerializableHadoopConf(conf))

  /** Batch committed: ack the consumed messages (move out of the queue). */
  override def commit(end: Offset): Unit = ack(end.asInstanceOf[MsgOffset].n)

  override def stop(): Unit = ()
}

class MsgReaderFactory(conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p  = partition.asInstanceOf[MsgPartition]
    val fs = new Path(p.queueDir).getFileSystem(conf.value)
    val f  = new Path(new Path(p.queueDir), p.name)
    // a message may already be acked-and-moved on replay after commit
    // races, or rejected-and-moved by the in-pipeline disposition
    // (Disposition.deadLetter) just before a crash; check all three
    // locations so redelivery stays readable (the ingest loop skips
    // dead-lettered messages before processing)
    val q = new Path(p.queueDir)
    val loc = Seq(f, new Path(new Path(q, ".acked"), p.name),
      new Path(new Path(q, ".deadletter"), p.name)).find(fs.exists).getOrElse(f)
    val lines: Iterator[String] = {
      val src = scala.io.Source.fromInputStream(fs.open(loc), "UTF-8")
      src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toList.iterator
    }
    new PartitionReader[InternalRow] {
      private var current: String = _
      override def next(): Boolean = { val h = lines.hasNext; if (h) current = lines.next(); h }
      override def get(): InternalRow =
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(p.name), UTF8String.fromString(current)))
      override def close(): Unit = ()
    }
  }
}
