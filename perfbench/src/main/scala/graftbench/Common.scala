package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One run's settings, as parsed from the command line. */
final case class RunArgs(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    work: String,
    data: String)

/** What a workload hands back: operations attempted and failed (an
  * exception or a failed output check), named checks, and metrics. */
final class Outcome {
  var attempted = 0L
  var failed    = 0L
  val checks    = mutable.LinkedHashMap.empty[String, Boolean]
  val metrics   = mutable.LinkedHashMap.empty[String, Double]
  val notes     = mutable.ArrayBuffer.empty[String]

  def check(name: String, ok: Boolean, detail: => String = "", failures: Int = 1): Unit = {
    checks(name) = ok
    if (!ok) {
      failed += failures
      notes += s"check $name failed $detail".trim
      System.err.println(s"[bench] CHECK FAILED $name $detail")
    }
  }
  def put(name: String, v: Double): Unit = metrics(name) = v
}

object Common {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[T](body: => T): (T, Double) = { val t0 = now(); val r = body; (r, secs(t0)) }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The session a workload runs in, with every scratch path inside the
    * run's work directory: the settings of `Jobs.session` (which `RunJob`
    * applies to any session it runs in) for the queue, and those of
    * `Bench` (no initial AQE partition count) for the query contract. */
  def session(cores: Int, work: String, jobs: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cores.toString)
    if (jobs) b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", (cores * 8).toString)
    val s = b
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/streaming-ckpt")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def freshDir(path: String): String = {
    val f = new File(path)
    deleteRecursively(f)
    f.mkdirs()
    f.getAbsolutePath
  }

  /** Regular files under `dir` (Hadoop `.crc` sidecars excluded). */
  def filesUnder(dir: String): Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.isFile && !f.getName.endsWith(".crc")) Seq(f)
      else Nil
    walk(new File(dir))
  }
  def du(dir: String): Long = filesUnder(dir).map(_.length).sum

  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(new File(path), "UTF-8")
    try w.write(text) finally w.close()
  }

  def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else BigDecimal(v).underlying.stripTrailingZeros.toPlainString

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  /** Largest heap still in use after a GC: a full collection after each
    * timed operation (outside its timing), read from the heap pools'
    * collection usage. The second collection follows Spark's asynchronous
    * cleanup of what the first one released. */
  object HeapPeak {
    private var peak = 0L
    def sample(): Unit = {
      System.gc()
      Thread.sleep(300)
      System.gc()
      val used = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      peak = math.max(peak, used)
    }
    def peakMb(): Double = peak / (1024.0 * 1024.0)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  def xmxMb(): Long = Runtime.getRuntime.maxMemory / (1024L * 1024L)

  /** The machine-wide `cpu` line of /proc/stat, in clock ticks (empty when
    * unreadable). Its eighth field is steal: CPU time the hypervisor gave to
    * other guests. */
  def cpuTimes(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
    } catch { case _: Exception => Array.empty }

  def stealShare(from: Array[Long], to: Array[Long]): Double =
    if (from.length < 8 || to.length < 8) 0.0
    else {
      val total = to.sum - from.sum
      if (total > 0) (to(7) - from(7)).toDouble / total else 0.0
    }
}

/** Spans around the benchmark's own calls into each layer: a name, a
  * start, an end and the enclosing span, all under one run id. Kept in
  * memory and written out once, when the run ends. */
final class Tracer(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open  = List.empty[Int]

  def apply[T](name: String)(body: => T): T = {
    val id = spans.length
    spans += Span(id, name, open.headOption.getOrElse(-1), System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      spans(id).end = System.nanoTime()
      open = open.tail
    }
  }

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.end - s.start - covered) / 1e9
  }

  def roots: Seq[Span] = spans.filter(_.parent < 0).toSeq
  def all: Seq[Span] = spans.toSeq

  def json: String = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.map { s =>
      s"""{"run":${Common.jsonStr(runId)},"id":${s.id},"name":${Common.jsonStr(s.name)},""" +
        s""""parent":${s.parent},"start_s":${Common.jsonNum((s.start - t0) / 1e9)},""" +
        s""""end_s":${Common.jsonNum((s.end - t0) / 1e9)},"self_s":${Common.jsonNum(selfSeconds(s))}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Engine counters from Spark's public listener events, registered by the
  * benchmark: stages, tasks, shuffle and spill bytes, executor CPU and run
  * time, input bytes, cached-block peak, and planning time per action. */
final class EngineCounters(spark: SparkSession) extends SparkListener {
  val stages        = new AtomicLong
  val tasks         = new AtomicLong
  val shuffleWrite  = new AtomicLong
  val shuffleRead   = new AtomicLong
  val spill         = new AtomicLong
  val cpuNs         = new AtomicLong
  val runMs         = new AtomicLong
  val inputBytes    = new AtomicLong
  val planMs        = new AtomicLong
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached = 0L
  @volatile var cachePeak = 0L

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled)
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key  = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      if (cached > cachePeak) cachePeak = cached
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      planMs.addAndGet(
        Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(planListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(planListener)
  }

  def drain(): Unit = BenchBridge.drainListeners(spark.sparkContext)

  /** Counter values as `engine.*` metrics for a measured interval. */
  def metrics(wallS: Double, gcS: Double, cores: Int): Seq[(String, Double)] = {
    drain()
    Seq(
      "engine.plan_ms"             -> planMs.get.toDouble,
      "engine.stages"              -> stages.get.toDouble,
      "engine.tasks"               -> tasks.get.toDouble,
      "engine.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "engine.shuffle_read_bytes"  -> shuffleRead.get.toDouble,
      "engine.spill_bytes"         -> spill.get.toDouble,
      "engine.gc_s"                -> gcS,
      "engine.cpu_s"               -> cpuNs.get / 1e9,
      "engine.busy_ratio"          -> (if (wallS > 0) runMs.get / 1000.0 / (wallS * cores) else 0.0),
      "engine.cache_peak_bytes"    -> cachePeak.toDouble,
      "engine.input_bytes"         -> inputBytes.get.toDouble)
  }
}

object EngineCounters {
  /** Run `body` with fresh counters registered; returns its result, wall
    * seconds, and the `engine.*` metrics of that interval. */
  def measure[T](spark: SparkSession, cores: Int)(body: => T): (T, Double, Seq[(String, Double)]) = {
    val c = new EngineCounters(spark)
    c.register()
    val gc0 = Common.gcSeconds()
    val t0  = Common.now()
    try {
      val r    = body
      val wall = Common.secs(t0)
      (r, wall, c.metrics(wall, Common.gcSeconds() - gc0, cores))
    } finally c.unregister()
  }
}
