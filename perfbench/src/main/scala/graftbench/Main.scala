package graftbench

import scala.collection.mutable

/** Timed windows and the end-to-end metrics every workload reports. */
object Measure {
  /** One timed window: each op's wall seconds, and which ops ran while the
    * hypervisor gave less than `MaxSteal` of the machine's CPU time to
    * other guests. Medians are over those clean ops when there are any. */
  final case class Walls(values: Seq[Double], clean: Seq[Boolean]) {
    def kept[T](xs: Seq[T]): Seq[T] =
      if (clean.contains(true)) xs.zip(clean).collect { case (x, true) => x } else xs
    def median: Double = Common.median(kept(values))
  }

  /** Steal above this share of an op's CPU time makes the op unclean: on a
    * shared host it slowed passes by 30-60%, which no program change moves. */
  val MaxSteal = 0.02

  /** Repeat `op` (given its index, returning its wall seconds) until
    * `seconds` have passed and at least `minOps` ran; while fewer than
    * `minOps` ran clean, go on until `maxSeconds`. */
  def window(seconds: Double, minOps: Int, maxSeconds: Double)(op: Int => Double): Walls = {
    val t0 = Common.now()
    val b  = mutable.ArrayBuffer.empty[(Double, Boolean)]
    def more = b.size < minOps || Common.secs(t0) < seconds ||
      (b.count(_._2) < minOps && Common.secs(t0) < maxSeconds)
    while (more) {
      val cpu0 = Common.cpuTimes()
      val wall = op(b.size)
      b += wall -> (Common.stealShare(cpu0, Common.cpuTimes()) < MaxSteal)
      Common.HeapPeak.sample()
    }
    Walls(b.map(_._1).toSeq, b.map(_._2).toSeq)
  }

  /** `wall_s`: the workload's unit of work; `op_p50_s`: the median of one
    * operation inside it. */
  def endToEnd(o: Outcome, wall: Double, opP50: Double): Unit = {
    o.put("wall_s", wall)
    o.put("op_p50_s", opP50)
  }
}

/** Benchmark entry point inside the JVM. `run.py` builds the classpath and
  * passes `workload seed seconds trace cores workDir dataDir`; the last
  * stdout line starting with `GRAFTBENCH ` carries the run's record. */
object Main {
  def main(argv: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, cores, work, data) = argv.take(7)
    val a = RunArgs(workload, seed.toLong, seconds.toDouble, trace == "1", cores.toInt, work, data)
    val loadStart = graft.Bench.loadStamp()
    val o  = new Outcome
    val tr = if (a.trace) Some(new Tracer(s"$workload-${a.seed}-${System.currentTimeMillis}")) else None
    def span[T](name: String)(body: => T): T = tr.fold(body)(t => t(name)(body))

    val t0 = Common.now()
    val runOk =
      try span("run") {
        val jobs = workload == "queue_backfill"
        val (spark, sessionS) = span("setup.session")(Common.timed(Common.session(a.cores, a.work, jobs)))
        val setupS = sessionS + (workload match {
          case "queue_backfill" => Queue.run(spark, a, o, tr)
          case "query_mix"      => Queries.run(spark, a, o, tr)
          case "selftest"       => SelfTest.run(spark, a, o, tr)
          case other            => throw new IllegalArgumentException(s"unknown workload $other")
        })
        o.put("setup_s", setupS)
        o.put("peak_heap_mb", Common.HeapPeak.peakMb())
        spark.stop()
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] run failed: $e")
          e.printStackTrace(System.err)
          o.attempted = math.max(o.attempted, 1L)
          o.failed += 1
          false
      }
    val wall = Common.secs(t0)
    tr.foreach { t =>
      val root = t.roots.head
      val selfSum = t.all.map(t.selfSeconds).sum
      o.put("trace.self_sum_s", selfSum)
      o.put("trace.wall_s", (root.end - root.start) / 1e9)
      Common.write(s"${a.work}/spans.json", t.json)
      System.err.println(f"[bench] traced wall $wall%.3f s; span self times sum to $selfSum%.6f s")
    }
    val metrics = o.metrics.map { case (k, v) => s"${Common.jsonStr(k)}:${Common.jsonNum(v)}" }
    val checks  = o.checks.map { case (k, v) => s"${Common.jsonStr(k)}:$v" }
    println(
      s"""GRAFTBENCH {"ok":$runOk,"attempted":${o.attempted},"failed":${o.failed},""" +
        s""""checks":{${checks.mkString(",")}},"metrics":{${metrics.mkString(",")}},""" +
        s""""notes":[${o.notes.map(Common.jsonStr).mkString(",")}],""" +
        s""""stamp":{"loadavg_start":$loadStart,"loadavg_end":${graft.Bench.loadStamp()},""" +
        s""""cores":${a.cores},""" +
        s""""xmx_mb":${Common.xmxMb()},"seed":${a.seed},"trace":${a.trace}}}""")
    System.out.flush()
    // stray non-daemon threads must not keep the JVM alive
    sys.exit(0)
  }
}
