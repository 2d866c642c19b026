package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: times every SparkEntry query end-to-end at the
  * scale factor in SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Queries execute through a `noop` sink so the full plan runs (a bare
  * count() lets Catalyst prune projections and skip work a real consumer
  * would pay for).
  */
object Bench {

  /** Previous-round per-query raw timings from a committed BENCH_r*.json's
    * text. Parses ONLY the `"queries"` object: the file also holds a
    * `"delta_sec"` object keyed by the same names, and a whole-file key
    * scrape lets those overwrite the raw timings (the r3
    * phantom-regression artifact — pinned by AdviceRegressionSpec). */
  def parsePrevQueries(fileText: String): Map[String, Double] = {
    // driver wraps the metric line as an escaped string — unescape first
    val txt = fileText.replace("\\\"", "\"")
    // a file can hold several "queries" blocks (the detail line's full-name
    // block AND the compact tail line's short `qNN` keys) — deltas join on
    // full names, so prefer the block with the most full (underscored) keys
    "\"queries\"\\s*:\\s*\\{([^}]*)\\}".r.findAllMatchIn(txt).map { qblock =>
      "\"(q[^\"]+)\"\\s*:\\s*([0-9.eE+-]+)".r
        .findAllMatchIn(qblock.group(1)).map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.maxByOption(_.keys.count(_.contains('_'))).getOrElse(Map.empty)
  }

  /** Baseline timing for one full query name from a parsed "queries"
    * block. Driver-written BENCH_r*.json records keep only the last 2000
    * chars of stdout, which usually truncates the detail line's head and
    * leaves ONLY the compact line's short `qNN` keys — so a baseline with
    * no underscored keys joins on the same prefix shortening the compact
    * emitter uses (`q26_minhash_neardup` → `q26`). A full-named baseline
    * never falls back: a stray short match there would misattribute. */
  def baselineFor(prevQ: Map[String, Double], fullName: String): Option[Double] =
    prevQ.get(fullName).orElse {
      if (prevQ.keys.exists(_.contains('_'))) None
      else prevQ.get(fullName.takeWhile(_ != '_'))
    }

  /** Machine-load stamp from /proc/loadavg: (1m, 5m, 15m averages,
    * currently-runnable task count). Recorded at run start AND end so a
    * load-contaminated bench is machine-detectable afterwards — the r7
    * driver bench ran under heavy background load and the resulting
    * +20-80% per-query drift was unfalsifiable from the committed JSON. */
  def loadStamp(): String =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try {
        val p = f.mkString.trim.split("\\s+")
        s"""[${p(0)},${p(1)},${p(2)},${p(3).split("/")(0).toInt}]"""
      } finally f.close()
    } catch { case _: Throwable => "null" }

  /** 1-minute load average (0.0 when unreadable). */
  private def load1m(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/loadavg")
      try f.mkString.trim.split("\\s+")(0).toDouble finally f.close()
    } catch { case _: Throwable => 0.0 }

  def main(args: Array[String]): Unit = {
    // Load gate: a bench STARTED on a busy box records phantom regressions
    // (the r17 driver record read 143 s at load 1.85→5.38 — a spurious
    // 1.8× vs r16 until matched-box A/B adjudication cleared the code).
    // Only the pre-start load is a clean signal — once passes run, loadavg
    // includes this process's own executors — so gate ONCE here: wait,
    // bounded, for the box to quiet; if it never does, run anyway and
    // stamp "contaminated":true so the driver can surface the record as
    // load-tainted instead of requiring forensic adjudication.
    val gate       = sys.env.get("SPARK_GRAFT_LOAD_GATE").map(_.toDouble).getOrElse(1.5)
    val maxWaitSec = sys.env.get("SPARK_GRAFT_LOAD_WAIT").map(_.toInt).getOrElse(300)
    var cur    = load1m()
    var waited = 0
    while (cur > gate && waited < maxWaitSec) {
      System.err.println(
        f"[bench] load1m=$cur%.2f > gate $gate%.2f — waiting for a quiet box ($waited/$maxWaitSec s)")
      Thread.sleep(30000)
      waited += 30
      cur = load1m()
    }
    // judged by the sample that TERMINATED the wait: a fresh re-sample
    // could catch a momentary dip on a box oscillating around the gate
    // and stamp a busy-box run clean
    val contaminated = cur > gate
    val loadStart = loadStamp()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev-only: SPARK_GRAFT_ONLY=q26,q31 restricts the run (driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // classes compiled per query and per pass: the JVM-wide codegen
    // compile counter, read on this thread around each query. Pass 0 is
    // the warm-up; a warm pass that still compiles means the query's
    // generated classes do not stay in Spark's codegen cache.
    val classes = scala.collection.mutable.LinkedHashMap(
      ordered.map { case (n, _) => n -> scala.collection.mutable.ArrayBuffer.empty[Long] }: _*)
    def compiled(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // full untimed warm-up pass: JVM/codegen/parquet-footer/broadcast init
    // happens here, so the timed pass measures steady state and the first
    // alphabetical query stops absorbing session startup (r1 finding)
    ordered.foreach { case (name, fn) =>
      val c0 = compiled()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      classes(name) += compiled() - c0
    }
    // median of 3 warm passes: the builder's own notes measured ±15% run-to-run
    // noise on this machine; a single sample cannot support per-query deltas.
    // load1m is stamped BEFORE each pass (`load_passes`) and every query's
    // median records WHICH pass supplied it (`median_pass`, 1-based): the
    // start-only gate stamped the r18 driver record clean although load
    // arrived mid-run — with per-pass stamps the driver can discount a
    // contaminated pass without forensic adjudication.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt).getOrElse(3)
    val passLoads = new scala.collection.mutable.ArrayBuffer[Double]
    def runPass(): Seq[(String, Double, Boolean)] = {
      passLoads += load1m()
      ordered.map { case (name, fn) =>
        val c0 = compiled()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        val wall = (System.nanoTime() - t0) / 1e9
        classes(name) += compiled() - c0
        (name, wall, ok)
      }
    }
    val samples = scala.collection.mutable.ArrayBuffer.tabulate(passes)(_ => runPass())
    def summarize(ss: Seq[Seq[(String, Double, Boolean)]]) = ordered.map { case (name, _) =>
      val runs = ss.map(_.find(_._1 == name).get)
      val byTime = runs.zipWithIndex.sortBy(_._1._2)
      val (medRun, medIdx) = byTime(runs.size / 2)
      // (name, median, allOk, 1-based pass of the median, min, max)
      (name, medRun._2, runs.forall(_._3), medIdx + 1,
        byTime.head._1._2, byTime.last._1._2)
    }
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // per-query deltas vs the most COMPLETE parseable baseline among the
    // committed bench artifacts: driver-written BENCH_r*.json tails can be
    // truncated before the "queries" block (r3's was), while the
    // self-persisted BENCH_SELF.json always carries full metrics — pick by
    // parsed-query count, newest on ties (see parsePrevQueries for why only
    // the "queries" block is read)
    val candidates = new java.io.File(".").listFiles()
      .filter(f => f.getName.matches("BENCH_r\\d+\\.json") || f.getName == "BENCH_SELF.json")
    val prev = candidates
      .map { f =>
        val txt = scala.io.Source.fromFile(f, "UTF-8").mkString
        // cross-scale-factor deltas are meaningless: only baselines whose
        // recorded sf matches this run (or records none) qualify
        val sfOk = "\"sf\"\\s*:\\s*\\\\?\"([^\"\\\\]+)".r.findFirstMatchIn(txt.replace("\\\"", "\""))
          .forall(m => m.group(1) == sfDir || sfDir.endsWith(m.group(1)) || m.group(1).endsWith(sfDir))
        f -> (if (sfOk) parsePrevQueries(txt) else Map.empty[String, Double])
      }
      .filter(_._2.nonEmpty)
      .sortBy { case (f, m) => (m.size, f.lastModified) }
      .lastOption
    // Noise adjudication (VERDICT r19 #2: three consecutive round records
    // contaminated by driver-box load): when the median-based total moves
    // >15% against the baseline over a (near-)complete query match, run ONE
    // extra pass and report whether the move survives the per-query MINIMUM
    // total — medians absorb one bad pass out of three, minima absorb all
    // but one, so `move_survives_min=false` marks the move as box noise
    // from the record alone, no forensic A/B needed.
    var results = summarize(samples.toSeq)
    val prevTotalOpt = prev.flatMap { case (_, prevQ) =>
      val matched = results.flatMap { case (k, _, _, _, _, _) => baselineFor(prevQ, k) }
      if (matched.size >= (results.size * 9) / 10 && matched.nonEmpty) Some(matched.sum) else None
    }
    val movedVsPrev = prevTotalOpt.map { pt =>
      math.abs(results.map(_._2).sum - pt) / pt > 0.15
    }
    val extraPass = movedVsPrev.contains(true)
    if (extraPass) {
      System.err.println(
        f"[bench] median total ${results.map(_._2).sum}%.1f s moved >15%% vs baseline " +
          f"${prevTotalOpt.get}%.1f s — running one extra pass to adjudicate")
      samples += runPass()
      results = summarize(samples.toSeq)
    }
    val moveSurvivesMin = prevTotalOpt.map { pt =>
      math.abs(results.map(_._5).sum - pt) / pt > 0.15
    }
    val qs = results.map { case (k, v, _, _, _, _) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val loadPasses = passLoads.map(v => fmt(v).toString).mkString("[", ",", "]")
    val medianPass = results.map { case (k, _, _, p, _, _) => "\"" + k + "\":" + p }
      .mkString("{", ",", "}")
    val total    = results.map(_._2).sum
    val minTotal = results.map(_._5).sum
    // per-query minima travel with the record: a noisy median is
    // re-adjudicable from min_total without rerunning the bench
    val qsMin = results.map { case (k, _, _, _, mn, _) => "\"" + k + "\":" + fmt(mn) }
      .mkString("{", ",", "}")
    // spread flags: a query whose max/min exceeds 3× ran under interference
    // in at least one pass — its median is suspect
    val noisy = results.collect {
      case (k, _, _, _, mn, mx) if mn > 0 && mx / mn > 3.0 => "\"" + k + "\""
    }.mkString("[", ",", "]")
    val classesPass = (0 to samples.size).map(i => classes.values.map(_(i)).sum)
      .mkString("[", ",", "]")
    val classesQ = classes.map { case (k, cs) => "\"" + k + "\":" + cs.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val deltas = prev.map { case (f, prevQ) =>
      val ds = results.flatMap { case (k, v, _, _, _, _) =>
        baselineFor(prevQ, k).map(p => "\"" + k + "\":" + fmt(v - p))
      }
      // stamp the baseline's mtime: a bare filename stops identifying the
      // record once this run overwrites it (BENCH_SELF.json especially)
      val stamp = java.time.Instant.ofEpochMilli(f.lastModified)
        .toString.replaceAll("\\.\\d+Z$", "Z")
      s""","delta_vs":"${f.getName}@$stamp","delta_sec":${ds.mkString("{", ",", "}")}"""
    }.getOrElse("")
    val moveBlock = (movedVsPrev, moveSurvivesMin, prevTotalOpt) match {
      case (Some(m), Some(s), Some(pt)) =>
        s""","baseline_total":${fmt(pt)},"moved_gt15pct":$m,"extra_pass":$extraPass,""" +
          s""""move_survives_min":$s"""
      case _ => ""
    }
    // failures are machine-visible in the metric line, not just stderr;
    // load stamps make drift-vs-regression adjudicable after the fact
    // (load = [1m, 5m, 15m, runnable-tasks] at run start / end)
    val detail =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","passes":${samples.size},""" +
        s""""load_start":$loadStart,"load_end":${loadStamp()},"contaminated":$contaminated,""" +
        s""""load_passes":$loadPasses,"median_pass":$medianPass,""" +
        s""""min_total":${fmt(minTotal)},"classes_pass":$classesPass,"classes":$classesQ,""" +
        s""""queries_min":$qsMin,"noisy":$noisy$moveBlock,""" +
        s""""queries":$qs,"failed":$failed,"sf":"$sfDir"$deltas}"""
    println(detail)
    // persist the FULL metric JSON next to the round artifacts: the driver
    // stores a truncated log tail, which made r3's q01–q33 raw timings
    // unrecoverable from the committed file
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")
    val w = new java.io.PrintWriter(new java.io.File(out), "UTF-8")
    try w.println(detail) finally w.close()
    spark.stop()
    // the driver keeps only the LAST 2000 chars of stdout (r10's single
    // long line — queries + delta block — lost its head to that truncation
    // and the round record parsed as null, with sbt's trailing "[success]"
    // line also inside the window). The LAST line is therefore the compact
    // contract form: no deltas, no load stamps, and the short `qNN` key
    // prefixes from the contract's own example ("queries":{"q1":sec,…}) —
    // ~1.4 KB for ~100 queries, safely inside the tail. Full names and the
    // delta block live in the detail line above and in BENCH_SELF.json.
    val prefixes = results.map { case (k, _, _, _, _, _) => k.takeWhile(_ != '_') }
    val shortKeys = prefixes.distinct.size == prefixes.size
    val qsShort = results.map { case (k, v, _, _, _, _) =>
      "\"" + (if (shortKeys) k.takeWhile(_ != '_') else k) + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","contaminated":$contaminated,""" +
        s""""min_total":${fmt(minTotal)},"noisy":$noisy$moveBlock,""" +
        s""""queries":$qsShort,"failed":$failed,"sf":"$sfDir","detail":"$out"}""")
  }
}
