package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checks of the benchmark's own counters at sf0.01: the shuffle-write
  * counter must read 0 exactly when a plan has no shuffle exchange, and
  * span self times must add up to the traced wall. */
object SelfTest {
  /** q61 and q86 end in a global sort, so their plans hold one range
    * exchange; q93 shuffles for its joins and aggregates; the bare scan
    * has no exchange at all. */
  val Probes = Seq("q61", "q86", "q93")
  /** Span bookkeeping between the outer clock and the root span. */
  val SelfSumToleranceS = 0.005

  private val ShuffleExchange = "(?m)^[\\s+:-]*Exchange ".r

  def run(spark: SparkSession, a: RunArgs, o: Outcome, tr: Option[Tracer]): Double = {
    val dir = s"${a.data}/sf0.01"
    // a fresh DataFrame per execution: a re-executed one reuses its shuffle files
    val qs: Seq[(String, () => DataFrame)] =
      Queries.byPrefix(Probes).map { case (name, fn) => name.takeWhile(_ != '_') -> (() => fn(spark, dir)) } :+
        ("scan" -> (() => spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")))
    qs.foreach { case (_, df) => Queries.noop(df()) } // warm-up
    val t  = new Tracer(s"selftest-${a.seed}")
    val t0 = Common.now()
    val shuffled = t("selftest") {
      qs.map { case (q, df) =>
        val (_, _, eng) = t(s"queries.$q")(EngineCounters.measure(spark, a.cores)(Queries.noop(df())))
        q -> eng.toMap.apply("engine.shuffle_write_bytes")
      }
    }
    val wall = Common.secs(t0)
    o.attempted += qs.size
    qs.zip(shuffled).foreach { case ((q, df), (_, bytes)) =>
      val exchange = ShuffleExchange.findFirstIn(df().queryExecution.executedPlan.toString).isDefined
      o.check(s"selftest.$q.shuffle_counter", (bytes > 0) == exchange, s"bytes=$bytes exchange=$exchange")
      o.put(s"selftest.$q.shuffle_write_bytes", bytes)
    }
    o.check("selftest.scan.no_shuffle", shuffled.toMap.apply("scan") == 0.0)
    o.check("selftest.q93.shuffles", shuffled.toMap.apply("q93") > 0.0)
    val selfSum = t.all.map(t.selfSeconds).sum
    o.check("selftest.span_self_sum", math.abs(selfSum - wall) <= SelfSumToleranceS,
      f"self=$selfSum%.6f wall=$wall%.6f tolerance=$SelfSumToleranceS")
    0.0
  }
}
