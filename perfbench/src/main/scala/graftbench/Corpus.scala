package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tools.CorpusJob

/** The training-data tier, run by the traced `query_mix` run next to the
  * queries' text operators: the full 13-step `CorpusJob` chain over a
  * corpus built with `spark.range`, with exact and near duplicates and a
  * benchmark slice for decontamination, to parquet plus JSONL shards. */
object Corpus {
  val Docs = 4000L

  val Steps = Seq("exact-dedup", "pii-scrub", "line-dedup", "compression-filter", "quality-filter",
    "neardup", "decontaminate", "lm-filter", "dsir-select", "mixture", "split", "shuffle", "pack-bins")

  /** ~60-word documents over a 500-word hashed vocabulary. About one in 50
    * repeats its predecessor exactly and one in 25 differs from it by one
    * word; the seed decides which, and every word. */
  def corpus(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val pick = pmod(xxhash64(lit(seed), col("id")), lit(50))
    spark.range(n)
      .select(
        col("id").as("doc_id"),
        when(col("id") > 0 && pick === 0, col("id") - 1)
          .otherwise(when(col("id") > 0 && pmod(pick, lit(2)) === 1 && pick < 5, col("id") - 1)
            .otherwise(col("id"))).as("_seed"),
        (col("id") > 0 && pmod(pick, lit(2)) === 1 && pick < 5).as("_patch"),
        concat(lit("s"), pmod(xxhash64(lit(seed + 1), col("id")), lit(16))).as("source"))
      .withColumn("text",
        concat_ws(" ",
          transform(sequence(lit(1), lit(60)), i =>
            when(col("_patch") && i === 7, lit("patched"))
              .otherwise(concat(lit("w"), pmod(xxhash64(lit(seed), col("_seed"), i), lit(500)))))))
      .select("doc_id", "text", "source")
  }

  def generate(spark: SparkSession, dir: String, seed: Long): String = {
    val docs = corpus(spark, seed, Docs)
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    docs.filter(pmod(col("doc_id"), lit(100)) === 7)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("text"))
      .write.mode("overwrite").parquet(s"$dir/bench.parquet")
    dir
  }

  /** The chain as the corpus probe configures it: permissive thresholds so
    * every step computes its full signal without emptying the corpus. */
  def config(in: String, out: String): String = {
    val rates = ((0 until 8).map(i => s"s$i: 2") ++ (8 until 12).map(i => s"s$i: 1")).mkString("{", ", ", "}")
    s"""input:
       |  documents: $in/documents.parquet
       |steps:
       |  - op: exact-dedup
       |  - op: pii-scrub
       |  - op: line-dedup
       |    delimiter: " "
       |    min-docs: 1000000000
       |  - op: compression-filter
       |    min-ratio: 0.05
       |  - op: quality-filter
       |    min-words: 10
       |    min-stop-hits: 0
       |  - op: neardup
       |    min-jaccard: 0.5
       |    keep-by: length
       |  - op: decontaminate
       |    benchmark: $in/bench.parquet
       |    min-overlap: 5
       |  - op: lm-filter
       |    max-bits-per-bigram: 30
       |    max-oov-pct: 100
       |  - op: dsir-select
       |    target-groups: [s0, s1, s2, s3]
       |    keep-above: -1000000
       |  - op: mixture
       |    group-column: source
       |    denominator: 2
       |    rates: $rates
       |  - op: split
       |    weights: {train: 8, val: 1, test: 1}
       |  - op: shuffle
       |    seed: 7
       |  - op: pack-bins
       |    seq-len: 2048
       |output:
       |  local: $out/out
       |  jsonl:
       |    dir: $out/jsonl
       |    tokens-per-shard: 20000
       |""".stripMargin
  }

  def runJob(spark: SparkSession, in: String, out: String): CorpusJob.Datasheet = {
    Common.freshDir(out)
    Common.write(s"$out/job.yaml", config(in, out))
    CorpusJob.run(spark, s"$out/job.yaml")
  }

  def check(spark: SparkSession, sheet: CorpusJob.Datasheet, out: String, o: Outcome): Unit = {
    val docs = spark.read.parquet(s"$out/out/documents")
    val r = docs.agg(count(lit(1)), countDistinct(col("doc_id")), countDistinct(col("text"))).collect()(0)
    val (rows, ids, texts) = (r.getLong(0), r.getLong(1), r.getLong(2))
    o.check("corpus.rows_match_datasheet", rows == sheet.outputRows && rows > 0,
      s"rows=$rows datasheet=${sheet.outputRows}")
    // one split per document id: the splits are disjoint
    o.check("corpus.splits_disjoint", ids == rows, s"ids=$ids rows=$rows")
    o.check("corpus.texts_distinct", texts == rows, s"texts=$texts rows=$rows")
    val zero = sheet.steps.filter(_.sec <= 0.0).map(_.op)
    o.check("corpus.no_resumed_step", zero.isEmpty && sheet.steps.map(_.op) == Steps,
      s"zero=${zero.mkString(",")} steps=${sheet.steps.map(_.op).mkString(",")}")
  }

  /** One traced `CorpusJob.run` into fresh output directories, with the
    * AQE setting `CorpusJob`'s own main would give the session, and its
    * checks. */
  def traced(spark: SparkSession, a: RunArgs, o: Outcome, tr: Tracer): Unit = {
    val in  = generate(spark, Common.freshDir(s"${a.work}/corpus-inputs"), a.seed)
    val out = s"${a.work}/corpus"
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    spark.conf.set(key, (a.cores * 8).toString)
    val (sheet, wall, engine) =
      try tr("tools.CorpusJob")(EngineCounters.measure(spark, a.cores)(runJob(spark, in, out)))
      finally spark.conf.unset(key)
    o.attempted += 1
    o.put("tools.corpusjob_s", wall)
    o.put("tools.corpusjob_stages", engine.toMap.apply("engine.stages"))
    sheet.steps.foreach(s => o.put(s"corpus.${s.op}_s", s.sec))
    o.put("corpus.kept_ratio", sheet.outputRows.toDouble / Docs)
    o.put("sinks.jsonl_bytes", Common.du(s"$out/jsonl").toDouble)
    check(spark, sheet, out, o)
  }
}
