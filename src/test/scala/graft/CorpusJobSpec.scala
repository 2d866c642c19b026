package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.tools.CorpusJob

/** End-to-end config-driven corpus-prep job: YAML steps compose the
  * oracle-gated operators, datasheet records per-step retention. */
class CorpusJobSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(dir: java.nio.file.Path): Unit = {
    // 0/1 exact dups (after normalization), 2 short+stopword-poor, 3 PII,
    // 4 clean, 5 benchmark-contaminated (shares its whole text), 6 clean
    Seq(
      (0L, "the quick brown fox jumps over a lazy dog near the old river bank today"),
      (1L, "The  quick Brown fox jumps over a lazy dog near the old river bank today"),
      (2L, "tiny doc"),
      (3L, "contact a.b@x.co about the server and a backup plan for the long outage window here"),
      (4L, "a steady rain fell on the quiet town while the market stayed open all day long"),
      (5L, "this exact benchmark passage must never leak into the training corpus and the eval set"),
      (6L, "children played in the park as the evening light faded over a calm and warm horizon"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Seq((100L, "this exact benchmark passage must never leak into the training corpus and the eval set"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/bench.parquet")
  }

  test("CorpusJob: full step chain, datasheet retention, split partitioning") {
    val dir = Files.createTempDirectory("corpusjob")
    writeDocs(dir)
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: exact-dedup
         |  - op: pii-scrub
         |  - op: quality-filter
         |    min-words: 5
         |  - op: decontaminate
         |    benchmark: $dir/bench.parquet
         |    min-overlap: 5
         |  - op: split
         |    weights: {train: 8, val: 1, test: 1}
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))

    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")

    // exact-dedup: 7 -> 6 (doc 1 is doc 0 after normalization)
    // pii-scrub: row-preserving
    // quality-filter: drops doc 2 (2 words, 0 stop hits) -> 5
    // decontaminate: drops doc 5 -> 4
    // split: row-preserving
    assert(sheet.steps.map(s => (s.op, s.rowsIn, s.rowsOut)) === Seq(
      ("exact-dedup", 7L, 6L),
      ("pii-scrub", 6L, 6L),
      ("quality-filter", 6L, 5L),
      ("decontaminate", 5L, 4L),
      ("split", 4L, 4L)))
    assert(sheet.outputRows === 4L)

    val out = spark.read.parquet(s"$dir/out/documents")
    assert(out.count() === 4L)
    assert(out.columns.contains("split") && out.columns.contains("text"))
    val ids = out.select("doc_id").as[Long].collect().sorted
    assert(ids === Array(0L, 3L, 4L, 6L))
    // PII was redacted in place, text column name preserved
    val d3 = out.filter($"doc_id" === 3L).select("text").as[String].head()
    assert(d3.contains("<EMAIL>") && !d3.contains("a.b@x.co"))
    // partitioned layout on disk
    val parts = new java.io.File(s"$dir/out/documents").listFiles()
      .filter(_.getName.startsWith("split=")).map(_.getName).sorted
    assert(parts.nonEmpty)
    // datasheet written and well-formed
    val js = new String(Files.readAllBytes(dir.resolve("out/datasheet.json")), "UTF-8")
    assert(js.contains("\"output_rows\":4"))
  }

  test("CorpusJob: jsonl output option exports the final table as token-budget shards") {
    val dir = Files.createTempDirectory("corpusjob-jsonl")
    writeDocs(dir)
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: exact-dedup
         |  - op: quality-filter
         |    min-words: 5
         |output:
         |  local: $dir/out
         |  jsonl:
         |    dir: $dir/jsonl
         |    tokens-per-shard: 30
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    val parquetOut = spark.read.parquet(s"$dir/out/documents")
    val jsonlOut   = spark.read.json(s"$dir/jsonl")
    assert(jsonlOut.count() === sheet.outputRows)
    assert(jsonlOut.columns.contains("shard"))
    // same rows in both output forms
    val a = parquetOut.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = jsonlOut.select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a === b)
  }

  test("CorpusJob: line-dedup step rewrites boilerplate out of text in place") {
    val dir = Files.createTempDirectory("corpusjob-linededup")
    Seq(
      (1L, "SITE BANNER\nalpha content"),
      (2L, "SITE BANNER\nbeta content"),
      (3L, "SITE BANNER\ngamma content"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: line-dedup
         |    min-docs: 3
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet.outputRows === 3) // docs kept, lines removed
    val out = spark.read.parquet(s"$dir/out/documents")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out === Map(1L -> "alpha content", 2L -> "beta content", 3L -> "gamma content"))
  }

  test("CorpusJob: neardup keep-by selects the longest member, not the lowest id") {
    val dir = Files.createTempDirectory("corpusjob-keepby")
    // docs 1/2 are near-dups; 2 is LONGER, so keep-by: length must keep 2
    // (the canonical default would keep 1); doc 5 is unrelated
    Seq(
      (1L, "the quick brown fox jumps over a lazy dog near the old river bank today"),
      (2L, "the quick brown fox jumps over a lazy dog near the old river bank today my friend"),
      (5L, "children played in the park as the evening light faded over a calm horizon"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def runWith(extra: String): Set[Long] = {
      val cfg =
        s"""input:
           |  documents: $dir/documents.parquet
           |steps:
           |  - op: neardup
           |    min-jaccard: 0.5
           |$extra
           |output:
           |  local: $dir/out
           |""".stripMargin
      Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
      CorpusJob.run(spark, s"$dir/job.yaml")
      spark.read.parquet(s"$dir/out/documents").select($"doc_id").as[Long].collect().toSet
    }
    assert(runWith("    keep-by: length") === Set(2L, 5L))
    assert(runWith("") === Set(1L, 5L)) // canonical default keeps the lowest id
  }

  test("CorpusJob: compression-filter step drops boilerplate pages") {
    val dir = Files.createTempDirectory("corpusjob-comp")
    val varied = (0 until 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val boiler = Seq.fill(200)("same phrase again").mkString(" ")
    Seq((1L, varied), (2L, boiler)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: compression-filter
         |    min-ratio: 0.2
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet.steps.map(s => (s.op, s.rowsIn, s.rowsOut)) ===
      Seq(("compression-filter", 2L, 1L)))
    val ids = spark.read.parquet(s"$dir/out/documents")
      .select($"doc_id").as[Long].collect().toList
    assert(ids === List(1L))
  }

  test("CorpusJob: pack-sequences-strided terminal step materializes overlapping windows") {
    val dir = Files.createTempDirectory("corpusjob-strided")
    Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: pack-sequences-strided
         |    seq-len: 4
         |    stride: 2
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    // stream a(0) b(1) c(2) d(3) e(4) → windows [0,4) [2,6) [4,8)
    assert(sheet.steps.map(s => (s.op, s.rowsIn, s.rowsOut)) ===
      Seq(("pack-sequences-strided", 2L, 3L)))
    val out = spark.read.parquet(s"$dir/out/documents")
      .orderBy($"seq_idx")
      .select($"seq_idx", $"seq_text").as[(Long, String)].collect().toList
    assert(out === List((0L, "a b c d"), (1L, "c d e"), (2L, "e")))
  }

  test("CorpusJob: c4-clean step drops failing pages and rewrites text in place") {
    val dir = Files.createTempDirectory("corpusjob-c4")
    Seq(
      // doc 1: two qualifying lines survive, middle line dies (no punct)
      (1L, "one two three four five.\nno punct so this dies\nsay hello to the world!"),
      // doc 2: only short lines → 0 retained sentences → page drops
      (2L, "a b c.\nshort."),
      // doc 3: lorem ipsum page rule
      (3L, "one two three four five.\nsix seven eight nine ten.\nwe saw lorem ipsum today."))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: c4-clean
         |    min-words-per-line: 5
         |    min-sentences: 2
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet.steps.map(s => (s.op, s.rowsIn, s.rowsOut)) === Seq(("c4-clean", 3L, 1L)))
    val out = spark.read.parquet(s"$dir/out/documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toList
    assert(out === List(
      (1L, "one two three four five.\nsay hello to the world!")))
  }

  test("CorpusJob: plan barrier keeps deep double-reference step chains linear") {
    // each lm-filter references its input twice (anchor branch ∪ scored
    // branch) — without the per-stage lineage barrier 14 of them nest
    // 2^14 copies of the input plan and analysis alone explodes (the
    // corpusjob-probe OOM, dev/PLANS_r10.md §24). With the barrier the
    // chain is linear; permissive ceilings keep every doc so the chain
    // also proves N identity stages compose losslessly.
    val dir = Files.createTempDirectory("corpusjob-deep")
    writeDocs(dir)
    val stage =
      """  - op: lm-filter
        |    max-bits-per-bigram: 10000
        |    max-oov-pct: 100
        |""".stripMargin
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |${stage * 14}output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet.steps.length === 14)
    assert(sheet.steps.forall(s => s.rowsIn === 7 && s.rowsOut === 7))
    assert(sheet.outputRows === 7)
  }

  test("CorpusJob: quality-filter and lang-filter are per-row filters over a YAML stopword-table") {
    val dir = Files.createTempDirectory("corpusjob-lang")
    Seq[(Long, String)](
      (1L, "le chat et la souris"),   // fr 2 (le, la) vs en 0 → fr
      (2L, "the cat and the mouse"),  // en 3 → en
      (3L, "c++ and l' le"),          // en 2 (c++, and) vs fr 3 (l', le twice) → fr
      (4L, "c++ the l' la"),          // en 2 vs fr 2: tie → en (lang asc)
      (5L, "nothing here at all"),    // no hits → und
      (6L, "le"),                     // 1 word: quality-filter drops it
      (7L, null))                     // null text: quality-filter drops it
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // fr lists 'le' twice: a duplicated row counts once per copy, as in
    // the stopword-table join, and decides doc 3
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |stopword-table:
         |  en: [the, and, "c++"]
         |  fr: [le, la, "l'", le]
         |steps:
         |  - op: quality-filter
         |    min-words: 3
         |    min-mean-len: 0
         |    min-alpha-frac: 0
         |    min-stop-hits: 0
         |  - op: lang-filter
         |    keep: [fr]
         |output:
         |  local: $dir/out
         |checkpoint: $dir/ckpt
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))

    // checkpoint mode writes each stage to parquet straight off its
    // input scan, so a stage's write plan is exactly its step's plan
    import org.apache.spark.sql.execution.{SparkPlan, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    // AQE wraps the whole write when the plan has an exchange
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val plans = new java.util.concurrent.ConcurrentHashMap[String, Seq[SparkPlan]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val all = nodes(qe.executedPlan)
        all.collectFirst {
          case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.getName
        }.foreach(plans.put(_, all))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val sheet =
      try {
        val sh = CorpusJob.run(spark, s"$dir/job.yaml")
        org.scalatest.concurrent.Eventually.eventually(
          org.scalatest.concurrent.Eventually.timeout(
            org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
          assert(plans.containsKey("stage-01-lang-filter"))
        }
        sh
      } finally spark.listenerManager.unregister(listener)

    assert(sheet.steps.map(s => (s.op, s.rowsIn, s.rowsOut)) === Seq(
      ("quality-filter", 7L, 5L),
      ("lang-filter", 5L, 2L)))
    val ids = spark.read.parquet(s"$dir/out/documents").select("doc_id").as[Long]
      .collect().sorted
    assert(ids === Array(1L, 3L))

    for (stage <- Seq("stage-00-quality-filter", "stage-01-lang-filter")) {
      val names = plans.get(stage).map(_.nodeName)
      assert(!names.exists(n => n.contains("Exchange") || n.contains("Join")),
        s"$stage must be a per-row filter, planned: ${names.mkString(" <- ")}")
    }
  }

  test("CorpusJob: unknown step op rejected before any work") {
    val dir = Files.createTempDirectory("corpusjob-bad")
    writeDocs(dir)
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: make-it-better
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      CorpusJob.run(spark, s"$dir/job.yaml")
    }
    assert(e.getMessage.contains("make-it-better"))
  }

  test("CorpusJob: mixture and shuffle steps") {
    val dir = Files.createTempDirectory("corpusjob-mix")
    (0L until 40L).map(i => (i, s"doc number $i body", if (i % 2 == 0) "keep" else "drop"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: mixture
         |    group-column: source
         |    denominator: 100
         |    rates: {keep: 100, drop: 0}
         |  - op: stratified
         |    group-column: source
         |    k: 5
         |  - op: shuffle
         |    seed: 7
         |  - op: pack
         |    seq-len: 4
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet.steps.map(s => (s.op, s.rowsOut)) ===
      Seq(("mixture", 20L), ("stratified", 5L), ("shuffle", 5L), ("pack", 5L)))
    val out = spark.read.parquet(s"$dir/out/documents")
    assert(out.filter($"source" === "drop").count() === 0L)
    // shuffle_rank is a dense 0-based permutation
    val ranks = out.select("shuffle_rank").as[Long].collect().sorted
    assert(ranks === (0L until 5L).toArray)
    // pack offsets tile the 4-word docs exactly one sequence apart
    val offs = out.select("offset").as[Long].collect().sorted
    assert(offs === Array(0L, 4L, 8L, 12L, 16L))
    assert(out.filter($"first_seq" =!= $"last_seq").count() === 0L)
  }

  test("CorpusJob: mixture step accepts token budgets in place of rates") {
    val dir = Files.createTempDirectory("corpusjob-budget")
    // 20 docs x 5 tokens per group: group a supplies 100 tokens, b 100
    (0L until 40L).map(i => (i, "w1 w2 w3 w4 w5", if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: mixture
         |    group-column: source
         |    denominator: 100
         |    token-budgets: {a: 1000, b: 0}
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    // a over-budgeted -> keeps all 20; b zero-budget -> drops all
    assert(sheet.steps.map(c => (c.op, c.rowsIn, c.rowsOut)) === Seq(("mixture", 40L, 20L)))
    val out = spark.read.parquet(s"$dir/out/documents")
    assert(out.filter($"source" === "b").count() === 0L)
    assert(out.filter($"source" === "a").count() === 20L)
  }

  test("CorpusJob: pack-sequences terminal step writes windows, not docs") {
    val dir = Files.createTempDirectory("corpusjob-packseq")
    Seq((1L, "a b c"), (2L, "d e f g h"), (3L, "i j"), (4L, "k"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: pack-sequences
         |    seq-len: 4
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet.steps.map(c => (c.op, c.rowsIn, c.rowsOut)) === Seq(("pack-sequences", 4L, 3L)))
    val out = spark.read.parquet(s"$dir/out/documents")
      .orderBy($"seq_idx")
      .select($"seq_idx", $"seq_text").as[(Long, String)].collect()
    assert(out === Seq((0L, "a b c d"), (1L, "e f g h"), (2L, "i j k")))
  }

  test("CorpusJob: neardup step keeps cluster canonicals") {
    val dir = Files.createTempDirectory("corpusjob-neardup")
    // 0 and 1 near-identical (one word differs), 2 unrelated
    Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: neardup
         |    min-jaccard: 0.5
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet.steps.map(c => (c.op, c.rowsIn, c.rowsOut)) === Seq(("neardup", 3L, 2L)))
    val ids = spark.read.parquet(s"$dir/out/documents")
      .select("doc_id").as[Long].collect().sorted
    assert(ids === Array(0L, 2L))

    // the cap wires through and is ON by default: max-bucket 1 drops every
    // ≥2-doc LSH bucket, so the near-dup pair is never generated and all
    // three docs survive (r10 verdict: caps are job-layer defaults now)
    val cfgCap =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: neardup
         |    min-jaccard: 0.5
         |    max-bucket: 1
         |output:
         |  local: $dir/out-cap
         |""".stripMargin
    Files.write(dir.resolve("job-cap.yaml"), cfgCap.getBytes("UTF-8"))
    val sheetCap = CorpusJob.run(spark, s"$dir/job-cap.yaml")
    assert(sheetCap.steps.map(c => (c.op, c.rowsIn, c.rowsOut)) === Seq(("neardup", 3L, 3L)))
  }

  test("CorpusJob: checkpointed stages materialize to parquet and a killed run resumes without recompute") {
    val dir = Files.createTempDirectory("corpusjob-ckpt")
    writeDocs(dir)
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: exact-dedup
         |  - op: pii-scrub
         |  - op: quality-filter
         |    min-words: 5
         |  - op: decontaminate
         |    benchmark: $dir/bench.parquet
         |    min-overlap: 5
         |  - op: split
         |    weights: {train: 8, val: 1, test: 1}
         |output:
         |  local: $dir/out
         |checkpoint: $dir/ckpt
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))

    val sheet1 = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet1.outputRows === 4L)
    // every stage materialized with a committed sidecar
    val stages = Seq("stage-00-exact-dedup", "stage-01-pii-scrub",
      "stage-02-quality-filter", "stage-03-decontaminate", "stage-04-split")
    stages.foreach { s =>
      assert(new java.io.File(s"$dir/ckpt/$s/_SUCCESS").exists(), s)
      assert(new java.io.File(s"$dir/ckpt/$s.meta.json").exists(), s)
    }

    // kill simulation: the final stage vanished mid-write; the input is
    // REPLACED by an empty table — a true resume must not recompute from
    // it, only re-run the missing stage off stage-03's materialization
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(s"$dir/ckpt/stage-04-split"))
    new java.io.File(s"$dir/ckpt/stage-04-split.meta.json").delete()
    Seq.empty[(Long, String)].toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val sheet2 = CorpusJob.run(spark, s"$dir/job.yaml")
    // sec is a wall-clock measurement (0.0 on resumed stages), excluded
    // from the replay-identity contract
    def shape(d: CorpusJob.Datasheet) = (d.steps.map(c => (c.op, c.rowsIn, c.rowsOut)), d.outputRows)
    assert(shape(sheet2) === shape(sheet1), "resumed datasheet must replay finished stages identically")
    assert(spark.read.parquet(s"$dir/out/documents")
      .select("doc_id").as[Long].collect().sorted === Array(0L, 3L, 4L, 6L))

    // fully-complete checkpoints: nothing recomputes, the sheet replays
    // entirely from sidecars (input still empty) — and every replayed
    // stage reports sec=0.0 (it did no work this run)
    val sheet3 = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(shape(sheet3) === shape(sheet1))
    assert(sheet3.steps.forall(_.sec === 0.0))

    // a same-op PARAMETER change invalidates that stage and everything
    // after it: quality-filter relaxes so doc 2 now passes — stages 0-1
    // replay from sidecars (input is still empty, so a recompute of them
    // would change the sheet), stages 2+ recompute off stage-01 parquet
    val cfg2 = cfg.replace("    min-words: 5", "    min-words: 2\n    min-stop-hits: 0")
    assert(cfg2 != cfg)
    Files.write(dir.resolve("job.yaml"), cfg2.getBytes("UTF-8"))
    val sheet4 = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet4.steps.map(s => (s.op, s.rowsIn, s.rowsOut)) === Seq(
      ("exact-dedup", 7L, 6L),      // replayed
      ("pii-scrub", 6L, 6L),        // replayed
      ("quality-filter", 6L, 6L),   // recomputed: doc 2 passes now
      ("decontaminate", 6L, 5L),
      ("split", 5L, 5L)))
    assert(spark.read.parquet(s"$dir/out/documents")
      .select("doc_id").as[Long].collect().sorted === Array(0L, 2L, 3L, 4L, 6L))
  }

  test("CorpusJob: pack-bins assigns whole-doc bins; pack-bin-sequences materializes them") {
    val dir = Files.createTempDirectory("corpusjob-bins")
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"d${id}t$i").mkString(" "))
    Seq(doc(1, 6), doc(2, 2), doc(3, 5), doc(4, 3))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cfg =
      s"""input:
         |  documents: $dir/documents.parquet
         |steps:
         |  - op: pack-bins
         |    seq-len: 8
         |output:
         |  local: $dir/out
         |""".stripMargin
    Files.write(dir.resolve("job.yaml"), cfg.getBytes("UTF-8"))
    val sheet = CorpusJob.run(spark, s"$dir/job.yaml")
    assert(sheet.steps.map(s => (s.op, s.rowsIn, s.rowsOut)) === Seq(("pack-bins", 4L, 4L)))
    val out = spark.read.parquet(s"$dir/out/documents")
    assert(out.columns.toSet.contains("bin") && out.columns.contains("text"))
    // capacity law holds through the job plumbing
    val fills = out.withColumn("n", size(split($"text", " ")))
      .groupBy($"bin").agg(sum($"n").as("fill"))
      .select("fill").as[Long].collect()
    assert(fills.forall(_ <= 8L))

    val cfg2 = cfg.replace("pack-bins", "pack-bin-sequences").replace(s"$dir/out", s"$dir/out2")
    Files.write(dir.resolve("job2.yaml"), cfg2.getBytes("UTF-8"))
    CorpusJob.run(spark, s"$dir/job2.yaml")
    val bins = spark.read.parquet(s"$dir/out2/documents")
    assert(bins.columns.contains("bin_text") && bins.select(sum($"n_docs")).as[Long].head() === 4L)
  }

  test("CorpusJob: lm-filter and dsir-select steps gate raw docs against a reference slice") {
    val dir = Files.createTempDirectory("corpusjob-lm")
    // reference slice: six same-vocabulary docs; raw: one target-like doc
    // (kept by both gates) and one alien-vocabulary doc (dropped by both)
    val refs = (1L to 6L).map(i => (i, "alpha beta gamma delta alpha beta", "ref"))
    // doc 12 has a NULL source: the group predicate is NULL for it, and it
    // must fall into the scored branch (kept — reference vocabulary), not
    // silently vanish from both branches (r10 advice)
    val raw  = Seq(
      (10L, "alpha beta gamma delta", "web"),
      (11L, "omega psi chi phi", "web"),
      (12L, "alpha beta gamma delta", null.asInstanceOf[String]))
    (refs ++ raw).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def run(step: String): (Seq[(String, Long, Long)], Array[Long]) = {
      val out = s"$dir/out-${step.takeWhile(_ != ':')}".replaceAll("[^a-zA-Z0-9/_.-]", "")
      val cfg =
        s"""input:
           |  documents: $dir/documents.parquet
           |steps:
           |$step
           |output:
           |  local: $out
           |""".stripMargin
      val yaml = dir.resolve(s"job-${math.abs(step.hashCode)}.yaml")
      Files.write(yaml, cfg.getBytes("UTF-8"))
      val sheet = CorpusJob.run(spark, yaml.toString)
      (sheet.steps.map(s => (s.op, s.rowsIn, s.rowsOut)),
        spark.read.parquet(s"$out/documents").select("doc_id").as[Long].collect().sorted)
    }

    // lm-filter: doc 10's bigrams are all reference-known (0 oov, ~1 bit
    // surprisal each); doc 11 is 100% OOV > the 50% ceiling
    val (lmSteps, lmIds) = run(
      """  - op: lm-filter
        |    train-groups: [ref]""".stripMargin)
    assert(lmSteps === Seq(("lm-filter", 9L, 8L)))
    assert(lmIds === Array(1L, 2L, 3L, 4L, 5L, 6L, 10L, 12L))

    // dsir-select: doc 10's hashed features match the target profile
    // (positive quantized weight); doc 11's do not
    val (dsSteps, dsIds) = run(
      """  - op: dsir-select
        |    target-groups: [ref]
        |    buckets: 64
        |    keep-above: 0""".stripMargin)
    assert(dsSteps === Seq(("dsir-select", 9L, 8L)))
    assert(dsIds === Array(1L, 2L, 3L, 4L, 5L, 6L, 10L, 12L))
  }
}
