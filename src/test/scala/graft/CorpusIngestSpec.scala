package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis
import graft.streaming.CorpusIngest

/** The streaming corpus-ingest gate and the per-row Gopher and language-ID
  * rules that make it stateless, each pinned against its relational
  * reference (explode + groupBy / stopword-table join), the shape the
  * DuckDB oracle runs. */
class CorpusIngestSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  private val tricky = Seq(
    1L -> "the big cat sat on a mat beside the dog today",
    2L -> "a a the the and and of of to to",        // adjacent stopwords
    3L -> "x9 9x abc 123 #tag wait... more… done",  // mixed alpha/symbols
    4L -> "double  space and   runs the a end",     // empty tokens
    5L -> "",                                       // empty text
    6L -> "them theory andante tothe a",            // stopword prefixes, not words
    7L -> "doc that ends with the\n",                // trailing newline: token "the\n"
    8L -> "a the\nand more the",                     // embedded newline token
    9L -> null,                                     // null text: no row
    10L -> "c++ and l' c+ l'x cc++ the c++")         // regex metacharacters

  /** The relational Gopher reference: explode + groupBy for the word sums,
    * a per-doc projection for the symbols, joined back on the id. */
  private def gopherReference(
      d: org.apache.spark.sql.DataFrame,
      stops: Seq[String],
      minWords: Long): org.apache.spark.sql.DataFrame = {
    val words = d.select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length($"token")).as("_sum_len"),
        sum(when($"token".rlike("[A-Za-z]"), 1L).otherwise(0L)).as("_n_alpha"),
        sum(when($"token".isin(stops: _*), 1L).otherwise(0L)).as("n_stop_hits"))
    val t = $"text"
    val perDoc = d.select($"doc_id",
      ((length(t) - length(translate(t, "#", ""))) +
        (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / lit(3) +
        (length(t) - length(translate(t, "…", "")))).cast("long").as("n_symbols"))
    words.join(perDoc, Seq("doc_id")).select(
        $"doc_id",
        $"n_words",
        ($"_sum_len".cast("double") / $"n_words").as("mean_word_len"),
        ($"_n_alpha".cast("double") / $"n_words").as("alpha_frac"),
        $"n_symbols",
        $"n_stop_hits",
        ($"n_words" >= minWords && $"n_words" <= 100000L).as("pass_words"),
        ($"_sum_len".cast("double") >= lit(3.0) * $"n_words" &&
          $"_sum_len".cast("double") <= lit(10.0) * $"n_words").as("pass_mean_len"),
        ($"n_symbols".cast("double") <= lit(0.1) * $"n_words").as("pass_symbols"),
        ($"_n_alpha".cast("double") >= lit(0.8) * $"n_words").as("pass_alpha"),
        ($"n_stop_hits" >= 2L).as("pass_stop"))
      .withColumn("pass", $"pass_words" && $"pass_mean_len" && $"pass_symbols" &&
        $"pass_alpha" && $"pass_stop")
  }

  test("gopherRules matches the explode + groupBy reference row for row") {
    val d     = docs(tricky: _*)
    val stops = Seq("the", "a", "and", "of", "to", "c++", "l'")
    val ref = gopherReference(d, stops, minWords = 3L).orderBy($"doc_id").collect()
    val got = TextAnalysis.gopherRules(d, "doc_id", "text", stops, minWords = 3L)
      .orderBy($"doc_id").collect()
    assert(got.map(_.toSeq) === ref.map(_.toSeq))
    assert(!got.exists(_.getLong(0) == 9L), "null text must drop, as in the oracle")
    assert(got.find(_.getLong(0) == 10L).get.getAs[Long]("n_stop_hits") === 5L)
  }

  test("gopherPass equals the projection's pass column") {
    val d     = docs(tricky: _*)
    val stops = Seq("the", "a")
    val viaPredicate = d
      .filter(TextAnalysis.gopherPass($"text", stops, minWords = 3L))
      .select($"doc_id").as[Long].collect().sorted
    val viaProjection = TextAnalysis
      .gopherRules(d, "doc_id", "text", stops, minWords = 3L)
      .filter($"pass").select($"doc_id").as[Long].collect().sorted
    assert(viaPredicate === viaProjection)
  }

  test("projection/aggregate parity holds over random symbol-heavy corpora") {
    // seeded random trials over an alphabet chosen to stress every regex
    // edge: stopwords, stopword prefixes/suffixes, digits, symbols,
    // ellipses (both kinds), empty tokens (doubled separators), multibyte;
    // the second stop list holds regex metacharacters
    val alphabet = Vector(
      "the", "a", "and", "them", "athe", "a9", "9a", "x#y", "#", "##",
      "...", "....", "…", "wait...", "more…", "", "λx", "Ab9", "b")
    for (stops <- Seq(Seq("the", "a", "and"), Seq("the", "x#y", "...", "…", "λx"));
         trial <- 0 until 8) {
      val rng = new scala.util.Random(7000 + trial)
      val rows = (0L until 40L).map { i =>
        val n = rng.nextInt(12) // 0 => empty text
        (i, Seq.fill(n)(alphabet(rng.nextInt(alphabet.size))).mkString(" "))
      }
      val d = rows.toDF("doc_id", "text")
      val ref = gopherReference(d, stops, minWords = 2L)
        .orderBy($"doc_id").collect().map(_.toSeq)
      val got = TextAnalysis.gopherRules(d, "doc_id", "text", stops, minWords = 2L)
        .orderBy($"doc_id").collect().map(_.toSeq)
      assert(got === ref, s"trial $trial over $stops diverged")
    }
  }

  test("languageId matches the stopword-table join, shared words and ties included") {
    // the shared-word case matters: 'de' scores for BOTH fr and es in the
    // table form, and must do the same in the kernel; es lists 'el' twice,
    // which the table join counts twice
    val table = Seq(
      ("en", Seq("the", "and", "a", "c++")),
      ("fr", Seq("le", "la", "de", "l'")),
      ("es", Seq("el", "de", "un", "el")))
    val d = docs(
      1L -> "the cat and a dog",
      2L -> "le chat de la maison",
      3L -> "el perro de un amigo",
      4L -> "de de de",            // fr/es tie on shared word → lang asc → es
      5L -> "nothing matches here",
      6L -> "",
      7L -> "chat de\n",           // trailing newline: the split token is
                                    // "de\n" (no hit)
      8L -> null,                   // null text → und, like a doc with no hits
      9L -> "c++ and l' l'",        // metacharacter words: en 2, fr 2 → en
      10L -> "el le la")            // duplicated es row: es 2, fr 2 → es
    val tableDf = table.flatMap { case (l, ws) => ws.map(l -> _) }.toDF("lang", "word")
    val toks = d.select($"doc_id", explode(split($"text", " ")).as("token"))
    val best = toks.join(tableDf, $"token" === $"word")
      .groupBy($"doc_id", $"lang").agg(count(lit(1)).as("score"))
      .withColumn("_rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"doc_id")
          .orderBy($"score".desc, $"lang".asc)))
      .filter($"_rn" === 1)
    val ref = d.select($"doc_id").join(best, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"lang", lit("und")).as("pred_lang"),
        coalesce($"score", lit(0L)).as("score"))
      .orderBy($"doc_id").collect().map(_.toSeq)
    val got = TextAnalysis.languageId(d, "doc_id", "text", table)
      .orderBy($"doc_id").collect().map(_.toSeq)
    assert(got === ref)
    assert(got.map(_.apply(1)) ===
      Seq("en", "fr", "es", "es", "und", "und", "und", "und", "en", "es"))
    assert(got.map(_.apply(2)) === Seq(3L, 3L, 4L, 3L, 0L, 0L, 0L, 0L, 2L, 2L))
    // languagePass reads the same argmax: 'und' keeps no-hit and null docs
    def kept(keep: String*) = d.filter(TextAnalysis.languagePass($"text", table, keep))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(kept("es") === Seq(3L, 4L, 10L))
    assert(kept("en", "und") === Seq(1L, 5L, 6L, 7L, 8L, 9L))
  }

  test("languagePass reads the stopword kernel once per row in generated code") {
    // a filter gets no common-subexpression elimination, so one kernel
    // call site in the generated filter is one evaluation per row
    import org.apache.spark.sql.execution.debug._
    val f = spark.range(8).select(concat(lit("le chat "), $"id".cast("string")).as("text"))
      .filter(TextAnalysis.languagePass($"text", TextAnalysis.DefaultStopwords, Seq("fr")))
    val code = f.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    assert("\\.stopwordBest\\(".r.findAllMatchIn(code).size === 1)
    assert(f.count() === 8L)
  }

  test("streaming gate matches the same gate run in batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val corpusDocs = docs(100L -> "the quick brown fox jumps over a lazy dog here")
    val index = CorpusIngest.CorpusIndex(
      corpusDocs.select(graft.operators.Dedup.normalizedTextHash($"text").as("h")),
      "h", expectedItems = 100L)
    val quality  = Some(CorpusIngest.Quality(Seq("the", "a", "and"), minWords = 5L))
    val language = Some(CorpusIngest.Language(
      Seq("en" -> Seq("the", "a", "and"), "fr" -> Seq("le", "la", "de", "et")),
      keep = Seq("en")))
    val mixture = Some(("src", Seq("keep" -> 100, "half" -> 50), 100))

    val rows = Seq(
      // passes quality, new content, src keep
      (1L, "the quick red fox walks under a tall tree today", "keep"),
      // dup of the corpus doc (normalized), src keep
      (2L, "the  quick brown FOX jumps over a lazy dog here", "keep"),
      // fails quality (short)
      (3L, "tiny a the", "keep"),
      // PII scrubbed then passes; src half decides deterministically
      (4L, "mail a.b@x.co about the backup and a restore plan now", "half"),
      (5L, "call the office and a friend about options today maybe", "half"),
      // French: survives quality (stopword floor counts fr words? no — it
      // fails the EN stopword floor... keep it stopword-rich in fr AND
      // carrying two en stopwords so ONLY the language gate drops it
      (6L, "le chat et la souris the a de la maison et le jardin", "keep"))

    def runBatch = CorpusIngest.gate(
      rows.toDF("doc_id", "text", "src"), "doc_id", "text",
      quality = quality, language = language, mixture = mixture, corpus = Some(index))
      .select($"doc_id", $"is_dup", $"text")
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).sortBy(_._1)

    val ms = MemoryStream[(Long, String, String)]
    val out = CorpusIngest.gate(
      ms.toDF().toDF("doc_id", "text", "src"), "doc_id", "text",
      quality = quality, language = language, mixture = mixture, corpus = Some(index))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("corpus_gate").start()
    try {
      ms.addData(rows.take(2): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(2): _*)
      q.processAllAvailable()
      val streamed = spark.table("corpus_gate")
        .select($"doc_id", $"is_dup", $"text")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).sortBy(_._1)
      val batch = runBatch
      assert(streamed === batch)
      // the gate did real work: doc 2 flagged dup, doc 3 dropped, doc 4 scrubbed
      val byId = streamed.map(t => t._1 -> t).toMap
      assert(byId(2L)._2 === true)
      assert(!byId.contains(3L))
      byId.get(4L).foreach(t => assert(t._3.contains("<EMAIL>")))
      assert(byId(1L)._2 === false)
      assert(!byId.contains(6L)) // French doc dropped by the language gate
    } finally q.stop()
  }

  test("gate C4 stage drops failing pages and rewrites kept pages' text, batch parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val c4 = CorpusIngest.C4(minWordsPerLine = 5, minSentences = 2)
    val rows = Seq(
      // two qualifying lines + one unpunctuated line: kept, text rewrites
      (1L, "one two three four five.\nno punct so this dies\nsay hello to the world!"),
      // only short lines: zero retained sentences, page drops
      (2L, "a b c.\nshort."),
      // one qualifying line = 1 sentence < 2: page drops
      (3L, "uses javascript on this line today.\nanother good line stays here."))

    val ms = MemoryStream[(Long, String)]
    val out = CorpusIngest.gate(ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
      c4 = Some(c4))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("corpus_gate_c4").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("corpus_gate_c4")
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(streamed === Array(
        (1L, "one two three four five.\nsay hello to the world!")))
      // batch parity: same predicate + rewrite on a static frame
      val batch = rows.toDF("doc_id", "text")
        .filter(c4.predicate($"text"))
        .withColumn("text", c4.cleanText($"text"))
        .select($"doc_id", $"text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(batch === streamed)
    } finally q.stop()
  }

  test("gate reference-LM stage drops alien-vocabulary docs per-row against the bounded model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.LmScore
    implicit val sq = spark.sqlContext
    val refs = (1L to 6L).map(i => (i, "alpha beta gamma delta alpha beta")).toDF("doc_id", "text")
    val model = LmScore.compactModel(LmScore.bigramModel(refs, "text"), maxGrams = 1000)
    val lm = CorpusIngest.LmQuality(model, maxBitsPerBigram = 3.0, maxOovPct = 30L)

    val ms = MemoryStream[(Long, String)]
    val out = CorpusIngest.gate(ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
      lm = Some(lm))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("corpus_gate_lm").start()
    try {
      ms.addData(
        (10L, "alpha beta gamma delta"), // reference vocabulary: passes
        (11L, "omega psi chi phi"),      // 100% OOV: dropped
        (12L, "tiny"))                   // no bigram evidence: passes
      q.processAllAvailable()
      val kept = spark.table("corpus_gate_lm")
        .select($"doc_id").collect().map(_.getLong(0)).sorted
      assert(kept === Array(10L, 12L))
      // batch parity: the same predicate filters the same rows in batch
      val batch = Seq((10L, "alpha beta gamma delta"), (11L, "omega psi chi phi"), (12L, "tiny"))
        .toDF("doc_id", "text").filter(lm.predicate($"text"))
        .select($"doc_id").collect().map(_.getLong(0)).sorted
      assert(batch === Array(10L, 12L))
    } finally q.stop()
  }

  test("gate DSIR stage keeps target-like docs and drops alien ones per-row") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.LmScore
    implicit val sq = spark.sqlContext
    val corpus = ((1L to 6L).map(i => (i, "alpha beta gamma delta alpha beta", "t")) ++
      Seq((7L, "omega psi chi phi", "r"), (8L, "rho sigma tau upsilon", "r")))
      .toDF("doc_id", "text", "grp")
    val model = LmScore.compactDsirModel(corpus, "doc_id", "text", col("grp") === "t", nBuckets = 64)

    val ms = MemoryStream[(Long, String)]
    val out = CorpusIngest.gate(ms.toDF().toDF("doc_id", "text"), "doc_id", "text",
      dsir = Some(CorpusIngest.DsirSelect(model, keepAbove = 0L)))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("corpus_gate_dsir").start()
    try {
      ms.addData(
        (10L, "alpha beta gamma delta"), // target vocabulary: positive weight
        (11L, "omega psi chi phi"))      // raw-only vocabulary: negative
      q.processAllAvailable()
      val kept = spark.table("corpus_gate_dsir")
        .select($"doc_id").collect().map(_.getLong(0)).sorted
      assert(kept === Array(10L))
    } finally q.stop()
  }

  test("gate near-dup stage flags cross-batch near-duplicates, flag-not-drop, short docs kept") {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val base    = (1 to 20).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 20).map(i => if (i == 10) "patched" else s"word$i").mkString(" ")
    val fresh   = (1 to 20).map(i => s"other$i").mkString(" ")

    val ms = MemoryStream[(Long, Timestamp, String)]
    val out = CorpusIngest.gate(
      ms.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text",
      nearDup = Some(CorpusIngest.NearDup("ts", minEstJaccard = 0.5)))
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("corpus_gate_nd").start()
    try {
      ms.addData((1L, ts("2024-01-01 00:00:00"), base))
      q.processAllAvailable()
      ms.addData(
        (2L, ts("2024-01-01 00:01:00"), nearDup), // near-dup of batch-1 doc
        (3L, ts("2024-01-01 00:01:00"), fresh),   // novel
        (4L, ts("2024-01-01 00:01:00"), "tiny"))  // < shingleLen words
      q.processAllAvailable()
      val perBand = spark.table("corpus_gate_nd")
      // a doc's band rows are identical copies — the within-batch merge
      // collapses them to one row per doc with the OR'd flag
      val merged = CorpusIngest.mergeBandFlags(perBand)
        .select($"doc_id", $"near_dup_hit")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
      assert(merged === Array((1L, false), (2L, true), (3L, false), (4L, false)))
    } finally q.stop()
  }
}
