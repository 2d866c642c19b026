package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Pii, Sampling, TextAnalysis}

/** Round-8 text-pipeline additions: PII scrub, duplicated-span stats,
  * tf-idf top-k, domain-mixture resampling. */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("Pii.scrub: counts and redacts each category, sequential semantics") {
    val d = docs(
      1L -> "mail a.b@x.co and c%d@y.org now",
      2L -> "server 10.0.0.1 and 192.168.1.255 up",
      3L -> "call 555-123-4567 or 555-000-1111",
      4L -> "nothing sensitive here",
      5L -> "root@10.0.0.1 logged from mail x@y.net" // numeric TLD → not an email; its IP still scrubs
    )
    val got = Pii.scrub(d, "text").orderBy($"doc_id")
      .as[(Long, Long, Long, Long, String)].collect().toList
    assert(got === List(
      (1L, 2L, 0L, 0L, "mail <EMAIL> and <EMAIL> now"),
      (2L, 0L, 2L, 0L, "server <IP> and <IP> up"),
      (3L, 0L, 0L, 2L, "call <PHONE> or <PHONE>"),
      (4L, 0L, 0L, 0L, "nothing sensitive here"),
      (5L, 1L, 1L, 0L, "root@<IP> logged from mail <EMAIL>")))
  }

  test("Pii.scrub: keeps non-text columns, drops the text column") {
    val d = Seq((1L, "en", "a@b.co")).toDF("doc_id", "lang", "text")
    val out = Pii.scrub(d, "text")
    assert(out.columns.toSeq === Seq("doc_id", "lang", "n_email", "n_ipv4", "n_phone", "redacted"))
  }

  test("dupSpanStats: per-occurrence counts, df>=2 rule, short docs report zeros") {
    val d = docs(
      1L -> "a b c d",     // grams: "a b c", "b c d"
      2L -> "a b c x",     // grams: "a b c", "b c x"
      3L -> "a b c a b c", // grams: "a b c", "b c a", "c a b", "a b c" — "a b c" twice
      4L -> "q r"          // too short for 3-grams
    )
    val got = TextAnalysis.dupSpanStats(d, "doc_id", "text", n = 3)
      .orderBy($"doc_id")
      .as[(Long, Long, Long, Long, Option[Double])].collect().toList
    // "a b c" df=3; every other gram df=1
    assert(got === List(
      (1L, 2L, 1L, 1L, Some(0.5)),
      (2L, 2L, 1L, 1L, Some(0.5)),
      (3L, 4L, 2L, 1L, Some(0.5)),
      (4L, 0L, 0L, 0L, None)))
  }

  test("tfIdfTopK: rarity ranks above frequency, deterministic ties, k bound") {
    // 4 docs; "common" in all (df=4), "rare" only in doc 1 (df=1).
    val d = docs(
      1L -> "common rare common",
      2L -> "common x",
      3L -> "common y",
      4L -> "common z")
    val got = TextAnalysis.tfIdfTopK(d, "doc_id", "text", k = 2)
      .orderBy($"doc_id", $"rank")
      .as[(Long, Long, String, Long, Long, Double)].collect().toList
    // doc1: rare tf=1 df=1 → 1*(4/1)=4.0; common tf=2 df=4 → 2*(4/4)=2.0
    assert(got.filter(_._1 == 1L) === List(
      (1L, 1L, "rare", 1L, 1L, 4.0),
      (1L, 2L, "common", 2L, 4L, 2.0)))
    // docs 2-4: singleton term (df=1, score 4.0) outranks "common" (1.0)
    assert(got.filter(_._1 == 2L).map(r => (r._2, r._3)) === List((1L, "x"), (2L, "common")))
    assert(got.groupBy(_._1).forall(_._2.size <= 2))
    // deterministic tie: two df-equal tf-equal tokens order by token asc
    val tie = TextAnalysis.tfIdfTopK(docs(9L -> "bb aa"), "doc_id", "text", k = 2)
      .orderBy($"rank").as[(Long, Long, String, Long, Long, Double)].collect().toList
    assert(tie.map(_._3) === List("aa", "bb"))
  }

  test("dedupSpans: covered tokens cut, order kept, short and fully-dup docs") {
    val d = docs(
      1L -> "a b c d e",   // grams "a b c","b c d","c d e"; "a b c" shared with doc 2
      2L -> "a b c x y",   // shares "a b c" only
      3L -> "p q r s t",   // no shared grams → untouched
      4L -> "a b c",       // exactly the shared gram → fully removed
      5L -> "u v"          // shorter than n → untouched
    )
    val got = TextAnalysis.dedupSpans(d, "doc_id", "text", n = 3)
      .orderBy($"doc_id").as[(Long, String, Long, Long)].collect().toList
    // doc1: positions 0-2 covered → "d e"; doc2: 0-2 covered → "x y"
    assert(got === List(
      (1L, "d e", 5L, 3L),
      (2L, "x y", 5L, 3L),
      (3L, "p q r s t", 5L, 0L),
      (4L, "", 3L, 3L),
      (5L, "u v", 2L, 0L)))
    // within-doc repetition alone (df=1 gram) does NOT trigger removal
    val solo = TextAnalysis.dedupSpans(docs(9L -> "m n o m n o"), "doc_id", "text", n = 3)
      .as[(Long, String, Long, Long)].collect().toList
    assert(solo === List((9L, "m n o m n o", 6L, 0L)))
  }

  test("gramNovelty: seen/novel counts against a reference corpus") {
    import graft.operators.SetSimilarity
    val ref = docs(1L -> "a b c d", 2L -> "x y z w")     // grams: abc,bcd / xyz,yzw
    val probe = docs(
      10L -> "a b c d e", // abc,bcd seen; cde novel → 3 grams, 2 seen
      11L -> "p q r s",   // none seen
      12L -> "x y z",     // xyz seen → 1/1
      13L -> "u v")       // too short → zeros, null novelty
    val got = SetSimilarity.gramNovelty(ref, probe, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long, Option[Double])].collect().toList
    assert(got === List(
      (10L, 3L, 2L, Some(1.0 / 3.0)),
      (11L, 2L, 0L, Some(1.0)),
      (12L, 1L, 1L, Some(0.0)),
      (13L, 0L, 0L, None)))
  }

  test("WordGrams kernel: bit-parity with the HOF formulation on edge cases") {
    val texts = Seq(
      "a b c d e",
      "a b c a b c",        // repeats — distinct order matters
      "a  b c",             // double space → empty token "a|<empty>|b c" grams
      " a b",               // leading space → empty first token
      "a b ",               // trailing space → empty last token
      "",                   // one empty token
      "one two",            // shorter than n=3
      "héllo wörld ünïcode ∀x y", // multibyte
      "x y z"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val w = split($"text", " ")
    def hof(distinct: Boolean) = {
      val raw = transform(sequence(lit(0), size(w) - 3), i => array_join(slice(w, i + 1, lit(3)), " "))
      when(size(w) >= 3, if (distinct) array_distinct(raw) else raw)
        .otherwise(array().cast("array<string>"))
    }
    for (d <- Seq(true, false)) {
      val got = texts.select($"doc_id",
        graft.functions.WordGrams($"text", 3, d).as("k"), hof(d).as("h"))
        .as[(Long, Seq[String], Seq[String])].collect()
      got.foreach { case (id, k, h) => assert(k === h, s"doc $id distinct=$d") }
    }
  }

  test("TextAnalysis.lineDedup drops corpus-boilerplate lines and reassembles order") {
    import graft.operators.TextAnalysis
    val docs = Seq(
      (1L, "COOKIE BANNER\nalpha beta\nfooter"),
      (2L, "COOKIE BANNER\ngamma delta\nfooter"),
      (3L, "COOKIE BANNER\nunique line here"),
      (4L, "totally unique document"),
      (5L, "COOKIE BANNER") // all-boilerplate doc survives as empty text
    ).toDF("doc_id", "text")
    // minDocs=3: banner in 4 docs → dropped; footer in only 2 → kept
    val got = TextAnalysis.lineDedup(docs, "doc_id", "text", "\n", minDocs = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) === (("alpha beta\nfooter", 3L, 1L)))
    assert(got(2L) === (("gamma delta\nfooter", 3L, 1L)))
    assert(got(3L) === (("unique line here", 2L, 1L)))
    assert(got(4L) === (("totally unique document", 1L, 0L)))
    assert(got(5L) === (("", 1L, 1L)))
    // a line duplicated WITHIN one doc counts that doc once toward the
    // threshold, and removal takes both copies when it trips
    val twice = docs.union(Seq((6L, "dup me\ndup me\nkeep this")).toDF("doc_id", "text"))
    val g2 = TextAnalysis.lineDedup(twice, "doc_id", "text", "\n", minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(g2(6L) === (("dup me\ndup me\nkeep this", 3L, 0L))) // only 1 distinct doc
    assert(g2(1L)._1 === "alpha beta") // footer now in 2 docs → dropped at minDocs=2
  }

  test("Sampling.temperatureRates: flattening law, alpha extremes, downsample-only") {
    // counts 4 / 16 / 256 make every ratio an exact power of two, so the
    // rate doubles are exact and the floors are unambiguous
    val df = ((0 until 4).map(i => (i.toLong, "a")) ++
      (100 until 116).map(i => (i.toLong, "b")) ++
      (1000 until 1256).map(i => (i.toLong, "c"))).toDF("id", "g")
    // α = 1/2: r = sqrt(cmin/c) → 1, 0.5, 0.125
    assert(Sampling.temperatureRates(df, "g", 0.5, denom = 1000).toMap ===
      Map("a" -> 1000, "b" -> 500, "c" -> 125))
    // α = 1 is the identity mixture; α = 0 equalizes expected counts at cmin
    assert(Sampling.temperatureRates(df, "g", 1.0, 1000).forall(_._2 == 1000))
    assert(Sampling.temperatureRates(df, "g", 0.0, 1000).toMap ===
      Map("a" -> 1000, "b" -> 250, "c" -> 15)) // floor(15.625)
    // resample keeps the smallest group whole and never upsamples
    val kept = Sampling.temperatureResample(df, "id", "g", 0.5, 1000)
      .groupBy($"g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("a") === 4L)
    assert(kept.forall { case (g, n) => n <= Map("a" -> 4L, "b" -> 16L, "c" -> 256L)(g) })
  }

  test("Pii.scrub + mixtureResample compose into a streaming ingest pipeline") {
    // both are pure projections/filters, so they are streaming-safe by
    // construction — this pins that the ingest-tier composition (scrub →
    // mixture gate) actually runs under the streaming planner and that
    // batch and stream agree row for row
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rows = (0L until 40L).map { i =>
      (i, if (i % 2 == 0) "srcA" else "srcB", s"doc $i mail u$i@ex$i.org end")
    }
    val rates = Seq("srcA" -> 1000, "srcB" -> 300)
    val ms = MemoryStream[(Long, String, String)]
    val piped = Sampling.mixtureResample(
      Pii.scrub(ms.toDF().toDF("doc_id", "source", "text"), "text"),
      "doc_id", "source", rates, 1000)
    val q = piped.writeStream.outputMode("append").format("memory").queryName("ingest").start()
    try {
      ms.addData(rows.take(20): _*)
      q.processAllAvailable()
      ms.addData(rows.drop(20): _*)
      q.processAllAvailable()
      val streamed = spark.table("ingest")
        .select("doc_id", "source", "n_email", "redacted")
        .as[(Long, String, Long, String)].collect().toSet
      val batch = Sampling.mixtureResample(
        Pii.scrub(rows.toDF("doc_id", "source", "text"), "text"),
        "doc_id", "source", rates, 1000)
        .select("doc_id", "source", "n_email", "redacted")
        .as[(Long, String, Long, String)].collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty && streamed.forall(_._3 === 1L))
      assert(streamed.forall(r => r._4.contains("<EMAIL>") && !r._4.contains("@")))
      // srcA passes whole; srcB is gated
      val bySrc = streamed.groupBy(_._2).view.mapValues(_.size).toMap
      assert(bySrc("srcA") === 20 && bySrc.getOrElse("srcB", 0) < 20)
    } finally q.stop()
  }

  test("mixtureResample: rate tiers, nesting, determinism, guards") {
    val d = Tables.documents(spark, sf("sf0.001"))
    val groups = d.select($"source").distinct().as[String].collect().sorted.toSeq
    assert(groups.nonEmpty)
    val full = groups.map(_ -> 1000)
    assert(Sampling.mixtureResample(d, "doc_id", "source", full, 1000).count() === d.count())
    val zero = groups.map(_ -> 0)
    assert(Sampling.mixtureResample(d, "doc_id", "source", zero, 1000).count() === 0)
    // unlisted groups drop
    val onlyFirst = Seq(groups.head -> 1000)
    val kept = Sampling.mixtureResample(d, "doc_id", "source", onlyFirst, 1000)
    assert(kept.select($"source").distinct().as[String].collect().toSeq === Seq(groups.head))
    // nested-sample property per group: rate 300 ⊆ rate 700
    val r300 = Sampling.mixtureResample(d, "doc_id", "source", groups.map(_ -> 300), 1000)
    val r700 = Sampling.mixtureResample(d, "doc_id", "source", groups.map(_ -> 700), 1000)
    assert(r300.select("doc_id").except(r700.select("doc_id")).count() === 0)
    assert(r300.count() < r700.count())
    // determinism
    val again = Sampling.mixtureResample(d, "doc_id", "source", groups.map(_ -> 300), 1000)
    assert(r300.select("doc_id").except(again.select("doc_id")).count() === 0 &&
      again.select("doc_id").except(r300.select("doc_id")).count() === 0)
    intercept[IllegalArgumentException] {
      Sampling.mixtureResample(d, "doc_id", "source", Seq("a" -> 1001), 1000)
    }
    intercept[IllegalArgumentException] {
      Sampling.mixtureResample(d, "doc_id", "source", Seq.empty, 1000)
    }
  }

  test("gopherRules: signals, per-rule flags, conjunction") {
    val d = docs(
      1L -> "the big cat sat on a mat beside the dog today", // passes (with low bounds)
      2L -> "short one",                                     // fails word count + stopwords
      3L -> "# # # the list a item # # # # #",               // symbol-heavy → fails symbols
      4L -> "1 2 3 4 5 6 7 8 9 10 11 12 13 the a")           // digit words → fails alpha frac
    val got = TextAnalysis
      .gopherRules(d, "doc_id", "text", Seq("the", "a"),
        minWords = 5L, maxWords = 100L, minStopHits = 2L)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_words", $"n_symbols", $"n_stop_hits",
        $"pass_words", $"pass_symbols", $"pass_alpha", $"pass_stop", $"pass")
      .as[(Long, Long, Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect()
    assert(got === Seq(
      (1L, 11L, 0L, 3L, true, true, true, true, true),
      (2L, 2L, 0L, 0L, false, true, true, false, false),
      (3L, 12L, 8L, 2L, true, false, false, true, false),
      (4L, 15L, 0L, 2L, true, true, false, true, false)))
  }

  test("gopherRules: ellipsis and unicode-ellipsis symbol counting") {
    val d = docs(1L -> "wait... more… and #tag ....")
    // '...': "..." counts 1, "...." counts 1 (4 dots → one non-overlapping '...'); '…' 1; '#' 1
    val got = TextAnalysis.gopherRules(d, "doc_id", "text", Seq("the"))
      .select($"n_symbols").as[Long].head()
    assert(got === 4L)
  }

  test("incrementalByHash: exact flags, bloom only prunes") {
    val corpus = docs(
      10L -> "alpha beta gamma",
      11L -> "delta epsilon zeta",
      12L -> "eta theta iota")
      .select(Dedup.normalizedTextHash($"text").as("h"))
    val incoming = docs(
      20L -> "alpha beta gamma",    // exact dup
      21L -> "ALPHA  beta   Gamma", // dup after normalization
      22L -> "totally new text",
      23L -> "delta epsilon zeta") // exact dup of corpus doc 11
    val got = Dedup
      .incrementalByHash(incoming, corpus, "h",
        Dedup.normalizedTextHash(col("text")), expectedCorpusItems = 100L)
      .select($"doc_id", $"is_dup").orderBy($"doc_id")
      .as[(Long, Boolean)].collect()
    assert(got === Seq((20L, true), (21L, true), (22L, false), (23L, true)))
  }

  test("incrementalByHash: tiny bloom (high collision pressure) stays exact") {
    // expectedItems far below reality forces bloom false positives; the
    // verify join must keep the output exact anyway
    val corpus = docs((1L to 200L).map(i => i -> s"corpus doc number $i"): _*)
      .select(Dedup.normalizedTextHash($"text").as("h"))
    val incoming = docs((150L to 250L).map(i => i -> s"corpus doc number $i"): _*)
    val got = Dedup
      .incrementalByHash(incoming, corpus, "h",
        Dedup.normalizedTextHash(col("text")), expectedCorpusItems = 5L, fpp = 0.5)
      .filter($"is_dup").select($"doc_id").as[Long].collect().sorted
    assert(got === (150L to 200L).toArray)
  }

  test("ratesForTokenBudget: budgets quantize up, clamp, and feed the resampler") {
    // 3 groups × 100 docs × 10 tokens = 1000 tokens per group
    val d = (0L until 300L).map { i =>
      (i, (1 to 10).map(k => s"t$k").mkString(" "), s"g${i % 3}")
    }.toDF("doc_id", "text", "source")
    val rates = Sampling.ratesForTokenBudget(
      d, "source", "text",
      budgets = Seq("g0" -> 250L, "g1" -> 5000L, "g2" -> 1L), denom = 100)
    //  g0: 250/1000 → 25/100; g1 over-supply → full; g2 → ceil(0.1)=1 (never 0)
    assert(rates === Seq("g0" -> 25, "g1" -> 100, "g2" -> 1))
    val kept = Sampling.mixtureResample(d, "doc_id", "source", rates, 100)
      .groupBy($"source").count().as[(String, Long)].collect().toMap
    assert(kept("g1") === 100L)               // full group survives
    assert(kept.getOrElse("g2", 0L) <= 5L)    // ~1% of 100 docs
    // md5-uniform: g0 lands near 25 docs (250 tokens) — wide tolerance,
    // deterministic (same hash every run)
    assert(kept("g0") >= 10L && kept("g0") <= 40L)
  }

  test("ratesForTokenBudget: zero budget keeps nothing, absent group gets full rate") {
    val d = Seq((1L, "a b c", "x"), (2L, "d e f", "x")).toDF("doc_id", "text", "source")
    val rates = Sampling.ratesForTokenBudget(
      d, "source", "text", budgets = Seq("x" -> 0L, "ghost" -> 10L), denom = 100)
    assert(rates === Seq("x" -> 0, "ghost" -> 100))
  }

  test("incrementalByHash: refuses to clobber an existing is_dup column") {
    val corpus = docs(1L -> "x").select(Dedup.normalizedTextHash($"text").as("h"))
    val d = docs(2L -> "y").withColumn("is_dup", lit(false))
    intercept[IllegalArgumentException] {
      Dedup.incrementalByHash(d, corpus, "h",
        Dedup.normalizedTextHash(col("text")), 10L)
    }
  }

  test("keepBestInCluster: highest score survives, ties to lowest id") {
    val pairs  = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val scores = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L)).toDF("id", "score")
    val got = Dedup.keepBestInCluster(pairs, "a", "b", scores, "id", "score")
      .orderBy($"cluster")
      .as[(Long, Long, Long, Long)].collect().toList
    // {1,2,3}: best score 9 shared by 2 and 3 → keep 2; {10,11}: tie → keep 10
    assert(got === List((1L, 3L, 2L, 9L), (10L, 2L, 10L, 4L)))
  }

  test("compressionStats: repetitive text compresses far below varied text; pass law") {
    val varied = (0 until 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val boiler = Seq.fill(200)("same phrase again").mkString(" ")
    val d = docs(1L -> varied, 2L -> boiler, 3L -> "")
    val got = TextReference.compressionStats(d, "doc_id", "text").orderBy($"doc_id")
      .as[(Long, Long, Long, Double)].collect().toList
    val byId = got.map(t => t._1 -> t).toMap
    assert(byId(1L)._2 === varied.getBytes("UTF-8").length.toLong)
    assert(byId(2L)._4 < 0.1, s"boilerplate should crush: ${byId(2L)}")
    assert(byId(1L)._4 > 3 * byId(2L)._4, s"varied should not: $got")
    // empty doc: ratio 1 by contract (deflate still emits its 2-byte empty block)
    assert(byId(3L) === ((3L, 0L, 2L, 1.0)))
    // the per-row predicate agrees with the stats' ratio at any threshold
    for (thr <- Seq(0.05, 0.3, 0.9)) {
      val kept = d.filter(TextAnalysis.compressionPass($"text", thr))
        .select($"doc_id").as[Long].collect().toSet
      val expect = got.filter(t => t._4 >= thr || t._2 == 0L).map(_._1).toSet
      assert(kept === expect, s"threshold $thr")
    }
  }

  test("bloom index artifact: round-trip flags match the inline build; staleness pinned") {
    val dir = java.nio.file.Files.createTempDirectory("bloomidx")
    val corpus = docs(1L -> "seen one", 2L -> "seen two")
    val hashes = corpus.select(Dedup.normalizedTextHash($"text").as("h"))
    Dedup.writeBloomIndex(hashes, "h", s"$dir/bloom.bin", expectedItems = 1000L)
    val bloom = Dedup.readBloomIndex(spark, s"$dir/bloom.bin")
    val incoming = docs(10L -> "seen one", 11L -> "novel text")
    def flags(df: org.apache.spark.sql.DataFrame) =
      df.select($"doc_id", $"is_dup").collect()
        .map(r => (r.getLong(0), r.getBoolean(1))).sortBy(_._1)
    val viaArtifact = flags(Dedup.incrementalByHash(
      incoming, hashes, "h", Dedup.normalizedTextHash(col("text")), bloom))
    val inline = flags(Dedup.incrementalByHash(
      incoming, hashes, "h", Dedup.normalizedTextHash(col("text")), 1000L))
    assert(viaArtifact === inline)
    assert(viaArtifact === Array((10L, true), (11L, false)))
    // staleness contract: a hash indexed AFTER the bloom was written is
    // only flagged if the (deterministic) bloom happens to false-positive
    // on it — the prune fires before the join, so keep the artifact in
    // step with the index (the scaladoc's caveat, pinned here)
    val lateHash = docs(3L -> "late addition")
      .select(Dedup.normalizedTextHash($"text").as("h"))
    val grown = hashes.union(lateHash)
    val expectStale = bloom.mightContainString(lateHash.as[String].head())
    val stale = Dedup.incrementalByHash(
      docs(12L -> "late addition"), grown, "h",
      Dedup.normalizedTextHash(col("text")), bloom)
      .select($"is_dup").as[Boolean].head()
    assert(stale === expectStale)
  }

  test("c4Clean: line rules — terminal punct, min words, javascript; page reassembly") {
    val d = docs(
      // line 2 lacks terminal punct, line 3 too short, line 4 has JavaScript
      1L -> "one two three four five.\nsix seven eight nine ten\nshort line here.\nuses JavaScript so it dies.\nsay hello to the world!\nis this a question, yes?",
      2L -> "",                                  // empty: 1 line, nothing kept
      3L -> "a b c d e.\n",                      // trailing delim → empty 2nd line
      4L -> "ends with quote one two.\" more w.") // closing-quote terminal
    val got = TextAnalysis
      .c4Clean(d, "doc_id", "text", minWordsPerLine = 5, minSentences = 2)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_lines", $"n_kept", $"n_sentences", $"clean_text", $"keep")
      .as[(Long, Long, Long, Long, String, Boolean)].collect().toList
    assert(got === List(
      (1L, 6L, 3L, 3L,
        "one two three four five.\nsay hello to the world!\nis this a question, yes?", true),
      (2L, 1L, 0L, 0L, "", false),
      (3L, 2L, 1L, 1L, "a b c d e.", false),
      (4L, 1L, 1L, 2L, "ends with quote one two.\" more w.", true)))
  }

  test("c4Clean: page rules — lorem ipsum, curly brace, badwords flags") {
    val base = "one two three four five.\nsix seven eight nine ten."
    val d = docs(
      1L -> s"$base\nwe Lorem Ipsum here ok.",
      2L -> s"$base\nconfig { x } block done.",
      3L -> s"$base\nthis doc says verboten stuff.",
      4L -> base)
    val got = TextAnalysis
      .c4Clean(d, "doc_id", "text", minWordsPerLine = 5, minSentences = 2,
        badwords = Seq("verboten"))
      .orderBy($"doc_id")
      .select($"doc_id", $"pass_lorem", $"pass_curly", $"pass_badword", $"keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect().toList
    assert(got === List(
      (1L, false, true, true, false),
      (2L, true, false, true, false),
      (3L, true, true, false, false),
      (4L, true, true, true, true)))
  }

  test("WordGramCounts kernel: bit-parity with explode + groupBy occurrence counts") {
    // edge cases: repeated grams, doubled spaces (empty tokens), short doc,
    // empty text, multibyte text, null text
    val d = Seq(
      (1L, "a b c a b c a b"),
      (2L, "x  y x  y"),
      (3L, "solo"),
      (4L, ""),
      (5L, "é ñ é ü é ñ"),
      (6L, null)).toDF("doc_id", "text")
    for (n <- Seq(1, 2, 3)) {
      val kernel = d.select($"doc_id",
          explode(graft.functions.WordGramCounts($"text", n)).as("_g"))
        .select($"doc_id", $"_g.gram".as("gram"), $"_g.occ".as("occ"))
      val relational = d.select($"doc_id",
          explode(graft.functions.WordGrams($"text", n, distinct = false)).as("gram"))
        .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("occ"))
      val k = kernel.orderBy($"doc_id", $"gram").as[(Long, String, Long)].collect().toList
      val r = relational.orderBy($"doc_id", $"gram").as[(Long, String, Long)].collect().toList
      assert(k === r, s"n=$n")
    }
    // sanity on one concrete multiset: occurrence counts, not distinct flags
    val one = spark.sql("select 1")
    val got = Seq((1L, "a b a b a")).toDF("doc_id", "text")
      .select(explode(graft.functions.WordGramCounts($"text", 2)).as("_g"))
      .select($"_g.gram", $"_g.occ").as[(String, Long)].collect().toMap
    assert(got === Map("a b" -> 2L, "b a" -> 2L))
    one.collect()
  }

  test("tokenStats: per-row projection form is row-identical to the aggregate form") {
    val d = docs(
      1L -> "the cat sat on the mat",
      2L -> "a a the a",
      3L -> "ab the-x athe thea a",  // substrings of stopwords must not count
      4L -> "solo",
      5L -> "x  y",                  // doubled space → empty token
      6L -> "",
      7L -> "sat on the\n",          // trailing newline: the token is
                                     // "the\n" (no stopword hit)
      8L -> "the\n",
      9L -> null,                    // null text: no row, as in the oracle
      10L -> "c++ c+ l' the")        // regex metacharacter stopwords
    val stops = Seq("the", "a", "c++", "l'")
    val fast = TextAnalysis.tokenStats(d, "doc_id", "text", stops)
      .orderBy($"doc_id").as[(Long, Long, Long, Double, Double)].collect().toList
    // the relational reference: explode + groupBy over the split tokens
    val agg = d.select($"doc_id", explode(split($"text", " ")).as("token"))
      .groupBy($"doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct($"token").as("n_distinct"),
        (sum(length($"token")).cast("double") / count(lit(1))).as("avg_token_len"),
        (sum(when($"token".isin(stops: _*), 1).otherwise(0)).cast("double") /
          count(lit(1))).as("stopword_ratio"))
      .orderBy($"doc_id").as[(Long, Long, Long, Double, Double)].collect().toList
    assert(fast === agg)
    assert(fast.map(_._1) === (1L to 8L).toList :+ 10L)
    assert(fast.last._5 === 0.75)
  }

  test("SetSimilarity.shingleSizes: identical to postings-derived sizes") {
    val d = docs(
      1L -> "one two three four five",
      2L -> "one two three",
      3L -> "short doc",           // < 3 words → no shingles → absent
      4L -> "one two three four five") // duplicate shingles across docs
    val post = graft.operators.SetSimilarity.shinglePostings(d, "doc_id", "text", 3)
    val fromPost = post.select(explode($"ids").as("_id"))
      .groupBy($"_id").agg(count(lit(1)).as("n"))
      .orderBy($"_id").as[(Long, Long)].collect().toList
    val fromKernel = graft.operators.SetSimilarity.shingleSizes(d, "doc_id", "text", 3)
      .orderBy($"_id").as[(Long, Long)].collect().toList
    assert(fromKernel === fromPost)
  }
}
