package graft.tools

import org.apache.spark.sql.functions._
import graft.domain.{Pipeline, TargetCatalog}
import graft.domain.TargetCatalog.Target

/** Domain-scale throughput probe: build a parametric synthetic granule
  * (reference scale: O(10⁴-10⁵) soundings/day, 559-target catalog —
  * BASELINE.md) entirely on executors and run the full pipeline.
  *
  * Usage: ScaleProbe [nSoundings] [nTargets] [gridN] [method] [variant]
  * variant = target (default) | global (GlobalPipeline over an nGx×nGy
  * mesh — gridN is reused as nGx/100⇒ mesh 100·gridN × 50·gridN)
  * | text (the text/dedup operator family over a synthetic document
  * corpus of nSoundings docs — the near-linearity soak sf0.1 can't show).
  * Prints one JSON line: rows in/out + wall seconds.
  */
object ScaleProbe {

  /** Synthetic corpus: ~60-word docs over a hashed vocabulary, with genuine
    * duplicate structure (every 50th doc is an exact dup of its
    * predecessor, every 25th a near-dup differing in one word) so the LSH
    * band buckets and verify branches do real work at every scale. Built
    * distributed via spark.range — nothing materializes on the driver. */
  private def corpus(spark: org.apache.spark.sql.SparkSession, n: Long) = {
    spark.range(n)
      .select(
        col("id").as("doc_id"),
        // exact dup: reuse predecessor's seed; near-dup: same seed, one-word patch below
        when(pmod(col("id"), lit(50)) === 1, col("id") - 1)
          .otherwise(when(pmod(col("id"), lit(25)) === 1, col("id") - 1).otherwise(col("id")))
          .as("_seed"),
        (pmod(col("id"), lit(25)) === 1 && pmod(col("id"), lit(50)) =!= 1).as("_patch"))
      .withColumn(
        "text",
        concat_ws(" ",
          transform(
            sequence(lit(1), lit(60)),
            i =>
              when(col("_patch") && i === 7, lit("patched"))
                .otherwise(concat(lit("w"), pmod(xxhash64(col("_seed"), i), lit(500)))))))
      .select(col("doc_id"), col("text"))
  }

  /** Sounding rows for the L2 Lite granule-FILE probes (h5granule /
    * runjob): ~200-sounding target blocks, 10% bad quality, SAM/Target
    * mode alternating per target. */
  private def h5Soundings(
      n: Int, nTgt: Int, dayStr: String = "2023-06-15"): Seq[graft.sources.SyntheticGranule.Sounding] = {
    import graft.sources.SyntheticGranule.Sounding
    val day = java.sql.Timestamp.valueOf(s"$dayStr 10:30:00")
    (0 until n).map { i =>
      val tgt = (i / 200) % nTgt
      val lon = -170.0 + (tgt % 160) * 2.0 + (i * 7919 % 2000) / 1000.0
      val lat = -40.0 + (tgt / 160) * 4.0 + (i * 104729 % 2000) / 1000.0
      Sounding(
        sounding_index = i.toLong,
        sounding_id = 2023061500000000L + i,
        latitude = lat, longitude = lon, time = day,
        vertex_latitude = Seq(lat - 0.01, lat - 0.01, lat + 0.01, lat + 0.01),
        vertex_longitude = Seq(lon - 0.01, lon + 0.01, lon + 0.01, lon - 0.01),
        xco2_quality_flag = if (i % 10 == 9) 1 else 0,
        xco2 = 400.0 + (i % 100) / 10.0,
        xco2_uncertainty = 0.5,
        operation_mode = if (tgt % 2 == 0) 4 else 2,
        target_id = f"fossil$tgt%04d")
    }
  }

  /** Parametric synthetic granule: runs of ~200 soundings per region,
    * cycling over targets, every 5th block nadir-mode noise; built
    * distributed via spark.range. */
  private def syntheticGranule(spark: org.apache.spark.sql.SparkSession, n: Int, nTgt: Int) =
    spark
      .range(n)
      .select(
        col("id").as("sounding_index"),
        (col("id") / 200).cast("long").as("_block"))
      .withColumn("_tgt", pmod(col("_block"), lit(nTgt * 5 / 4)).cast("int"))
      .withColumn("_isObs", col("_tgt") < nTgt)
      .withColumn("operation_mode", when(col("_isObs"), when(pmod(col("_block"), lit(2)) === 0, 4).otherwise(2)).otherwise(0))
      .withColumn("target_id", when(col("_isObs"), format_string("fossil%04d", col("_tgt"))).otherwise("Missing"))
      .withColumn("_lonBase", lit(-170.0) + pmod(col("_tgt"), lit(160)) * 2.0)
      .withColumn("_latBase", lit(-40.0) + (col("_tgt") / 160).cast("int") * 4.0)
      .withColumn("longitude", col("_lonBase") + pmod(col("sounding_index") * 7919, lit(2000)) / 1000.0)
      .withColumn("latitude", col("_latBase") + pmod(col("sounding_index") * 104729, lit(2000)) / 1000.0)
      .withColumn("time", to_timestamp(lit("2023-06-15 10:30:00")))
      .withColumn("vertex_longitude", array(col("longitude") - 0.01, col("longitude") + 0.01, col("longitude") + 0.01, col("longitude") - 0.01))
      .withColumn("vertex_latitude", array(col("latitude") - 0.01, col("latitude") - 0.01, col("latitude") + 0.01, col("latitude") + 0.01))
      .withColumn("xco2_quality_flag", when(pmod(col("sounding_index"), lit(10)) === 9, 1).otherwise(0))
      .withColumn("xco2", lit(400.0) + pmod(col("sounding_index"), lit(100)) / 10.0)
      .withColumn("xco2_uncertainty", lit(0.5))
      .drop("_block", "_tgt", "_isObs", "_lonBase", "_latBase")

  private def textProbe(
      spark: org.apache.spark.sql.SparkSession,
      n: Long,
      only: Option[Set[String]] = None): Unit = {
    import graft.operators.{Dedup, MinHashLSH, Sampling, SetSimilarity, TextAnalysis}
    import org.apache.spark.storage.StorageLevel
    val docs = corpus(spark, n).persist()
    docs.count() // materialize the input so op timings exclude generation
    val stopwords = Seq("the", "a", "of", "and", "w1", "w2", "w3")
    val langs = Seq("en" -> Seq("w1", "w2"), "de" -> Seq("w3", "w4"))
    def noopWrite(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // the postings family materializes its shared shingle aggregate ONCE
    // per run (persist → consume → blocking unpersist inside the timed
    // window, so every pass pays the honest full cost and nothing lingers
    // into the next op's timing)
    def withPostings(use: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
      val post = SetSimilarity.shinglePostings(docs, "doc_id", "text")
        .persist(StorageLevel.MEMORY_AND_DISK)
      try noopWrite(use(post))
      finally post.unpersist(blocking = true)
    }
    val allOps: Seq[(String, () => Unit)] = Seq(
      "exact_dedup"    -> (() => noopWrite(Dedup.exactStats(docs, Dedup.normalizedTextHash(col("text")), "doc_id"))),
      "token_stats"    -> (() => noopWrite(TextAnalysis.tokenStats(docs, "doc_id", "text", stopwords))),
      "lang_id"        -> (() => noopWrite(TextAnalysis.languageId(docs, "doc_id", "text", langs))),
      "fingerprint"    -> (() => noopWrite(TextAnalysis.fingerprint(docs, "doc_id", "text"))),
      "minhash_neardup" -> (() => noopWrite(MinHashLSH.nearDuplicates(docs, "doc_id", "text"))),
      // the hard bucket cap: identical output on this corpus (no bucket
      // near the cap), bounding worst-case work on degenerate ones
      "minhash_capped" -> (() => noopWrite(
        MinHashLSH.nearDuplicates(docs, "doc_id", "text", maxBucket = Some(10000L)))),
      "simhash"        -> (() => noopWrite(TextAnalysis.simHash(docs, "doc_id", "text", bits = 32))),
      "simhash_neardup" -> (() => noopWrite(TextAnalysis.simHashNearDup(docs, "doc_id", "text", bits = 32, nBands = 4, maxHamming = 3))),
      // same operator, corpus-sized band width (15-bit bands = 32k buckets):
      // the knob that keeps banded LSH linear as the corpus grows
      "simhash_neardup60" -> (() => noopWrite(TextAnalysis.simHashNearDup(docs, "doc_id", "text", bits = 60, nBands = 4, maxHamming = 3))),
      // the self-sizing entry point (includes its own sizing count) — must
      // track simhash_neardup60 at every scale, unlike the fixed-8-bit shape
      "simhash_neardup_sized" -> (() => noopWrite(TextAnalysis.simHashNearDupSized(docs, "doc_id", "text", maxHamming = 3))),
      "bpe_tokens"     -> (() => noopWrite(TextAnalysis.bpeTokenStats(docs, "doc_id", "text"))),
      "winnow"         -> (() => noopWrite(TextAnalysis.winnowFingerprints(docs, "doc_id", "text"))),
      // exact set-similarity postings join: work is Σ df² over sub-cap
      // shingles — near-linear here because the shingle space is huge
      // relative to the corpus (the realistic regime; a df-capped hot
      // shingle can only DROP work, never add it). The shared postings
      // aggregate materializes once for its three consumers.
      "ngram_jaccard"  -> (() => withPostings(SetSimilarity.ngramJaccardFromPostings(_))),
      // same postings core, asymmetric final — must track ngram_jaccard
      "containment"    -> (() => withPostings(SetSimilarity.containmentFromPostings(_))),
      "hash_split"     -> (() => noopWrite(Sampling.hashSplit(docs, "doc_id", Seq(("train", 90), ("val", 5), ("test", 5))))),
      "stratified"     -> (() => noopWrite(Sampling.stratifiedSample(
        docs.withColumn("stratum", pmod(col("doc_id"), lit(16))), "doc_id", Seq("stratum"), 100))),
      "decontaminate"  -> (() => {
        val sp = Sampling.hashSplit(docs, "doc_id", Seq(("train", 90), ("val", 5), ("test", 5)))
        noopWrite(SetSimilarity.crossOverlap(
          sp.filter(col("split") === "train"), sp.filter(col("split") =!= "train"),
          "doc_id", "text"))
      }),
      // clustering over the near-dup pair graph: the iterative label
      // propagation (the only driver-looped text op) at a dup-pair
      // population the corpus's every-25th/50th dup structure scales
      // linearly with n; pair-finding inside reads the same materialized
      // postings (the stored-pipeline relationship q57 has to q52)
      "neardup_clusters" -> (() => withPostings(post =>
        Dedup.connectedComponents(
          SetSimilarity.ngramJaccardFromPostings(post), "doc_a", "doc_b"))),
      // round-8 additions: zero-shuffle projections (pii, mixture) and the
      // corpus-df gram family (dup-span stats / removal, tf-idf)
      "pii_scrub"      -> (() => noopWrite(graft.operators.Pii.scrub(
        docs.withColumn("t2", concat(col("text"), lit(" x@y.com 10.0.0.1 555-123-4567"))), "t2"))),
      "mixture"        -> (() => noopWrite(Sampling.mixtureResample(
        docs.withColumn("src", concat(lit("s"), pmod(col("doc_id"), lit(16)))),
        "doc_id", "src", (0 until 16).map(i => (s"s$i", (i % 11) * 100)), 1000))),
      // the gram/tf family runs persist-once here (the cluster
      // configuration); their internal cache entries are flushed by the
      // cleanup hook below, OUTSIDE the timed window
      "gopher_rules"   -> (() => noopWrite(TextAnalysis.gopherRules(docs, "doc_id", "text", stopwords))),
      "incremental_dedup" -> (() => noopWrite(Dedup.incrementalByHash(
        incoming     = docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        corpusHashes = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
          .select(Dedup.normalizedTextHash(col("text")).as("h")),
        hashCol = "h", contentHash = Dedup.normalizedTextHash(col("text")),
        expectedCorpusItems = 10000000L))),
      "dup_span_stats" -> (() => noopWrite(TextAnalysis.dupSpanStats(docs, "doc_id", "text",
        persist = Some(StorageLevel.MEMORY_AND_DISK)))),
      "dedup_spans"    -> (() => noopWrite(TextAnalysis.dedupSpans(docs, "doc_id", "text",
        persist = Some(StorageLevel.MEMORY_AND_DISK)))),
      "tfidf_topk"     -> (() => noopWrite(TextAnalysis.tfIdfTopK(docs, "doc_id", "text", 5,
        persist = Some(StorageLevel.MEMORY_AND_DISK)))),
      // round-10 additions: reference-LM familiarity (bigram model over the
      // even-hash half scoring the odd half — two gram aggregates + two
      // joins) and DSIR importance weights (bucket models bounded at 4096
      // rows broadcast to the score join — should be the flattest curve in
      // the family)
      "reference_lm"   -> (() => noopWrite(graft.operators.LmScore.referenceLmStats(
        docs, "doc_id", "text", Sampling.hashBucket(col("doc_id"), 2) === 0))),
      "dsir"           -> (() => noopWrite(graft.operators.LmScore.dsirWeights(
        docs, "doc_id", "text", pmod(col("doc_id"), lit(16)) < 4, nBuckets = 4096))),
      // continuation additions: trained-BPE encode (one vocab aggregate +
      // driver merge loop + stateless memoized per-row pass) and
      // temperature mixture (one bounded group aggregate + pure filter)
      "bpe_encode"     -> (() => noopWrite(graft.operators.BpeTrain.trainAndSegmentStats(
        docs, "doc_id", "text", numMerges = 50))),
      // line granularity: the synthetic corpus is single-line, so probe
      // lines are word-delimited (every token a line) — the WORST case
      // for the line-count aggregate (max keys per doc)
      "line_dedup"     -> (() => noopWrite(TextAnalysis.lineDedup(
        docs, "doc_id", "text", delim = " ", minDocs = 1000))),
      "temperature"    -> (() => noopWrite(Sampling.temperatureResample(
        docs.withColumn("src", concat(lit("s"), pmod(col("doc_id") * col("doc_id"), lit(16)))),
        "doc_id", "src"))),
      // continuation-3 additions: C4 rules (pure per-row byte pass —
      // space-delimited "lines" are the worst case for the line scan),
      // HLL cardinality sketch (p=12: at most 4096 register rows per
      // group ever reach the reduce, whatever n is), and strided
      // windows (packSequences with a 2× overlap factor on the token
      // shuffle)
      "c4_rules"       -> (() => noopWrite(TextAnalysis.c4Clean(
        docs, "doc_id", "text", delim = " ", minWordsPerLine = 1, minSentences = 1))),
      "hll_sketch"     -> (() => {
        val g = docs.withColumn("src", pmod(col("doc_id"), lit(16)))
        noopWrite(graft.operators.Sketches.hllEstimate(
          graft.operators.Sketches.hllRegisters(g, Seq("src"), col("text"), p = 12),
          Seq("src"), p = 12))
      }),
      // CMS over the TOKEN stream (explode ×60 per doc): counters bounded
      // at depth·width however big the corpus — must stay flat like hll
      "cms_sketch"     -> (() => noopWrite(graft.operators.Sketches.cmsRegisters(
        docs.select(explode(split(col("text"), " ")).as("tok")),
        Nil, col("tok"), depth = 4, width = 4096))),
      "strided_windows" -> (() => noopWrite(graft.operators.Packing.packSequencesStrided(
        docs, "doc_id", "text", seqLen = 256, stride = 128))))
    // optional op filter (args(5), comma-separated): curve one family
    // member without paying for the whole suite at every n
    val ops = only.fold(allOps) { names => allOps.filter(o => names(o._1)) }
    // ops that persist internal frames need a flush between passes so a
    // repeated run can never read its predecessor's cache; the flush also
    // evicts the corpus, so re-warm it — all OUTSIDE the timed window
    val needsFlush = Set("dup_span_stats", "dedup_spans", "tfidf_topk")
    def cleanup(name: String): Unit = if (needsFlush(name)) {
      spark.catalog.clearCache()
      docs.persist()
      docs.count()
      ()
    }
    // warm-up pass, then timed pass (same protocol as Bench)
    ops.foreach { case (name, f) => f(); cleanup(name) }
    val timed = ops.map { case (name, f) =>
      val t0 = System.nanoTime()
      f()
      val dt = (System.nanoTime() - t0) / 1e9
      cleanup(name)
      name -> dt
    }
    docs.unpersist()
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    println(s"""{"probe":"text_family","docs":$n,"ops":$qs}""")
  }

  /** Embedding-family scale probe: synthetic clustered vectors (100 latent
    * clusters, deterministic hash jitter), timing the similarity tier —
    * broadcast brute-force top-k for a fixed query batch (linear in n),
    * the corpus×corpus LSH kNN graph with corpus-sized plane count
    * (buckets stay ~256 deep as n grows — the knob that keeps the
    * per-bucket quadratic flat), and the trained-quantizer paths (IVF
    * near-dup, SemDeDup). Protocol identical to [[textProbe]]: warm-up
    * pass, then timed pass. */
  private def embedProbe(
      spark: org.apache.spark.sql.SparkSession,
      n: Long,
      only: Option[Set[String]] = None): Unit = {
    import graft.operators.Similarity
    val dim = 64
    val vecs = spark.range(n)
      .withColumn("_c", pmod(col("id"), lit(100)))
      .select(
        col("id").as("vec_id"),
        array((0 until dim).map(j =>
          sin(col("_c") * (j + 1)) +
            pmod(xxhash64(col("id"), lit(j)), lit(1000)).cast("double") / 5000.0): _*).as("vec"))
      .persist()
    vecs.count()
    def noopWrite(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // size the plane count to the corpus: 2^planes buckets ≈ n / 256
    val nPlanes = math.max(8, math.ceil(math.log(n / 256.0) / math.log(2.0)).toInt)
    val planes  = Similarity.hyperplanes(nPlanes, dim, seed = 42L)
    val queries = vecs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("vec").as("qvec"))
    val corpus = vecs.select(col("vec_id").as("cid"), col("vec").as("cvec"))
    val allOps: Seq[(String, () => Unit)] = Seq(
      "brute_topk_10q" -> (() => noopWrite(Similarity.bruteForceTopK(queries, corpus, k = 5))),
      "knn_graph_lsh"  -> (() => noopWrite(Similarity.knnGraphLsh(vecs, "vec_id", "vec", planes, k = 5))),
      // the cluster-dense scale contract: candidate side thins to ~256 per
      // bucket, total work ~n·m — must bend the uncapped 4×-per-2× curve
      // back to linear at identical plane count
      "knn_graph_capped" -> (() => noopWrite(Similarity.knnGraphLsh(
        vecs, "vec_id", "vec", planes, k = 5, maxCandidatesPerBucket = Some(256)))),
      "ivf_neardup"    -> (() => noopWrite(Similarity.ivfNearDupPairs(vecs, "vec_id", "vec", k = 64, minCos = 0.999, iters = 2))),
      "semdedup"       -> (() => noopWrite(Similarity.semDedup(vecs, "vec_id", "vec", k = 64, minCos = 0.999, iters = 2))),
      // r10 verdict #3: the within-cluster pair term is the embed family's
      // one super-linear curve (~3× per 2× at fixed k); the canonical-side
      // md5-coin cap must bend it to ~n·m at identical k/minCos config
      "ivf_neardup_capped" -> (() => noopWrite(Similarity.ivfNearDupPairs(
        vecs, "vec_id", "vec", k = 64, minCos = 0.999, iters = 2, maxPerBucket = Some(256)))),
      "semdedup_capped" -> (() => noopWrite(Similarity.semDedup(
        vecs, "vec_id", "vec", k = 64, minCos = 0.999, iters = 2, maxPerBucket = Some(256)))),
      // PQ: codebooks train on a 1/16 hash sample (the published recipe —
      // training cost stays flat as the corpus grows); encode is the
      // corpus-sized single map, ADC search reads only the codes
      "pq_encode"      -> (() => {
        val books = Similarity.pqFit(
          graft.operators.Sampling.deterministicSample(vecs, "vec_id", 1, 16),
          "vec", "vec_id", m = 8, k = 16, iters = 2)
        noopWrite(Similarity.pqEncode(vecs, "vec", books))
      }),
      "pq_topk_10q"    -> (() => {
        val books = Similarity.pqFit(
          graft.operators.Sampling.deterministicSample(vecs, "vec_id", 1, 16),
          "vec", "vec_id", m = 8, k = 16, iters = 2)
        val enc = Similarity.pqEncode(corpus, "cvec", books).select(col("cid"), col("codes"))
        noopWrite(Similarity.pqTopK(queries, enc, books, k = 5))
      }),
      // IVF-PQ: coarse quantizer + residual codebooks train on the same
      // 1/16 sample; encode is one generated map over the corpus; ADC
      // search reads only (cell, codes) from the nprobe=4 probed cells
      "ivfpq_encode"   -> (() => {
        val sample = graft.operators.Sampling.deterministicSample(vecs, "vec_id", 1, 16)
        val cents  = graft.operators.KMeans.fit(sample, "vec", "vec_id", k = 16, iters = 2)
        val books  = Similarity.ivfPqFit(sample, "vec", "vec_id", cents, m = 8, k = 16, iters = 2)
        noopWrite(Similarity.ivfPqEncode(vecs, "vec", cents, books))
      }),
      "ivfpq_topk_10q" -> (() => {
        val sample = graft.operators.Sampling.deterministicSample(vecs, "vec_id", 1, 16)
        val cents  = graft.operators.KMeans.fit(sample, "vec", "vec_id", k = 16, iters = 2)
        val books  = Similarity.ivfPqFit(sample, "vec", "vec_id", cents, m = 8, k = 16, iters = 2)
        val enc = Similarity
          .ivfPqEncode(corpus.withColumnRenamed("cvec", "vec"), "vec", cents, books)
          .select(col("cid"), col("cell"), col("codes"))
        noopWrite(Similarity.ivfPqTopK(queries, enc, cents, books, nprobe = 4, k = 5))
      }))
    val ops = only.fold(allOps) { names => allOps.filter(o => names(o._1)) }
    ops.foreach { case (_, f) => f() }
    val timed = ops.map { case (name, f) =>
      val t0 = System.nanoTime()
      f()
      name -> ((System.nanoTime() - t0) / 1e9)
    }
    vecs.unpersist()
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP) }
      .mkString("{", ",", "}")
    println(s"""{"probe":"embed_family","vectors":$n,"dim":$dim,"planes":$nPlanes,"ops":$qs}""")
  }

  /** One day of the 3-mission workload: write the oco3-targeted, oco2
    * mode-only, and oco3-SIF granule files for `d` under `base` and a
    * queue message naming all three (the reference's one-message-per-day
    * RMQ shape across missions). Shared by prodloop3 and soak3. */
  private def writeThreeMissionDay(
      base: java.nio.file.Path,
      queue: java.nio.file.Path,
      d: String,
      msgName: String,
      n: Int,
      nTgt: Int): Unit = {
    val tag  = d.replace("-", "")
    val oco3 = base.resolve(s"oco3_LtCO2_${tag}_B10400Br.nc4")
    java.nio.file.Files.write(oco3,
      graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
        h5Soundings(n, nTgt, d), chunkRows = 16384, deflateLevel = 4))
    val oco2 = base.resolve(s"oco2_LtCO2_${tag}_B11100Ar.nc4")
    java.nio.file.Files.write(oco2,
      graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
        h5Soundings(n, nTgt, d).map(_.copy(target_id = "")),
        chunkRows = 16384, deflateLevel = 4))
    val sif = base.resolve(s"oco3_LtSIF_${tag}_B10400Br.nc4")
    val sifEpoch = (java.time.LocalDate.parse(d).toEpochDay -
      java.time.LocalDate.parse("1990-01-01").toEpochDay) * 86400.0 + 37800.0
    val sifRows = (0 until n / 2).map { i =>
      val tgt = (i / 200) % nTgt
      val lon = -170.0 + (tgt % 160) * 2.0 + (i * 7919 % 2000) / 1000.0
      val lat = -40.0 + (tgt / 160) * 4.0 + (i * 104729 % 2000) / 1000.0
      graft.sources.netcdf.NetCDFGranules.SifSounding(
        i.toLong, lat, lon, sifEpoch + i * 0.1,
        Seq(lat - 0.01, lat - 0.01, lat + 0.01, lat + 0.01),
        Seq(lon - 0.01, lon + 0.01, lon + 0.01, lon - 0.01),
        quality_flag = if (i % 10 == 9) 1 else 0,
        daily_sif = 1.0 + (i % 100) / 50.0,
        operation_mode = if (tgt % 2 == 0) 3 else 0, sequences_index = tgt)
    }
    java.nio.file.Files.write(sif,
      graft.sources.netcdf.NetCDFGranules.writeSifGranuleH5(
        sifRows, (0 until nTgt).map(i => f"fossil$i%04d")))
    java.nio.file.Files.write(
      queue.resolve(msgName),
      Seq(oco3, oco2, sif).map(_.toString).mkString("\n").getBytes("UTF-8"))
  }

  /** Per-mission dispatch by the reference's granule naming (RunJob's
    * missionGlobal, re-expressed over a path list): each mission's
    * granules run its own GlobalPipeline variant, mission builds are
    * SEQUENCED (eager localCheckpoint — the memory shape that fits the
    * single-mission envelope), and the union carries mission-prefixed
    * store variables. Shared by prodloop3 and soak3. */
  private def threeMissionGlobalProduct(
      s: org.apache.spark.sql.SparkSession,
      paths: Seq[String],
      mesh: graft.operators.Grid.GridSpec,
      cfg: Pipeline.Config): org.apache.spark.sql.DataFrame = {
    import graft.domain.{GlobalPipeline, SifPipeline}
    import graft.sources.netcdf.NetCDFGranules
    val byMission = paths.groupBy { p =>
      val f = new java.io.File(p).getName
      if (f.contains("LtSIF")) "oco3_sif"
      else if (f.startsWith("oco2_")) "oco2"
      else "oco3"
    }
    byMission.toSeq.sortBy(_._1).map { case (m, ps) =>
      val product = m match {
        case "oco3" =>
          GlobalPipeline.toStoreVariables(m, GlobalPipeline.process(
            NetCDFGranules.readGranules(s, ps).drop("sounding_id"), mesh, cfg))
        case "oco2" =>
          GlobalPipeline.toStoreVariables(m, GlobalPipeline.process(
            NetCDFGranules.readGranules(s, ps).drop("sounding_id"),
            mesh, cfg.copy(samMode = cfg.targetMode)))
        case "oco3_sif" =>
          val soundings = NetCDFGranules.readSifGranules(s, ps)
            .withColumn("time", SifPipeline.sifTime(col("delta_time")))
          val resolved = SifPipeline.resolveTargets(
            soundings, NetCDFGranules.readSifSequences(s, ps))
          GlobalPipeline.toStoreVariables(m, GlobalPipeline.process(
            resolved, mesh, cfg.copy(samMode = 3, targetMode = 2),
            valueCols = Seq("daily_sif"),
            quality = (df, _) => SifPipeline.qualityFilter(df)))
      }
      if (byMission.sizeIs > 1) product.localCheckpoint(true) else product
    }.reduce(_.unionByName(_))
  }

  /** Wall-second timer shared by every probe variant (one definition —
    * per-variant copies had started to accumulate). */
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Recursive byte size of a directory tree. */
  private def du(p: java.nio.file.Path): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(walk).sum) else f.length()
    walk(p.toFile)
  }

  /** Count of `.parquet` files under a directory tree. */
  private def parquetFiles(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(walk).sum)
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    walk(new java.io.File(dir))
  }

  def main(args: Array[String]): Unit = {
    val n       = if (args.length > 0) args(0).toInt else 100000
    val nTgt    = if (args.length > 1) args(1).toInt else 50
    val gridN   = if (args.length > 2) args(2).toInt else 64
    val method  = if (args.length > 3) args(3) else "linear"
    val spark   = Jobs.session("graft-scale-probe")
    spark.sparkContext.setLogLevel("WARN")

    // catalog: nTgt 2°×2° boxes in a row along the equator band
    val catalog = TargetCatalog.toDF(
      spark,
      (0 until nTgt).map { i =>
        val lon = -170.0 + (i % 160) * 2.0
        val lat = -40.0 + (i / 160) * 4.0
        Target(f"fossil$i%04d", s"T$i", lon, lat, lon + 2.0, lat + 2.0)
      })

    val granule = syntheticGranule(spark, n, nTgt)

    val variant = if (args.length > 4) args(4) else "target"
    if (variant == "globalzarr") {
      // production sink probe: global pipeline over the parametric mesh,
      // then the Zarr v2 store write (the reference's primary output path).
      // args(5) = number of days (each its own synthetic granule, so the
      // time-chunk dimension and per-granule sessionization do real work;
      // gridN=360 → the production 36000×18000 mesh at 250×250×5 chunking).
      // Days 0..n-2 write as one batch (store CREATE), the last day as a
      // SECOND write to the same store — the daily forward append that
      // overlays the shared boundary time-chunk files executor-side — then
      // the store is read back and each day's pixel count compared against
      // the pipeline output, and the climatology tool runs over the store.
      val nDays = if (args.length > 5) args(5).toInt else 1
      val nx = 100 * gridN; val ny = 50 * gridN
      val mesh = graft.operators.Grid.GridSpec(-180.0, 180.0, nx, -90.0, 90.0, ny)
      def dayGranule(di: Int) =
        syntheticGranule(spark, n, nTgt)
          .withColumn("time",
            to_timestamp(lit("2023-06-15 10:30:00")) + expr(s"INTERVAL $di DAYS"))
          .withColumn("granule_path", lit(s"synthetic://day$di.nc4"))
      val cfg = Pipeline.Config(gridN = gridN, method = method)
      def dayCounts(out: org.apache.spark.sql.DataFrame) = out
        .filter(col("variable") === "xco2")
        .groupBy(to_date(col("time")).cast("string").as("day")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val zPath = java.nio.file.Files.createTempDirectory("zarrprobe").toString
      val gspec = graft.sinks.ZarrStore.GridSpec(
        ny, nx, -90.0 + 180.0 / ny / 2, 180.0 / ny, -180.0 + 360.0 / nx / 2, 360.0 / nx)
      val bulk = (0 until math.max(1, nDays - 1)).map(dayGranule).reduce(_.unionByName(_))
      val out1 = graft.domain.GlobalPipeline.process(bulk, mesh, cfg)
      val t0 = System.nanoTime()
      graft.sinks.ZarrStore.write(out1, zPath, gspec)
      val createSec = (System.nanoTime() - t0) / 1e9
      val appendSec =
        if (nDays < 2) 0.0
        else {
          val out2 = graft.domain.GlobalPipeline.process(dayGranule(nDays - 1), mesh, cfg)
          val t1 = System.nanoTime()
          graft.sinks.ZarrStore.write(out2, zPath, gspec)
          (System.nanoTime() - t1) / 1e9
        }
      val files = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(zPath))
      }
      val chunkFiles = files.count(_.getName.matches("\\d+\\.\\d+\\.\\d+"))
      val bytes = files.map(_.length()).sum
      // round-trip: per-day store counts must equal the pipeline output's
      // (the append day reads back through the overlaid boundary chunks)
      val days = graft.sinks.ZarrStore.existingDays(spark, zPath)
      val got = graft.sinks.ZarrStore.read(spark, zPath, "xco2")
        .groupBy(col("time_idx")).count()
        .collect().map(r => java.time.LocalDate.ofEpochDay(days(r.getInt(0))).toString -> r.getLong(1)).toMap
      val want = dayCounts(out1) ++
        (if (nDays >= 2) dayCounts(graft.domain.GlobalPipeline.process(dayGranule(nDays - 1), mesh, cfg))
         else Map.empty)
      val roundTrip = got == want
      // the reference's analytic tool over the store at this geometry
      val t2 = System.nanoTime()
      graft.tools.ClimatologyJob.main(Array(zPath, s"$zPath-climo", "month"))
      val climoSec = (System.nanoTime() - t2) / 1e9
      // dense-export legs at the same geometry (S9 CoG + S10 netCDF-4),
      // both distributed-encode: tiles/chunks deflate on their owning
      // tasks, only compressed bytes reach the per-file writer. The export
      // input is persisted and materialized first so cog_sec/netcdf_sec
      // time the EXPORT, not a recompute of the pipeline subtree.
      val xco2 = out1.filter(col("variable") === "xco2")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      xco2.count()
      val expDir = java.nio.file.Files.createTempDirectory("expprobe").toString
      val t3 = System.nanoTime()
      val cogs = graft.sinks.CoGExport.exportGlobalMosaic(
        xco2, s"$expDir/cog", nx, ny,
        minLon = gspec.lon0, dLon = gspec.dlon, minLat = gspec.lat0, dLat = gspec.dlat).collect()
      val cogSec = (System.nanoTime() - t3) / 1e9
      // round-trip: the file's present-tile count must equal the distinct
      // tile keys of the exported day (the IFD is KBs; the plane is 5 GB)
      val day0 = cogs.head.day
      val cogBytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(
        if (cogs.head.path.startsWith("file:")) cogs.head.path else "file://" + cogs.head.path)))
      val wantTiles = xco2.filter(to_date(col("time")).cast("string") === day0)
        .select(
          ((lit(ny - 1) - col("lat_idx")) / graft.sinks.GeoTiff.TileSize).cast("int").as("ty"),
          (col("lon_idx") / graft.sinks.GeoTiff.TileSize).cast("int").as("tx"))
        .distinct().count()
      val cogOk = graft.sinks.GeoTiff.tileStats(cogBytes)._2.toLong == wantTiles
      val t4 = System.nanoTime()
      val ncs = graft.sinks.NetCDFExport.exportGlobalDailyH5(
        xco2, s"$expDir/nc", nx, ny,
        minLon = gspec.lon0, dLon = gspec.dlon, minLat = gspec.lat0, dLat = gspec.dlat).collect()
      val ncSec = (System.nanoTime() - t4) / 1e9
      // round-trip: non-fill cells read back through the hdf5 source must
      // equal the exported day's pixel count
      val ncDay = ncs.head
      val ncBack = spark.read.format("hdf5").option("rowdim", "lat").load(ncDay.path)
        .selectExpr("explode(xco2) AS v").filter(col("v").isNotNull).count()
      val ncOk = ncBack == xco2.filter(to_date(col("time")).cast("string") === ncDay.day).count()
      println(
        s"""{"probe":"global_zarr_write","soundings":$n,"days":$nDays,"mesh":"${nx}x$ny",""" +
          s""""chunk_files":$chunkFiles,"store_bytes":$bytes,"create_sec":$createSec,""" +
          s""""append_sec":$appendSec,"roundtrip_ok":$roundTrip,"climatology_sec":$climoSec,""" +
          s""""cog_sec":$cogSec,"cog_tiles_ok":$cogOk,"netcdf_sec":$ncSec,"netcdf_roundtrip_ok":$ncOk}""")
      spark.stop()
      return
    }
    if (variant == "text") {
      textProbe(spark, n.toLong,
        if (args.length > 5) Some(args(5).split(",").toSet) else None)
      spark.stop()
      return
    }
    if (variant == "embed") {
      embedProbe(spark, n.toLong,
        if (args.length > 5) Some(args(5).split(",").toSet) else None)
      spark.stop()
      return
    }
    if (variant == "codec") {
      // chunk-codec head-to-head on the production chunk profile: a
      // 5x250x250 float64 chunk (2.5 MB) with sparse coverage (NaN fill
      // everywhere a sounding did not land) — the exact payload every
      // store write compresses once per chunk cell. Driver-side on
      // purpose: the codec runs inside executor tasks, so single-thread
      // throughput IS the per-task cost.
      val rnd = new scala.util.Random(7)
      val chunk = Array.tabulate(5 * 250 * 250) { i =>
        if (rnd.nextDouble() < 0.7) Double.NaN else 400.0 + (i % 977) * 0.003
      }
      val raw = java.nio.ByteBuffer.allocate(chunk.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      chunk.foreach(raw.putDouble)
      val bytes = raw.array()
      def time[T](reps: Int)(f: => T): (Double, T) = {
        var out: T = f // warm-up
        val t0 = System.nanoTime()
        var i = 0
        while (i < reps) { out = f; i += 1 }
        ((System.nanoTime() - t0) / 1e9 / reps, out)
      }
      val reps = 20
      val blosc = graft.sinks.ZarrStore.BloscCodec()
      val zlib  = graft.sinks.ZarrStore.ZlibCodec(9)
      val (bcSec, bFrame) = time(reps)(blosc.compress(bytes))
      val (bdSec, _)      = time(reps)(blosc.decompress(bFrame, bytes.length))
      val (zcSec, zFrame) = time(reps)(zlib.compress(bytes))
      val (zdSec, _)      = time(reps)(zlib.decompress(zFrame, bytes.length))
      def mbps(s: Double) = math.round(bytes.length / s / 1e6)
      println(
        s"""{"probe":"chunk_codec","raw_bytes":${bytes.length},""" +
          s""""blosc":{"bytes":${bFrame.length},"c_mbps":${mbps(bcSec)},"d_mbps":${mbps(bdSec)}},""" +
          s""""zlib9":{"bytes":${zFrame.length},"c_mbps":${mbps(zcSec)},"d_mbps":${mbps(zdSec)}}}""")
      spark.stop()
      return
    }
    if (variant == "ingestgate") {
      // streaming-gate throughput: the corpus lands as many parquet files,
      // a file stream replays them in bounded micro-batches through the
      // FULL CorpusIngest gate (PII → quality → language → reference-LM →
      // DSIR → mixture → bloom incremental dedup vs a 1/4 standing index)
      // into a noop sink.
      // The measurement is end-to-end micro-batch wall, i.e. what a queue
      // consumer would sustain on this box.
      import graft.streaming.CorpusIngest
      val dir  = java.nio.file.Files.createTempDirectory("ingestgateprobe")
      val docs = corpus(spark, n.toLong)
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(4))))
      docs.repartition(64).write.mode("overwrite").parquet(s"$dir/in")
      // the static side of a stream-static join re-executes per micro-batch;
      // persisting the index is the standard mitigation (one materialization,
      // every trigger reads cache)
      val hashes = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(graft.operators.Dedup.normalizedTextHash(col("text")).as("h"))
        .persist()
      hashes.count()
      val index = CorpusIngest.CorpusIndex(hashes, "h", expectedItems = n.toLong, fpp = 0.01)
      // bounded model artifacts for the two per-row scoring stages (built
      // once from the corpus, permissive ceilings: the probe measures
      // kernel cost, not selectivity)
      val lmModel = graft.operators.LmScore.compactModel(
        graft.operators.LmScore.bigramModel(
          docs.filter(pmod(col("doc_id"), lit(4)) === 0), "text"), maxGrams = 200000)
      val dsirModel = graft.operators.LmScore.compactDsirModel(
        docs, "doc_id", "text", pmod(col("doc_id"), lit(4)) === 0, nBuckets = 4096)
      val stream = spark.readStream
        .schema(docs.schema)
        .option("maxFilesPerTrigger", sys.env.getOrElse("SPARK_GRAFT_FILES_PER_TRIGGER", "8").toInt)
        .parquet(s"$dir/in")
      // `language` keeps everything here ('und' allowed): the probe measures
      // stage cost, not selectivity; quality/mixture still drop rows
      def gateOf(in: org.apache.spark.sql.DataFrame) = CorpusIngest.gate(
        in, "doc_id", "text",
        quality  = Some(CorpusIngest.Quality(
          Seq("w1", "w2", "w3"), minWords = 5L, minStopHits = 0L)),
        language = Some(CorpusIngest.Language(
          Seq("en" -> Seq("w1", "w2", "w3"), "de" -> Seq("w4", "w5")),
          keep = Seq("en", "de", "und"))),
        lm       = Some(CorpusIngest.LmQuality(lmModel, maxBitsPerBigram = 64.0, maxOovPct = 100L)),
        dsir     = Some(CorpusIngest.DsirSelect(dsirModel, keepAbove = Long.MinValue)),
        mixture  = Some(("source", Seq("s0" -> 2, "s1" -> 2, "s2" -> 1, "s3" -> 1), 2)),
        corpus   = Some(index),
        // continuation-3 stage: the DEFLATE-ratio gate at a keep-all
        // threshold, so the probe pays the per-row Deflater cost without
        // changing selectivity. (The C4 stage is NOT composable on this
        // corpus — word-soup lines never end in punctuation, so its
        // rewrite would empty every doc; its per-row cost is measured in
        // textProbe's c4_rules entry instead.)
        compression = Some(CorpusIngest.Compression(minRatio = 0.0)))
      // batch reference: the same gate over the same files in one pass —
      // the denominator for the micro-batch overhead factor
      val tb = System.nanoTime()
      gateOf(spark.read.parquet(s"$dir/in"))
        .write.format("noop").mode("overwrite").save()
      val batchSec = (System.nanoTime() - tb) / 1e9
      val t0 = System.nanoTime()
      val q = gateOf(stream).writeStream
        .outputMode("append").format("noop")
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      q.processAllAvailable()
      q.stop()
      val sec     = (System.nanoTime() - t0) / 1e9
      val batches = q.recentProgress.length
      // sketch telemetry streams (r10 verdict #5): running distinct-doc
      // cardinality (HLL) + hot-token counters (CMS) over the same input —
      // complete-mode aggregations with forever-bounded state, read back
      // through the batch estimators
      val tq = CorpusIngest.corpusCardinalitySketch(stream, "text", p = 12)
        .writeStream.outputMode("complete").format("memory").queryName("probe_hll")
        .option("checkpointLocation", s"$dir/ckpt_hll").start()
      val tq2 = CorpusIngest.hotTokenSketch(stream, "text", depth = 3, width = 1024)
        .writeStream.outputMode("complete").format("memory").queryName("probe_cms")
        .option("checkpointLocation", s"$dir/ckpt_cms").start()
      tq.processAllAvailable(); tq.stop()
      tq2.processAllAvailable(); tq2.stop()
      // heavy-hitter candidate pool (r12 verdict #5): SpaceSaving summaries
      // as streaming state, bounded at shards×capacity whatever the vocab;
      // harvest = candidates priced by the CMS registers above
      val tq3 = CorpusIngest.hotTokenCandidates(stream, "text", capacity = 256, shards = 8)
        .writeStream.outputMode("complete").format("memory").queryName("probe_cands")
        .option("checkpointLocation", s"$dir/ckpt_cands").start()
      tq3.processAllAvailable(); tq3.stop()
      val candVals = spark.table("probe_cands")
        .select(explode(col("candidates")).as("c")).select(col("c.value").as("value"))
      val candRows  = candVals.count()
      val harvested = graft.operators.Sketches.harvestHeavyHitters(
        candVals, spark.table("probe_cms"), "value", depth = 3, width = 1024,
        minCount = math.max(n / 100L, 1L)).count()
      val estDistinct = graft.operators.Sketches
        .hllEstimate(spark.table("probe_hll"), Nil, p = 12)
        .collect()(0).getAs[Double]("estimate")
      val cmsRegs = spark.table("probe_cms").count()
      def r(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(s"""{"probe":"ingest_gate","docs":$n,"files":64,"batches":$batches,""" +
        s""""batch_sec":${r(batchSec)},"stream_sec":${r(sec)},""" +
        s""""docs_per_sec":${r(n / sec)},""" +
        s""""telemetry":{"hll_est_distinct":${r(estDistinct)},"cms_registers":$cmsRegs,""" +
        s""""hh_candidates":$candRows,"hh_harvested":$harvested}}""")
      spark.stop()
      return
    }
    if (variant == "skewtext") {
      // hot-gram regime: a boilerplate sentence prefixes HALF the corpus,
      // so its word 3-grams have df = n/2. This is the case the gram/tf
      // family's aggregate+join df form exists for — the count-over-
      // gram-partition window form lands every occurrence of a hot gram
      // on ONE task. Both forms are timed on the same corpus; the window
      // form is inlined here (it is no longer in the library) purely as
      // the straggler baseline.
      import graft.operators.TextAnalysis
      import org.apache.spark.sql.expressions.Window
      val docs = corpus(spark, n.toLong)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("the quick brown fox jumps over the lazy dog "), col("text")))
            .otherwise(col("text")))
        .persist()
      docs.count()
      def noopWrite(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      def windowForm(): org.apache.spark.sql.DataFrame = {
        val grams = docs.select(
          col("doc_id"),
          explode(graft.functions.WordGrams(col("text"), 3, distinct = false)).as("gram"))
        val perDoc = grams.groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("occ"))
        perDoc
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("gram"))))
          .groupBy(col("doc_id"))
          .agg(
            sum(col("occ")).as("n_grams"),
            sum(when(col("df") >= 2, col("occ")).otherwise(0L)).as("n_dup_grams"))
      }
      def time(f: () => Unit): Double = {
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
      }
      // warm-up then timed, same protocol as textProbe
      Seq(1, 2).map { _ =>
        val joinSec = time(() => noopWrite(
          TextAnalysis.dupSpanStats(docs, "doc_id", "text")))
        val winSec = time(() => noopWrite(windowForm()))
        (joinSec, winSec)
      }.lastOption.foreach { case (joinSec, winSec) =>
        def r(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
        println(s"""{"probe":"skew_gram","docs":$n,"hot_df":${n / 2},""" +
          s""""agg_join_sec":${r(joinSec)},"window_sec":${r(winSec)}}""")
      }
      docs.unpersist()
      spark.stop()
      return
    }
    if (variant == "climostate") {
      // incremental climatology at store scale: args(5) = days in the
      // store, n = long-form rows per day. Compares the nightly paths —
      // full-store temporalMean rescan (the reference tool's shape) vs
      // one-day state update + bounded state fold — and pins bit-equality
      // between the two means.
      val nDays = if (args.length > 5) args(5).toInt else 100
      val dir   = java.nio.file.Files.createTempDirectory("climostate")
      val store = dir.resolve("store").toString
      val state = dir.resolve("state").toString
      val rows = spark.range(nDays.toLong * n).select(
        concat(lit("t"), pmod(col("id"), lit(50))).as("target_id"),
        (lit(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")).cast("long") +
          (col("id") / n).cast("long") * 86400L + pmod(col("id"), lit(86400)))
          .cast("timestamp").as("time"),
        pmod(col("id"), lit(500)).cast("int").as("lat_idx"),
        pmod(col("id") / 500, lit(500)).cast("int").as("lon_idx"),
        lit(0.0).as("lat"), lit(0.0).as("lon"),
        lit("xco2").as("variable"),
        (lit(400.0) + pmod(col("id"), lit(1000)) / 100.0).as("value"))
      graft.sinks.ProductStore.create(rows, store)
      val product = graft.sinks.ProductStore.read(spark, store)
      val keys    = Seq("target_id", "variable")
      // the reference tool's shape: full-store rescan per run
      val (_, fullSec) = timed {
        graft.operators.Climatology.temporalMean(product, "time", "value", "month", keys)
          .write.format("noop").mode("overwrite").save()
      }
      // backfill: all days into the state once (one-time cost)
      val (_, backfillSec) = timed {
        graft.operators.Climatology.updateDailyState(product, "time", "value", keys, state)
      }
      // nightly: ONE day re-aggregates + the bounded state fold
      val lastDay = java.time.LocalDate.parse("2020-01-01").plusDays(nDays - 1L).toString
      val (_, daySec) = timed {
        graft.operators.Climatology.refreshDaysFromStore(
          product, "day", Seq(lastDay), "time", "value", keys, state)
      }
      val (_, foldSec) = timed {
        graft.operators.Climatology.meansFromState(spark, state, "month", keys)
          .write.format("noop").mode("overwrite").save()
      }
      // bit-equality of the two paths
      val a = graft.operators.Climatology.temporalMean(product, "time", "value", "month", keys)
      val b = graft.operators.Climatology.meansFromState(spark, state, "month", keys)
      val equal = a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
      println(
        s"""{"probe":"climo_state","days":$nDays,"rows_per_day":$n,""" +
          s""""full_recompute_sec":${f"$fullSec%.3f"},"backfill_sec":${f"$backfillSec%.3f"},""" +
          s""""nightly_day_sec":${f"$daySec%.3f"},"state_fold_sec":${f"$foldSec%.3f"},"bit_equal":$equal}""")
      spark.stop()
      return
    }
    if (variant == "corpusjob") {
      // end-to-end ingest-tier probe: the full CorpusJob chain (exact-dedup
      // → pii-scrub → quality-filter → neardup clustering → decontaminate
      // → mixture → split → shuffle) over the synthetic corpus, through the
      // same YAML front door a user drives. quality thresholds are set
      // permissive (the synthetic corpus has no stopwords/PII) so every
      // stage computes its full signal without degenerating to zero rows;
      // the benchmark side is a 1/1000 slice of the corpus re-keyed, so
      // decontamination finds real overlap.
      val dir  = java.nio.file.Files.createTempDirectory("corpusjobprobe")
      val docs = corpus(spark, n.toLong)
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(16))))
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      docs
        .filter(pmod(col("doc_id"), lit(1000)) === 7)
        .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("text"))
        .write.mode("overwrite").parquet(s"$dir/bench.parquet")
      val rates = ((0 until 8).map(i => s"s$i: 2") ++ (8 until 12).map(i => s"s$i: 1"))
        .mkString("{", ", ", "}")
      // the FULL modern chain: every ingest-tier family participates.
      // line-dedup runs at an unreachable threshold, compression-filter
      // at a keep-all ratio (it pays the Deflater, drops nothing on word
      // soup), neardup keeps best-by-length, and lm/dsir at
      // permissive ceilings/floors — each stage computes its complete
      // signal (counts, models, scores) without zeroing the corpus the
      // later stages need; the terminal shape is no-truncation pack-bins
      // plus the trainer-facing sharded JSONL export.
      val cfg =
        s"""input:
           |  documents: $dir/documents.parquet
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
           |    benchmark: $dir/bench.parquet
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
           |  local: $dir/OUTDIR
           |  jsonl:
           |    dir: $dir/JSONLDIR
           |    tokens-per-shard: 1000000
           |""".stripMargin
      // args(5) = repetitions. The bounded-MODEL stages (lm-filter, dsir)
      // showed ±2–3× wall variance run-to-run at fixed size (GC/AQE draw),
      // which makes a single-shot scale curve unfalsifiable — reps>1
      // reports per-stage median/min/max so a real regression separates
      // from the draw.
      val reps = math.max(1, if (args.length > 5) args(5).toInt else 1)
      def r3(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      val runs = (0 until reps).map { rep =>
        java.nio.file.Files.write(
          dir.resolve(s"job-$rep.yaml"),
          cfg.replace("OUTDIR", s"out-$rep").replace("JSONLDIR", s"jsonl-$rep")
            .getBytes("UTF-8"))
        val t0    = System.nanoTime()
        val sheet = CorpusJob.run(spark, s"$dir/job-$rep.yaml")
        (sheet, (System.nanoTime() - t0) / 1e9)
      }
      val (sheet, sec) = runs.head
      val stageWalls =
        if (reps <= 1) ""
        else {
          val per = sheet.steps.indices.map { i =>
            val secs = runs.map(_._1.steps(i).sec).sorted
            s""""${sheet.steps(i).op}":{"median":${r3(secs(secs.length / 2))},""" +
              s""""min":${r3(secs.head)},"max":${r3(secs.last)}}"""
          }
          s""","reps":$reps,"walls_sec":[${runs.map(r => r3(r._2)).mkString(",")}],""" +
            s""""stage_walls":{${per.mkString(",")}}"""
        }
      println(
        s"""{"probe":"corpus_job","docs":$n,"wall_sec":${r3(sec)},""" +
          s""""datasheet":${sheet.json}$stageWalls}""")
      spark.stop()
      return
    }
    if (variant == "prodloop") {
      // the COMPOSED production loop (the reference's 15-min-cadence deploy
      // mode, `tools/deploy/README.md` queue consumer) end-to-end in ONE
      // probe — every seam bit-checked:
      //   N granule-day HDF5 files → filequeue messages → ingestQueue
      //   (streaming: decode → pipeline → idempotent store append →
      //   per-batch incremental climatology state) → zOrder+bloom compact
      //   of all written days → read-back + meansFromState.
      // args(5) = nDays (one granule file per day, one message per day).
      val nDays = if (args.length > 5) args(5).toInt else 5
      val base  = java.nio.file.Files.createTempDirectory("prodloop")
      val queue = base.resolve("queue"); java.nio.file.Files.createDirectories(queue)
      val store = base.resolve("store").toString
      val state = base.resolve("state").toString
      val day0  = java.time.LocalDate.parse("2023-06-15")
      // setup (untimed): real chunked+deflate L2 Lite granule files
      val days = (0 until nDays).map(di => day0.plusDays(di.toLong).toString)
      days.zipWithIndex.foreach { case (d, di) =>
        val g = base.resolve(s"oco3_LtCO2_${d.replace("-", "")}_B10400Br.nc4")
        java.nio.file.Files.write(
          g, graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
            h5Soundings(n, nTgt, d), chunkRows = 16384, deflateLevel = 4))
        java.nio.file.Files.write(
          queue.resolve(f"msg-$di%03d"), g.toString.getBytes("UTF-8"))
      }
      // order-independent content signature over every column: the seam
      // check that store rewrites (append replay, compact) are pure layout
      def sig(): (Long, BigDecimal) = {
        val df = graft.sinks.ProductStore.read(spark, store)
        val h  = df.select(xxhash64(df.columns.sorted.map(col): _*).as("h"))
        // decimal sum: 2^63-scale hashes overflow a long sum under ANSI
        val r = h.agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
          .collect()(0)
        (r.getLong(0), BigDecimal(r.getDecimal(1)))
      }
      val keys = Seq("target_id", "variable")
      // stage 1: streaming ingest, one granule-day per micro-batch, with
      // per-batch climatology state refresh
      val (_, ingestSec) = timed {
        graft.streaming.MicroBatchIngest.ingestQueue(
          spark, queue.toString, base.resolve("ckpt").toString, store, catalog,
          Pipeline.Config(gridN = gridN, method = method),
          maxMessagesPerBatch = 1, climatologyState = Some(state))
          .awaitTermination()
      }
      val sigAfterIngest = sig()
      // seam A: re-delivery converges (at-least-once → exactly-once effect);
      // replay the FIRST day under a fresh checkpoint, store + state both
      val (_, replaySec) = timed {
        java.nio.file.Files.write(
          queue.resolve("msg-replay"),
          base.resolve(s"oco3_LtCO2_${days.head.replace("-", "")}_B10400Br.nc4")
            .toString.getBytes("UTF-8"))
        graft.streaming.MicroBatchIngest.ingestQueue(
          spark, queue.toString, base.resolve("ckpt2").toString, store, catalog,
          Pipeline.Config(gridN = gridN, method = method),
          maxMessagesPerBatch = 1, climatologyState = Some(state))
          .awaitTermination()
      }
      val replayConverges = sig() == sigAfterIngest
      // stage 2: maintenance compaction of every written day — z-ordered,
      // bloom on target_id (the RepairJob --compact --zorder path)
      val ((filesBefore, filesAfter), compactSec) = timed {
        graft.sinks.ProductStore.compact(
          spark, store, days, targetRows = 4L * 1000 * 1000,
          zOrder = true, bloomFilterCols = Seq("target_id"))
      }
      val compactPure = sig() == sigAfterIngest
      val dupsAfter   = graft.sinks.ProductStore.findDuplicates(spark, store).count()
      // stage 3: span means from the incremental state (the nightly read
      // path) vs a full-store recompute — bit-equal, and the fold must not
      // rescan the store
      val product = graft.sinks.ProductStore.read(spark, store)
      val (inc, foldSec) = timed {
        val m = graft.operators.Climatology.meansFromState(spark, state, "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val (full, rescanSec) = timed {
        val m = graft.operators.Climatology
          .temporalMean(product, "time", "value", "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val climoEqual = inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty
      // stage 4: analytic read-back off the compacted store — a spatial box
      // (the climatology tool's lat/lon subset) and its file-touch count
      // through the z-ordered layout
      val ((boxRows, boxFiles), boxSec) = timed {
        val box = product.filter(col("lon_idx").between(0, 63))
        (box.count(), box.select(input_file_name()).distinct().count())
      }
      def r(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(
        s"""{"probe":"prod_loop","soundings_per_day":$n,"days":$nDays,"gridN":$gridN,""" +
          s""""method":"$method","ingest_sec":${r(ingestSec)},"replay_sec":${r(replaySec)},""" +
          s""""replay_converges":$replayConverges,"compact_sec":${r(compactSec)},""" +
          s""""files_before":$filesBefore,"files_after":$filesAfter,""" +
          s""""compact_content_equal":$compactPure,"duplicates_after":$dupsAfter,""" +
          s""""state_fold_sec":${r(foldSec)},"full_rescan_sec":${r(rescanSec)},""" +
          s""""climo_bit_equal":$climoEqual,"box_rows":$boxRows,"box_files":$boxFiles,""" +
          s""""box_sec":${r(boxSec)},"store_rows":${sigAfterIngest._1}}""")
      spark.stop()
      return
    }
    if (variant == "prodloopglobal") {
      // the COMPOSED production loop AT THE GLOBAL MESH — the same seams as
      // `prodloop` but through the GLOBAL pipeline onto the parametric mesh
      // (gridN=360 ⇒ the production 36000×18000), where the r15 loop only
      // ran target-mode at gridN 64:
      //   N granule-day HDF5 files → filequeue messages → ingestQueue with
      //   the GlobalPipeline product builder (decode → sessionize →
      //   tile/interp/mask onto the mesh → toStoreVariables → idempotent
      //   store append → per-batch climatology state keyed by variable) →
      //   zOrder compact of all days → meansFromState vs full rescan →
      //   a 2°-longitude box read that CAN skip files (the data band spans
      //   ~100° of longitude, so a z-ordered day holds many disjoint
      //   lon rectangles — box_files < store_files is the observable seam
      //   the r15 run couldn't show at gridN 64).
      // args(5) = nDays.
      val nDays = if (args.length > 5) args(5).toInt else 3
      val mesh  = graft.operators.Grid.GridSpec(
        -180.0, 180.0, 100 * gridN, -90.0, 90.0, 50 * gridN)
      val base  = java.nio.file.Files.createTempDirectory("prodloopg")
      val queue = base.resolve("queue"); java.nio.file.Files.createDirectories(queue)
      val store = base.resolve("store").toString
      val state = base.resolve("state").toString
      val day0  = java.time.LocalDate.parse("2023-06-15")
      val days = (0 until nDays).map(di => day0.plusDays(di.toLong).toString)
      days.zipWithIndex.foreach { case (d, di) =>
        val g = base.resolve(s"oco3_LtCO2_${d.replace("-", "")}_B10400Br.nc4")
        java.nio.file.Files.write(
          g, graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
            h5Soundings(n, nTgt, d), chunkRows = 16384, deflateLevel = 4))
        java.nio.file.Files.write(
          queue.resolve(f"msg-$di%03d"), g.toString.getBytes("UTF-8"))
      }
      def sig(): (Long, BigDecimal) = {
        val df = graft.sinks.ProductStore.read(spark, store)
        val h  = df.select(xxhash64(df.columns.sorted.map(col): _*).as("h"))
        val r = h.agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
          .collect()(0)
        (r.getLong(0), BigDecimal(r.getDecimal(1)))
      }
      val keys = Seq("variable") // the global store's long form has no target
      val globalProduct = Some(
        (s: org.apache.spark.sql.SparkSession, paths: Seq[String]) =>
          graft.domain.GlobalPipeline.toStoreVariables(
            "oco3",
            graft.domain.GlobalPipeline.process(
              graft.sources.netcdf.NetCDFGranules.readGranules(s, paths).drop("sounding_id"),
              mesh, Pipeline.Config(method = method))))
      def drain(ckpt: String): Unit =
        graft.streaming.MicroBatchIngest.ingestQueue(
          spark, queue.toString, base.resolve(ckpt).toString, store, catalog,
          Pipeline.Config(method = method), maxMessagesPerBatch = 1,
          climatologyState = Some(state), stateKeys = keys,
          product = globalProduct).awaitTermination()
      // stage 1: streaming ingest, one granule-day per micro-batch
      val (_, ingestSec) = timed(drain("ckpt"))
      val sigAfterIngest = sig()
      // seam A: re-delivery converges (store + state, fresh checkpoint)
      val (_, replaySec) = timed {
        java.nio.file.Files.write(
          queue.resolve("msg-replay"),
          base.resolve(s"oco3_LtCO2_${days.head.replace("-", "")}_B10400Br.nc4")
            .toString.getBytes("UTF-8"))
        drain("ckpt2")
      }
      val replayConverges = sig() == sigAfterIngest
      // stage 2: z-ordered maintenance compaction (layout: day, variable,
      // morton), target ~12 files/day so the box seam has files to skip
      val dayRows = sigAfterIngest._1 / math.max(1, nDays)
      val ((filesBefore, filesAfter), compactSec) = timed {
        graft.sinks.ProductStore.compact(
          spark, store, days, targetRows = math.max(100L * 1000, dayRows / 12),
          zOrder = true)
      }
      val compactPure = sig() == sigAfterIngest
      val dupsAfter   = graft.sinks.ProductStore.findDuplicates(spark, store).count()
      // stage 3: span means from the incremental state vs full rescan
      val product = graft.sinks.ProductStore.read(spark, store)
      val (inc, foldSec) = timed {
        val m = graft.operators.Climatology.meansFromState(spark, state, "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val (full, rescanSec) = timed {
        val m = graft.operators.Climatology
          .temporalMean(product, "time", "value", "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val climoEqual = inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty
      // stage 4: the z-order seam AT SCALE — a 2°-longitude box over the
      // data band; count files the pruned scan actually touches vs total
      val boxLo = ((-120.0 + 180.0) / 360.0 * (100 * gridN - 1)).toInt
      val boxHi = boxLo + (100 * gridN) / 180 * 2 // ≈ 2° of longitude
      val ((boxRows, boxFiles), boxSec) = timed {
        val box = product.filter(col("lon_idx").between(boxLo, boxHi))
        (box.count(), box.select(input_file_name()).distinct().count())
      }
      def r(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(
        s"""{"probe":"prod_loop_global","soundings_per_day":$n,"days":$nDays,""" +
          s""""mesh":"${100 * gridN}x${50 * gridN}","method":"$method",""" +
          s""""ingest_sec":${r(ingestSec)},"replay_sec":${r(replaySec)},""" +
          s""""replay_converges":$replayConverges,"compact_sec":${r(compactSec)},""" +
          s""""files_before":$filesBefore,"files_after":$filesAfter,""" +
          s""""compact_content_equal":$compactPure,"duplicates_after":$dupsAfter,""" +
          s""""state_fold_sec":${r(foldSec)},"full_rescan_sec":${r(rescanSec)},""" +
          s""""climo_bit_equal":$climoEqual,"box_lon_idx":[$boxLo,$boxHi],""" +
          s""""box_rows":$boxRows,"box_files":$boxFiles,"store_files":$filesAfter,""" +
          s""""box_skips_files":${boxRows > 0 && boxFiles < filesAfter},""" +
          s""""box_sec":${r(boxSec)},"store_rows":${sigAfterIngest._1}}""")
      spark.stop()
      return
    }
    if (variant == "prodloop3") {
      // the 3-MISSION day through the STREAMING loop at the global mesh —
      // runjob3 proved the batch front door; this drives the same
      // mission-dispatched product through ingestQueue: each queue message
      // names one day's THREE granules (oco3 targeted, oco2 mode-only,
      // oco3_sif via /Sequences), the product builder dispatches per
      // mission by the reference's file-naming and SEQUENCES the mission
      // builds (eager localCheckpoint per mission — the memory shape that
      // fits the single-mission envelope), unions mission-prefixed store
      // variables, and the loop appends to ONE idempotent store with
      // per-batch climatology state keyed by variable. Seams: per-day
      // walls, replay convergence, compact content-equality, fold vs
      // rescan bit-equality, z-order box skip, per-mission pixel presence.
      // args(5) = nDays.
      val nDays = if (args.length > 5) args(5).toInt else 3
      val mesh  = graft.operators.Grid.GridSpec(
        -180.0, 180.0, 100 * gridN, -90.0, 90.0, 50 * gridN)
      val base  = java.nio.file.Files.createTempDirectory("prodloop3")
      val queue = base.resolve("queue"); java.nio.file.Files.createDirectories(queue)
      val store = base.resolve("store").toString
      val state = base.resolve("state").toString
      val day0  = java.time.LocalDate.parse("2023-06-15")
      val days  = (0 until nDays).map(di => day0.plusDays(di.toLong).toString)
      days.zipWithIndex.foreach { case (d, di) =>
        writeThreeMissionDay(base, queue, d, f"msg-$di%03d", n, nTgt)
      }
      val cfg = Pipeline.Config(method = method)
      def threeMissionProduct(
          s: org.apache.spark.sql.SparkSession, paths: Seq[String]): org.apache.spark.sql.DataFrame =
        threeMissionGlobalProduct(s, paths, mesh, cfg)
      def sig(): (Long, BigDecimal) = {
        val df = graft.sinks.ProductStore.read(spark, store)
        val h  = df.select(xxhash64(df.columns.sorted.map(col): _*).as("h"))
        val r = h.agg(count(lit(1)).as("n"), sum(col("h").cast("decimal(38,0)")).as("s"))
          .collect()(0)
        (r.getLong(0), BigDecimal(r.getDecimal(1)))
      }
      val keys = Seq("variable")
      def drain(ckpt: String): org.apache.spark.sql.streaming.StreamingQuery = {
        val q = graft.streaming.MicroBatchIngest.ingestQueue(
          spark, queue.toString, base.resolve(ckpt).toString, store, catalog,
          cfg, maxMessagesPerBatch = 1,
          climatologyState = Some(state), stateKeys = keys,
          product = Some(threeMissionProduct))
        q.awaitTermination(); q
      }
      val (q1, ingestSec) = timed(drain("ckpt"))
      val perBatch = q1.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(p => BigDecimal(p.batchDuration / 1000.0).setScale(2, BigDecimal.RoundingMode.HALF_UP))
      val sigAfterIngest = sig()
      val (_, replaySec) = timed {
        java.nio.file.Files.write(
          queue.resolve("msg-replay"),
          java.nio.file.Files.readAllBytes(queue.resolve(".acked").resolve("msg-000")))
        drain("ckpt2")
      }
      val replayConverges = sig() == sigAfterIngest
      val dayRows = sigAfterIngest._1 / math.max(1, nDays)
      val ((filesBefore, filesAfter), compactSec) = timed {
        graft.sinks.ProductStore.compact(
          spark, store, days, targetRows = math.max(100L * 1000, dayRows / 12),
          zOrder = true)
      }
      val compactPure = sig() == sigAfterIngest
      val dupsAfter   = graft.sinks.ProductStore.findDuplicates(spark, store).count()
      val product = graft.sinks.ProductStore.read(spark, store)
      val (inc, foldSec) = timed {
        val m = graft.operators.Climatology.meansFromState(spark, state, "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val (full, rescanSec) = timed {
        val m = graft.operators.Climatology
          .temporalMean(product, "time", "value", "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val climoEqual = inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty
      val boxLo = ((-120.0 + 180.0) / 360.0 * (100 * gridN - 1)).toInt
      val boxHi = boxLo + (100 * gridN) / 180 * 2
      val ((boxRows, boxFiles), boxSec) = timed {
        val box = product.filter(col("lon_idx").between(boxLo, boxHi))
        (box.count(), box.select(input_file_name()).distinct().count())
      }
      // per-mission presence: each science variable carries real pixels
      val sciCounts = Seq("OCO3_global_xco2", "OCO2_global_xco2", "OCO3_SIF_global_daily_sif")
        .map(v => v -> product.filter(col("variable") === v).count())
      def r(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(
        s"""{"probe":"prod_loop_3mission","soundings_per_day":{"oco3":$n,"oco2":$n,"sif":${n / 2}},""" +
          s""""days":$nDays,"mesh":"${100 * gridN}x${50 * gridN}","method":"$method",""" +
          s""""ingest_sec":${r(ingestSec)},"per_day_sec":[${perBatch.mkString(",")}],""" +
          s""""replay_sec":${r(replaySec)},"replay_converges":$replayConverges,""" +
          s""""compact_sec":${r(compactSec)},"files_before":$filesBefore,"files_after":$filesAfter,""" +
          s""""compact_content_equal":$compactPure,"duplicates_after":$dupsAfter,""" +
          s""""state_fold_sec":${r(foldSec)},"full_rescan_sec":${r(rescanSec)},""" +
          s""""climo_bit_equal":$climoEqual,"box_rows":$boxRows,"box_files":$boxFiles,""" +
          s""""box_skips_files":${boxRows > 0 && boxFiles < filesAfter},"box_sec":${r(boxSec)},""" +
          s""""store_rows":${sigAfterIngest._1},""" +
          s""""pixels":{${sciCounts.map { case (v, c) => s""""$v":$c""" }.mkString(",")}}}""")
      spark.stop()
      return
    }
    if (variant == "soakglobal") {
      // LONG-HORIZON streaming soak (the remaining 100-TB operational
      // unknown: everything above runs ≤10 days): args(5) days (default
      // 30) through the composed global-mesh loop in decade chunks —
      // enqueue 10 days, drain on the SAME checkpoint, compact the new
      // days, snapshot the off-path costs that must stay bounded:
      // checkpoint dir bytes, climatology state rows/files, store file
      // count. Flat per-day wall + non-monotone off-path growth (beyond
      // the store itself) is the pass criterion; final fold-vs-rescan
      // bit-equality and a box read close the loop.
      val nDays = if (args.length > 5) args(5).toInt else 30
      val chunk = 10
      val mesh  = graft.operators.Grid.GridSpec(
        -180.0, 180.0, 100 * gridN, -90.0, 90.0, 50 * gridN)
      val base  = java.nio.file.Files.createTempDirectory("soakg")
      val queue = base.resolve("queue"); java.nio.file.Files.createDirectories(queue)
      val store = base.resolve("store").toString
      val state = base.resolve("state").toString
      val ckpt  = base.resolve("ckpt").toString
      val day0  = java.time.LocalDate.parse("2023-06-15")
      val cfg   = Pipeline.Config(method = method)
      val keys  = Seq("variable")
      val globalProduct = Some(
        (s: org.apache.spark.sql.SparkSession, paths: Seq[String]) =>
          graft.domain.GlobalPipeline.toStoreVariables(
            "oco3",
            graft.domain.GlobalPipeline.process(
              graft.sources.netcdf.NetCDFGranules.readGranules(s, paths).drop("sounding_id"),
              mesh, cfg)))
      val decades = (0 until nDays).grouped(chunk).toSeq
      val rowsOut = scala.collection.mutable.ArrayBuffer.empty[String]
      decades.zipWithIndex.foreach { case (dayIdxs, di) =>
        val days = dayIdxs.map(i => day0.plusDays(i.toLong).toString)
        days.zipWithIndex.foreach { case (d, j) =>
          val g = base.resolve(s"oco3_LtCO2_${d.replace("-", "")}_B10400Br.nc4")
          java.nio.file.Files.write(
            g, graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
              h5Soundings(n, nTgt, d), chunkRows = 16384, deflateLevel = 4))
          java.nio.file.Files.write(
            queue.resolve(f"msg-${dayIdxs.head + j}%03d"), g.toString.getBytes("UTF-8"))
        }
        val (q, drainSec) = timed {
          val q = graft.streaming.MicroBatchIngest.ingestQueue(
            spark, queue.toString, ckpt, store, catalog, cfg,
            maxMessagesPerBatch = 1, climatologyState = Some(state),
            stateKeys = keys, product = globalProduct)
          q.awaitTermination(); q
        }
        val batchWalls = q.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(_.batchDuration / 1000.0)
        val (_, compactSec) = timed {
          graft.sinks.ProductStore.compact(
            spark, store, days, targetRows = 600L * 1000, zOrder = true)
        }
        val stateRows  = spark.read.parquet(state).count()
        val stateFiles = parquetFiles(state)
        def r2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        rowsOut += s"""{"decade":$di,"days":${days.length},"drain_sec":${r2(drainSec)},""" +
          s""""mean_day_sec":${r2(batchWalls.sum / math.max(1, batchWalls.length))},""" +
          s""""max_day_sec":${r2(if (batchWalls.isEmpty) 0 else batchWalls.max)},""" +
          s""""compact_sec":${r2(compactSec)},"ckpt_bytes":${du(java.nio.file.Paths.get(ckpt))},""" +
          s""""state_rows":$stateRows,"state_files":$stateFiles,"store_files":${parquetFiles(store)}}"""
      }
      // close the loop: fold vs rescan bit-equality + a box read
      val product = graft.sinks.ProductStore.read(spark, store)
      val (inc, foldSec) = timed {
        val m = graft.operators.Climatology.meansFromState(spark, state, "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val (full, rescanSec) = timed {
        val m = graft.operators.Climatology
          .temporalMean(product, "time", "value", "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val climoEqual = inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty
      val boxLo = ((-120.0 + 180.0) / 360.0 * (100 * gridN - 1)).toInt
      val boxHi = boxLo + (100 * gridN) / 180 * 2
      val (boxRows, boxSec) = timed {
        product.filter(col("lon_idx").between(boxLo, boxHi)).count()
      }
      def r(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(
        s"""{"probe":"soak_global","soundings_per_day":$n,"days":$nDays,""" +
          s""""mesh":"${100 * gridN}x${50 * gridN}","method":"$method",""" +
          s""""decades":[${rowsOut.mkString(",")}],""" +
          s""""state_fold_sec":${r(foldSec)},"full_rescan_sec":${r(rescanSec)},""" +
          s""""climo_bit_equal":$climoEqual,"box_rows":$boxRows,"box_sec":${r(boxSec)},""" +
          s""""store_rows":${product.count()}}""")
      spark.stop()
      return
    }
    if (variant == "soak3") {
      // THE COMPOSITION the r17 verdict left unprobed: 3 missions × N days
      // (default 30) through the streaming loop on ONE checkpoint — the
      // prodloop3 workload inside the soakglobal decade harness. Run with
      // SPARK_GRAFT_CPUS=16 / SPARK_DRIVER_MEM=16g to pin the reference's
      // envelope (BASELINE.md: 16 vCPU / 120 GiB; we bound the DRIVER at
      // 16 GiB). Pass criteria: per-day walls flat across decades,
      // checkpoint growth = offset log only, state rows linear-in-days,
      // fold-vs-rescan bit-equal, every mission's pixels present.
      // args(5) = nDays. args(6) (optional) = persistent base dir and
      // args(7) = start day index — running the soak in several
      // invocations over the same base dir resumes the SAME checkpoint,
      // store, and state (each chunk boundary is then also a full
      // JVM-restart seam, a stronger recovery test than one long run).
      val nDays = if (args.length > 5) args(5).toInt else 30
      val chunk = 10
      val mesh  = graft.operators.Grid.GridSpec(
        -180.0, 180.0, 100 * gridN, -90.0, 90.0, 50 * gridN)
      val base  =
        if (args.length > 6) {
          val p = java.nio.file.Paths.get(args(6)); java.nio.file.Files.createDirectories(p); p
        } else java.nio.file.Files.createTempDirectory("soak3")
      val startDay = if (args.length > 7) args(7).toInt else 0
      val queue = base.resolve("queue"); java.nio.file.Files.createDirectories(queue)
      val store = base.resolve("store").toString
      val state = base.resolve("state").toString
      val ckpt  = base.resolve("ckpt").toString
      val day0  = java.time.LocalDate.parse("2023-06-15")
      val cfg   = Pipeline.Config(method = method)
      val keys  = Seq("variable")
      val product3 = Some(
        (s: org.apache.spark.sql.SparkSession, paths: Seq[String]) =>
          threeMissionGlobalProduct(s, paths, mesh, cfg))
      // r20 retention/compaction knobs (default off — the r19 curves stay
      // reproducible): SPARK_GRAFT_SOAK_PRUNE=<days> wires pruneAckedDays
      // into the loop itself; SPARK_GRAFT_SOAK_COMPACT_KEEP=<n> settles
      // all but the newest n state days into the _base segment per chunk
      val pruneDays   = sys.env.get("SPARK_GRAFT_SOAK_PRUNE").map(_.toInt)
      val compactKeep = sys.env.get("SPARK_GRAFT_SOAK_COMPACT_KEEP").map(_.toInt)
      val decades = (startDay until startDay + nDays).grouped(chunk).toSeq
      val rowsOut = scala.collection.mutable.ArrayBuffer.empty[String]
      decades.foreach { dayIdxs =>
        val di   = dayIdxs.head / chunk
        val days = dayIdxs.map(i => day0.plusDays(i.toLong).toString)
        days.zipWithIndex.foreach { case (d, j) =>
          writeThreeMissionDay(base, queue, d, f"msg-${dayIdxs.head + j}%03d", n, nTgt)
        }
        val (q, drainSec) = timed {
          val q = graft.streaming.MicroBatchIngest.ingestQueue(
            spark, queue.toString, ckpt, store, catalog, cfg,
            maxMessagesPerBatch = 1, climatologyState = Some(state),
            stateKeys = keys, product = product3,
            pruneAckedDays = pruneDays, pruneEveryBatches = 1)
          q.awaitTermination(); q
        }
        val batchWalls = q.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(_.batchDuration / 1000.0)
        val (_, compactSec) = timed {
          graft.sinks.ProductStore.compact(
            spark, store, days, targetRows = 600L * 1000, zOrder = true)
        }
        val stateCompacted = compactKeep.map(k =>
          graft.operators.Climatology.compactState(spark, state, k))
        val stateRows = graft.operators.Climatology.readState(spark, state).count()
        // the two aux listings that only bend late in a long soak
        // (VERDICT r18 #7): the acked-dir walk the watermark makes O(delta)
        // and the bounded-redelivery counter dir (must stay empty — every
        // healthy batch retires its counters)
        val hfs = new org.apache.hadoop.fs.Path(queue.toString)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val al0 = System.nanoTime()
        val ackedFiles = hfs.listStatus(
          new org.apache.hadoop.fs.Path(queue.toString, ".acked")).length
        val ackedListMs = (System.nanoTime() - al0) / 1e6
        val delivDir = new org.apache.hadoop.fs.Path(ckpt, "filequeue-deliveries")
        val delivCounters =
          if (hfs.exists(delivDir)) hfs.listStatus(delivDir).length else 0
        def r2(x: Double) = BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        rowsOut += s"""{"decade":$di,"days":${days.length},"drain_sec":${r2(drainSec)},""" +
          s""""mean_day_sec":${r2(batchWalls.sum / math.max(1, batchWalls.length))},""" +
          s""""max_day_sec":${r2(if (batchWalls.isEmpty) 0 else batchWalls.max)},""" +
          s""""compact_sec":${r2(compactSec)},"ckpt_bytes":${du(java.nio.file.Paths.get(ckpt))},""" +
          s""""state_rows":$stateRows,"state_files":${parquetFiles(state)},""" +
          stateCompacted.fold("")(c => s""""state_compacted_days":${c._1},"state_hot_days":${c._2},""") +
          s""""store_files":${parquetFiles(store)},""" +
          s""""acked_files":$ackedFiles,"acked_list_ms":${r2(ackedListMs)},""" +
          s""""delivery_counters":$delivCounters}"""
      }
      // close the loop: fold vs rescan bit-equality, per-mission presence,
      // a z-order box read over the full span
      val product = graft.sinks.ProductStore.read(spark, store)
      val (inc, foldSec) = timed {
        val m = graft.operators.Climatology.meansFromState(spark, state, "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val (full, rescanSec) = timed {
        val m = graft.operators.Climatology
          .temporalMean(product, "time", "value", "month", keys)
          .localCheckpoint(true)
        m.count(); m
      }
      val climoEqual = inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty
      val boxLo = ((-120.0 + 180.0) / 360.0 * (100 * gridN - 1)).toInt
      val boxHi = boxLo + (100 * gridN) / 180 * 2
      val ((boxRows, boxFiles), boxSec) = timed {
        val box = product.filter(col("lon_idx").between(boxLo, boxHi))
        (box.count(), box.select(input_file_name()).distinct().count())
      }
      val sciCounts = Seq("OCO3_global_xco2", "OCO2_global_xco2", "OCO3_SIF_global_daily_sif")
        .map(v => v -> product.filter(col("variable") === v).count())
      val maxMem = Runtime.getRuntime.maxMemory() / (1024 * 1024)
      def r(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(
        s"""{"probe":"soak_3mission","soundings_per_day":{"oco3":$n,"oco2":$n,"sif":${n / 2}},""" +
          s""""days":$nDays,"mesh":"${100 * gridN}x${50 * gridN}","method":"$method",""" +
          s""""cpus":"${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}","driver_heap_mb":$maxMem,""" +
          s""""decades":[${rowsOut.mkString(",")}],""" +
          s""""state_fold_sec":${r(foldSec)},"full_rescan_sec":${r(rescanSec)},""" +
          s""""climo_bit_equal":$climoEqual,"box_rows":$boxRows,"box_files":$boxFiles,""" +
          s""""box_sec":${r(boxSec)},"store_rows":${product.count()},""" +
          s""""pixels":{${sciCounts.map { case (v, c) => s""""$v":$c""" }.mkString(",")}}}""")
      spark.stop()
      return
    }
    if (variant == "runjob") {
      // full FRONT-DOOR probe: one synthetic L2 Lite granule file driven
      // through RunJob's YAML config — global Zarr store at the parametric
      // mesh (gridN=360 ⇒ the production 36000×18000) PLUS the COG mosaic
      // and netCDF-4 exports. Exercises the job's one-pipeline-execution
      // contract: the product persists across its 4 actions (store write,
      // row count, COG, nc4) instead of re-running granule→sessionize→
      // interp→mask per consumer.
      val dir = java.nio.file.Files.createTempDirectory("runjobprobe")
      val g   = dir.resolve("oco3_LtCO2_20230615_B10400Br.nc4")
      java.nio.file.Files.write(
        g,
        graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
          h5Soundings(n, nTgt), chunkRows = 16384, deflateLevel = 4))
      val cfgP = dir.resolve("run-config.yaml")
      java.nio.file.Files.write(
        cfgP,
        s"""input:
           |  files:
           |    oco3: [${g.toString}]
           |output:
           |  local: ${dir.resolve("store")}
           |  format: zarr
           |  global: true
           |  cog:
           |    output:
           |      local: ${dir.resolve("cog")}
           |  nc4:
           |    output:
           |      local: ${dir.resolve("nc")}
           |grid:
           |  latitude: ${50 * gridN}
           |  longitude: ${100 * gridN}
           |  method: $method
           |""".stripMargin.getBytes("UTF-8"))
      val t0 = System.nanoTime()
      graft.tools.RunJob.main(Array(cfgP.toString))
      val sec = BigDecimal((System.nanoTime() - t0) / 1e9)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(
        s"""{"probe":"runjob_front_door","soundings":$n,"mesh":"${100 * gridN}x${50 * gridN}","method":"$method","wall_sec":$sec}""")
      spark.stop()
      return
    }
    if (variant == "streamrestart") {
      // kill/restart stateful-streaming probe: n events over n/100 users
      // sessionize via flatMapGroupsWithState on the RocksDB state store;
      // the query is HARD-STOPPED mid-stream after a few committed batches
      // (offsets for in-flight work uncommitted → replayed), restarted
      // from the checkpoint, and drained. Exactly-once effect = per-batchId
      // overwrite sink; the final closed-session set must equal a batch
      // gaps-and-islands recompute over the same events (minus each user's
      // final, still-open session). Walls: pre-kill throughput, restart
      // recovery (state reload + first batch), post-restart drain.
      import org.apache.spark.sql.streaming.Trigger
      val dir   = java.nio.file.Files.createTempDirectory("streamrestart")
      val inDir = dir.resolve("in"); java.nio.file.Files.createDirectories(inDir)
      val k = math.max(100L, n / 100L) // users (state cells)
      val r = n / k                    // events per user
      val gapSec = 60L
      // event j of user u: 4-event sessions 30 s apart, 2 h between
      // sessions; all users share the timeline so file slices are
      // time-ordered and sessions SPAN slice boundaries (state must
      // carry across batches and across the kill)
      val events = spark.range(n)
        .select(
          pmod(col("id"), lit(k)).as("user_id"),
          (col("id") / k).cast("long").as("_j"))
        .select(
          col("user_id"),
          (lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).cast("long") +
            (col("_j") / 4).cast("long") * 7200L + pmod(col("_j"), lit(4)) * 30L)
            .cast("timestamp").as("ts"),
          (col("user_id") * 1000 + col("_j")).cast("double").as("value"),
          col("_j"))
      // 32 time-slice files written in order (mod time + path both ascend)
      val nSlices = 32
      (0 until nSlices).foreach { s =>
        val lo = s.toLong * r / nSlices; val hi = (s + 1).toLong * r / nSlices
        events.filter(col("_j") >= lo && col("_j") < hi).drop("_j")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/tmp-$s")
        val part = new java.io.File(s"$dir/tmp-$s").listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.move(
          part.toPath, inDir.resolve(f"slice-$s%02d.parquet"))
      }
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val out  = s"$dir/out"
      val ckpt = s"$dir/ckpt"
      import spark.implicits._
      def startQuery() = {
        val stream = spark.readStream
          .schema(events.drop("_j").schema)
          .option("maxFilesPerTrigger", 2)
          .parquet(inDir.toString)
          .as[graft.streaming.StatefulSessions.Event]
        graft.streaming.StatefulSessions.sessionize(
          stream, gapSec,
          timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.Dataset[graft.streaming.StatefulSessions.ClosedSession], id: Long) =>
            // idempotent per-batch sink: a replayed batch overwrites itself
            b.write.mode("overwrite").parquet(s"$out/batch=$id")
          }
          .start()
      }
      // phase 1: run until ≥3 batches commit, then HARD STOP mid-stream
      val t0 = System.nanoTime()
      val q1 = startQuery()
      while (q1.isActive && q1.recentProgress.length < 3) Thread.sleep(100)
      val batchesBeforeKill = q1.recentProgress.length
      // a fast machine / small n can drain every batch before the poll
      // loop sees 3 progress entries — then no mid-stream kill happened
      // and the restart scenario is vacuous; record it so the JSON can't
      // overstate what ran
      val activeAtStop = q1.isActive
      q1.stop() // interrupts the stream thread; in-flight batch abandoned
      val killSec = (System.nanoTime() - t0) / 1e9
      // phase 2: restart from the checkpoint, drain everything
      val t1 = System.nanoTime()
      val q2 = startQuery()
      q2.awaitTermination()
      val drainSec = (System.nanoTime() - t1) / 1e9
      val rocksOk = Option(q2.lastProgress).exists(_.stateOperators.exists(
        _.customMetrics.keySet.toString.contains("rocksdb")))
      val totalBatches = batchesBeforeKill + q2.recentProgress.length
      // correctness: closed sessions == batch gaps-and-islands recompute
      // (exact Row equality), excluding each user's final open session
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      val batchSessions = events.drop("_j")
        .withColumn("_new",
          when(unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w)) > gapSec
            || lag(col("ts"), 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("_sid", sum(col("_new")).over(w))
        .groupBy(col("user_id"), col("_sid"))
        .agg(
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
        .withColumn("_last", max(col("_sid")).over(Window.partitionBy(col("user_id"))))
        .filter(col("_sid") < col("_last")) // open sessions never emit
        .drop("_sid", "_last")
      val got = spark.read.parquet(out)
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
      val equal = got.exceptAll(batchSessions).isEmpty &&
        batchSessions.exceptAll(got).isEmpty
      val nClosed = got.count()
      def rr(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(
        s"""{"probe":"stream_restart","events":$n,"users":$k,"slices":$nSlices,""" +
          s""""batches_before_kill":$batchesBeforeKill,"total_batches":$totalBatches,""" +
          s""""killed_midstream":${activeAtStop && batchesBeforeKill < totalBatches},""" +
          s""""prekill_sec":${rr(killSec)},"restart_drain_sec":${rr(drainSec)},""" +
          s""""rocksdb":$rocksOk,"closed_sessions":$nClosed,"batch_equal":$equal}""")
      spark.stop()
      return
    }
    if (variant == "runjob3") {
      // the reference's FULL deploy-mesh day (J5 at scale): all THREE
      // missions — oco3 (targeted), oco2 (no target ids, mode-only), and
      // oco3_sif (targets via /Sequences indirection) — as real HDF5
      // granule files through RunJob's mission-keyed YAML into ONE shared
      // global Zarr store with per-mission variable prefixes and G5
      // empty-variable synthesis. n = oco3 soundings; oco2 gets n,
      // sif n/2 (SIF products are smaller).
      val dir = java.nio.file.Files.createTempDirectory("runjob3")
      val oco3 = dir.resolve("oco3_LtCO2_20230615_B10400Br.nc4")
      java.nio.file.Files.write(oco3,
        graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
          h5Soundings(n, nTgt), chunkRows = 16384, deflateLevel = 4))
      // OCO-2: no target ids; the mode ALTERNATION stays — the reference's
      // R3 mode-only run splitting is what bounds region size (forcing a
      // constant mode makes the whole granule ONE global-band region whose
      // covered-pixel explode is a few-hundred-MB single task: measured,
      // this OOMs — degenerate input, not a pipeline path)
      val oco2 = dir.resolve("oco2_LtCO2_20230615_B11100Ar.nc4")
      java.nio.file.Files.write(oco2,
        graft.sources.netcdf.NetCDFGranules.writeGranuleH5(
          h5Soundings(n, nTgt).map(_.copy(target_id = "")),
          chunkRows = 16384, deflateLevel = 4))
      val sif  = dir.resolve("oco3_LtSIF_20230615_B10400Br.nc4")
      val sifEpoch = (java.time.LocalDate.parse("2023-06-15").toEpochDay -
        java.time.LocalDate.parse("1990-01-01").toEpochDay) * 86400.0 + 37800.0
      // SIF mode must ALTERNATE between capture blocks (mode 3) and
      // non-capture gaps, as real granules do: the GLOBAL pipeline
      // sessionizes mode-only runs (R4), so a constant mode over
      // contiguous indices collapses the whole granule into ONE
      // band-covering region — 38M covered pixels in a single
      // interpolation task at this mesh (measured: the straggler ran
      // 28 min before this fix; the coveredPixels guard now fails it
      // loudly instead)
      val sifRows = (0 until n / 2).map { i =>
        val tgt = (i / 200) % nTgt
        val lon = -170.0 + (tgt % 160) * 2.0 + (i * 7919 % 2000) / 1000.0
        val lat = -40.0 + (tgt / 160) * 4.0 + (i * 104729 % 2000) / 1000.0
        graft.sources.netcdf.NetCDFGranules.SifSounding(
          i.toLong, lat, lon, sifEpoch + i * 0.1,
          Seq(lat - 0.01, lat - 0.01, lat + 0.01, lat + 0.01),
          Seq(lon - 0.01, lon + 0.01, lon + 0.01, lon - 0.01),
          quality_flag = if (i % 10 == 9) 1 else 0,
          daily_sif = 1.0 + (i % 100) / 50.0,
          operation_mode = if (tgt % 2 == 0) 3 else 0, sequences_index = tgt)
      }
      java.nio.file.Files.write(sif,
        graft.sources.netcdf.NetCDFGranules.writeSifGranuleH5(
          sifRows, (0 until nTgt).map(i => f"fossil$i%04d")))
      val store = dir.resolve("store").toString
      val cfgP  = dir.resolve("run-config.yaml")
      java.nio.file.Files.write(cfgP,
        s"""input:
           |  files:
           |    oco3: [${oco3.toString}]
           |    oco2: [${oco2.toString}]
           |    oco3_sif: [${sif.toString}]
           |output:
           |  local: $store
           |  format: zarr
           |  global: true
           |grid:
           |  latitude: ${50 * gridN}
           |  longitude: ${100 * gridN}
           |  method: $method
           |""".stripMargin.getBytes("UTF-8"))
      val t0 = System.nanoTime()
      graft.tools.RunJob.main(Array(cfgP.toString))
      val sec = BigDecimal((System.nanoTime() - t0) / 1e9)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP)
      // the merged store must carry all three missions' science variables
      // with real pixels, plus the G5-synthesized annotation arrays
      val vars = graft.tools.ClimatologyJob.storeVariables(spark, store)
      def px(v: String): Long =
        try graft.sinks.ZarrStore.read(spark, store, v).count() catch { case _: Exception => -1L }
      val sci = Seq("OCO3_global_xco2", "OCO2_global_xco2", "OCO3_SIF_global_daily_sif")
      val pixels = sci.map(v => s""""$v":${px(v)}""").mkString(",")
      println(
        s"""{"probe":"runjob_three_mission","soundings":{"oco3":$n,"oco2":$n,"sif":${n / 2}},""" +
          s""""mesh":"${100 * gridN}x${50 * gridN}","method":"$method","wall_sec":$sec,""" +
          s""""store_variables":${vars.length},"pixels":{$pixels}}""")
      spark.stop()
      return
    }
    if (variant == "h5granule") {
      // front-door probe: encode an n-sounding netCDF-4/HDF5 granule
      // (chunked+deflate, the real L2 Lite storage profile), ingest it
      // through the hdf5 source and run the full target pipeline
      val ss    = h5Soundings(n, nTgt)
      val tw0   = System.nanoTime()
      val bytes = graft.sources.netcdf.NetCDFGranules.writeGranuleH5(ss, chunkRows = 16384, deflateLevel = 4)
      val encS  = (System.nanoTime() - tw0) / 1e9
      val p     = java.nio.file.Files.createTempDirectory("h5probe").resolve("granule.nc4")
      java.nio.file.Files.write(p, bytes)
      val catalog2 = TargetCatalog.toDF(
        spark,
        (0 until nTgt).map { i =>
          val lon = -170.0 + (i % 160) * 2.0
          val lat = -40.0 + (i / 160) * 4.0
          Target(f"fossil$i%04d", s"T$i", lon, lat, lon + 2.0, lat + 2.0)
        })
      val t0 = System.nanoTime()
      // 64k-row splits: one granule file fans out across the executor
      // threads (and across a cluster), chunk-pruned per split
      val granules = graft.sources.netcdf.NetCDFGranules.toGranule(
        graft.sources.netcdf.NetCDFGranules.read(spark, Seq(p.toString), maxRowsPerSplit = 65536))
        .drop("sounding_id")
      val out  = Pipeline.process(granules, catalog2, Pipeline.Config(gridN = gridN))
      val nOut = out.count()
      val sec  = (System.nanoTime() - t0) / 1e9
      println(s"""{"probe":"h5_granule_pipeline","soundings":$n,"file_bytes":${bytes.length},"encode_sec":$encS,"out_rows":$nOut,"sec":$sec}""")
      spark.stop()
      return
    }
    if (variant == "delaunaymicro") {
      // driver-side kernel microbench: the per-TASK cost of one tile of a
      // degenerate band region — triangulate n points, run n*10 queries
      val r2 = new scala.util.Random(7)
      val xs = Array.fill(n)(r2.nextDouble() * 300)
      val ys = Array.fill(n)(r2.nextDouble() * 10)
      val vs = Array.tabulate(n)(i => 3.0 * xs(i) - 2.0 * ys(i) + 7)
      val t0 = System.nanoTime()
      val tri = graft.functions.Delaunay.triangulate(xs, ys).get
      val triSec = (System.nanoTime() - t0) / 1e9
      val av = tri.alignValues(vs)
      val t1 = System.nanoTime()
      var s = 0.0
      var q = 0
      while (q < n * 10) {
        s += graft.functions.Delaunay.interpolateLinear(
          tri, av, (q % 3000) * 0.0997, (q / 3000) * 0.03)
        q += 1
      }
      val qSec = (System.nanoTime() - t1) / 1e9
      println(
        s"""{"probe":"delaunay_micro","points":$n,"triangles":${tri.triangles.length},""" +
          s""""triangulate_sec":${BigDecimal(triSec).setScale(3, BigDecimal.RoundingMode.HALF_UP)},""" +
          s""""queries":${n * 10},"query_sec":${BigDecimal(qSec).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"checksum":${s.isNaN}}""")
      spark.stop()
      return
    }
    if (variant == "delaunaylattice") {
      // exact-tie adversary at scale (VERDICT r18 #3): a snapped-to-grid
      // day — EVERY coordinate quantized to a power-of-two step so every
      // lattice quad is EXACTLY co-circular in fp (step 1/64 ≈ the 0.01°
      // production mesh; 0.01 itself is not binary-representable and
      // would break the ties this probe exists to hit). Measures the fast
      // path's wall + coverage on the shape most likely to bail, and —
      // via args(5) — the safe path + repair pass at a bounded ladder
      // (textbook O(n²) insertion: the ladder exposes the curve without
      // an unbounded run). Full vertex cover is asserted, not sampled:
      // the r19 coverage guard throws if either path drops a vertex.
      val safeN = if (args.length > 5) args(5).toInt else 0
      val step  = 1.0 / 64
      def lattice(count: Int): (Array[Double], Array[Double], Int) = {
        val side  = math.max(2, math.sqrt(count.toDouble).ceil.toInt)
        val total = side * side
        val xs = new Array[Double](total); val ys = new Array[Double](total)
        var i = 0
        while (i < total) { xs(i) = (i % side) * step; ys(i) = (i / side) * step; i += 1 }
        (xs, ys, side)
      }
      def cover(t: graft.functions.Delaunay.Triangulation): Int = {
        val used = new Array[Boolean](t.px.length)
        t.triangles.foreach { tr => used(tr(0)) = true; used(tr(1)) = true; used(tr(2)) = true }
        used.count(identity)
      }
      def planar(x: Double, y: Double) = 3.0 * x - 2.0 * y + 7.0
      val (xs, ys, side) = lattice(n)
      val t0 = System.nanoTime()
      val tri = graft.functions.Delaunay.triangulate(xs, ys).get
      val triSec = (System.nanoTime() - t0) / 1e9
      val fastCover = cover(tri)
      val av = tri.alignValues(Array.tabulate(xs.length)(i => planar(xs(i), ys(i))))
      // queries at interior cell centers (exact halves — still tied grid)
      val t1 = System.nanoTime()
      var q = 0; var nan = 0; var worst = 0.0
      val qn = math.min(xs.length, 2000000)
      while (q < qn) {
        val qx = (q % (side - 1) + 0.5) * step
        val qy = (q / (side - 1) % (side - 1) + 0.5) * step
        val got = graft.functions.Delaunay.interpolateLinear(tri, av, qx, qy)
        if (got.isNaN) nan += 1
        else worst = math.max(worst, math.abs(got - planar(qx, qy)))
        q += 1
      }
      val qSec = (System.nanoTime() - t1) / 1e9
      val safeJson =
        if (safeN <= 0) """"safe_points":0"""
        else {
          val (sx, sy, _) = lattice(safeN)
          val s0 = System.nanoTime()
          val st = graft.functions.Delaunay.triangulateSafe(sx, sy).get
          val sSec = (System.nanoTime() - s0) / 1e9
          s""""safe_points":${sx.length},"safe_sec":${BigDecimal(sSec).setScale(2, BigDecimal.RoundingMode.HALF_UP)},""" +
            s""""safe_cover":${cover(st)},"safe_slivers":${st.nnVerts.length},""" +
            s""""safe_stats":"${graft.functions.Delaunay.lastSafeStats}""""
        }
      // args(6) = ringN: the REPAIR-heavy shape — every point on one
      // circle, so exact co-circular ties swallow vertices the repair
      // pass must re-attach; measures whether repair itself goes
      // quadratic when `missing` scales with n (the lattice's
      // containment-seeded insert leaves missing=0, so it never
      // exercises repair)
      val ringJson =
        if (args.length <= 6 || args(6).toInt <= 0) """"ring_points":0"""
        else {
          val rn = args(6).toInt
          val rx = Array.tabulate(rn)(i => 5.0 + 3.0 * math.cos(2 * math.Pi * i / rn))
          val ry = Array.tabulate(rn)(i => 5.0 + 3.0 * math.sin(2 * math.Pi * i / rn))
          val r0 = System.nanoTime()
          val rt = graft.functions.Delaunay.triangulateSafe(rx, ry).get
          val rSec = (System.nanoTime() - r0) / 1e9
          s""""ring_points":$rn,"ring_sec":${BigDecimal(rSec).setScale(2, BigDecimal.RoundingMode.HALF_UP)},""" +
            s""""ring_cover":${cover(rt)},"ring_slivers":${rt.nnVerts.length},""" +
            s""""ring_stats":"${graft.functions.Delaunay.lastSafeStats}""""
        }
      println(
        s"""{"probe":"delaunay_lattice","points":${xs.length},"side":$side,""" +
          s""""triangulate_sec":${BigDecimal(triSec).setScale(2, BigDecimal.RoundingMode.HALF_UP)},""" +
          s""""stats":"${graft.functions.Delaunay.lastStats}",""" +
          s""""cover":$fastCover,"dropped":${xs.length - fastCover},""" +
          s""""queries":$qn,"query_sec":${BigDecimal(qSec).setScale(2, BigDecimal.RoundingMode.HALF_UP)},""" +
          s""""query_nan":$nan,"planar_worst":$worst,$safeJson,$ringJson}""")
      spark.stop()
      return
    }
    if (variant == "delaunayband") {
      // driver-side decomposition of ONE band-day tile task: the same
      // clustered point geometry h5Soundings produces (640 2°×2° target
      // blocks along 4 latitude rows), triangulated once, then queried at
      // the 1-km lattice positions the footprint mask keeps. Separates
      // triangulate / grid-build (first query) / steady-state query cost —
      // the numbers the globalband wall is made of.
      val rows = (0 until n).filter(_ % 10 != 9) // the quality filter's 90%
      val xsb = new Array[Double](rows.length)
      val ysb = new Array[Double](rows.length)
      var ri = 0
      rows.foreach { i =>
        val tgt = (i / 200) % nTgt
        xsb(ri) = -170.0 + (tgt % 160) * 2.0 + (i * 7919 % 2000) / 1000.0
        ysb(ri) = -40.0 + (tgt / 160) * 4.0 + (i * 104729 % 2000) / 1000.0
        ri += 1
      }
      val vsb = Array.tabulate(rows.length)(i => 400.0 + (rows(i) % 100) / 10.0)
      val t0 = System.nanoTime()
      val tri = graft.functions.Delaunay.triangulate(xsb, ysb).get
      val triSec = (System.nanoTime() - t0) / 1e9
      println(s"stats: ${graft.functions.Delaunay.lastStats}")
      val av = tri.alignValues(vsb)
      // queries at mesh-cell centers covered by footprints: one per point,
      // ~7 lattice cells each at the 36000x18000 mesh (0.01° steps)
      val t1 = System.nanoTime()
      var s = graft.functions.Delaunay.interpolateLinear(tri, av, xsb(0), ysb(0))
      val buildSec = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      var q = 0
      var inHull = 0
      while (q < rows.length) {
        var c = 0
        while (c < 7) {
          val r = graft.functions.Delaunay.interpolateLinear(
            tri, av, xsb(q) + (c % 3) * 0.01 - 0.01, ysb(q) + (c / 3) * 0.01 - 0.01)
          if (!r.isNaN) { inHull += 1; s += r }
          c += 1
        }
        q += 1
      }
      val qSec = (System.nanoTime() - t2) / 1e9
      println(
        s"""{"probe":"delaunay_band","points":${rows.length},"triangles":${tri.triangles.length},""" +
          s""""triangulate_sec":${BigDecimal(triSec).setScale(3, BigDecimal.RoundingMode.HALF_UP)},""" +
          s""""grid_build_sec":${BigDecimal(buildSec).setScale(3, BigDecimal.RoundingMode.HALF_UP)},""" +
          s""""queries":${rows.length * 7},"in_hull":$inHull,""" +
          s""""query_sec":${BigDecimal(qSec).setScale(3, BigDecimal.RoundingMode.HALF_UP)},"checksum":${s.isNaN}}""")
      spark.stop()
      return
    }
    if (variant == "globalband") {
      // the r15 scale-killer, now expected to COMPLETE: a constant-mode
      // granule (no session-key alternation) collapses to ONE region
      // covering the whole observation band — tens of millions of mesh
      // cells at the deploy grid. r15 guarded it (fail mode); the split
      // path must process it: tiled into ceiling-bounded strips sharing
      // the region's soundings, footprint-driven mask, interp on masked
      // pixels only. Reports the band's covered-cell area, tile count,
      // wall, and the NORMAL (alternating-mode) day's wall on the same
      // soundings for the ≤2× comparison.
      val meshW = 100 * gridN
      val meshH = 50 * gridN
      val mesh  = graft.operators.Grid.GridSpec(-180.0, 180.0, meshW, -90.0, 90.0, meshH)
      val cfg   = Pipeline.Config(gridN = gridN, method = method)
      val degenerate = granule.withColumn("operation_mode", lit(4))
      def wall(g: org.apache.spark.sql.DataFrame): (Long, Double) = {
        val t0 = System.nanoTime()
        val n  = graft.domain.GlobalPipeline.process(g, mesh, cfg).count()
        (n, (System.nanoTime() - t0) / 1e9)
      }
      // band geometry: area + tiles the split produces (bounded agg)
      val sess  = graft.domain.Pipeline.qualityFilter(
        graft.domain.GlobalPipeline.sessionize(degenerate, cfg), cfg)
      val tiles = graft.domain.GlobalPipeline.regionTiles(
        graft.domain.GlobalPipeline.regionExtent(sess)
          .select("region_id", "fminx", "fmaxx", "fminy", "fmaxy"), mesh)
        .select(
          col("region_id"),
          ((col("_xhi") - col("_xlo") + 1).cast("long") *
            (col("_tyhi") - col("_tylo") + 1).cast("long")).as("cells"))
        .groupBy(col("region_id")).agg(count(lit(1)).as("n_tiles"), sum(col("cells")).as("area"))
        .collect()
      val nRegions = tiles.length
      val maxArea  = if (tiles.isEmpty) 0L else tiles.map(_.getAs[Long]("area")).max
      val maxTiles = if (tiles.isEmpty) 0L else tiles.map(_.getAs[Long]("n_tiles")).max
      val (bandRows, bandSec)     = wall(degenerate)
      val (normalRows, normalSec) = wall(granule)
      def r(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      println(
        s"""{"probe":"global_band_day","soundings":$n,"targets":$nTgt,"mesh":"${meshW}x$meshH",""" +
          s""""method":"$method","band_regions":$nRegions,"band_area_cells":$maxArea,""" +
          s""""band_tiles":$maxTiles,"band_rows":$bandRows,"band_sec":${r(bandSec)},""" +
          s""""normal_rows":$normalRows,"normal_sec":${r(normalSec)},""" +
          s""""ratio":${r(if (normalSec > 0) bandSec / normalSec else 0.0)}}""")
      spark.stop()
      return
    }
    if (variant == "globalday") {
      // the reference's headline workload, end to end at the DEPLOY grid:
      // one synthetic granule-day → sessionize (region split) → interp →
      // mask → Zarr store write at mesh 100·gridN × 50·gridN (gridN=360 ⇒
      // 36000×18000, ~1 km) with the production 250×250×5 chunking.
      // Reference envelope for the same day: single Python process,
      // scipy griddata parallelism ≤ 2, write pool ≤ 4 (BASELINE.md).
      val meshW = 100 * gridN
      val meshH = 50 * gridN
      val mesh  = graft.operators.Grid.GridSpec(-180.0, 180.0, meshW, -90.0, 90.0, meshH)
      val store = java.nio.file.Files.createTempDirectory("globalday").resolve("store.zarr")
      val t0   = System.nanoTime()
      val prod = graft.domain.GlobalPipeline.toStoreVariables(
        "oco3",
        graft.domain.GlobalPipeline.process(granule, mesh, Pipeline.Config(gridN = gridN, method = method)))
      graft.sinks.ZarrStore.write(
        prod, store.toString,
        graft.sinks.ZarrStore.GridSpec(
          meshH, meshW,
          -90.0 + 180.0 / meshH / 2, 180.0 / meshH,
          -180.0 + 360.0 / meshW / 2, 360.0 / meshW),
        graft.sinks.ZarrStore.Chunking(t = 5, y = 250, x = 250))
      val sec = (System.nanoTime() - t0) / 1e9
      val chunkFiles = {
        val d = store.toFile
        def count(f: java.io.File): Long =
          if (f.isDirectory) f.listFiles().map(count).sum else 1L
        count(d)
      }
      println(s"""{"probe":"global_day_zarr","soundings":$n,"mesh":"${meshW}x$meshH","method":"$method","store_files":$chunkFiles,"sec":$sec}""")
      spark.stop()
      return
    }
    val t0  = System.nanoTime()
    val out = variant match {
      case "global" =>
        // production-shaped global mesh (18000×36000 at full scale); the
        // sparse design generates only covered index ranges, so mesh size
        // enters through per-region explode width, not materialization
        val mesh = graft.operators.Grid.GridSpec(-180.0, 180.0, 100 * gridN, -90.0, 90.0, 50 * gridN)
        graft.domain.GlobalPipeline.process(granule, mesh, Pipeline.Config(gridN = gridN, method = method))
      case _ =>
        Pipeline.process(granule, catalog, Pipeline.Config(gridN = gridN, method = method))
    }
    val nOut = out.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"probe":"domain_pipeline","variant":"$variant","soundings":$n,"targets":$nTgt,"gridN":$gridN,"method":"$method","out_rows":$nOut,"sec":$sec}""")
    spark.stop()
  }
}
