package graft

import org.apache.spark.sql.functions._
import graft.functions.PointInPolygon
import graft.operators._
import graft.domain.TargetCatalog

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("PointInPolygon: ray casting on a square") {
    val df = Seq(
      (0.5, 0.5, true),   // inside
      (1.5, 0.5, false),  // outside
      (-0.1, -0.1, false) // outside corner
    ).toDF("x", "y", "want")
      .withColumn("xs", array(lit(0.0), lit(1.0), lit(1.0), lit(0.0)))
      .withColumn("ys", array(lit(0.0), lit(0.0), lit(1.0), lit(1.0)))
    val got = df.withColumn("got", PointInPolygon($"x", $"y", $"xs", $"ys"))
      .filter($"got" =!= $"want").count()
    assert(got === 0)
  }

  test("Dedup.keepFirst keeps smallest order value per key") {
    val df  = Seq((1, "a", 10), (1, "a", 5), (2, "b", 7)).toDF("k1", "k2", "ord")
    val got = Dedup.keepFirst(df, Seq("k1", "k2"), "ord").orderBy($"k1")
      .collect().map(r => (r.getInt(0), r.getInt(2)))
    assert(got === Array((1, 5), (2, 7)))
  }

  test("MinHashLSH finds a planted near-duplicate and skips unrelated docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val near = (1 to 40).map(i => if (i == 40) "changed" else s"w$i").mkString(" ")
    val other = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val pairs = MinHashLSH.nearDuplicates(df, "doc_id", "text", minJaccard = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs === Array((1L, 2L)))
  }

  test("MinHash kernel forms are bit-identical to the relational reference forms") {
    // the one-pass codegen kernels replaced the explode/join plans on the
    // hot path; the relational forms remain the in-repo correctness
    // reference and must agree exactly
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox leaps over the lazy dog again and again"),
      (3L, "completely different text with other words entirely here now"),
      (4L, "short doc"),
      (5L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    // signatures: kernel vs shingle-explode + min-aggregate
    val kern = MinHashLSH.signaturesWideKernel(docs, "doc_id", "text", 3, 8)
      .orderBy("doc_id").collect().map(_.toSeq)
    val rel = TextReference.signaturesWide(
      MinHashLSH.shingles(docs, "doc_id", "text", 3), "doc_id", 8)
      .orderBy("doc_id")
      .select(kern.head.indices.map(i => col(s"${if (i == 0) "doc_id" else s"mh${i - 1}"}")): _*)
      .collect().map(_.toSeq)
    assert(kern.nonEmpty && kern === rel)
    // verification: per-pair kernel vs the two-sided shingle join (pairs
    // with shingle overlap — the relational join emits no row at all for
    // zero-overlap pairs, the kernel emits jaccard=0; both drop them at
    // any minJaccard > 0, which is how nearDuplicates calls them)
    val pairs = Seq((1L, 2L), (1L, 5L), (2L, 5L)).toDF("doc_a", "doc_b")
    val sh    = MinHashLSH.shingles(docs, "doc_id", "text", 3)
    val relV = TextReference.verifyJaccard(pairs, sh, "doc_id", minJaccard = 0.0)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val texts = docs.select(col("doc_id"), col("text"))
    val kernV = pairs
      .join(texts.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(texts.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.JaccardShingles(col("text_a"), col("text_b"), 3).as("j"))
      .select(col("doc_a"), col("doc_b"), col("j").getItem(0).as("n_common"),
        (col("j").getItem(0).cast("double") /
          (col("j").getItem(1) + col("j").getItem(2) - col("j").getItem(0))).as("jaccard"))
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(relV.length === 3 && kernV === relV)
  }

  test("distributed prefix sum matches a sequential fold under any partitioning") {
    val rows = (0L until 1000L).map(i => (i, (i * 7 + 3) % 50))
    val seqOffsets = rows.scanLeft(0L)(_ + _._2).init // exclusive
    for (nPart <- Seq(1, 7, 32)) {
      val df = spark.createDataFrame(rows).toDF("id", "n").repartition(nPart)
      val got = Packing.prefixSum(df, "id", "n")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      rows.indices.foreach(i => assert(got(i.toLong) === seqOffsets(i), s"nPart=$nPart id=$i"))
    }
  }

  test("sequence packing: offsets, spans, and boundary-crossing docs are exact") {
    // doc 0: 200 tokens [0,200); doc 1: 100 tokens [200,300) — crosses the
    // 256 boundary; doc 2: 56 tokens [300,356)
    val docs = Seq(
      (0L, (1 to 200).map(_ => "w").mkString(" ")),
      (1L, (1 to 100).map(_ => "x").mkString(" ")),
      (2L, (1 to 56).map(_ => "y").mkString(" "))
    ).toDF("doc_id", "text")
    val got = Packing.packOffsets(docs, "doc_id", "text", seqLen = 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(0L) === ((200L, 0L, 0L, 0L, 0L)))
    assert(got(1L) === ((100L, 200L, 0L, 1L, 200L))) // spans sequences 0 and 1
    assert(got(2L) === ((56L, 300L, 1L, 1L, 44L)))
  }

  test("BPE training learns the hand-computed merges of the Sennrich example") {
    // word frequencies {low:5, lower:2, newest:6, widest:3} (the paper's
    // example, no end-of-word marker). Hand derivation:
    //  1. (e,s)=9 ties (s,t)=9 → lex asc picks (e,s)
    //  2. (es,t)=9
    //  3. (l,o)=7 ties (o,w)=7 → (l,o)
    //  4. (lo,w)=7
    //  5. (e,w)=6 ties (n,e)=6 and (w,est)=6 → lex asc picks (e,w)
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest"))
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
    val merges = BpeTrain.trainMerges(docs, "text", numMerges = 5)
    assert(merges.map(m => (m.left, m.right, m.weight)) ===
      Seq(("e", "s", 9L), ("es", "t", 9L), ("l", "o", 7L), ("lo", "w", 7L), ("e", "w", 6L)))
    assert(merges.map(_.rank) === Seq(0, 1, 2, 3, 4))
    // early stop: a single-char corpus has no pairs to merge
    val tiny = Seq((1L, "a a b")).toDF("doc_id", "text")
    assert(BpeTrain.trainMerges(tiny, "text", 10).isEmpty)
    // segmentation with the learned table: rank-greedy encode
    assert(BpeTrain.segmentWord("newest", merges.map(m => (m.left, m.right) -> m.rank).toMap)
      .toSeq === Seq("n", "ew", "est"))
    // "low" → l o w → (l,o) → lo w → (lo,w) → low: one piece;
    // "newest" → 3 pieces (checked above); "widest" → w i d est: 4 pieces
    val segged = BpeTrain
      .segmentStats(docs.filter(col("doc_id").isin(0L, 7L, 13L)), "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(segged === Map(0L -> 1L, 7L -> 3L, 13L -> 4L))
  }

  test("trainAndSegmentStats: memoized encode matches per-word segmentation; empty text is 0") {
    // multi-word docs with repeated words exercise the per-task memo path
    val docs = Seq(
      (0L, "low lower low newest"),
      (1L, "newest widest newest newest"),
      (2L, ""),
      (3L, "low low low low low newest newest newest widest widest lower")
    ).toDF("doc_id", "text")
    val merges = BpeTrain.trainMerges(docs, "text", numMerges = 5)
    val rankOf = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val expect = docs.collect().map { r =>
      val pieces = r.getString(1).split(" ", -1).filter(_.nonEmpty)
        .map(w => BpeTrain.segmentWord(w, rankOf).length.toLong).sum
      r.getLong(0) -> pieces
    }.toMap
    val got = BpeTrain.trainAndSegmentStats(docs, "doc_id", "text", numMerges = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expect)
    assert(got(2L) === 0L)
  }

  test("semDedup keeps the lowest id of each within-cluster near-dup group") {
    val df = Seq(
      (1L, Array(1.0, 0.0)),  // exemplar
      (2L, Array(1.0, 0.0)),  // exact dup of 1 → dropped
      (3L, Array(0.0, 1.0)),  // own cluster, kept
      (4L, Array(0.9, 0.1))   // cos(1,4) = 0.9938 ≥ 0.95 → dropped
    ).toDF("vec_id", "vec")
    val out = Similarity.semDedup(df, "vec_id", "vec", k = 2, minCos = 0.95, iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(out(1L)._2 && out(3L)._2 && !out(2L)._2 && !out(4L)._2)
    assert(out(1L)._1 === out(2L)._1 && out(1L)._1 === out(4L)._1) // one semantic cluster
    assert(out(1L)._1 !== out(3L)._1)
  }

  test("clusterBalancedSample: per-cluster quota, md5-coin order, deterministic across partitionings") {
    // iters = 0 → centroids are the first k=2 vectors by id: [1,0] and [0,1].
    // Cluster 0 holds ids 1,3,4,6 (four members, quota 2), cluster 1 holds 2,5.
    val df = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.0, 1.0)), (3L, Array(0.9, 0.1)),
      (4L, Array(0.8, 0.2)), (5L, Array(0.1, 0.9)), (6L, Array(0.95, 0.05))
    ).toDF("vec_id", "vec")
    // the operator's own coin: first 13 hex chars of md5(id-as-string), 52 bits
    def coin(id: Long): Long = {
      val md  = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(13), 16)
    }
    def expectPicks(ids: Seq[Long], quota: Int): Seq[(Long, Int)] =
      ids.sortBy(id => (coin(id), id)).take(quota).zipWithIndex.map { case (id, i) => (id, i + 1) }
    val got = Similarity.clusterBalancedSample(df, "vec_id", "vec", k = 2, quota = 2, iters = 0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
    val byCluster = got.groupBy(_._1)
    assert(byCluster.keySet === Set(0, 1))
    assert(byCluster(0).map(t => (t._2, t._3)).sortBy(_._2).toSeq === expectPicks(Seq(1L, 3L, 4L, 6L), 2))
    assert(byCluster(1).map(t => (t._2, t._3)).sortBy(_._2).toSeq === expectPicks(Seq(2L, 5L), 2))
    // quota larger than a cluster keeps the whole cluster, never pads
    val all = Similarity.clusterBalancedSample(df, "vec_id", "vec", k = 2, quota = 10, iters = 0)
    assert(all.count() === 6L)
    // deterministic under a different partitioning (partial-agg merge order)
    val repart = Similarity
      .clusterBalancedSample(df.repartition(7), "vec_id", "vec", k = 2, quota = 2, iters = 0)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).sorted
    assert(repart === got.sorted)
  }

  test("repetition kernel: hand-checked counts incl. empty tokens, ties, sub-gram docs") {
    val df = Seq(
      (1L, "a b a b a"),       // 2-grams: ab ba ab ba — 4 total, 2 dup, top 2; 3-grams: aba bab aba — 3,1,2
      (2L, "x x x x"),         // 2-grams: xx xx xx — 3 total, 2 dup, top 3; 3-grams: xxx xxx — 2,1,2
      (3L, "one two"),         // one 2-gram, no 3-gram
      (4L, "solo"),            // no grams at all
      (5L, ""),                // split("") = [""] — one empty token, no grams
      (6L, "a  b")             // interior empty token: 2-grams "a|" "|b" distinct
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(got(1L) === ((4L, 2L, 2L, 3L, 1L, 2L)))
    assert(got(2L) === ((3L, 2L, 3L, 2L, 1L, 2L)))
    assert(got(3L) === ((1L, 0L, 1L, 0L, 0L, 0L)))
    assert(got(4L) === ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(got(5L) === ((0L, 0L, 0L, 0L, 0L, 0L)))
    assert(got(6L) === ((2L, 0L, 1L, 1L, 0L, 1L)))
  }

  test("SimHash: identical docs hash identically, disjoint docs differ") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("doc_id", "text")
    val m = TextAnalysis.simHash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(m(1L) === m(2L))
    assert(m(1L) !== m(3L))
  }

  test("sizedSimHashBands follows the band-sizing law") {
    // nBands = maxHamming + 1 (minimum pigeonhole-safe band count);
    // bandBits = clamp(ceil(log2 n), 4, 60/nBands)
    assert(TextAnalysis.sizedSimHashBands(1000L, 3) === ((40, 4)))     // ceil(log2 1000) = 10
    assert(TextAnalysis.sizedSimHashBands(500000L, 3) === ((60, 4)))   // needs 19, portable cap 15
    assert(TextAnalysis.sizedSimHashBands(4L, 3) === ((16, 4)))        // 4-bit floor
    assert(TextAnalysis.sizedSimHashBands(1L << 40, 1) === ((60, 2)))  // needs 40, cap 30
    assert(TextAnalysis.sizedSimHashBands(0L, 0) === ((4, 1)))
  }

  test("simHashNearDupSized matches the explicitly-sized operator and finds planted dups") {
    val docs = (1L to 30L).map { i =>
      val base = if (i <= 2) 100L else i // docs 1 and 2 identical
      (i, (1 to 40).map(j => s"tok${(base * 31 + j) % 97}_$j").mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val (bits, nBands) = TextAnalysis.sizedSimHashBands(30L, 3)
    val explicit = TextAnalysis.simHashNearDup(df, "doc_id", "text", bits, nBands, 3)
      .orderBy("id_a", "id_b").collect().map(_.toSeq)
    val sized = TextAnalysis.simHashNearDupSized(df, "doc_id", "text", 3)
      .orderBy("id_a", "id_b").collect().map(_.toSeq)
    assert(sized === explicit)
    assert(sized.map(s => (s(0), s(1))).contains((1L, 2L))) // hamming 0 pair survives
  }

  test("the unsized simHashNearDup call picks the corpus-sized geometry (30 docs and 50k docs)") {
    // 30 docs: sized law says 5-bit bands (20, 4) — the unsized entry point
    // must agree with that explicit geometry pair-for-pair
    val small = (1L to 30L).map { i =>
      val base = if (i <= 2) 100L else i
      (i, (1 to 40).map(j => s"tok${(base * 31 + j) % 97}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    assert(TextAnalysis.sizedSimHashBands(30L, 3) === ((20, 4)))
    val smallUnsized = TextAnalysis.simHashNearDup(small, "doc_id", "text")
      .orderBy("id_a", "id_b").collect().map(_.toSeq)
    val smallExplicit = TextAnalysis.simHashNearDup(small, "doc_id", "text", 20, 4, 3)
      .orderBy("id_a", "id_b").collect().map(_.toSeq)
    assert(smallUnsized === smallExplicit)
    assert(smallUnsized.map(s => (s(0), s(1))).contains((1L, 2L)))
    // 50k docs: the portable 60-bit ceiling binds — (60, 4), i.e. 15-bit
    // bands, the geometry that keeps bucket occupancy ~n/2^15 (linear);
    // the old fixed default (16, 4) would put ~12k docs in every bucket
    val big = spark.range(50000).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        transform(sequence(lit(1), lit(20)),
          j => concat(lit("w"), pmod(xxhash64(col("id"), j), lit(5000))))).as("text"))
    assert(TextAnalysis.sizedSimHashBands(50000L, 3) === ((60, 4)))
    val bigUnsized = TextAnalysis.simHashNearDup(big, "doc_id", "text")
      .agg(count(lit(1)), coalesce(sum(col("hamming")), lit(0L))).collect()(0).toSeq
    val bigExplicit = TextAnalysis.simHashNearDup(big, "doc_id", "text", 60, 4, 3)
      .agg(count(lit(1)), coalesce(sum(col("hamming")), lit(0L))).collect()(0).toSeq
    assert(bigUnsized === bigExplicit)
  }

  test("LshDiagnostics warns (without failing) on a degenerate exact-duplicate bucket") {
    LshDiagnostics.lastWarning = None
    val df = (1L to 300L).map(i => (i, "the very same document text repeated everywhere"))
      .toDF("doc_id", "text")
    val bands = MinHashLSH.bandKeys(
      MinHashLSH.signaturesWideKernel(df, "doc_id", "text", 3, 8), "doc_id", 2, 8)
    val nPairs = MinHashLSH.candidatePairs(bands, "doc_id", bucketWarnThreshold = 50L).count()
    assert(nPairs === 300L * 299L / 2) // the quadratic result the warning is about
    val deadline = System.nanoTime() + 10_000_000_000L // listener bus is async
    while (LshDiagnostics.lastWarning.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    val msg = LshDiagnostics.lastWarning.getOrElse(fail("no LSH bucket warning emitted"))
    assert(msg.contains("exact") && msg.contains("dedup") && msg.contains("300"))
  }

  test("MinHashLSH.candidatePairs maxBucket drops oversized buckets loudly, keeps under-cap pairs") {
    // 300 exact duplicates (one degenerate bucket per band) + one genuine
    // near-dup pair with distinct texts (tiny buckets)
    val dupes = (1L to 300L).map(i => (i, "the very same document text repeated everywhere"))
    val near = Seq(
      (1001L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1002L, "alpha beta gamma delta epsilon zeta eta iota"))
    val df    = (dupes ++ near).toDF("doc_id", "text")
    val bands = MinHashLSH.bandKeys(
      MinHashLSH.signaturesWideKernel(df, "doc_id", "text", 3, 8), "doc_id", 2, 8)
    LshDiagnostics.lastWarning = None
    val capped = MinHashLSH.candidatePairs(bands, "doc_id", maxBucket = Some(50L))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the degenerate cluster's quadratic pairs are gone; under-cap pairs survive
    assert(!capped.exists { case (a, b) => a <= 300L && b <= 300L })
    assert(capped.contains((1001L, 1002L)))
    // the drop is loud: the observe warning still fires for the capped bucket
    val deadline = System.nanoTime() + 10_000_000_000L
    while (LshDiagnostics.lastWarning.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(LshDiagnostics.lastWarning.exists(_.contains("300")))
    // and with no cap the quadratic pairs are present (control)
    val uncapped = MinHashLSH.candidatePairs(bands, "doc_id").count()
    assert(uncapped === 300L * 299L / 2 + 1)
  }

  test("Similarity.cosine: identity and orthogonality") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(1.0, 0.0), 1.0),
      (Seq(1.0, 0.0), Seq(0.0, 1.0), 0.0)
    ).toDF("a", "b", "want")
    // association fixed as dot / (normA * normB)
    val cosine = Similarity.dot($"a", $"b") / (Similarity.norm($"a") * Similarity.norm($"b"))
    val bad = df.withColumn("got", cosine)
      .filter(abs($"got" - $"want") > 1e-15).count()
    assert(bad === 0)
  }

  test("Climatology consolidation is mean-of-monthly-means, not mean-of-days") {
    // Jan: values 0,0,0 (mean 0); Feb of next year... use two Januaries:
    // 2023-01 has 3 days of 0, 2024-01 has 1 day of 6 → mean of means = 3,
    // while mean-of-days would be 1.5
    val df = Seq(
      ("2023-01-01 00:00:00", 0.0), ("2023-01-02 00:00:00", 0.0), ("2023-01-03 00:00:00", 0.0),
      ("2024-01-05 00:00:00", 6.0)
    ).toDF("s", "value").withColumn("ts", to_timestamp($"s")).withColumn("k", lit("x"))
    val monthly = Climatology.temporalMean(df, "ts", "value", "month", Seq("k"))
    val got = Climatology.consolidateMonthly(monthly, Seq("k")).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Double]("mean_of_means") === 3.0)
    assert(got(0).getAs[Long]("valid_count") === 4L)
  }

  test("TargetCatalog id classification and numeric extraction") {
    val df = Seq(
      "fossil0005", "volcano0020", "tccon0012", "weird_site", "site123",
      "ecostress_us_arm", "ecostress_x7", "ecostress", "sif_atto_2", "sif_hrv", "sif_nowhere")
      .toDF("id")
      .select(
        $"id",
        TargetCatalog.idTypeCode($"id").as("ty"),
        TargetCatalog.resolveNumericId($"id").as("num"))
    val family = Map(1 -> "fossil", 2 -> "ecostress", 3 -> "sif", 4 -> "volcano", 5 -> "tccon", 6 -> "other")
    val m = df.collect().map(r =>
      r.getString(0) -> ((family(r.getByte(1).toInt), if (r.isNullAt(2)) -1 else r.getInt(2)))).toMap
    assert(m("fossil0005") === (("fossil", 5)))
    assert(m("volcano0020") === (("volcano", 20)))
    assert(m("tccon0012") === (("tccon", 12)))
    // 'other' without trailing digits -> OTHER_ID_NAN = 0 (TargetInfo.py:139-143)
    assert(m("weird_site") === (("other", 0)))
    assert(m("site123") === (("other", 123)))
    // text-id lookup tables (TargetInfo.py:29-123): post-underscore key
    assert(m("ecostress_us_arm") === (("ecostress", 41)))
    assert(m("ecostress_x7") === (("ecostress", 0)))  // unknown site -> 0
    assert(m("ecostress") === (("ecostress", 0)))     // no underscore -> 0
    assert(m("sif_atto_2") === (("sif", 2)))
    assert(m("sif_hrv") === (("sif", 3)))
    assert(m("sif_nowhere") === (("sif", 0)))
  }

  test("KMeans quantizer separates blobs; IVF near-dup finds planted pairs") {
    import graft.operators.{KMeans, Similarity}
    // two well-separated 4-d blobs + a planted near-duplicate pair in blob A
    val blobA = (0 until 20).map(i => (i.toLong, Seq(10.0 + 0.01 * i, 10.0, 0.0, 0.0)))
    val blobB = (20 until 40).map(i => (i.toLong, Seq(-10.0, -10.0 - 0.01 * (i - 20), 0.0, 0.0)))
    val df = (blobA ++ blobB).toDF("id", "vec")
    val centroids = KMeans.fit(df, "vec", "id", k = 2, iters = 4)
    assert(centroids.length === 2)
    val assigned = KMeans.assign(df, "vec", centroids)
      .select($"id", $"bucket").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every blob lands in exactly one bucket
    assert((0L until 20L).map(assigned).toSet.size === 1)
    assert((20L until 40L).map(assigned).toSet.size === 1)
    assert(assigned(0L) !== assigned(25L))
    // determinism across partitionings
    val c2 = KMeans.fit(df.repartition(7), "vec", "id", k = 2, iters = 4)
    assert(centroids.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq)
    // IVF near-dup: same-blob vectors are near-identical in cosine
    val pairs = Similarity.ivfNearDupPairs(df, "id", "vec", k = 2, minCos = 0.9999)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // no cross-blob pair can appear (buckets separate them)
    assert(pairs.forall { case (a, b) => (a < 20) == (b < 20) })
  }

  test("quantile sketch tracks the exact baseline within its rank-error bound") {
    // The GK rank-error contract (|rank(q_sketch) − p·n| ≤ n/acc), checked
    // as a property over several skewed shapes — the sketch is the 100 TB
    // path (one hash aggregate, no per-group sort) and its results cannot
    // hash-match an oracle, so THIS bound is its correctness gate. Ties
    // are handled properly: a tied value's true rank is an interval
    // [count(< v), count(≤ v)], and the contract holds if p·n is within
    // 1/acc of that interval.
    val acc = 10000
    val ps  = Seq(0.1, 0.5, 0.9, 0.99)
    def check(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val ex = Quantiles.exact(df, Seq("g"), "v", ps)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      val sk = Quantiles.sketch(df, Seq("g"), "v", ps, acc)
        .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      assert(sk.keySet === ex.keySet, s"[$name] (group, p) key sets differ")
      val groups = df.collect().groupBy(_.getString(0)).map { case (g, rows) =>
        g -> rows.map(_.getDouble(1)).sorted
      }
      for (((g, p), qv) <- sk) {
        val vs  = groups(g)
        val eps = 1.0 / acc + 2.0 / vs.length
        val lo  = vs.count(_ < qv).toDouble / vs.length
        val hi  = vs.count(_ <= qv).toDouble / vs.length
        assert(p >= lo - eps && p <= hi + eps,
          s"[$name] group $g p=$p: sketch value $qv has rank interval [$lo, $hi]")
        // and the exact baseline must satisfy the same rank contract (its
        // interpolated value can sit strictly between tied runs, hence the
        // interval form here too)
        val exLo = vs.count(_ < ex((g, p))).toDouble / vs.length
        val exHi = vs.count(_ <= ex((g, p))).toDouble / vs.length
        assert(p >= exLo - eps && p <= exHi + eps,
          s"[$name] group $g p=$p: exact value ${ex((g, p))} has rank interval [$exLo, $exHi]")
      }
    }
    // (a) cubed uniform: soft left skew
    check("cubed-uniform", spark.range(100000).select(
      (col("id") % 3).cast("string").as("g"),
      (pow(rand(11), 3.0) * 1000).as("v")))
    // (b) lognormal: heavy right tail (orders of magnitude in one group)
    check("lognormal", spark.range(100000).select(
      (col("id") % 3).cast("string").as("g"),
      exp(randn(7) * lit(2.0)).as("v")))
    // (c) Zipf-like integers: massive ties — most of the mass sits on a
    // handful of values, the regime where a naive rank check breaks and a
    // sketch's duplicate handling is actually exercised
    check("zipf-ties", spark.range(100000).select(
      (col("id") % 3).cast("string").as("g"),
      floor(lit(1.0) / (rand(13) + lit(0.001))).cast("double").as("v")))
  }

  test("Checksum.merkle is order-insensitive to input partitioning but order-sensitive to keys") {
    val df1 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val df2 = df1.repartition(3).sortWithinPartitions(desc("k"))
    val h = (d: org.apache.spark.sql.DataFrame) =>
      Checksum.merkle(d, "k", md5($"v".cast("binary"))).collect()(0).getString(1)
    assert(h(df1) === h(df2))
  }

  test("Multimodal feature extraction matches direct computation") {
    val df  = Seq((1L, "hello")).toDF("doc_id", "text")
    val got = Multimodal.extractFeatures(Multimodal.withPayload(df, "doc_id", "text")).collect()(0)
    assert(got.byte_len === 5)
    assert(got.first_byte === 'h'.toInt)
    assert(got.content_md5 === "5d41402abc4b2a76b9719d911017c592")
  }

  test("Similarity.knnGraphLsh matches the brute-force graph when one bucket holds everything") {
    // one hyperplane, all vectors on its positive side → a single bucket,
    // so the bucketed graph must equal brute force with queries = corpus
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)),
      (3L, Array(0.5, 0.5)), (4L, Array(0.1, 0.9))
    ).toDF("id", "vec")
    val planes = Array(Array(1.0, 1.0))
    val graph = Similarity.knnGraphLsh(vecs, "id", "vec", planes, k = 2)
      .orderBy($"qid", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val brute = Similarity.bruteForceTopK(
        vecs.select($"id".as("qid"), $"vec".as("qvec")),
        vecs.select($"id".as("cid"), $"vec".as("cvec")), k = 2)
      .orderBy($"qid", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(graph.nonEmpty && graph === brute)
  }

  test("Similarity.pqEncode/pqTopK: perfect codebooks degrade ADC to exact L2 ranking") {
    val corpusRows = Seq(
      1L -> Array(1.0, 0.0, 0.0, 0.0),
      2L -> Array(0.0, 1.0, 0.0, 0.0),
      3L -> Array(0.7, 0.7, 0.1, 0.0),
      4L -> Array(0.0, 0.0, 1.0, 0.5))
    val queryRows = Seq(
      100L -> Array(1.0, 0.1, 0.0, 0.0),
      101L -> Array(0.0, 0.0, 0.9, 0.4))
    val corpus  = corpusRows.toDF("cid", "cvec")
    val queries = queryRows.toDF("qid", "qvec")
    // codebook = every distinct subvector → encoding is lossless, so the
    // asymmetric distance IS the exact squared L2
    val m = 2; val dsub = 2
    val books: Array[Array[Array[Double]]] = (0 until m).map { s =>
      corpusRows.map(_._2.slice(s * dsub, (s + 1) * dsub).toSeq).distinct
        .map(_.toArray).toArray
    }.toArray
    val enc = Similarity.pqEncode(corpus, "cvec", books).select($"cid", $"codes")
    // codes decode back to the original subvectors
    enc.collect().foreach { r =>
      val cid   = r.getLong(0)
      val codes = r.getSeq[Int](1)
      val orig  = corpusRows.toMap.apply(cid)
      val dec   = codes.zipWithIndex.flatMap { case (c, s) => books(s)(c) }
      assert(dec === orig.toSeq, s"lossy encode for cid=$cid")
    }
    val got = Similarity.pqTopK(queries, enc, books, k = 2)
      .orderBy($"qid", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    def sqL2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val expect = queryRows.flatMap { case (qid, qv) =>
      corpusRows.map { case (cid, cv) => (qid, cid, sqL2(qv, cv)) }
        .sortBy { case (_, cid, d) => (d, cid) }
        .take(2).zipWithIndex
        .map { case ((q, c, d), i) => (q, c, i + 1, d) }
    }
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expect.map(t => (t._1, t._2, t._3)))
    got.zip(expect).foreach { case ((_, _, _, a), (_, _, _, e)) =>
      assert(math.abs(a - e) < 1e-9, s"adist $a vs exact $e")
    }
  }

  test("Similarity.ivfPq: perfect residual codebooks + nprobe=all degrade ADC to exact L2") {
    val cents = Array(Array(0.0, 0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0, 1.0))
    val corpusRows = Seq(
      1L -> Array(1.0, 0.0, 0.0, 0.0),  // cell 0
      2L -> Array(0.0, 1.0, 0.0, 0.0),  // cell 0
      3L -> Array(0.9, 0.9, 0.8, 1.0),  // cell 1
      4L -> Array(1.2, 1.1, 0.9, 0.7))  // cell 1
    val queryRows = Seq(
      100L -> Array(0.9, 0.1, 0.0, 0.1),
      101L -> Array(1.0, 1.0, 1.0, 0.8))
    def sqL2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // residuals with the SAME IEEE subtraction the operator performs
    def res(v: Array[Double]): Array[Double] = {
      val c = cents.minBy(c => (sqL2(v, c), cents.indexOf(c)))
      v.zip(c).map { case (x, y) => x - y }
    }
    val m = 2; val dsub = 2
    // perfect books: every distinct residual subvector is its own centroid
    val books: Array[Array[Array[Double]]] = (0 until m).map { s =>
      corpusRows.map(r => res(r._2).slice(s * dsub, (s + 1) * dsub).toSeq).distinct
        .map(_.toArray).toArray
    }.toArray
    val corpus  = corpusRows.toDF("cid", "cvec")
    val queries = queryRows.toDF("qid", "qvec")
    val enc = Similarity.ivfPqEncode(corpus, "cvec", cents, books)
      .select($"cid", $"cell", $"codes")
    // cells assigned to the nearer coarse centroid; codes decode losslessly
    val encRows = enc.collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSeq
    assert(encRows.map(t => t._1 -> t._2).toMap === Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1))
    encRows.foreach { case (cid, _, codes) =>
      val dec = codes.zipWithIndex.flatMap { case (c, s) => books(s)(c) }
      assert(dec === res(corpusRows.toMap.apply(cid)).toSeq, s"lossy residual encode cid=$cid")
    }
    // nprobe = all cells + perfect books → exact L2 ranking with exact distances
    val got = Similarity.ivfPqTopK(queries, enc, cents, books, nprobe = 2, k = 3)
      .orderBy($"qid", $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val expect = queryRows.flatMap { case (qid, qv) =>
      corpusRows.map { case (cid, cv) => (qid, cid, sqL2(qv, cv)) }
        .sortBy { case (_, cid, d) => (d, cid) }
        .take(3).zipWithIndex
        .map { case ((q, c, d), i) => (q, c, i + 1, d) }
    }
    assert(got.map(t => (t._1, t._2, t._3)).toSeq === expect.map(t => (t._1, t._2, t._3)))
    got.zip(expect).foreach { case ((_, _, _, a), (_, _, _, e)) =>
      assert(math.abs(a - e) < 1e-9, s"adist $a vs exact $e")
    }
    // nprobe = 1 never leaves the query's nearest cell
    val probed = Similarity.ivfPqTopK(queries, enc, cents, books, nprobe = 1, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probed === Set((100L, 1L), (100L, 2L), (101L, 3L), (101L, 4L)))
  }

  test("Similarity.ivfPqFit trains residual codebooks; encode stays in range") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array(i % 5 * 1.0, i % 3 * 1.0, i % 7 * 1.0, i % 2 * 1.0))
    }.toDF("id", "vec")
    val cents = KMeans.fit(vecs, "vec", "id", k = 2, iters = 1)
    val books = Similarity.ivfPqFit(vecs, "vec", "id", cents, m = 2, k = 3, iters = 2)
    assert(books.length === 2)
    assert(books.forall(b => b.length === 3 && b.forall(_.length === 2)))
    val enc = Similarity.ivfPqEncode(vecs, "vec", cents, books)
    val rows = enc.select($"cell", $"codes").collect()
      .map(r => (r.getInt(0), r.getSeq[Int](1)))
    assert(rows.forall { case (cell, codes) =>
      cell >= 0 && cell < 2 && codes.length === 2 && codes.forall(c => c >= 0 && c < 3)
    })
  }

  test("Similarity.pqFit trains per-subspace codebooks and pqEncode stays in range") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array(i % 5 * 1.0, i % 3 * 1.0, i % 7 * 1.0, i % 2 * 1.0))
    }.toDF("id", "vec")
    val books = Similarity.pqFit(vecs, "vec", "id", m = 2, k = 3, iters = 2)
    assert(books.length === 2)
    assert(books.forall(b => b.length === 3 && b.forall(_.length === 2)))
    val enc = Similarity.pqEncode(vecs, "vec", books)
    val codes = enc.select($"codes").collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length === 2 && c.forall(x => x >= 0 && x < 3)))
    intercept[IllegalArgumentException] {
      Similarity.pqFit(vecs, "vec", "id", m = 3, k = 2, iters = 1)
    }
  }

  test("Multimodal.dHash: gradient-sign invariance, bit packing, near-dup pairs") {
    // 63-byte payloads = one grid sample per byte (9×7 grid, identity sampling)
    val up1  = Array.tabulate(63)(i => i.toByte)             // strictly rising
    val up2  = Array.tabulate(63)(i => (100 + 2 * i).toByte) // same signs, shifted+scaled
    val down = Array.tabulate(63)(i => (126 - 2 * i).toByte) // strictly falling
    val media = Seq((1L, up1), (2L, up2), (3L, down)).toDF("doc_id", "payload")
    val sigs = Multimodal.dHash(media, w = 8, h = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // every in-row neighbor rises → all 56 bits set; falls → none
    assert(sigs(1L) === (1L << 56) - 1)
    assert(sigs(2L) === (1L << 56) - 1) // dHash sees gradient SIGNS, not levels
    assert(sigs(3L) === 0L)
    val pairs = Multimodal.dHashNearDup(media, w = 8, h = 7, nBands = 4, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs === Array((1L, 2L, 0)))
  }

  test("Packing.packBoundaries: spans tile each window, cross-window docs split") {
    val d = Seq((1L, "a b c"), (2L, "d e f"), (3L, "g")).toDF("doc_id", "text")
    // stream: 1:[0..2] 2:[3..5] 3:[6]; windows of 4 → w0 = a b c d, w1 = e f g
    val got = Packing.packBoundaries(d, "doc_id", "text", seqLen = 4)
      .orderBy($"seq_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got === Array(
      (0L, 2L, 4L, "1:0:3,2:3:1"),
      (1L, 2L, 3L, "2:0:2,3:2:1")))
    // consistency with the materializer: per-window token counts agree
    val counts = Packing.packSequences(d, "doc_id", "text", seqLen = 4)
      .select($"seq_idx", $"n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.map(t => t._1 -> t._3).toMap === counts)
  }

  test("Packing.packSequencesStrided: overlapping windows, short tail, doc spans") {
    val d = Seq((1L, "a b c"), (2L, "d e")).toDF("doc_id", "text")
    // global stream: a(0) b(1) c(2) d(3) e(4); windows of 4 at stride 2:
    // w0=[0,4) a b c d, w1=[2,6) c d e, w2=[4,8) e
    val got = Packing.packSequencesStrided(d, "doc_id", "text", seqLen = 4, stride = 2)
      .orderBy($"seq_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got === Array(
      (0L, 4L, 2L, "a b c d"),
      (1L, 3L, 2L, "c d e"),
      (2L, 1L, 1L, "e")))
  }

  test("Packing.packSequencesStrided: stride = seqLen degrades to packSequences") {
    val d = (1L to 9L).map(i => (i, s"t${i}a t${i}b t${i}c")).toDF("doc_id", "text")
    val plain = Packing.packSequences(d, "doc_id", "text", seqLen = 4)
      .orderBy($"seq_idx").collect().map(_.toSeq)
    val strided = Packing.packSequencesStrided(d, "doc_id", "text", seqLen = 4, stride = 4)
      .orderBy($"seq_idx").collect().map(_.toSeq)
    assert(strided === plain)
    intercept[IllegalArgumentException] {
      Packing.packSequencesStrided(d, "doc_id", "text", seqLen = 4, stride = 5)
    }
  }

  test("Packing.packBins: whole-doc bins respect capacity, oversize isolated, deterministic") {
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"t$i").mkString(" "))
    // lengths: 6,6,4,4,3,3,2,1 into capacity 8 + one oversize (10)
    val docs = Seq(
      doc(1, 6), doc(2, 6), doc(3, 4), doc(4, 4),
      doc(5, 3), doc(6, 3), doc(7, 2), doc(8, 1), doc(9, 10)
    ).toDF("doc_id", "text")
    val got = Packing.packBins(docs, "doc_id", "text", seqLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))

    // every doc assigned exactly once
    assert(got.map(_._1).sorted === (1L to 9L).toArray)
    // capacity law: no regular bin exceeds seqLen
    val fills = got.filter(!_._4).groupBy(_._3).map { case (_, ds) => ds.map(_._2).sum }
    assert(fills.forall(_ <= 8L), s"overfull bin: $fills")
    // the oversize doc sits alone in its own flagged bin
    val over = got.filter(_._4)
    assert(over.map(_._1).toSeq === Seq(9L))
    assert(got.filter(!_._4).map(_._3).toSet.intersect(over.map(_._3).toSet).isEmpty)
    // FFD on this histogram is optimal: 6+2, 6+1, 4+4, 3+3 → 4 regular bins
    assert(got.filter(!_._4).map(_._3).distinct.length === 4)
    // dense bin ids 0..nBins-1
    assert(got.map(_._3).sorted.distinct === (0L until 5L).toArray)

    // deterministic under repartitioning
    val again = Packing.packBins(docs.repartition(7), "doc_id", "text", seqLen = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.sortBy(_._1).toSeq === again.sortBy(_._1).toSeq)
  }

  test("Packing.packBinSequences materializes intact docs per bin in id order") {
    def doc(id: Long, n: Int) = (id, (1 to n).map(i => s"d${id}t$i").mkString(" "))
    val docs = Seq(doc(1, 6), doc(2, 2), doc(3, 10)).toDF("doc_id", "text")
    val bins = Packing.packBinSequences(docs, "doc_id", "text", seqLen = 8)
      .orderBy($"bin").collect()
    assert(bins.length === 2) // {6,2} packed, {10} oversize alone
    val packed = bins(0)
    assert(packed.getAs[Long]("n_docs") === 2L)
    assert(packed.getAs[Long]("n_tokens") === 8L)
    assert(!packed.getAs[Boolean]("oversize"))
    // intact docs, id order, single-space joined
    assert(packed.getAs[String]("bin_text") ===
      (1 to 6).map(i => s"d1t$i").mkString(" ") + " " + (1 to 2).map(i => s"d2t$i").mkString(" "))
    assert(packed.getAs[Seq[Long]]("doc_ids") === Seq(1L, 2L))
    assert(bins(1).getAs[Boolean]("oversize") && bins(1).getAs[Long]("n_tokens") === 10L)
  }

  test("Packing.packBins at corpus shape: high fill rate, capacity never violated") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = Packing.packBins(docs, "doc_id", "text", seqLen = 128)
    val bins = got.filter(!col("oversize"))
      .groupBy(col("bin")).agg(sum(col("n_tokens")).as("fill"))
      .select("fill").collect().map(_.getLong(0))
    assert(bins.forall(_ <= 128L))
    assert(got.count() === docs.count())
    // FFD on natural length mixes packs tightly: mean fill ≥ 85% of capacity
    val mean = bins.sum.toDouble / bins.length / 128.0
    assert(mean >= 0.85, s"mean fill rate $mean")
  }

  test("Similarity.knnGraphLsh candidate cap: every vector keeps neighbors, dense buckets thin") {
    // 60 near-identical vectors land in ONE bucket (uncapped: 60×59 pairs);
    // the md5-coin cap thins candidates but never the query side
    val dense = (1L to 60L).map(i => (i, Array(1.0, 1e-6 * i)))
    val vecs  = dense.toDF("id", "vec")
    val planes = Array(Array(1.0, 0.0))
    val uncapped = Similarity.knnGraphLsh(vecs, "id", "vec", planes, k = 3)
    val capped = Similarity.knnGraphLsh(vecs, "id", "vec", planes, k = 3,
      maxCandidatesPerBucket = Some(4))
    // cap ≥ bucket size → bit-identical to uncapped
    val wide = Similarity.knnGraphLsh(vecs, "id", "vec", planes, k = 3,
      maxCandidatesPerBucket = Some(1000))
    assert(wide.exceptAll(uncapped).isEmpty && uncapped.exceptAll(wide).isEmpty)
    // every vector still receives neighbors under the cap…
    val qids = capped.select($"qid").distinct().collect().map(_.getLong(0)).toSet
    assert(qids.size === 60)
    // …drawn from a thinned candidate pool: across all queries at most
    // (expected 4, hard-bounded by the coin) distinct candidates appear
    val cands = capped.select($"cid").distinct().count()
    assert(cands < 20, s"cap did not thin the candidate side: $cands candidates")
  }

  test("Similarity.ivfTopK: nprobe = all cells degrades to exact brute-force search") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.2)), (3L, Array(-0.5, 0.8)),
      (4L, Array(-0.6, 0.7)), (5L, Array(0.1, -0.9))
    ).toDF("id", "vec")
    val q = vecs.select($"id".as("qid"), $"vec".as("qvec"))
    val c = vecs.select($"id".as("cid"), $"vec".as("cvec"))
    val cents = Array(Array(1.0, 0.0), Array(-0.5, 0.75))
    val full  = Similarity.ivfTopK(q, c, cents, nprobe = 2, k = 2)
      .orderBy($"qid", $"rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val brute = Similarity.bruteForceTopK(q, c, k = 2)
      .orderBy($"qid", $"rank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(full.nonEmpty && full === brute)
    // nprobe = 1 restricts candidates to the query's own cell
    val one = Similarity.ivfTopK(q, c, cents, nprobe = 1, k = 5)
      .select($"qid", $"cid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // cells: {1,2,5} around (1,0) ... (5 is closer to (1,0)? (0.1,-0.9):
    // d to c0 = 0.81+0.81=1.62, to c1 = 0.36+2.72=3.08 -> cell 0), {3,4}
    val cell0 = Set(1L, 2L, 5L); val cell1 = Set(3L, 4L)
    one.foreach { case (qid, cid) =>
      val cell = if (cell0(qid)) cell0 else cell1
      assert(cell(cid), s"$qid probed outside its cell: $cid")
    }
  }

  test("Similarity.knnGraphLsh never pairs across buckets; isolated vectors emit no rows") {
    // plane x: ids 1,2 in bucket "1"; id 3 alone in bucket "0"
    val vecs = Seq(
      (1L, Array(1.0, 0.2)), (2L, Array(0.8, 0.4)), (3L, Array(-1.0, 0.1))
    ).toDF("id", "vec")
    val planes = Array(Array(1.0, 0.0))
    val got = Similarity.knnGraphLsh(vecs, "id", "vec", planes, k = 5)
      .select($"qid", $"cid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (2L, 1L)))
  }

  test("Sketches.hll: merge law — sketch of a union equals register-wise max of parts") {
    val a = (0L until 4000L).map(i => ("g", i)).toDF("grp", "v")
    val b = (2000L until 7000L).map(i => ("g", i)).toDF("grp", "v") // overlaps a
    val whole = Sketches.hllRegisters(a.union(b), Seq("grp"), $"v", p = 6)
    val merged = Sketches.hllMergeRegisters(
      Sketches.hllRegisters(a, Seq("grp"), $"v", p = 6),
      Sketches.hllRegisters(b, Seq("grp"), $"v", p = 6))
    val w = whole.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val m = merged.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(w === m)
    // and the merged estimate equals the whole-input estimate exactly
    val ew = Sketches.hllEstimate(whole, Seq("grp"), 6).select($"estimate").as[Double].head()
    val em = Sketches.hllEstimate(merged, Seq("grp"), 6).select($"estimate").as[Double].head()
    assert(ew === em)
  }

  test("Sketches.hll: estimate lands within the theoretical error band, dups don't move it") {
    // m=256 → relative std error 1.04/sqrt(256) = 6.5%; assert 4 sigma
    val n = 20000L
    val df = (0L until n).map(i => ("g", i)).toDF("grp", "v")
    val regs = Sketches.hllRegisters(df, Seq("grp"), $"v", p = 8)
    val est = Sketches.hllEstimate(regs, Seq("grp"), 8)
      .select($"estimate").as[Double].head()
    assert(math.abs(est - n) / n < 0.26, s"estimate $est too far from $n")
    // exact-duplicate rows leave every register (hence the estimate) unchanged
    val dupRegs = Sketches.hllRegisters(df.union(df), Seq("grp"), $"v", p = 8)
    assert(
      dupRegs.collect().map(r => (r.getInt(1), r.getLong(2))).toSet ===
        regs.collect().map(r => (r.getInt(1), r.getLong(2))).toSet)
  }

  test("Sketches.hllRegisters on a stream: bounded state, converges to the batch sketch") {
    // the streaming cardinality story: the register aggregation is a
    // plain stateful max whose state is register-bounded (≤ 2^p rows per
    // group FOREVER, whatever the stream's volume), so distinct-count
    // monitoring runs on an infinite stream with constant memory
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val regs = Sketches.hllRegisters(ms.toDF().toDF("grp", "v"), Seq("grp"), $"v", p = 6)
    val q = regs.writeStream.outputMode("complete").format("memory")
      .queryName("hll_stream").start()
    try {
      ms.addData((0L until 3000L).map(i => ("g", i)): _*)
      q.processAllAvailable()
      ms.addData((3000L until 6000L).map(i => ("g", i)): _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_stream").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      val batch = Sketches
        .hllRegisters((0L until 6000L).map(i => ("g", i)).toDF("grp", "v"),
          Seq("grp"), $"v", p = 6)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.size <= 64)
    } finally q.stop()
  }

  test("Sketches.hllIntersectionEstimate sizes a known overlap without a join") {
    // A = [0, 12000), B = [8000, 20000): true |A∩B| = 4000, |A∪B| = 20000
    val a = (0L until 12000L).map(("g", _)).toDF("grp", "v")
    val b = (8000L until 20000L).map(("g", _)).toDF("grp", "v")
    val ra = Sketches.hllRegisters(a, Seq("grp"), $"v", p = 8)
    val rb = Sketches.hllRegisters(b, Seq("grp"), $"v", p = 8)
    val r = Sketches.hllIntersectionEstimate(ra, rb, Seq("grp"), p = 8)
      .select($"est_a", $"est_b", $"est_union", $"est_intersection")
      .as[(Double, Double, Double, Double)].head()
    // each estimate carries ~6.5% relative error at m=256 (assert 4σ);
    // the intersection inherits all three additively (the documented
    // sizing-instrument caveat) — assert it lands in the right decade
    assert(math.abs(r._1 - 12000) / 12000 < 0.26, s"est_a ${r._1}")
    assert(math.abs(r._2 - 12000) / 12000 < 0.26, s"est_b ${r._2}")
    assert(math.abs(r._3 - 20000) / 20000 < 0.26, s"est_union ${r._3}")
    assert(r._4 > 500 && r._4 < 9000, s"est_intersection ${r._4} vs true 4000")
  }

  test("Sketches.cms: exact without collisions, merge law, never underestimates") {
    val vals = Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq("c")
    val d = vals.toDF("v")
    val regs = Sketches.cmsRegisters(d, Nil, $"v", depth = 3, width = 1024)
    // 3 values × 3 depths in 1024 buckets: no collisions → 9 counters,
    // and every estimate is exact
    assert(regs.count() === 9)
    val est = Sketches
      .cmsEstimate(regs, Nil, Seq("a", "b", "c").toDF("v"), "v", depth = 3, width = 1024)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(est === Map("a" -> 5L, "b" -> 3L, "c" -> 1L))
    // merge of any split = the whole sketch, elementwise
    val merged = Sketches.cmsMergeRegisters(
      Sketches.cmsRegisters(vals.take(4).toDF("v"), Nil, $"v", 3, 1024),
      Sketches.cmsRegisters(vals.drop(4).toDF("v"), Nil, $"v", 3, 1024))
    assert(
      merged.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet ===
        regs.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet)
    // forced-collision regime (width 2): estimates may inflate but NEVER
    // fall below the true count — the CMS one-sided error law
    val many = ((0 until 50).map(i => s"t$i") ++ Seq.fill(7)("t0")).toDF("v")
    val tiny = Sketches.cmsRegisters(many, Nil, $"v", depth = 2, width = 2)
    val truth = many.groupBy($"v").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val est2 = Sketches
      .cmsEstimate(tiny, Nil, many.select($"v").distinct(), "v", depth = 2, width = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    est2.foreach { case (v, e) => assert(e >= truth(v), s"underestimate for $v: $e < ${truth(v)}") }
  }

  test("Sketches.cmsHeavyHitters equals the exact GROUP BY ... HAVING answer (never-miss law)") {
    // per-group token stream with a clear heavy head and a long tail
    val rows =
      (Seq.fill(9)(("en", "the")) ++ Seq.fill(5)(("en", "cat")) ++
        Seq.fill(2)(("en", "dog")) ++ (0 until 30).map(i => ("en", s"rare$i")) ++
        Seq.fill(7)(("de", "der")) ++ Seq.fill(4)(("de", "cat")) ++
        (0 until 20).map(i => ("de", s"selten$i")))
    val df = rows.toDF("lang", "token")
    // forced-collision regime (width 4): CMS estimates inflate, but the
    // exact post-count must still produce EXACTLY the true heavy set
    for (width <- Seq(4, 1024)) {
      val got = Sketches
        .cmsHeavyHitters(df, Seq("lang"), $"token", depth = 3, width = width, minCount = 4L)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got === Set(("en", "the", 9L), ("en", "cat", 5L), ("de", "der", 7L), ("de", "cat", 4L)),
        s"width=$width")
    }
    // groupless form + a null group value must not crash or drop rows
    val gotNoGroup = Sketches
      .cmsHeavyHitters(df, Nil, $"token", 3, 256, minCount = 9L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotNoGroup === Set(("the", 9L), ("cat", 9L))) // cat: 5 en + 4 de
    val withNullGroup = df.withColumn("lang", when($"token" === "the", lit(null)).otherwise($"lang"))
    val gotNull = Sketches
      .cmsHeavyHitters(withNullGroup, Seq("lang"), $"token", 3, 256, minCount = 9L)
      .collect().map(r => (Option(r.getString(0)), r.getString(1), r.getLong(2))).toSet
    assert(gotNull === Set((None, "the", 9L)))
  }

  test("SpaceSaving: exact in the unevicted regime, bounded + never-miss under pressure; harvest = batch HH") {
    import graft.functions.SpaceSaving
    val rows = Seq.fill(9)("the") ++ Seq.fill(5)("cat") ++ Seq.fill(2)("dog") ++
      (0 until 30).map(i => s"rare$i") // N = 46, 33 distinct
    val truth = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def summarize(df: org.apache.spark.sql.DataFrame, m: Int): Map[String, (Long, Long)] = df
      .agg(SpaceSaving.summary(m, $"t").as("s"))
      .select(explode($"s").as("c")).select($"c.value", $"c.count", $"c.err")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // capacity ≥ distinct: nothing evicts, counts exact, errs zero — under
    // partial-agg merges across partitions too
    val exact = summarize(rows.toDF("t").repartition(7), 100)
    assert(exact.view.mapValues(_._1).toMap === truth)
    assert(exact.values.forall(_._2 === 0L))
    // eviction pressure in one summary (m=8 ≪ 33 distinct): state bounded at
    // m; count never underestimates and count−err never overestimates; every
    // value with true count > N/m = 5.75 (only "the") is guaranteed present
    val pressured = summarize(rows.toDF("t").coalesce(1), 8)
    assert(pressured.size <= 8)
    assert(pressured.contains("the"))
    pressured.foreach { case (v, (c, e)) =>
      val t = truth.getOrElse(v, 0L)
      assert(c >= t, s"$v undercounted: $c < $t")
      assert(c - e <= t, s"$v lower bound broken: $c - $e > $t")
    }
    // harvest law: capacity > N/minCount (16 > 11.5) guarantees every value
    // with count ≥ 4 is a candidate; collision-free CMS counts are exact, so
    // the harvest IS the batch cmsHeavyHitters answer
    val df = rows.toDF("t")
    val cands = df.agg(SpaceSaving.summary(16, $"t").as("s"))
      .select(explode($"s").as("c")).select($"c.value".as("value"))
    val regs = Sketches.cmsRegisters(df, Nil, $"t", depth = 3, width = 1024)
    val harvest = Sketches.cmsEstimate(regs, Nil, cands.distinct(), "value", 3, 1024)
      .filter($"cms_count" >= 4L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val batch = Sketches.cmsHeavyHitters(df, Nil, $"t", 3, 1024, minCount = 4L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(harvest === batch)
    assert(harvest === Set(("the", 9L), ("cat", 5L)))
  }

  test("Sketches.cmsRegisters on a stream: bounded state, converges to the batch sketch") {
    // same contract as streaming HLL: the counter aggregation is a plain
    // stateful sum with state bounded by depth × width forever
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[String]
    val regs = Sketches.cmsRegisters(ms.toDF().toDF("v"), Nil, $"v", depth = 2, width = 64)
    val q = regs.writeStream.outputMode("complete").format("memory")
      .queryName("cms_stream").start()
    try {
      ms.addData((0 until 500).map(i => s"t${i % 40}"): _*)
      q.processAllAvailable()
      ms.addData((500 until 900).map(i => s"t${i % 40}"): _*)
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Sketches
        .cmsRegisters((0 until 900).map(i => s"t${i % 40}").toDF("v"), Nil, $"v", 2, 64)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.size <= 128)
    } finally q.stop()
  }

  test("Sketches.hll: groups sketch independently; merge unions disjoint groups") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 1L)).toDF("grp", "v")
    val regs = Sketches.hllRegisters(df, Seq("grp"), $"v", p = 6)
    // same value → same (register, rho) in both groups
    val byGrp = regs.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .groupBy(_._1).map { case (g, rows) => g -> rows.map(t => (t._2, t._3)).toSet }
    assert(byGrp("b").subsetOf(byGrp("a")))
    assert(byGrp("a").size === 2 && byGrp("b").size === 1)
    // merging sketches with disjoint group sets stacks them
    val onlyA = Sketches.hllRegisters(df.filter($"grp" === "a"), Seq("grp"), $"v", p = 6)
    val onlyB = Sketches.hllRegisters(df.filter($"grp" === "b"), Seq("grp"), $"v", p = 6)
    val m = Sketches.hllMergeRegisters(onlyA, onlyB)
    assert(m.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet ===
      regs.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet)
  }
}
