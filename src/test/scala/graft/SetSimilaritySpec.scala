package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{MinHashLSH, Sampling, SetSimilarity}

/** SetSimilarity (exact n-gram Jaccard postings join) and Sampling
  * (deterministic hash splits/samples). */
class SetSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  // the plan TextQueries runs: 3-word shingle postings, set sizes off the
  // raw texts, then the pair join
  private def postings(d: DataFrame) = SetSimilarity.shinglePostings(d, "doc_id", "text", 3)
  private def sizes(d: DataFrame)    = Some(SetSimilarity.shingleSizes(d, "doc_id", "text", 3))
  private def jaccardPairs(d: DataFrame, minJaccard: Double = 0.5, maxDocFreq: Int = 100) =
    SetSimilarity.ngramJaccardFromPostings(postings(d), minJaccard, maxDocFreq, sizes(d))

  test("ngramJaccardNearDup: exact pairs, exact jaccard, a<b ordering") {
    val d = docs(
      1L -> "a b c d e f",
      2L -> "a b c d e f", // identical to 1 → jaccard 1.0
      3L -> "a b c d e g", // 3 of 4 shingles shared with 1 → 3/5 = 0.6
      4L -> "x y z w v u"  // disjoint
    )
    val got = jaccardPairs(d, minJaccard = 0.5)
      .orderBy($"doc_a", $"doc_b")
      .as[(Long, Long, Long, Double)]
      .collect()
      .toList
    // doc1/doc2: 4 shingles each, all common → (4, 1.0); doc1/doc3 and
    // doc2/doc3: shingles {abc,bcd,cde} common of {abc,bcd,cde,def} vs
    // {abc,bcd,cde,deg} → (3, 3/5)
    assert(got === List(
      (1L, 2L, 4L, 1.0),
      (1L, 3L, 3L, 0.6),
      (2L, 3L, 3L, 0.6)))
  }

  test("ngramJaccardNearDup: df-cap drops boilerplate-only pairs, keeps real overlap") {
    // Shingle "a b c" occurs in ALL 4 docs (df=4 > cap=3): pairs whose only
    // overlap is that shingle must vanish; the pair that ALSO shares a rare
    // shingle survives, and its jaccard still counts the capped shingle
    // (verification is exact over full sets).
    val d = docs(
      1L -> "a b c p q r", // shares "a b c" with everyone, {p q r} with 2
      2L -> "a b c p q r",
      3L -> "a b c m n o",
      4L -> "a b c s t u"
    )
    val all = jaccardPairs(d, minJaccard = 0.0, maxDocFreq = 4)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(all === Set((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    val capped = jaccardPairs(d, minJaccard = 0.0, maxDocFreq = 3)
      .as[(Long, Long, Long, Double)].collect().toList
    // Only 1-2 share a sub-cap shingle; its n_common still counts ALL 4
    // common shingles (a b c, b c p, c p q, p q r) → jaccard 1.0
    assert(capped === List((1L, 2L, 4L, 1.0)))
  }

  test("ngramJaccardNearDup superset of MinHash-LSH pairs on the documents table") {
    val d = Tables.documents(spark, sf("sf0.001"))
    val exact = jaccardPairs(d, 0.5, 100)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val lsh = MinHashLSH
      .nearDuplicates(d, "doc_id", "text", 3, 8, 2, 0.5)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), s"LSH found pairs exact missed: ${lsh -- exact}")
    assert(exact.nonEmpty)
  }

  test("ngramJaccardNearDup: degenerate all-duplicate corpus yields no pairs but warns loudly") {
    // every shingle's df equals the corpus size → all hot under the cap →
    // bounded work, zero pairs (the documented false-negative contract),
    // and the postings-cap observe guard must make the silent drop loud
    val d = docs((1L to 20L).map(i => i -> "a b c d e f"): _*)
    graft.operators.LshDiagnostics.lastWarning = None
    val out = jaccardPairs(d, minJaccard = 0.5, maxDocFreq = 10)
      .collect()
    assert(out.isEmpty)
    val deadline = System.nanoTime() + 10_000_000_000L // listener bus is async
    while (graft.operators.LshDiagnostics.lastWarning.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(50)
    val w = graft.operators.LshDiagnostics.lastWarning
    assert(w.exists(m => m.contains("ngram_jaccard") && m.contains("maxDocFreq=10") &&
      m.contains("largest df: 20")), s"expected postings-cap warning, got $w")
  }

  test("crossOverlap: exact cross-corpus counts, no within-side pairs, df-cap drops hot shingles") {
    val train = docs(
      1L -> "a b c d e f",  // shares shingles {abc,bcd,cde} with holdout 10
      2L -> "a b c x y z",  // shares only "a b c" with 10
      3L -> "p q r s t u")  // disjoint from holdout
    val holdout = docs(
      10L -> "a b c d e g",
      11L -> "p q r s t u") // identical to train 3
    val got = SetSimilarity
      .crossOverlap(train, holdout, "doc_id", "text", shingleLen = 3, minOverlap = 2, maxDocFreq = 10)
      .as[(Long, Long, Long)].collect().toSet
    // 1↔10 share {abc,bcd,cde} = 3; 3↔11 share all 4; 2↔10 share 1 (< minOverlap);
    // 1↔2 both in train — never paired
    assert(got === Set((1L, 10L, 3L), (3L, 11L, 4L)))
    // cap=1 on the holdout side: "a b c" has holdout-df 1 but train-df 2 → dropped;
    // 1↔10 falls to {bcd,cde} = 2, 3↔11 unaffected (its shingles are train-df 1)
    val capped = SetSimilarity
      .crossOverlap(train, holdout, "doc_id", "text", shingleLen = 3, minOverlap = 2, maxDocFreq = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(capped === Set((1L, 10L, 2L), (3L, 11L, 4L)))
  }

  test("connectedComponents: transitive clusters, min-id labels") {
    import graft.operators.Dedup
    // path 1-2-3-4 (needs diameter rounds of label propagation) + disjoint pair (10,11)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: exact labels on paths, cliques, self-pairs; result survives re-read") {
    import graft.operators.Dedup
    // mixed topology: a path, a triangle sharing no nodes, an isolated
    // self-pair (degenerate input a==b), min ids NOT at the path ends
    val pairs = Seq((5L, 2L), (2L, 9L), (9L, 7L), (20L, 21L), (21L, 22L), (20L, 22L), (30L, 30L))
      .toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    val want = Map(2L -> 2L, 5L -> 2L, 7L -> 2L, 9L -> 2L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 30L -> 30L)
    assert(labels.as[(Long, Long)].collect().toMap === want)
    // the freed intermediate checkpoints must not break a SECOND action on
    // the returned frame (only the final labels stay materialized)
    assert(labels.as[(Long, Long)].collect().toMap === want)
  }

  test("connectedComponents: a shuffled 10^4-node path converges within 20 rounds") {
    import graft.operators.Dedup
    val n = 10000
    // worst case for min-label propagation: one chain of diameter n, with
    // ids permuted so the minimum sits mid-chain (position-based ids would
    // gift monotone chains to the algorithm)
    val perm  = scala.util.Random.shuffle((0 until n).toVector)
    val pairs = (0 until n - 1).map(i => (perm(i).toLong, perm(i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val (labels, rounds) = Dedup.components(pairs, "doc_a", "doc_b")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length === n)
    assert(got.forall(_._2 === 0L), "every node labels to the component minimum")
    // star contraction halves a chain's diameter every O(1) rounds: 11–12
    // rounds on shuffled 10^4 chains, 14 on sorted and reversed ones
    assert(rounds <= 20, s"$rounds rounds")
  }

  test("hashSplit: deterministic, exhaustive, weight-shaped") {
    val d = Tables.documents(spark, sf("sf0.001"))
    val splits = Seq(("train", 90), ("val", 5), ("test", 5))
    val a = Sampling.hashSplit(d, "doc_id", splits).select("doc_id", "bucket", "split")
    val b = Sampling.hashSplit(d, "doc_id", splits).select("doc_id", "bucket", "split")
    assert(a.except(b).count() === 0 && b.except(a).count() === 0) // stable
    val counts = a.groupBy("split").count().as[(String, Long)].collect().toMap
    val n = d.count()
    assert(counts.values.sum === n)                    // exhaustive
    assert(counts("train") > counts.getOrElse("val", 0L))
    assert(a.filter($"bucket" < 0 || $"bucket" >= 100).count() === 0)
    // every bucket < 90 is train, etc. — range assignment is exact
    assert(a.filter($"bucket" < 90 && $"split" =!= "train").count() === 0)
    assert(a.filter($"bucket".between(90, 94) && $"split" =!= "val").count() === 0)
    assert(a.filter($"bucket" >= 95 && $"split" =!= "test").count() === 0)
  }

  test("stratifiedSample: exactly min(k, |stratum|) per group, deterministic, nests in pre-thin") {
    val d  = Tables.documents(spark, sf("sf0.001"))
    val s3 = Sampling.stratifiedSample(d, "doc_id", Seq("lang", "source"), 3)
    val sizes = s3.groupBy("lang", "source").count().as[(String, String, Long)].collect()
    assert(sizes.forall(_._3 <= 3))
    val strata = d.groupBy("lang", "source").count().as[(String, String, Long)]
      .collect().map { case (l, src, n) => (l, src) -> n }.toMap
    sizes.foreach { case (l, src, n) => assert(n === math.min(3L, strata((l, src)))) }
    assert(sizes.map(_._3).sum === strata.values.map(math.min(3L, _)).sum) // every stratum present
    val again = Sampling.stratifiedSample(d, "doc_id", Seq("lang", "source"), 3)
    assert(s3.select("doc_id").except(again.select("doc_id")).count() === 0)
    // pre-thinning with a sample that keeps >= k per stratum picks the SAME rows
    val thin = Sampling.stratifiedSample(
      Sampling.deterministicSample(d, "doc_id", 80, 100), "doc_id", Seq("lang", "source"), 1)
    val full = Sampling.stratifiedSample(d, "doc_id", Seq("lang", "source"), 1)
    // only strata whose rank-1 row survived the thin can be compared
    val surviving = Sampling.deterministicSample(d, "doc_id", 80, 100).select("doc_id")
    val fullKept  = full.join(surviving, "doc_id").select($"lang", $"source", $"doc_id")
    assert(fullKept.except(thin.select($"lang", $"source", $"doc_id")).count() === 0)
  }

  test("empty and sub-shingle inputs flow through without errors") {
    import graft.operators.Dedup
    val empty = docs()
    val short = docs(1L -> "a b", 2L -> "x") // fewer words than shingleLen
    assert(jaccardPairs(empty).count() === 0)
    assert(jaccardPairs(short).count() === 0)
    assert(SetSimilarity.crossOverlap(empty, short, "doc_id", "text", minOverlap = 1).count() === 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"), "doc_a", "doc_b").count() === 0)
    assert(Sampling.hashSplit(empty, "doc_id", Seq(("train", 1))).count() === 0)
    assert(Sampling.stratifiedSample(short, "doc_id", Seq("text"), 1).count() === 2)
  }

  test("vocabulary and tokenRarity: exact counts on a known corpus") {
    import graft.operators.TextAnalysis
    val d = docs(1L -> "aa bb aa", 2L -> "aa cc")
    // pieces: doc1 = "aa", " bb", " aa"; doc2 = "aa", " cc" — the
    // leading-space form is a distinct piece, so "aa" (start-of-doc) has
    // n=2 and the n=1 tie breaks lexicographically
    val vocab = TextAnalysis.vocabulary(d, "text", k = 3)
      .as[(String, Long)].collect().toList
    assert(vocab === List(("aa", 2L), (" aa", 1L), (" bb", 1L)))
    val rare = TextAnalysis.tokenRarity(d, "doc_id", "text", rareBelow = 2L)
      .orderBy($"doc_id").as[(Long, Long, Double, Long)].collect().toList
    // corpus tf: aa=3, bb=1, cc=1 → doc1 mean (3+1+3)/3, 1 rare (bb);
    // doc2 mean (3+1)/2, 1 rare (cc)
    assert(rare === List((1L, 3L, 7.0 / 3, 1L), (2L, 2L, 2.0, 1L)))
  }

  test("deterministicSample: nested fractions, id-addressed") {
    val d  = Tables.documents(spark, sf("sf0.001"))
    val s1 = Sampling.deterministicSample(d, "doc_id", 1, 100).select("doc_id")
    val s5 = Sampling.deterministicSample(d, "doc_id", 5, 100).select("doc_id")
    assert(s1.except(s5).count() === 0, "1% sample must nest inside 5% sample")
    assert(s5.count() >= s1.count())
    val all = Sampling.deterministicSample(d, "doc_id", 100, 100)
    assert(all.count() === d.count())
  }

  test("containmentNearDup finds the doc-inside-doc pair Jaccard misses") {
    import spark.implicits._
    val short = "p q r s t" // 3 shingles
    val long  = short + " u v w x y z aa bb cc dd" // 13 shingles, short's all inside
    val d = Seq((1L, short), (2L, long), (3L, "k l m n o")).toDF("doc_id", "text")
    val jac = jaccardPairs(d, minJaccard = 0.5)
      .collect()
    assert(jac.isEmpty, "jaccard 3/13 must be under the 0.5 gate")
    val got = SetSimilarity
      .containmentFromPostings(postings(d), minContainment = 0.8, sizes = sizes(d))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got === Array((1L, 2L, 3L, 1.0))) // the short doc is fully contained
  }
}
