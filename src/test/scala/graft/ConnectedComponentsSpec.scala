package graft

import scala.util.Random

import graft.operators.Dedup

/** The one connected-components kernel answers what the union-find
  * reference ([[ComponentsReference]]) answers, on random graphs and on
  * the shapes an inexact star test or a round cap gets wrong. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Clusters of 1–12 ids, each a random tree over shuffled sparse ids
    * plus extra edges, one long chain; then self-pairs, duplicate and
    * mirrored pairs, all in shuffled order. */
  private def randomPairs(rnd: Random, nClusters: Int): Seq[(Long, Long)] = {
    val ids = rnd.shuffle((0L until 40L * nClusters).toVector).take(16 * nClusters)
    var at  = 0
    val clusters = (0 until nClusters).map { c =>
      val k = if (c == 0) 40 else 1 + rnd.nextInt(12)
      val members = ids.slice(at, at + k); at += k
      members
    }
    val edges = clusters.flatMap { m =>
      val tree =
        if (m.length == 40) m.indices.tail.map(i => (m(i - 1), m(i))) // the chain
        else m.indices.tail.map(i => (m(rnd.nextInt(i)), m(i)))
      val extra = if (m.length > 2) Seq.fill(rnd.nextInt(3))((m(rnd.nextInt(m.length)), m(rnd.nextInt(m.length))))
        else Nil
      val self = if (m.length == 1 || rnd.nextInt(4) == 0) Seq((m.head, m.head)) else Nil
      tree ++ extra ++ self
    }
    val dupes = edges.filter(_ => rnd.nextInt(5) == 0).map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
    rnd.shuffle(edges ++ dupes)
  }

  private def check[A: Ordering](pairs: Seq[(A, A)], got: Map[A, A]): Unit =
    assert(got === ComponentsReference.labels(pairs))

  test("connectedComponents equals union-find on seeded random Long-id graphs, any partitioning") {
    // without partition coalescing, each walk's vertex groups spread over
    // 1, 4 or 7 partitions
    val conf = spark.conf
    val keep = Seq("spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.shuffle.partitions")
      .map(k => k -> conf.get(k))
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try for (seed <- 0 until 6) {
      conf.set("spark.sql.shuffle.partitions", Seq(1, 4, 7)(seed % 3).toString)
      val rnd   = new Random(seed)
      val pairs = randomPairs(rnd, 5 + rnd.nextInt(30))
      val df    = pairs.toDF("doc_a", "doc_b").repartition(Seq(1, 3, 7)((seed / 3) % 3))
      val got   = Dedup.connectedComponents(df, "doc_a", "doc_b").as[(Long, Long)].collect()
      assert(got.length === got.map(_._1).distinct.length, s"seed $seed: one row per id")
      check(pairs, got.toMap)
    }
    finally keep.foreach { case (k, v) => conf.set(k, v) }
  }

  test("connectedComponents equals union-find on String ids, whose order is not numeric") {
    for (seed <- 10 until 13) {
      val pairs = randomPairs(new Random(seed), 20).map { case (a, b) => (s"d$a", s"d$b") }
      val df    = pairs.toDF("doc_a", "doc_b").repartition(3)
      check(pairs, Dedup.connectedComponents(df, "doc_a", "doc_b").as[(String, String)].collect().toMap)
    }
  }

  test("connectedComponents on empty input and on self-pairs alone") {
    assert(Dedup.connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b").count() === 0)
    val selfOnly = Seq((4L, 4L), (4L, 4L), (2L, 2L)).toDF("a", "b")
    assert(Dedup.connectedComponents(selfOnly, "a", "b").as[(Long, Long)].collect().toMap ===
      Map(2L -> 2L, 4L -> 4L))
  }

  test("connectedComponents: a 60-node zigzag path is one cluster, also through keepBestInCluster") {
    // 0–100–1–101–…–29–129: every other vertex is a local minimum, so
    // min-label propagation needs ~60 rounds
    val pairs = (0 until 30).flatMap(i =>
      Seq((i.toLong, 100L + i)) ++ (if (i < 29) Seq((100L + i, i + 1L)) else Nil))
    val df = pairs.toDF("doc_a", "doc_b")
    check(pairs, Dedup.connectedComponents(df, "doc_a", "doc_b").as[(Long, Long)].collect().toMap)
    val scores = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(id => (id, (id % 7).toDouble)).toDF("id", "s")
    val best   = Dedup.keepBestInCluster(df, "doc_a", "doc_b", scores, "id", "s").collect()
    assert(best.length === 1)
    assert(best.head.getAs[Long]("n_members") === 60L)
  }

  test("connectedComponents: the path 0–2–1 and a hub 3 over 0, 1, 2 are single clusters") {
    // each has a vertex with two smaller neighbours that is the HIGH
    // endpoint of every edge: a test of low endpoints alone calls it a star
    for (pairs <- Seq(Seq((0L, 2L), (2L, 1L)), Seq((3L, 0L), (3L, 1L), (3L, 2L)))) {
      val got = Dedup.connectedComponents(pairs.toDF("a", "b"), "a", "b").as[(Long, Long)].collect().toMap
      check(pairs, got)
      assert(got.values.toSet === Set(0L))
    }
  }
}
