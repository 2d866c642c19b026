package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination at INGEST time — the streaming face of
  * [[SetSimilarity.crossOverlap]].
  *
  * `crossOverlap` is the closed-corpus batch primitive: both corpora
  * stream through one postings shuffle. A queue-mode pipeline (the
  * reference's streaming ingest, `main.py:670-801`, composed with the
  * training-data brief) needs the same check per ARRIVING document, and a
  * stream cannot join a postings table that its own future rows would
  * extend. What it can do is exploit the asymmetry the batch op does not
  * require but ingest has by contract: the benchmark side is a FIXED,
  * small eval set. So the benchmark's inverted shingle index is collected
  * once and broadcast, and each arriving document probes it with a pure
  * per-row kernel — exact per-(doc, bench-doc) overlap counts, identical
  * to an uncapped `crossOverlap` (pinned by spec), with ZERO streaming
  * state and zero shuffles. Composed after the gate's stateless
  * [[Dedup.incrementalByHash]], the ingest plan needs no state store.
  *
  * Works identically on batch frames (it is a stateless projection), which
  * is what the SQL oracle gates.
  */
object Decontaminate {

  /** Flag every document by its strongest benchmark overlap: adds
    * `n_overlap` (max distinct shared shingles over bench docs),
    * `bench_id` (the bench doc attaining it; smallest id on ties; null
    * when no shingle matches) and `contaminated` (n_overlap ≥ minOverlap).
    *
    * The benchmark postings collect to the driver and broadcast —
    * `maxBenchShingles` is the loud guard on that contract (a "benchmark"
    * so large it stops being broadcastable belongs in the batch
    * [[SetSimilarity.crossOverlap]] instead). */
  def flagContaminated(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      minOverlap: Int = 5,
      maxBenchShingles: Long = 10_000_000L): DataFrame = {
    require(minOverlap >= 1)
    for (c <- Seq("n_overlap", "bench_id", "contaminated"))
      require(!docs.columns.contains(c), s"input already has a '$c' column")
    // benchmark inverted index: shingle -> bench ids (ids as strings so the
    // kernel is id-type agnostic)
    val postings: Map[String, Array[String]] =
      MinHashLSH.shingles(benchmark, idCol, textCol, shingleLen)
        .groupBy(col("shingle"))
        .agg(collect_list(col(idCol).cast("string")).as("ids"))
        .collect()
        .map(r => r.getString(0) -> r.getSeq[String](1).toArray)
        .toMap
    val nShingles = postings.valuesIterator.map(_.length.toLong).sum
    require(nShingles <= maxBenchShingles,
      s"benchmark index has $nShingles shingle postings (> $maxBenchShingles): too large to " +
        "broadcast — use SetSimilarity.crossOverlap for corpus-scale sides")
    val bc = docs.sparkSession.sparkContext.broadcast(postings)
    val probe = udf { sh: Seq[String] =>
      val idx = bc.value
      if (sh == null) (0L, null: String)
      else {
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        sh.foreach { s =>
          idx.get(s).foreach(_.foreach(b => counts.update(b, counts.getOrElse(b, 0L) + 1L)))
        }
        if (counts.isEmpty) (0L, null: String)
        else counts.toSeq.map { case (b, n) => (n, b) }.sortBy { case (n, b) => (-n, b) }.head
      }
    }
    docs
      .withColumn("_deco", probe(MinHashLSH.shingleArray(col(textCol), shingleLen)))
      .withColumn("n_overlap", col("_deco._1"))
      .withColumn("bench_id", col("_deco._2"))
      .withColumn("contaminated", col("n_overlap") >= lit(minOverlap))
      .drop("_deco")
  }
}
