package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.operators.{Decontaminate, Dedup, SetSimilarity}

/** Ingest-time benchmark decontamination: the broadcast-kernel flag must
  * reproduce the batch crossOverlap primitive exactly, and compose with
  * the gate's incremental dedup without adding streaming state. */
class DecontaminateSpec extends SparkSpec {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("flagContaminated: exact max-overlap, min-id tie-break, null bench_id when clean") {
    val train = docs(
      1L -> "a b c d e f", // 3 shingles with bench 10
      2L -> "a b c x y z", // 1 shingle with bench 10
      3L -> "p q r s t u") // all 4 with bench 11 AND bench 12 (tie → min id)
    val bench = docs(
      10L -> "a b c d e g",
      11L -> "p q r s t u",
      12L -> "p q r s t u",
      13L -> "m n o m n o") // matches nothing
    val got = Decontaminate
      .flagContaminated(train, bench, "doc_id", "text", shingleLen = 3, minOverlap = 3)
      .select($"doc_id", $"n_overlap", $"bench_id", $"contaminated")
      .as[(Long, Long, Option[String], Boolean)].collect().toSet
    assert(got === Set(
      (1L, 3L, Some("10"), true),
      (2L, 1L, Some("10"), false),
      (3L, 4L, Some("11"), true)))
  }

  test("flagContaminated matches uncapped crossOverlap on the documents table") {
    val d     = Tables.documents(spark, sf("sf0.001"))
    val bench = d.filter($"doc_id" % 10 === 0)
    val left  = d.filter($"doc_id" % 10 =!= 0)
    val flagged = Decontaminate
      .flagContaminated(left, bench, "doc_id", "text", minOverlap = 5)
      .filter($"contaminated")
      .select($"doc_id", $"n_overlap").as[(Long, Long)].collect().toMap
    // oracle: the batch postings primitive with the df cap out of the way
    val pairs = SetSimilarity
      .crossOverlap(left, bench, "doc_id", "text", minOverlap = 5, maxDocFreq = Int.MaxValue)
      .as[(Long, Long, Long)].collect()
    val wantMax = pairs.groupBy(_._1).map { case (id, ps) => id -> ps.map(_._3).max }
    assert(flagged === wantMax)
    assert(flagged.nonEmpty, "fixture must exercise real contamination")
  }

  test("streaming ingest: incremental dedup + contamination flag, no state store") {
    implicit val sq = spark.sqlContext
    val bench  = docs(100L -> "x1 x2 x3 x4 x5 x6 x7 x8")
    // the standing corpus hash index, as the gate's dedup stage reads it
    val corpus = docs(50L -> "Clean words only here nothing shared")
      .select(Dedup.normalizedTextHash($"text").as("h"))
    val ms     = MemoryStream[(Long, Timestamp, String)]
    val deduped = Dedup.incrementalByHash(
      ms.toDF().toDF("doc_id", "ts", "text"), corpus, "h",
      Dedup.normalizedTextHash(col("text")), expectedCorpusItems = 100L)
    val out = Decontaminate
      .flagContaminated(deduped, bench, "doc_id", "text", shingleLen = 3, minOverlap = 5)
    val q = out.writeStream.outputMode("append").format("memory").queryName("sdecon").start()
    try {
      ms.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "x1 x2 x3 x4 x5 x6 x7 x8 extra"), // leaks bench
        (2L, Timestamp.valueOf("2024-01-01 00:01:00"), "clean words only here nothing shared"), // in the index
        (3L, Timestamp.valueOf("2024-01-01 00:02:00"), "fresh words only here nothing shared"))
      q.processAllAvailable()
      ms.addData(
        (4L, Timestamp.valueOf("2024-01-01 00:03:00"), "x1 x2 x3 nope different tail words")) // 1 shared shingle
      q.processAllAvailable()
      val got = spark.table("sdecon")
        .select($"doc_id", $"is_dup", $"n_overlap", $"contaminated")
        .as[(Long, Boolean, Long, Boolean)].collect()
        .map { case (id, d, n, c) => id -> (d, n, c) }.toMap
      // doc 2 flagged as a corpus dup (flag, not drop); doc 1 contaminated
      // (6 shared shingles ≥ 5); doc 4 sub-threshold
      assert(got === Map(
        1L -> (false, 6L, true),
        2L -> (true, 0L, false),
        3L -> (false, 0L, false),
        4L -> (false, 1L, false)))
      // neither the dedup nor the contamination probe holds streaming state
      assert(q.lastProgress.stateOperators.isEmpty)
    } finally q.stop()
  }
}
