package graft

import java.sql.Timestamp
import graft.sources.GranuleManifest

class StatefulSessionsSpec extends SparkSpec {
  import spark.implicits._

  test("completeness gating holds days with unexplained missing missions") {
    val present = Seq(
      ("2023-06-15", "oco2"), ("2023-06-15", "oco3"), ("2023-06-15", "oco3_sif"),
      ("2023-06-16", "oco3"), // oco2 missing, in gap; oco3_sif missing, NOT in gap
      ("2023-06-17", "oco3"), ("2023-06-17", "oco3_sif")) // oco2 missing, in gap
    val gaps = Map("oco2" -> Seq(("2023-06-16", "2023-06-30")))
    val (ready, held) = GranuleManifest.gateCompleteness(
      present, Set("oco2", "oco3", "oco3_sif"), gaps)
    assert(ready === Seq("2023-06-15", "2023-06-17"))
    assert(held === Map("2023-06-16" -> Set("oco3_sif")))
  }

  test("streaming exact dedup drops within-watermark duplicate content across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, String)]
    val out = graft.operators.Dedup.streamingExactByHash(
      ms.toDF().toDF("doc_id", "ts", "text"),
      "ts", "10 minutes",
      graft.operators.Dedup.normalizedTextHash(col("text")))
    val q = out.writeStream.outputMode("append").format("memory").queryName("sdedup").start()
    try {
      // batch 1: a doc, a distinct doc, and a same-batch normalized dup
      ms.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:00:00"), "Same  Text"),
        (2L, Timestamp.valueOf("2024-01-01 00:01:00"), "other text"),
        (3L, Timestamp.valueOf("2024-01-01 00:02:00"), "same text"))
      q.processAllAvailable()
      // batch 2: a cross-batch dup (within the 10 min watermark of doc 1)
      // and a genuinely new doc
      ms.addData(
        (4L, Timestamp.valueOf("2024-01-01 00:03:00"), "SAME TEXT"),
        (5L, Timestamp.valueOf("2024-01-01 00:04:00"), "third text"))
      q.processAllAvailable()
      val kept = spark.table("sdedup").select("doc_id").as[Long].collect().toSet
      assert(kept === Set(1L, 2L, 5L)) // 3 and 4 are normalized dups of 1
    } finally q.stop()
  }
}
