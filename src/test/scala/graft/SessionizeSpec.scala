package graft

import org.apache.spark.sql.functions._
import graft.operators.Sessionize

/** Edge cases from FIXTURES.md §A1 scenarios and SURVEY §2.3. */
class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def runs(rows: Seq[(Long, Int, String)], margin: Long) = {
    val df = rows.toDF("idx", "mode", "target")
    Sessionize
      .regions(df, $"idx", Seq("mode", "target"), margin = Some(margin))
      .groupBy($"region_id")
      .agg(min($"target").as("target"), min($"idx").as("lo"), max($"idx").as("hi"), count(lit(1)).as("n"))
      .orderBy($"region_id")
      .collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
  }

  test("contiguous same-key run is one region") {
    assert(runs(Seq((0L, 4, "t1"), (1L, 4, "t1"), (2L, 4, "t1")), 2) ===
      Array(("t1", 0L, 2L, 3L)))
  }

  test("target change mid-run splits the region (scenario 2)") {
    assert(runs(Seq((0L, 4, "t1"), (1L, 4, "t1"), (2L, 4, "t2"), (3L, 4, "t2")), 2) ===
      Array(("t1", 0L, 1L, 2L), ("t2", 2L, 3L, 2L)))
  }

  test("gap < margin merges same-target runs (scenario 1)") {
    // rows 0-1 and 3-4 same target: gap of one skipped row (idx 2) merges
    assert(runs(Seq((0L, 4, "t1"), (1L, 4, "t1"), (3L, 4, "t1"), (4L, 4, "t1")), 2) ===
      Array(("t1", 0L, 4L, 4L)))
  }

  test("gap > margin does NOT merge") {
    assert(runs(Seq((0L, 4, "t1"), (1L, 4, "t1"), (4L, 4, "t1")), 2) ===
      Array(("t1", 0L, 1L, 2L), ("t1", 4L, 4L, 1L)))
  }

  test("region ending at granule end closes (scenario 6)") {
    assert(runs(Seq((0L, 2, "t1"), (1L, 4, "t2")), 2) ===
      Array(("t1", 0L, 0L, 1L), ("t2", 1L, 1L, 1L)))
  }

  test("time-gap sessionization splits on inactivity") {
    val df = Seq(
      (1L, "2024-01-01 00:00:00"),
      (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 01:10:01"), // > 3600s after previous
      (2L, "2024-01-01 00:00:00")
    ).toDF("uid", "s").withColumn("ts", to_timestamp($"s"))
    val got = Sessionize
      .regions(df, unix_timestamp($"ts"), Nil, Seq("uid"), margin = Some(3600), regionCol = "session_id")
      .groupBy($"uid", $"session_id")
      .count()
      .orderBy($"uid", $"session_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got === Array((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 1L)))
  }

  test("wildcard coalescing inherits neighbor target (R5 'none' semantics)") {
    val df = Seq(
      (0L, "none"), (1L, "a"), (2L, "none"), (3L, "none"), (4L, "b"), (5L, "none")
    ).toDF("idx", "target")
    val got = Sessionize
      .regions(df, $"idx", Seq("target"), fill = Some(Sessionize.Fill("target", "none", drop = Set.empty)))
      .orderBy($"idx")
      .collect()
      .map(r => (r.getString(1), r.getLong(2)))
    // leading 'none' back-fills from 'a'; interior forward-fills; trailing
    // forward-fills from 'b'
    assert(got.map(_._1) === Array("a", "a", "a", "a", "b", "b"))
    assert(got.map(_._2) === Array(0L, 0L, 0L, 0L, 1L, 1L))
  }

  test("global-window misuse guard triggers only on big inputs with no partitionCols (r10 verdict)") {
    // spark.range carries an exact plan-time size estimate (8 bytes/row) —
    // no job runs here; only the trigger condition is pinned
    val small = spark.range(1000L).toDF("idx")
    val big   = spark.range((Sessionize.GlobalWindowWarnBytes / 8L).toLong + 1000L).toDF("idx")
    assert(!Sessionize.globalWindowFallback(small, Nil))         // small slice: documented contract
    assert(!Sessionize.globalWindowFallback(big, Seq("idx")))    // partitioned: fine at any size
    assert(Sessionize.globalWindowFallback(big, Nil))            // the one silent scale killer: loud
    // the guarded entry point still computes correctly when it warns
    val out = Sessionize.regions(
      spark.range(10L).toDF("idx").withColumn("k", lit("a")), col("idx"), Seq("k"))
    assert(out.agg(max(col("region_id"))).head().getLong(0) === 0L)
  }

  test("strict mode turns the global-window misuse into a plan-time failure (r12 verdict)") {
    val big = spark.range((Sessionize.GlobalWindowWarnBytes / 8L).toLong + 1000L)
      .toDF("idx").withColumn("k", lit("a"))
    spark.conf.set(Sessionize.StrictConfKey, "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Sessionize.regions(big, col("idx"), Seq("k"))
      }
      assert(e.getMessage.contains(Sessionize.StrictConfKey))
      // partitioned big inputs and small unpartitioned slices stay allowed
      assert(Sessionize.regions(big, col("idx"), Seq("k"), partitionCols = Seq("k"))
        .columns.contains("region_id"))
      assert(Sessionize.regions(spark.range(10L).toDF("idx").withColumn("k", lit("a")),
        col("idx"), Seq("k")).columns.contains("region_id"))
      intercept[IllegalArgumentException] {
        Sessionize.regions(big, col("idx"), Seq("k"), margin = Some(2L))
      }
    } finally spark.conf.unset(Sessionize.StrictConfKey)
  }

  test("malformed strict-flag values are a loud configuration error, not silent warn-only (r14 advice)") {
    val big = spark.range((Sessionize.GlobalWindowWarnBytes / 8L).toLong + 1000L)
      .toDF("idx").withColumn("k", lit("a"))
    // "1"/"yes" intended to ENABLE fail-fast must not silently disable it
    for (bad <- Seq("1", "yes", "TRUEE")) {
      spark.conf.set(Sessionize.StrictConfKey, bad)
      try {
        val e = intercept[IllegalArgumentException] {
          Sessionize.regions(big, col("idx"), Seq("k"))
        }
        assert(e.getMessage.contains(bad), s"error must name the bad value '$bad'")
      } finally spark.conf.unset(Sessionize.StrictConfKey)
    }
    // case-insensitive true/false both parse
    spark.conf.set(Sessionize.StrictConfKey, "FALSE")
    try assert(Sessionize.regions(big, col("idx"), Seq("k")).columns.contains("region_id"))
    finally spark.conf.unset(Sessionize.StrictConfKey)
  }
}
