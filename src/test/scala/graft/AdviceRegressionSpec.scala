package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, NearestJoin}

/** Pins the round-1 advisor scenarios that the oracle queries do not reach
  * directly: torn as-of rows under null value columns, left-row retention
  * under null payloads in the argmin join, and basename-based manifest
  * classification for single-file granules. */
class AdviceRegressionSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("bench delta parser reads raw timings only, never the delta_sec block (r3 artifact)") {
    // a committed BENCH_r*.json holds BOTH objects keyed by query name; the
    // r3 harness scraped keys file-wide and delta values overwrote raw
    // timings for every query present in both blocks
    val committed =
      """{"metric":"total","value":10.0,"unit":"sec",""" +
        """"queries":{"q01_a":1.500,"q02_b":2.000},""" +
        """"failed":[],"sf":"sf0.1",""" +
        """"delta_vs":"BENCH_r02.json","delta_sec":{"q01_a":9.999,"q02_b":-9.999}}"""
    val parsed = Bench.parsePrevQueries(committed)
    assert(parsed === Map("q01_a" -> 1.5, "q02_b" -> 2.0))
    // driver-escaped form (the metric line stored as a quoted string)
    val escaped = committed.replace("\"", "\\\"")
    assert(Bench.parsePrevQueries(escaped) === Map("q01_a" -> 1.5, "q02_b" -> 2.0))
    // no queries block → empty, not a crash
    assert(Bench.parsePrevQueries("""{"metric":"total"}""") === Map.empty)
    // a record holding BOTH the compact tail line (short qNN keys) and the
    // detail line: deltas join on full names, so the full-name block wins
    // regardless of order (r10: tail-truncated record parsed as null)
    val twoBlocks =
      """{"metric":"total","queries":{"q01":1.499,"q02":2.001},"sf":"sf0.1"}""" + "\n" +
        committed
    assert(Bench.parsePrevQueries(twoBlocks) === Map("q01_a" -> 1.5, "q02_b" -> 2.0))
    // driver tails usually truncate the detail line's HEAD, leaving only the
    // compact short-key block: deltas must still join via prefix shortening
    // (r12: delta_sec came back empty against a short-keyed baseline)
    val shortOnly = Bench.parsePrevQueries(
      """..."queries":{"q01":1.499,"q100":0.589},"sf":"sf0.1"...""")
    assert(shortOnly === Map("q01" -> 1.499, "q100" -> 0.589))
    assert(Bench.baselineFor(shortOnly, "q01_pricing_summary") === Some(1.499))
    assert(Bench.baselineFor(shortOnly, "q100_cluster_sample") === Some(0.589))
    assert(Bench.baselineFor(shortOnly, "q02_filter_project") === None)
    // a full-named baseline never falls back to a short-key match
    assert(Bench.baselineFor(Map("q01_other" -> 9.9), "q01_pricing_summary") === None)
    assert(Bench.baselineFor(Map("q01_pricing_summary" -> 1.2), "q01_pricing_summary") === Some(1.2))
  }

  test("as-of join never tears a row: null value columns stay with the newest right row") {
    // right rows: older row has val_a set; NEWEST prior row has val_a NULL.
    // A per-column fill would steal val_a from the older row; the struct
    // fill must keep (val_a=null, val_b=20) together from the newest row.
    val left = Seq((1L, ts("2024-01-01 10:00:00"), "purchase"))
      .toDF("user_id", "ts", "kind")
    val right = Seq(
      (1L, ts("2024-01-01 08:00:00"), 100L, Option(99.0), Option(1.0)),
      (1L, ts("2024-01-01 09:00:00"), 101L, Option.empty[Double], Option(20.0)))
      .toDF("user_id", "ts", "rid", "val_a", "val_b")
    val out = AsOfJoin
      .lastPrior(left, right, Seq("user_id"), "ts", "rid", Seq("rid", "val_a", "val_b"))
      .collect()(0)
    assert(out.getAs[Long]("asof_rid") === 101L)
    assert(out.isNullAt(out.fieldIndex("asof_val_a"))) // NOT 99.0 from the older row
    assert(out.getAs[Double]("asof_val_b") === 20.0)
    assert(out.getAs[Timestamp]("asof_ts") === ts("2024-01-01 09:00:00"))
  }

  test("as-of tolerance nulls out-of-window matches without falling back") {
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (2L, ts("2024-01-01 10:00:00"))).toDF("user_id", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 7L), // within 1h
      (2L, ts("2024-01-01 07:00:00"), 8L)) // nearest prior, but 3h old
      .toDF("user_id", "ts", "rid")
    val out = AsOfJoin
      .lastPrior(left, right, Seq("user_id"), "ts", "rid", Seq("rid"),
        toleranceSeconds = Some(3600L))
      .orderBy("user_id").collect()
    assert(out(0).getAs[Long]("asof_rid") === 7L)
    assert(out(1).isNullAt(out(1).fieldIndex("asof_rid"))) // nulled, no fallback
  }

  test("argmin join keeps left rows whose payload columns are null") {
    val left = Seq(
      (1L, 5.0, Option("x")),
      (2L, 7.0, Option.empty[String])) // null payload must NOT vanish
      .toDF("lid", "v", "tag")
    val right = Seq((10L, 4.0), (20L, 8.0)).toDF("rid", "rv")
    val out = NearestJoin
      .argmin1D(left, right, leftKey = "lid", leftVal = "v",
        rightKey = "rid", rightVal = "rv")
      .orderBy("lid").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("rid") === 10L)
    assert(out(1).getAs[Long]("rid") === 20L)
    assert(out(1).isNullAt(out(1).fieldIndex("tag")))
    // null coordinates are absent from the output (no valid match)
    val withNullCoord = left.withColumn("v", when(col("lid") === 1, lit(null)).otherwise(col("v")))
    val out2 = NearestJoin.argmin1D(withNullCoord, right, "lid", "v", "rid", "rv").collect()
    assert(out2.map(_.getAs[Long]("lid")).toSeq === Seq(2L))
  }

  test("packBins never drops null-text docs: they pack as one-token rows (r10 advice)") {
    import graft.operators.Packing
    val docs = Seq(
      (1L, "a b c"),
      (2L, null.asInstanceOf[String]), // would be null length → silently dropped
      (3L, ""),                        // split("") → [""] → 1 token
      (4L, "a b c d e f g h i j"))     // oversize at seqLen 4
      .toDF("doc_id", "text")
    val out = Packing.packBins(docs, "doc_id", "text", seqLen = 4)
    assert(out.count() === 4L) // every input doc present
    val byId = out.collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_tokens"), r.getAs[Boolean]("oversize"))).toMap
    assert(byId(2L) === ((1L, false)))
    assert(byId(3L) === ((1L, false)))
    assert(byId(4L)._2 === true)
    // regular docs fill bins to capacity: 3 + 1 + 1 = 5 tokens → 2 bins + 1 oversize
    val bins = out.filter(!col("oversize")).select("bin").distinct().count()
    assert(bins === 2L)
  }

  test("jsonl export: empty input returns 0 shards, null text ships as one token (r10 advice)") {
    import graft.sinks.TrainingExport
    val dir = java.nio.file.Files.createTempDirectory("jsonl_adv")
    // empty input: no NPE, zero shards
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TrainingExport.jsonl(empty, "doc_id", "text", s"$dir/empty", 10L) === 0L)
    // null text: the doc still lands in a shard (not the default partition)
    val docs = Seq((1L, "a b c"), (2L, null.asInstanceOf[String]), (3L, "d e")).toDF("doc_id", "text")
    val n = TrainingExport.jsonl(docs, "doc_id", "text", s"$dir/out", 100L)
    assert(n === 1L)
    val back = spark.read.text(s"$dir/out")
    assert(back.count() === 3L)
  }

  test("keepBestInCluster works with string ids; ties break to lexicographically smallest (r10 advice)") {
    import graft.operators.Dedup
    val pairs  = Seq(("docB", "docA"), ("docA", "docC")).toDF("a", "b")
    val scores = Seq(("docA", 1.0), ("docB", 5.0), ("docC", 5.0)).toDF("id", "score")
    val out = Dedup.keepBestInCluster(pairs, "a", "b", scores, "id", "score").collect()
    assert(out.length === 1)
    // docB and docC tie at 5.0 — smallest id among the best wins
    assert(out(0).getAs[String]("keep_id") === "docB")
    assert(out(0).getAs[Double]("best_score") === 5.0)
    assert(out(0).getAs[Long]("n_members") === 3L)
  }

  test("keepBestInCluster: a null-scored member LOSES to any real score (r11 advice)") {
    import graft.operators.Dedup
    // one cluster {A,B,C}; B has score NULL. Pre-fix, -NULL = NULL sorted
    // FIRST in the struct-min, so B always won with best_score = null.
    val pairs  = Seq(("A", "B"), ("B", "C")).toDF("a", "b")
    val scores = Seq(("A", Option(1.0)), ("B", Option.empty[Double]), ("C", Option(3.0)))
      .toDF("id", "score")
    val out = Dedup.keepBestInCluster(pairs, "a", "b", scores, "id", "score").collect()
    assert(out.length === 1)
    assert(out(0).getAs[String]("keep_id") === "C")
    assert(out(0).getAs[Double]("best_score") === 3.0)
    assert(out(0).getAs[Long]("n_members") === 3L)
    // all-null cluster: ties at -Inf fall to the smallest id, score stays null
    val nullScores = Seq(("A", Option.empty[Double]), ("B", Option.empty[Double]),
      ("C", Option.empty[Double])).toDF("id", "score")
    val allNull = Dedup.keepBestInCluster(pairs, "a", "b", nullScores, "id", "score").collect()
    assert(allNull.length === 1)
    assert(allNull(0).getAs[String]("keep_id") === "A")
    assert(allNull(0).isNullAt(allNull(0).fieldIndex("best_score")))
  }

  test("cmsHeavyHitters: TimestampType group columns keep the never-miss law (r11 advice)") {
    import graft.operators.Sketches
    // JVM Timestamp.toString renders "…00:00:00.0"; Spark cast("string")
    // renders "…00:00:00". Pre-fix the broadcast register table used the
    // JVM form while the probe used Spark's, so every estimate was 0 and
    // true heavy hitters were silently dropped before the exact count.
    val day = ts("2024-03-01 00:00:00")
    val rows = Seq.fill(6)((day, "the")) ++ Seq.fill(2)((day, "dog")) ++
      (0 until 10).map(i => (day, s"rare$i"))
    val df = rows.toDF("day", "token")
    val got = Sketches
      .cmsHeavyHitters(df, Seq("day"), $"token", depth = 3, width = 256, minCount = 4L)
      .collect().map(r => (r.getAs[Timestamp]("day"), r.getString(1), r.getLong(2))).toSet
    assert(got === Set((day, "the", 6L)))
  }

  test("lm-filter / dsir-select null-group docs fall into the scored branch, not dropped (r10 advice)") {
    // exercised end-to-end in CorpusJobSpec; here pin the predicate algebra:
    // coalesce(pred, false) partitions ALL rows across the two branches
    val df = Seq(("a", "ref"), ("b", "web"), ("c", null.asInstanceOf[String])).toDF("id", "source")
    val rawPred  = col("source").isin("ref")
    val safePred = coalesce(rawPred, lit(false))
    assert(df.filter(rawPred).count() + df.filter(!rawPred).count() === 2L) // the bug: row c vanishes
    assert(df.filter(safePred).count() + df.filter(!safePred).count() === 3L)
    assert(df.filter(!safePred).select("id").as[String].collect().sorted === Array("b", "c"))
  }

  test("segmentStats piece counts are identical under a tiny LRU memo cap (r10 advice)") {
    import graft.operators.BpeTrain
    val docs = Seq(
      (1L, "lower lower lowest newer newer newest wider widest lower newer"),
      (2L, "newest widest lowest unique tokens appear once each here today"))
      .toDF("doc_id", "text")
    val merges = BpeTrain.trainMerges(docs, "text", numMerges = 8)
    val full = BpeTrain.segmentStats(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val capped = BpeTrain.segmentStats(docs, "doc_id", "text", merges, memoCap = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full === capped)
    assert(full.values.forall(_ > 0L))
  }
}
