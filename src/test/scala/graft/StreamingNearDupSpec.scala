package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions.col
import graft.streaming.{CorpusIngest, StreamingNearDup}

class StreamingNearDupSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** `docs` streamed through [[StreamingNearDup.flagBands]] one micro-batch
    * per group, as (doc_id → near_dup_hit) after the sink's band merge. */
  private def flags(name: String, batches: Seq[Seq[(Long, Timestamp, String)]],
      minEstJaccard: Double = 0.5, maxBucket: Int = StreamingNearDup.DefaultMaxBucket): Map[Long, Boolean] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingNearDup.flagBands(
      ms.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
      watermarkMs = 10 * 60 * 1000L, minEstJaccard = minEstJaccard, maxBucket = maxBucket)
    val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      batches.foreach { b => ms.addData(b: _*); q.processAllAvailable() }
      CorpusIngest.mergeBandFlags(spark.table(name)).select("doc_id", "near_dup_hit")
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    } finally q.stop()
  }

  test("streaming near-dup flags within-watermark bucket collisions across batches") {
    val base  = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (1 to 20).map(i => s"z$i").mkString(" ")
    val got = flags("snd", Seq(
      Seq((1L, ts("2024-01-01 00:00:00"), base)),
      // an exact copy one minute later, in a separate micro-batch
      Seq((2L, ts("2024-01-01 00:01:00"), base)),
      // an unrelated doc advances the watermark far past docs 1/2 (+2 h),
      // then a third copy: the bucket state has expired, no stale hit
      Seq((50L, ts("2024-01-01 02:00:00"), other)),
      Seq((3L, ts("2024-01-01 02:01:00"), base))))
    assert(got === Map(1L -> false, 2L -> true, 50L -> false, 3L -> false))
  }

  test("streamed estimate equals the batch signature estimate for a near-dup pair") {
    val a = (1 to 20).map(i => s"w$i").mkString(" ")
    val b = (1 to 20).map(i => if (i == 10) "patched" else s"w$i").mkString(" ") // one mid-word differs
    // batch oracle: the same signature kernel on a static frame, estimate =
    // equal-component fraction of the two signatures
    val sigs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      .select($"doc_id", graft.functions.MinHashSigExpr(col("text"), 3, 8))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val equal = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }
    assert(equal > 0 && equal < 8, s"test texts must be near, not exact: $equal/8")
    assert((0 until 4).exists(band => (0 until 2).forall(r => sigs(1L)(2 * band + r) == sigs(2L)(2 * band + r))),
      "test texts must collide in at least one band")
    def hit(minEst: Double, name: String) = flags(name, Seq(Seq(
      (1L, ts("2024-01-01 00:00:00"), a), (2L, ts("2024-01-01 00:01:00"), b))), minEstJaccard = minEst)(2L)
    // the stream flags the pair exactly up to the batch estimate
    assert(hit(equal / 8.0, "snd2"))
    assert(!hit((equal + 1) / 8.0, "snd3"))
  }

  test("per-bucket state cap bounds retained entries; arrivals still compare against held state (r10 verdict)") {
    val base  = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (1 to 20).map(i => s"z$i").mkString(" ")
    // copies 1 and 2 share every bucket; the unrelated doc 50 then moves
    // the watermark past doc 1 but not past doc 2, and copy 3 arrives
    val batches = Seq(
      Seq((1L, ts("2024-01-01 00:00:00"), base)),
      Seq((2L, ts("2024-01-01 00:09:00"), base)),
      Seq((50L, ts("2024-01-01 00:15:00"), other)),
      Seq((3L, ts("2024-01-01 00:16:00"), base)))
    // uncapped: doc 2 is held, so doc 3 still hits it after doc 1 aged out
    assert(flags("snd_cap_off", batches, maxBucket = 1000) ===
      Map(1L -> false, 2L -> true, 50L -> false, 3L -> true))
    // cap 1: doc 2 still hits the held doc 1 (flags keep flowing at cap)
    // but is not retained, so once doc 1 ages out doc 3 finds nothing —
    // state is bounded at one entry
    assert(flags("snd_cap_on", batches, maxBucket = 1) ===
      Map(1L -> false, 2L -> true, 50L -> false, 3L -> false))
    // at cap 1 later copies in one batch still flag as hits
    assert(flags("snd_cap_flag", Seq(Seq(
      (1L, ts("2024-01-01 00:00:00"), base),
      (2L, ts("2024-01-01 00:01:00"), base),
      (3L, ts("2024-01-01 00:02:00"), base))), maxBucket = 1) ===
      Map(1L -> false, 2L -> true, 3L -> true))
    // the streaming gate defaults the cap ON, mirroring the batch job layer
    assert(CorpusIngest.NearDup("ts").maxBucket === StreamingNearDup.DefaultMaxBucket)
  }

  test("short documents (fewer words than a shingle) never enter buckets") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, String)]
    val out = StreamingNearDup.flagBands(ms.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts")
    val q = out.writeStream.outputMode("append").format("memory").queryName("snd_short").start()
    try {
      ms.addData((1L, ts("2024-01-01 00:00:00"), "only two"))
      q.processAllAvailable()
      ms.addData((2L, ts("2024-01-01 00:01:00"), "only two"))
      q.processAllAvailable()
      // one unflagged row per document: no band rows, no bucket to collide in
      val rows = spark.table("snd_short").select("doc_id", "near_dup_hit")
        .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq.sorted
      assert(rows === Seq((1L, false), (2L, false)))
    } finally q.stop()
  }

  test("bucket state runs on the RocksDB state store (the disk-backed production backend)") {
    // the default HDFS-backed provider keeps every bucket's state on the
    // executor heap — at corpus-scale streaming the RocksDB provider is
    // the configuration that survives, so the stateful operators must
    // work (and flag across batches) under it
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val key  = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val base = (1 to 20).map(i => s"w$i").mkString(" ")
      val ms = MemoryStream[(Long, Timestamp, String)]
      val out = StreamingNearDup.flagBands(
        ms.toDF().toDF("doc_id", "ts", "text"), "doc_id", "text", "ts",
        watermarkMs = 10 * 60 * 1000L, minEstJaccard = 0.5)
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("snd_rocks").start()
      try {
        ms.addData((1L, ts("2024-01-01 00:00:00"), base))
        q.processAllAvailable()
        ms.addData((2L, ts("2024-01-01 00:01:00"), base)) // cross-batch dup
        q.processAllAvailable()
        val flags = spark.table("snd_rocks")
          .select($"doc_id", $"near_dup_hit").distinct()
          .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSet
        assert(flags === Set((1L, false), (2L, true)))
        // the provider actually in force is RocksDB, not a silent fallback
        val op = q.lastProgress.stateOperators
        assert(op.nonEmpty && op(0).customMetrics.keySet.toString.contains("rocksdb"),
          s"no rocksdb metrics in ${op.map(_.customMetrics).mkString}")
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("LSH bucket state survives a query restart: a near-dup of a pre-restart doc still flags") {
    // the production failure mode this pins: a multi-day ingest query dies
    // and restarts from its checkpoint — the flatMapGroupsWithState bucket
    // state MUST recover from the state store, or every near-dup whose
    // original arrived before the crash silently passes the gate.
    // MemoryStream cannot recover, so this uses the parquet file source +
    // a durable checkpoint, with foreachBatch as the restart-safe sink.
    val in   = java.nio.file.Files.createTempDirectory("snd-restart-in")
    val ckpt = java.nio.file.Files.createTempDirectory("snd-restart-ckpt").toString
    val base    = (1 to 20).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 20).map(i => if (i == 10) "patched" else s"w$i").mkString(" ")
    val fresh   = (1 to 20).map(i => s"other$i").mkString(" ")

    def writeBatch(name: String, rows: Seq[(Long, Timestamp, String)]): Unit =
      rows.toDF("doc_id", "ts", "text").coalesce(1)
        .write.parquet(in.resolve(name).toString)
    // the file source watches one dir; nested dirs via glob keep each
    // batch's files atomic-ish for the test
    val schema = Seq.empty[(Long, Timestamp, String)].toDF("doc_id", "ts", "text").schema

    val flags = new scala.collection.mutable.ArrayBuffer[(Long, Boolean)]
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "*.parquet").parquet(in.toString + "/*")
      val out = StreamingNearDup.flagBands(
        stream, "doc_id", "text", "ts",
        watermarkMs = 10 * 60 * 1000L, minEstJaccard = 0.5)
      val q = out.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("doc_id", "near_dup_hit").collect()
          flags.synchronized { flags ++= rows.map(r => (r.getLong(0), r.getBoolean(1))) }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    writeBatch("b1", Seq((1L, ts("2024-01-01 00:00:00"), base)))
    runOnce() // doc 1 enters the bucket state, then the query dies
    writeBatch("b2", Seq(
      (2L, ts("2024-01-01 00:01:00"), nearDup),
      (3L, ts("2024-01-01 00:01:00"), fresh)))
    runOnce() // restart from the checkpoint — state must be back

    val merged = flags.groupBy(_._1).view.mapValues(_.exists(_._2)).toMap
    assert(merged === Map(1L -> false, 2L -> true, 3L -> false),
      s"state did not survive the restart: $merged")
  }
}
