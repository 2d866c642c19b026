package graft

import java.nio.file.{Files, Path => JPath}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Local FS whose `rename` fails ONCE for configured source names — the
  * transient-failure shape of an object store's copy+delete rename (a
  * throttled COPY, a 5xx on the DELETE). Used to pin the acked-watermark
  * walk's halt-and-retry semantics. */
object FlakyRenameFs {
  @volatile var failOnce: Set[String] = Set.empty
}
class FlakyRenameFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String   = "flakyq"
  override def getUri: java.net.URI = java.net.URI.create("flakyq:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    if (FlakyRenameFs.failOnce(src.getName)) {
      FlakyRenameFs.failOnce -= src.getName
      return false
    }
    super.rename(src, dst)
  }
}

/** Local FS that reads the JVM's compiled-class count on the streaming
  * thread each time a checkpoint offset-log entry `offsets/<n>` is
  * committed: after batch n-1 has finished and before batch n plans.
  * Pins how many classes one micro-batch of a running query compiles. */
object CodegenAtOffsetFs {
  val compiledBefore = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
}
class CodegenAtOffsetFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String   = "cgckpt"
  override def getUri: java.net.URI = java.net.URI.create("cgckpt:///")
  override def rename(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Boolean = {
    val ok = super.rename(src, dst)
    if (ok && dst.getParent.getName == "offsets" && dst.getName.forall(_.isDigit))
      CodegenAtOffsetFs.compiledBefore.put(dst.getName.toLong,
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    ok
  }
}

/** Queue streaming input (SURVEY S5): message discovery, the reference's
  * reject/ack/requeue taxonomy, prefetch-style pacing, and end-to-end
  * delivery into the idempotent store. */
class FileQueueSpec extends SparkSpec {

  private def writeMsg(dir: JPath, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes("UTF-8"))

  private def mkGranule(dir: JPath, name: String): String = {
    val p = dir.resolve(name)
    Files.write(p, "data".getBytes("UTF-8"))
    p.toString
  }

  test("valid messages stream granule paths; invalid ones dead-letter; acked messages leave the queue") {
    val queue = Files.createTempDirectory("fq-queue")
    val gran  = Files.createTempDirectory("fq-granules")
    val ckpt  = Files.createTempDirectory("fq-ckpt").toString
    val g1    = mkGranule(gran, "oco3_LtCO2_20230615.nc")
    val g2    = mkGranule(gran, "oco3_LtCO2_20230616.nc")
    writeMsg(queue, "msg-001", Seq("# day 1", g1))
    writeMsg(queue, "msg-002", Seq(g1, g2))
    writeMsg(queue, "msg-bad", Seq(gran.resolve("missing.nc").toString)) // nonexistent input -> reject

    val stream = spark.readStream
      .format("filequeue")
      .option("path", queue.toString)
      .option("maxmessagesperbatch", "1")
      .load()
    val sink  = new scala.collection.mutable.ArrayBuffer[(String, String, Long)]
    val sizes = new scala.collection.mutable.ArrayBuffer[Long]
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val rows = df.select("message", "granule_path").collect()
        sizes.synchronized { sizes += rows.map(_.getString(0)).distinct.length.toLong }
        sink.synchronized { sink ++= rows.map(r => (r.getString(0), r.getString(1), batchId)) }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    // both valid messages delivered, all their paths, in order
    val got = sink.sortBy(r => (r._1, r._2)).toList
    assert(got.map(_._1).distinct === List("msg-001", "msg-002"))
    assert(got.map(_._2) === List(g1, g1, g2))
    // prefetch pacing: no batch admitted more than one message
    assert(sizes.nonEmpty && sizes.forall(_ <= 1))
    // taxonomy on disk: bad -> .deadletter, acked -> .acked, queue drained
    val names = new java.io.File(queue.toString).listFiles().map(_.getName).toSet
    assert(names === Set(".deadletter", ".acked"))
    val dead  = new java.io.File(queue.resolve(".deadletter").toString).list().toSet
    val acked = new java.io.File(queue.resolve(".acked").toString).list().toSet
    assert(dead === Set("msg-bad"))
    assert(acked === Set("msg-001", "msg-002"))
  }

  test("full production loop: queue -> NetCDF granules -> pipeline -> idempotent store") {
    import graft.domain.TargetCatalog
    import graft.domain.TargetCatalog.Target
    import graft.sources.SyntheticGranule.sounding
    val queue = Files.createTempDirectory("loop-queue")
    val gran  = Files.createTempDirectory("loop-granules")
    val store = Files.createTempDirectory("loop-store").resolve("store").toString
    val catalog = TargetCatalog.toDF(spark, Seq(Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0)))
    def mkNc(name: String, day: String): String = {
      val ss = (0 until 6).map(i =>
        sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = "fossil0001", day = day))
      val p  = gran.resolve(name)
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
      try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
      p.toString
    }
    val g1 = mkNc("oco3_LtCO2_20230615_B.nc", "2023-06-15")
    val g2 = mkNc("oco3_LtCO2_20230616_B.nc", "2023-06-16")
    writeMsg(queue, "msg-day1", Seq(g1))
    writeMsg(queue, "msg-day2", Seq(g2))

    def drain(ckpt: String): Unit = {
      val q = graft.streaming.MicroBatchIngest.ingestQueue(
        spark, queue.toString, ckpt, store, catalog)
      q.awaitTermination()
    }
    // batch caches must be batch-scoped (CacheScope in the foreachBatch
    // wrapper): the cache footprint after draining N batches equals the
    // footprint before — no per-micro-batch accretion
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    drain(Files.createTempDirectory("loop-ckpt1").toString)
    assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore)
    val stored = graft.sinks.ProductStore.read(spark, store)
    assert(stored.select("day").distinct().count() === 2)
    val n1 = stored.count()
    assert(n1 > 0)
    // redeliver day 1 (fresh checkpoint = at-least-once) -> store converges
    writeMsg(queue, "msg-day1-redelivery", Seq(g1))
    drain(Files.createTempDirectory("loop-ckpt2").toString)
    assert(graft.sinks.ProductStore.read(spark, store).count() === n1)
    assert(spark.sparkContext.getPersistentRDDs.keySet === cachedBefore)
  }

  test("streaming climatology state stays fresh per batch and converges on re-delivery") {
    import graft.domain.TargetCatalog
    import graft.domain.TargetCatalog.Target
    import graft.operators.Climatology
    import graft.sources.SyntheticGranule.sounding
    val queue = Files.createTempDirectory("climoq-queue")
    val gran  = Files.createTempDirectory("climoq-granules")
    val base  = Files.createTempDirectory("climoq")
    val store = base.resolve("store").toString
    val state = base.resolve("state").toString
    val catalog = TargetCatalog.toDF(spark, Seq(Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0)))
    def mkNc(name: String, day: String, xco2: Double): String = {
      val ss = (0 until 6).map(i =>
        sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = "fossil0001",
          xco2 = xco2 + i, day = day))
      val p  = gran.resolve(name)
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
      try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
      p.toString
    }
    val g1 = mkNc("oco3_LtCO2_20230615_B.nc", "2023-06-15", 400.0)
    val g2 = mkNc("oco3_LtCO2_20230716_B.nc", "2023-07-16", 410.0)
    writeMsg(queue, "msg-day1", Seq(g1))
    writeMsg(queue, "msg-day2", Seq(g2))
    def drain(ckpt: String): Unit =
      graft.streaming.MicroBatchIngest.ingestQueue(
        spark, queue.toString, ckpt, store, catalog,
        climatologyState = Some(state)).awaitTermination()
    drain(Files.createTempDirectory("climoq-ckpt1").toString)
    def check(): Unit = {
      val fromState = Climatology
        .meansFromState(spark, state, "month", Seq("target_id", "variable"))
        .collect().toSet
      val recompute = Climatology.temporalMean(
        graft.sinks.ProductStore.read(spark, store).withColumnRenamed("time", "ts"),
        "ts", "value", "month", Seq("target_id", "variable")).collect().toSet
      assert(fromState === recompute) // bit-identical, no full-store rescan path
    }
    check()
    // at-least-once: redeliver day 1 under a fresh checkpoint — store AND
    // state both converge (day-partition overwrite + store-backed refresh)
    writeMsg(queue, "msg-day1-redelivery", Seq(g1))
    drain(Files.createTempDirectory("climoq-ckpt2").toString)
    check()
  }

  test("a one-granule micro-batch appends its day as one parquet file when AQE starts wide") {
    import graft.domain.TargetCatalog
    import graft.domain.TargetCatalog.Target
    import graft.sources.SyntheticGranule.sounding
    val queue = Files.createTempDirectory("onefile-queue")
    val gran  = Files.createTempDirectory("onefile-granules")
    val base  = Files.createTempDirectory("onefile")
    val store = base.resolve("store").toString
    val targets = (1 to 4).map(t => f"fossil$t%04d")
    val catalog = TargetCatalog.toDF(spark, targets.zipWithIndex.map { case (t, k) =>
      Target(t, t, 10.0 * k, 40.0, 10.0 * k + 2.0, 42.0)
    })
    // four captures in one granule-day: the product spans several regions
    val ss = targets.zipWithIndex.flatMap { case (t, k) =>
      (0 until 6).map(i => sounding(6 * k + i, 41.0 + 0.1 * i, 10.0 * k + 1.0 + 0.1 * i,
        mode = 4, target = t, xco2 = 400.0 + i))
    }
    val g = gran.resolve("oco3_LtCO2_20230615_B.nc")
    val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(g.toFile))
    try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
    writeMsg(queue, "msg-day1", Seq(g.toString))
    // Jobs.session's shape on 4 cores: every shuffle starts at 32 partitions
    val key  = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "32")
    try graft.streaming.MicroBatchIngest.ingestQueue(
      spark, queue.toString, Files.createTempDirectory("onefile-ckpt").toString, store, catalog,
      climatologyState = Some(base.resolve("state").toString)).awaitTermination()
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    val dayDir = new java.io.File(store, "day=2023-06-15")
    val files  = dayDir.listFiles().map(_.getName).filter(_.endsWith(".parquet"))
    assert(files.length === 1, files.mkString(", "))
    assert(graft.sinks.ProductStore.read(spark, store).select("target_id").distinct().count() === 4)
  }

  test("a redelivered granule-day compiles no new classes: the batch's plans fit the codegen cache") {
    import graft.domain.{GlobalPipeline, Pipeline, TargetCatalog}
    import graft.domain.TargetCatalog.Target
    import graft.sources.SyntheticGranule.sounding
    import org.apache.spark.metrics.source.CodegenMetrics
    val gran    = Files.createTempDirectory("codegen-granules")
    val targets = (1 to 3).map(t => f"fossil$t%04d")
    val catalog = TargetCatalog.toDF(spark, targets.zipWithIndex.map { case (t, k) =>
      Target(t, t, 10.0 * k, 40.0, 10.0 * k + 2.0, 42.0)
    })
    val ss = targets.zipWithIndex.flatMap { case (t, k) =>
      (0 until 12).map(i => sounding(12 * k + i, 40.5 + 0.09 * i + 0.05 * (i % 3),
        10.0 * k + 0.5 + 0.1 * i, mode = 4, target = t, xco2 = 400.0 + i, half = 0.3))
    }
    val g  = gran.resolve("oco3_LtCO2_20230615_B.nc")
    val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(g.toFile))
    try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
    val mesh = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    val globalProduct = (s: org.apache.spark.sql.SparkSession, paths: Seq[String]) =>
      GlobalPipeline.toStoreVariables("oco3", GlobalPipeline.process(
        graft.sources.netcdf.NetCDFGranules.readGranules(s, paths).drop("sounding_id"),
        mesh, Pipeline.Config(method = "linear")))
    // one query drains the day and its redelivery, one message per batch,
    // from a queue on the local FS; only its checkpoint sits on the test
    // FS, which reads the compiled-class count where batch 1 begins
    def redelivered(
        product: Option[(org.apache.spark.sql.SparkSession, Seq[String]) => org.apache.spark.sql.DataFrame])
        : (Long, Long, String) = {
      val queue = Files.createTempDirectory("codegen-queue")
      val base  = Files.createTempDirectory("codegen")
      writeMsg(queue, "msg-0-day", Seq(g.toString))
      writeMsg(queue, "msg-1-redeliver", Seq(g.toString))
      spark.conf.set("fs.cgckpt.impl", classOf[CodegenAtOffsetFileSystem].getName)
      CodegenAtOffsetFs.compiledBefore.clear()
      val q = try {
        val q = graft.streaming.MicroBatchIngest.ingestQueue(
          spark, queue.toString, s"cgckpt://${Files.createTempDirectory("codegen-ckpt")}",
          base.resolve("store").toString, catalog, Pipeline.Config(gridN = 32, method = "linear"),
          climatologyState = Some(base.resolve("state").toString), product = product,
          // the global store's long form carries no target_id
          stateKeys = if (product.isEmpty) Seq("target_id", "variable") else Seq("variable"))
        q.awaitTermination()
        q
      } finally spark.conf.unset("fs.cgckpt.impl")
      val atEnd = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      assert(q.recentProgress.map(_.numInputRows).toSeq === Seq(1L, 1L))
      val at = CodegenAtOffsetFs.compiledBefore
      assert(at.containsKey(0L) && at.containsKey(1L), s"offset commits seen: ${at.keySet}")
      assert(at.get(1L) > at.get(0L), "the day's batch compiled nothing: the probe is blind")
      (at.get(1L) - at.get(0L), atEnd - at.get(1L), base.resolve("store").toString)
    }
    val outgrown = "the per-batch working set of generated classes has outgrown Spark's codegen " +
      "cache (spark.sql.codegen.cache.maxEntries), so every micro-batch recompiles it"
    val (_, target, targetStore) = redelivered(None)
    assert(target === 0, s"the redelivered target-product batch compiled $target classes: $outgrown")
    assert(graft.sinks.ProductStore.read(spark, targetStore)
      .select("target_id").distinct().count() === 3)
    // the global batch's working set (~80 entries: planning and the tasks
    // each hold a copy of a stage's class) fits the 100-entry cache,
    // but the cache is 4 LRU segments of 25 keyed by (class loader, code):
    // when one segment draws more than 25 of them, those recompile. The
    // pin is that the warm batch reuses its classes; a working set that
    // outgrows the cache recompiles all of them.
    val (cold, global, globalStore) = redelivered(Some(globalProduct))
    assert(global < cold, s"the redelivered global-product batch compiled $global classes " +
      s"after $cold cold: $outgrown")
    assert(graft.sinks.ProductStore.read(spark, globalStore)
      .filter(col("variable") === "OCO3_global_xco2").count() > 0)
  }

  test("in-pipeline guard failure dead-letters the poison message; the stream continues; split mode processes it") {
    import graft.domain.{GlobalPipeline, Pipeline}
    import graft.sources.SyntheticGranule.sounding
    val queue = Files.createTempDirectory("poison-queue")
    val gran  = Files.createTempDirectory("poison-granules")
    val store = Files.createTempDirectory("poison-store").resolve("store").toString
    // 3 granule-days; day 2 is a constant-mode DEGENERATE granule — no
    // mode alternation, so the global pipeline sessionizes it to ONE
    // region spanning the whole observation band
    def mkNc(name: String, day: String, degenerate: Boolean): String = {
      val ss =
        if (degenerate)
          (0 until 24).map(i => sounding(i, 40.0 + 0.05 * (i % 5), -60.0 + 5.0 * i,
            mode = 4, target = "fossil0001", day = day))
        else
          (0 until 6).map(i => sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i,
            mode = if (i == 3) 0 else 4, target = "fossil0001", day = day))
      val p  = gran.resolve(name)
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
      try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
      p.toString
    }
    val g1 = mkNc("oco3_LtCO2_20230615_B.nc", "2023-06-15", degenerate = false)
    val g2 = mkNc("oco3_LtCO2_20230616_B.nc", "2023-06-16", degenerate = true)
    val g3 = mkNc("oco3_LtCO2_20230617_B.nc", "2023-06-17", degenerate = false)
    writeMsg(queue, "msg-day1", Seq(g1))
    writeMsg(queue, "msg-day2", Seq(g2))
    writeMsg(queue, "msg-day3", Seq(g3))
    val mesh = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    val globalProduct = Some((s: org.apache.spark.sql.SparkSession, paths: Seq[String]) =>
      GlobalPipeline.toStoreVariables("oco3", GlobalPipeline.process(
        graft.sources.netcdf.NetCDFGranules.readGranules(s, paths).drop("sounding_id"),
        mesh, Pipeline.Config())))
    def drain(ckpt: String): Unit =
      graft.streaming.MicroBatchIngest.ingestQueue(
        spark, queue.toString, ckpt, store, spark.emptyDataFrame,
        product = globalProduct).awaitTermination()
    // day 2's single region spans ~125°×~0.3°+footprints — far above a
    // 10k-cell ceiling; fail mode makes it a guard error mid-pipeline
    spark.conf.set(GlobalPipeline.MaxRegionPixelsConfKey, "10000")
    spark.conf.set(GlobalPipeline.OversizeRegionsConfKey, "fail")
    try {
      drain(Files.createTempDirectory("poison-ckpt1").toString)
      // the queue terminated cleanly; days 1 and 3 landed, day 2 rejected
      val stored = graft.sinks.ProductStore.read(spark, store)
      assert(stored.select(col("day").cast("string")).distinct().collect().map(_.getString(0)).sorted ===
        Array("2023-06-15", "2023-06-17"))
      val dead = new java.io.File(queue.resolve(".deadletter").toString).list()
        .filterNot(_.startsWith(".")).toSet // local FS adds .crc sidecars
      assert(dead === Set("msg-day2", "msg-day2.reason"))
      val reason = new String(
        Files.readAllBytes(queue.resolve(".deadletter").resolve("msg-day2.reason")), "UTF-8")
      assert(reason.contains("maxRegionPixels"), s"reason sidecar: $reason")
      val acked = new java.io.File(queue.resolve(".acked").toString).list().toSet
      assert(acked === Set("msg-day1", "msg-day3"))
      // split mode (the default): the SAME degenerate granule processes —
      // tiled into ceiling-bounded strips instead of rejected. The retry
      // path is the OPERATIONAL one: `RepairJob --redrive` moves the
      // dead-lettered message back into the queue (under a fresh name, so
      // the offset log admits it) and clears its `.reason` sidecar.
      spark.conf.set(GlobalPipeline.OversizeRegionsConfKey, "split")
      graft.tools.RepairJob.main(Array(store, "--redrive", queue.toString))
      val deadAfter = new java.io.File(queue.resolve(".deadletter").toString).list()
        .filterNot(_.startsWith(".")).toSet
      assert(deadAfter === Set.empty[String], s"deadletter not drained: $deadAfter")
      assert(Files.exists(queue.resolve("msg-day2.redrive")))
      // idempotent: a second redrive is a no-op
      assert(graft.streaming.Disposition.redrive(
        queue.toString, spark.sessionState.newHadoopConf()) === Nil)
      drain(Files.createTempDirectory("poison-ckpt2").toString)
      val after = graft.sinks.ProductStore.read(spark, store)
      assert(after.select(col("day").cast("string")).distinct().collect().map(_.getString(0)).sorted ===
        Array("2023-06-15", "2023-06-16", "2023-06-17"))
      assert(after.filter(col("day").cast("string") === "2023-06-16").count() > 0)
      // the redriven message is acked away; the queue is clean
      val ackedAfter = new java.io.File(queue.resolve(".acked").toString).list().toSet
      assert(ackedAfter.contains("msg-day2.redrive"))
    } finally {
      spark.conf.unset(GlobalPipeline.MaxRegionPixelsConfKey)
      spark.conf.unset(GlobalPipeline.OversizeRegionsConfKey)
    }
  }

  test("poison isolation re-runs the survivors JOINTLY: same-day messages merge, none lost") {
    import graft.domain.{GlobalPipeline, Pipeline}
    import graft.sources.SyntheticGranule.sounding
    // One multi-message batch (maxMessagesPerBatch=3): msg A and msg B
    // each carry a DIFFERENT granule for the SAME day; msg C is a
    // degenerate band granule that trips the region ceiling under fail
    // mode. The per-message isolation of r16 re-ran A then B alone, and
    // the second dynamic day-partition overwrite erased A's pixels while
    // both messages were acked — silent loss. The leave-one-out form must
    // dead-letter ONLY C and land A∪B merged, identical to a joint run.
    val queue = Files.createTempDirectory("iso-queue")
    val gran  = Files.createTempDirectory("iso-granules")
    val store = Files.createTempDirectory("iso-store").resolve("store").toString
    def mkNc(name: String, lonBase: Double, degenerate: Boolean): String = {
      val ss =
        if (degenerate)
          (0 until 24).map(i => sounding(i, 40.0 + 0.05 * (i % 5), -60.0 + 5.0 * i,
            mode = 4, target = "fossil0001", day = "2023-06-16"))
        else
          (0 until 6).map(i => sounding(i, 41.0 + 0.1 * i, lonBase + 0.1 * i,
            mode = if (i == 3) 0 else 4, target = "fossil0001", day = "2023-06-15"))
      val p  = gran.resolve(name)
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
      try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
      p.toString
    }
    val gA = mkNc("oco3_LtCO2_20230615_A.nc", lonBase = 11.0, degenerate = false)
    val gB = mkNc("oco3_LtCO2_20230615_B.nc", lonBase = 21.0, degenerate = false)
    val gC = mkNc("oco3_LtCO2_20230616_C.nc", lonBase = 0.0, degenerate = true)
    writeMsg(queue, "msg-a", Seq(gA))
    writeMsg(queue, "msg-b", Seq(gB))
    writeMsg(queue, "msg-c", Seq(gC))
    val mesh = graft.operators.Grid.GridSpec(-180.0, 180.0, 3600, -90.0, 90.0, 1800)
    val globalProduct = Some((s: org.apache.spark.sql.SparkSession, paths: Seq[String]) =>
      GlobalPipeline.toStoreVariables("oco3", GlobalPipeline.process(
        graft.sources.netcdf.NetCDFGranules.readGranules(s, paths).drop("sounding_id"),
        mesh, Pipeline.Config())))
    spark.conf.set(GlobalPipeline.MaxRegionPixelsConfKey, "10000")
    spark.conf.set(GlobalPipeline.OversizeRegionsConfKey, "fail")
    try {
      graft.streaming.MicroBatchIngest.ingestQueue(
        spark, queue.toString, Files.createTempDirectory("iso-ckpt").toString, store,
        spark.emptyDataFrame, maxMessagesPerBatch = 3,
        product = globalProduct).awaitTermination()
      val dead = new java.io.File(queue.resolve(".deadletter").toString).list()
        .filterNot(_.startsWith(".")).toSet
      assert(dead === Set("msg-c", "msg-c.reason"))
      val stored = graft.sinks.ProductStore.read(spark, store)
        .filter(col("day").cast("string") === "2023-06-15" && col("variable").endsWith("xco2"))
      // BOTH granules' pixel neighborhoods present in the one day partition
      val nA = stored.filter(col("lon").between(10.0, 13.0)).count()
      val nB = stored.filter(col("lon").between(20.0, 23.0)).count()
      assert(nA > 0, "msg-a's same-day pixels were lost by the isolation re-run")
      assert(nB > 0, "msg-b's same-day pixels were lost by the isolation re-run")
      // and the merged day equals a direct joint run of A+B (same pipeline)
      val joint = globalProduct.get(spark, Seq(gA, gB))
        .filter(to_date(col("time")).cast("string") === "2023-06-15" &&
          col("variable").endsWith("xco2"))
      assert(stored.count() === joint.count())
    } finally {
      spark.conf.unset(GlobalPipeline.MaxRegionPixelsConfKey)
      spark.conf.unset(GlobalPipeline.OversizeRegionsConfKey)
    }
  }

  test("a transiently failed ack rename halts the watermark and is retried, not stranded") {
    // Pre-r18 the ack walk advanced the watermark past EVERY name whether
    // or not its rename succeeded, so one transient rename failure left
    // the message file stranded in the queue dir forever (nothing below
    // the watermark is ever re-probed). The walk must now halt at the
    // first failure, persist only the successfully-moved prefix, and
    // retry the failed name on the next ack.
    val queue = Files.createTempDirectory("flaky-queue")
    val gran  = Files.createTempDirectory("flaky-granules")
    val ckpt  = Files.createTempDirectory("flaky-ckpt")
    val g1    = mkGranule(gran, "a.nc")
    writeMsg(queue, "m1", Seq(g1)); writeMsg(queue, "m2", Seq(g1)); writeMsg(queue, "m3", Seq(g1))
    val conf = spark.sessionState.newHadoopConf()
    conf.set("fs.flakyq.impl", classOf[FlakyRenameFileSystem].getName)
    conf.set("fs.flakyq.impl.disable.cache", "true")
    val stream = new graft.streaming.FileQueueStream(
      s"flakyq://${queue.toAbsolutePath}", 3, ckpt.toString, conf)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val end = stream.latestOffset(graft.streaming.MsgOffset(0L), ReadLimit.maxRows(3L))
    assert(end === graft.streaming.MsgOffset(3L))
    // m2's move to .acked fails once (object-store transient)
    FlakyRenameFs.failOnce = Set("m2")
    stream.commit(graft.streaming.MsgOffset(3L))
    def wm(): Long = {
      val f = ckpt.resolve("filequeue-acked.watermark")
      new String(Files.readAllBytes(f), "UTF-8").trim.toLong
    }
    // watermark persisted ONLY past the moved prefix; m2 and m3 still
    // in the queue (m3 halted behind m2 so ordering never skips a name)
    assert(wm() === 1L)
    val names1 = new java.io.File(queue.toString).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(names1 === Set("m2", "m3"))
    // next ack retries from the halt point and completes the walk
    stream.commit(graft.streaming.MsgOffset(3L))
    assert(wm() === 3L)
    val names2 = new java.io.File(queue.toString).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).toSet
    assert(names2 === Set.empty[String])
    val acked = new java.io.File(queue.resolve(".acked").toString).list()
      .filterNot(_.startsWith(".")).toSet
    assert(acked === Set("m1", "m2", "m3"))
  }

  test("post-commit refresh failure does NOT dead-letter an already-stored message") {
    import graft.domain.TargetCatalog
    import graft.domain.TargetCatalog.Target
    import graft.sources.SyntheticGranule.sounding
    // The climatology refresh runs AFTER the store append committed. A
    // deterministic failure there (here: stateKeys naming a column the
    // product doesn't have → AnalysisException) used to propagate into
    // the disposition catch and dead-letter the message even though its
    // data was durably in the store — misattribution, and a redrive would
    // double-process it. The post-commit stage must swallow deterministic
    // failures: message acked, store intact, queue clean.
    val queue = Files.createTempDirectory("pc-queue")
    val gran  = Files.createTempDirectory("pc-granules")
    val base  = Files.createTempDirectory("pc")
    val store = base.resolve("store").toString
    val state = base.resolve("state").toString
    val catalog = TargetCatalog.toDF(spark, Seq(Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0)))
    val ss = (0 until 6).map(i =>
      sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = "fossil0001",
        day = "2023-06-15"))
    val p  = gran.resolve("oco3_LtCO2_20230615_B.nc")
    val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
    try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
    writeMsg(queue, "msg-day1", Seq(p.toString))
    graft.streaming.MicroBatchIngest.ingestQueue(
      spark, queue.toString, Files.createTempDirectory("pc-ckpt").toString, store, catalog,
      climatologyState = Some(state),
      stateKeys = Seq("no_such_column")).awaitTermination()
    // the message was acked (data committed before the refresh failed) —
    // NOT dead-lettered with the refresh's reason
    val acked = new java.io.File(queue.resolve(".acked").toString).list().toSet
    assert(acked === Set("msg-day1"))
    assert(!Files.exists(queue.resolve(".deadletter").resolve("msg-day1")))
    assert(graft.sinks.ProductStore.read(spark, store).count() > 0)
    // the silent-freeze alarm: a durable marker records the failure (a
    // stdout line alone would leave a permanently stale state invisible)
    val marker = base.resolve("state").resolve("_REFRESH_FAILED")
    assert(Files.exists(marker), "no durable refresh-failure marker written")
    assert(new String(Files.readAllBytes(marker), "UTF-8").contains("no_such_column"))
    // a later HEALTHY refresh clears the alarm: re-deliver the day with
    // correct stateKeys on a fresh checkpoint
    writeMsg(queue, "msg-day1-redelivery", Seq(p.toString))
    graft.streaming.MicroBatchIngest.ingestQueue(
      spark, queue.toString, Files.createTempDirectory("pc-ckpt2").toString, store, catalog,
      climatologyState = Some(state)).awaitTermination()
    assert(!Files.exists(marker), "healthy refresh did not clear the failure marker")
  }

  test("bounded redelivery: a deterministic transient-classified failure dead-letters after N replays; a transient one within budget delivers") {
    import graft.domain.TargetCatalog
    import graft.domain.TargetCatalog.Target
    import graft.sources.SyntheticGranule.sounding
    // The disposition taxonomy classifies a library-throw-site IAE as
    // transient (correctly — most are). When such a failure is actually
    // DETERMINISTIC (a third-party `require` fed bad graft arguments),
    // the batch replays identically forever and wedges the queue — the
    // reference's RMQ nack loop has the same hazard (`main.py:711-735`).
    // The per-message delivery counter must dead-letter it after
    // maxRedeliveries with a `max-redeliveries` reason and drain the rest.
    val queue = Files.createTempDirectory("redeliv-queue")
    val gran  = Files.createTempDirectory("redeliv-granules")
    val store = Files.createTempDirectory("redeliv-store").resolve("store").toString
    val ckpt  = Files.createTempDirectory("redeliv-ckpt").toString
    val catalog = TargetCatalog.toDF(spark, Seq(Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0)))
    def mkNc(name: String, day: String): String = {
      val ss = (0 until 6).map(i =>
        sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = "fossil0001", day = day))
      val p  = gran.resolve(name)
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
      try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
      p.toString
    }
    val g1 = mkNc("oco3_LtCO2_20230615_B.nc", "2023-06-15")
    val gP = mkNc("oco3_LtCO2_20230616_poison.nc", "2023-06-16")
    val g3 = mkNc("oco3_LtCO2_20230617_B.nc", "2023-06-17")
    writeMsg(queue, "m1-ok", Seq(g1))
    writeMsg(queue, "m2-poison", Seq(gP))
    writeMsg(queue, "m3-ok", Seq(g3))
    def libraryIae(): Nothing = {
      // a deterministic failure whose THROW SITE is a library frame —
      // transient per the taxonomy, so it rethrows (nack) every replay
      val e = new IllegalArgumentException("Pathname from graft arguments is not valid")
      e.setStackTrace(Array(
        new StackTraceElement("org.apache.hadoop.fs.Path", "checkPathArg", "Path.java", 77),
        new StackTraceElement("graft.streaming.MicroBatchIngest$", "runBatch", "MicroBatchIngest.scala", 100)))
      throw e
    }
    val product = Some((s: org.apache.spark.sql.SparkSession, paths: Seq[String]) => {
      if (paths.exists(_.contains("poison"))) libraryIae()
      graft.domain.Pipeline.process(
        graft.sources.netcdf.NetCDFGranules.readGranules(s, paths).drop("sounding_id"),
        catalog, graft.domain.Pipeline.Config())
    })
    // each drain = one delivery attempt of the wedged batch (Spark replays
    // it from the checkpoint on restart — the nack/requeue semantics)
    def drain(): Boolean =
      try {
        graft.streaming.MicroBatchIngest.ingestQueue(
          spark, queue.toString, ckpt, store, catalog,
          product = product, maxRedeliveries = 2).awaitTermination()
        true
      } catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => false }
    assert(!drain(), "delivery 1 of the poison batch should fail the query (nack)")
    assert(!drain(), "delivery 2 is still within the budget — replay, not dead-letter")
    assert(drain(), "delivery 3 exceeds maxRedeliveries=2 — dead-letter and drain the rest")
    val dead = new java.io.File(queue.resolve(".deadletter").toString).list()
      .filterNot(_.startsWith(".")).toSet
    assert(dead === Set("m2-poison", "m2-poison.reason"))
    val reason = new String(
      Files.readAllBytes(queue.resolve(".deadletter").resolve("m2-poison.reason")), "UTF-8")
    assert(reason.contains("max-redeliveries"), s"reason sidecar: $reason")
    val acked = new java.io.File(queue.resolve(".acked").toString).list().toSet
    assert(acked === Set("m1-ok", "m3-ok"))
    val days = graft.sinks.ProductStore.read(spark, store)
      .select(col("day").cast("string")).distinct().collect().map(_.getString(0)).sorted
    assert(days === Array("2023-06-15", "2023-06-17"))
    // counters retire with their batches: the breaker dir holds nothing
    val delivDir = new java.io.File(ckpt, "filequeue-deliveries")
    assert(!delivDir.exists() || delivDir.list().forall(_.startsWith(".")),
      s"stale delivery counters: ${Option(delivDir.list()).map(_.toSeq)}")

    // --- a GENUINELY transient failure within the budget still delivers
    val queue2 = Files.createTempDirectory("redeliv2-queue")
    val store2 = Files.createTempDirectory("redeliv2-store").resolve("store").toString
    val ckpt2  = Files.createTempDirectory("redeliv2-ckpt").toString
    writeMsg(queue2, "m1-flaky", Seq(g1))
    val failuresLeft = new java.util.concurrent.atomic.AtomicInteger(2)
    val flaky = Some((s: org.apache.spark.sql.SparkSession, paths: Seq[String]) => {
      if (failuresLeft.getAndDecrement() > 0) libraryIae()
      graft.domain.Pipeline.process(
        graft.sources.netcdf.NetCDFGranules.readGranules(s, paths).drop("sounding_id"),
        catalog, graft.domain.Pipeline.Config())
    })
    def drain2(): Boolean =
      try {
        graft.streaming.MicroBatchIngest.ingestQueue(
          spark, queue2.toString, ckpt2, store2, catalog,
          product = flaky, maxRedeliveries = 5).awaitTermination()
        true
      } catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => false }
    assert(!drain2()); assert(!drain2())
    assert(drain2(), "third delivery succeeds inside the budget")
    assert(new java.io.File(queue2.resolve(".acked").toString).list().toSet === Set("m1-flaky"))
    assert(!Files.exists(queue2.resolve(".deadletter").resolve("m1-flaky")))
    assert(graft.sinks.ProductStore.read(spark, store2).count() > 0)
  }

  test("bounded redelivery in a multi-message batch: only the poison message dead-letters; combination-only failures get a bounded second budget") {
    import graft.domain.TargetCatalog
    import graft.domain.TargetCatalog.Target
    import graft.sources.SyntheticGranule.sounding
    // a JOINT transient-classified failure burns every batch-mate's
    // budget together — at the exhaustion boundary the breaker must
    // probe each over-budget message SOLO and dead-letter only the real
    // failure, with its actual error as the cause, not punish innocents
    val gran  = Files.createTempDirectory("rediso-granules")
    val catalog = TargetCatalog.toDF(spark, Seq(Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0)))
    def mkNc(name: String, day: String): String = {
      val ss = (0 until 6).map(i =>
        sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = "fossil0001", day = day))
      val p  = gran.resolve(name)
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
      try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
      p.toString
    }
    def libraryIae(msg: String): Nothing = {
      val e = new IllegalArgumentException(msg)
      e.setStackTrace(Array(
        new StackTraceElement("org.apache.hadoop.fs.Path", "checkPathArg", "Path.java", 77),
        new StackTraceElement("graft.streaming.MicroBatchIngest$", "runBatch", "MicroBatchIngest.scala", 100)))
      throw e
    }
    val gA = mkNc("oco3_LtCO2_20230615_B.nc", "2023-06-15")
    val gB = mkNc("oco3_LtCO2_20230616_B.nc", "2023-06-16")
    val gP = mkNc("oco3_LtCO2_20230617_poison.nc", "2023-06-17")
    def pipeline(s: org.apache.spark.sql.SparkSession, paths: Seq[String]) =
      graft.domain.Pipeline.process(
        graft.sources.netcdf.NetCDFGranules.readGranules(s, paths).drop("sounding_id"),
        catalog, graft.domain.Pipeline.Config())
    def drain(queue: java.nio.file.Path, ckpt: String, store: String,
        product: (org.apache.spark.sql.SparkSession, Seq[String]) => org.apache.spark.sql.DataFrame): Boolean =
      try {
        graft.streaming.MicroBatchIngest.ingestQueue(
          spark, queue.toString, ckpt, store, catalog,
          maxMessagesPerBatch = 3, product = Some(product),
          maxRedeliveries = 1).awaitTermination()
        true
      } catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => false }

    // --- poison isolation at the exhaustion boundary
    val q1 = Files.createTempDirectory("rediso-q1")
    val s1 = Files.createTempDirectory("rediso-s1").resolve("store").toString
    val c1 = Files.createTempDirectory("rediso-c1").toString
    writeMsg(q1, "m-a", Seq(gA)); writeMsg(q1, "m-b", Seq(gB)); writeMsg(q1, "m-poison", Seq(gP))
    val joint: (org.apache.spark.sql.SparkSession, Seq[String]) => org.apache.spark.sql.DataFrame =
      (s, paths) => {
        if (paths.exists(_.contains("poison"))) libraryIae("joint failure from the poison granule")
        pipeline(s, paths)
      }
    assert(!drain(q1, c1, s1, joint), "delivery 1 (joint) fails within budget — replay")
    assert(drain(q1, c1, s1, joint), "delivery 2: budget exhausted — isolate, dead-letter poison, land the rest")
    val dead1 = new java.io.File(q1.resolve(".deadletter").toString).list()
      .filterNot(_.startsWith(".")).toSet
    assert(dead1 === Set("m-poison", "m-poison.reason"))
    val reason1 = new String(
      Files.readAllBytes(q1.resolve(".deadletter").resolve("m-poison.reason")), "UTF-8")
    assert(reason1.contains("max-redeliveries") && reason1.contains("joint failure"),
      s"reason must carry the breaker AND the actual cause: $reason1")
    assert(new java.io.File(q1.resolve(".acked").toString).list().toSet === Set("m-a", "m-b"))
    val days1 = graft.sinks.ProductStore.read(spark, s1)
      .select(col("day").cast("string")).distinct().collect().map(_.getString(0)).sorted
    assert(days1 === Array("2023-06-15", "2023-06-16"),
      "innocent batch-mates must land, not dead-letter with the poison")

    // --- combination-only failure: every solo probe passes, the joint
    // run keeps failing — past 2×maxRedeliveries the group dead-letters
    val q2 = Files.createTempDirectory("rediso-q2")
    val s2 = Files.createTempDirectory("rediso-s2").resolve("store").toString
    val c2 = Files.createTempDirectory("rediso-c2").toString
    writeMsg(q2, "m-a", Seq(gA)); writeMsg(q2, "m-b", Seq(gB))
    val combo: (org.apache.spark.sql.SparkSession, Seq[String]) => org.apache.spark.sql.DataFrame =
      (s, paths) => {
        if (paths.sizeIs > 1) libraryIae("combination-only failure")
        pipeline(s, paths)
      }
    assert(!drain(q2, c2, s2, combo), "delivery 1 (joint) fails within budget")
    assert(!drain(q2, c2, s2, combo), "delivery 2: probes pass solo, joint rerun still fails — replay")
    assert(drain(q2, c2, s2, combo), "delivery 3: past 2x budget — group dead-letters, queue unwedged")
    val dead2 = new java.io.File(q2.resolve(".deadletter").toString).list()
      .filterNot(_.startsWith(".")).toSet
    assert(dead2 === Set("m-a", "m-b", "m-a.reason", "m-b.reason"))

    // --- outage discrimination at the exhaustion boundary (ADVICE r19):
    // a transient OUTAGE (store/FS down) fails EVERY solo probe, which
    // must replay (rethrow) rather than convert healthy messages into
    // dead letters needing manual --redrive after recovery; once the
    // outage ends, the batch lands clean. A poison message, by contrast,
    // fails ONLY its own probe (the mixed case above).
    val q3 = Files.createTempDirectory("rediso-q3")
    val s3 = Files.createTempDirectory("rediso-s3").resolve("store").toString
    val c3 = Files.createTempDirectory("rediso-c3").toString
    writeMsg(q3, "m-a", Seq(gA)); writeMsg(q3, "m-b", Seq(gB))
    val outage = new java.util.concurrent.atomic.AtomicBoolean(true)
    val outageProduct: (org.apache.spark.sql.SparkSession, Seq[String]) => org.apache.spark.sql.DataFrame =
      (s, paths) => {
        if (outage.get()) libraryIae("store unavailable (simulated outage)")
        pipeline(s, paths)
      }
    def drain3(): Boolean =
      try {
        graft.streaming.MicroBatchIngest.ingestQueue(
          spark, q3.toString, c3, s3, catalog,
          maxMessagesPerBatch = 2, product = Some(outageProduct),
          maxRedeliveries = 2).awaitTermination()
        true
      } catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => false }
    assert(!drain3(), "delivery 1: outage fails the joint run within budget — replay")
    assert(!drain3(), "delivery 2: still within budget — replay")
    assert(!drain3(), "delivery 3: over budget, but EVERY solo probe fails → outage, replay")
    assert(!Files.exists(q3.resolve(".deadletter").resolve("m-a")) &&
      !Files.exists(q3.resolve(".deadletter").resolve("m-b")),
      "an outage at the exhaustion boundary must not dead-letter healthy messages")
    outage.set(false)
    assert(drain3(), "outage over: probes pass, batch lands")
    assert(new java.io.File(q3.resolve(".acked").toString).list().toSet === Set("m-a", "m-b"))
    val days3 = graft.sinks.ProductStore.read(spark, s3)
      .select(col("day").cast("string")).distinct().collect().map(_.getString(0)).sorted
    assert(days3 === Array("2023-06-15", "2023-06-16"))
    assert(new java.io.File(q3.resolve(".deadletter").toString).list() == null ||
      new java.io.File(q3.resolve(".deadletter").toString).list()
        .filterNot(_.startsWith(".")).isEmpty)
  }

  test("the refresh-failure marker clears only when a healthy batch's days COVER the failed days") {
    import graft.domain.TargetCatalog
    import graft.domain.TargetCatalog.Target
    import graft.sources.SyntheticGranule.sounding
    // ADVICE r19: r19 cleared the marker on ANY healthy pass — but a day
    // whose FIRST refresh succeeded and a later same-day refresh failed
    // is in both store and state, so nothing re-aggregates it and the
    // clear deleted the only durable alarm while the staleness remained.
    // The marker now records its failed days and survives healthy batches
    // that don't cover them (empty-day batches included); a batch
    // covering a SUBSET rewrites the marker with the remainder; full
    // coverage clears it.
    val queue = Files.createTempDirectory("mkcover-queue")
    val gran  = Files.createTempDirectory("mkcover-granules")
    val base  = Files.createTempDirectory("mkcover")
    val store = base.resolve("store").toString
    val state = base.resolve("state")
    val catalog = TargetCatalog.toDF(spark, Seq(Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0)))
    def mkNc(name: String, day: String, target: String = "fossil0001"): String = {
      val ss = (0 until 6).map(i =>
        sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = target, day = day))
      val p  = gran.resolve(name)
      val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
      try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
      p.toString
    }
    Files.createDirectories(state)
    val marker = state.resolve("_REFRESH_FAILED")
    Files.write(marker,
      "2026-01-01T00:00:00Z previous failure\nfailed_days=2023-06-15,2023-06-16\n"
        .getBytes("UTF-8"))
    def ingest(msg: String, granule: String): Unit = {
      writeMsg(queue, msg, Seq(granule))
      graft.streaming.MicroBatchIngest.ingestQueue(
        spark, queue.toString, Files.createTempDirectory("mkcover-ckpt").toString, store,
        catalog, climatologyState = Some(state.toString)).awaitTermination()
    }
    // 1) empty-day healthy batch (target absent from catalog → no days):
    //    vacuously healthy, but it covers nothing — the alarm must stand
    ingest("msg-empty", mkNc("oco3_LtCO2_20230614_B.nc", "2023-06-14", target = "fossil9999"))
    assert(Files.exists(marker), "empty-day pass must NOT clear an uncovered alarm")
    // 2) partial coverage: a healthy batch for day 15 rewrites the marker
    //    down to the still-stale day 16
    ingest("msg-d15", mkNc("oco3_LtCO2_20230615_B.nc", "2023-06-15"))
    assert(Files.exists(marker), "partially covered alarm must survive")
    val rest = new String(Files.readAllBytes(marker), "UTF-8")
    assert(rest.contains("failed_days=2023-06-16") && !rest.contains("2023-06-15"),
      s"marker must carry exactly the uncovered remainder: $rest")
    // 3) full coverage: a healthy batch for day 16 clears it
    ingest("msg-d16", mkNc("oco3_LtCO2_20230616_B.nc", "2023-06-16"))
    assert(!Files.exists(marker), "covering healthy refresh did not clear the alarm")
    // 4) a legacy/unknown marker (no failed_days line) never auto-clears in
    //    streaming — only ClimatologyJob's full reconcile may drop it
    Files.write(marker, "2026-01-01T00:00:00Z legacy failure\n".getBytes("UTF-8"))
    ingest("msg-d17", mkNc("oco3_LtCO2_20230617_B.nc", "2023-06-17"))
    assert(Files.exists(marker), "unknown-days marker must survive streaming passes")
  }

  test("prune-acked retires only day-old consumed messages; recent ones stay replay-readable") {
    // the reference's basic_ack DELETES the message (RMQ keeps no
    // archive); our .acked/ audit dir must not grow one object-store
    // listing entry per message forever. Age-based retention is safe:
    // only files within the replay window (minutes) can still be read.
    val queue = Files.createTempDirectory("prune-queue")
    val acked = queue.resolve(".acked")
    Files.createDirectories(acked)
    Files.write(acked.resolve("m-old"), "g1\n".getBytes("UTF-8"))
    Files.write(acked.resolve("m-recent"), "g2\n".getBytes("UTF-8"))
    Files.setLastModifiedTime(acked.resolve("m-old"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 8L * 24 * 3600 * 1000))
    val conf = spark.sessionState.newHadoopConf()
    val n = graft.streaming.Disposition.pruneAcked(queue.toString, 7, conf)
    assert(n === 1)
    val left = new java.io.File(acked.toString).list().filterNot(_.startsWith(".")).toSet
    assert(left === Set("m-recent"))
    // a second prune is a no-op; a sub-day cutoff is refused outright
    assert(graft.streaming.Disposition.pruneAcked(queue.toString, 7, conf) === 0)
    intercept[IllegalArgumentException](
      graft.streaming.Disposition.pruneAcked(queue.toString, 0, conf))
    // and through the operator surface
    val store = Files.createTempDirectory("prune-store").resolve("store").toString
    graft.sinks.ProductStore.appendIdempotent(
      { import spark.implicits._
        Seq(("t", java.sql.Timestamp.valueOf("2023-06-15 10:00:00"), "xco2", 400.0))
          .toDF("target_id", "time", "variable", "value") }, store)
    Files.setLastModifiedTime(acked.resolve("m-recent"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 8L * 24 * 3600 * 1000))
    graft.tools.RepairJob.main(Array(store, "--prune-acked", queue.toString))
    assert(new java.io.File(acked.toString).list().filterNot(_.startsWith(".")).isEmpty)

    // ADVICE r19: the ack rename preserves the PRODUCER-written mtime, so
    // a backlog older than the cutoff would have a just-acked file pruned
    // inside the replay window (the replayed batch then finds it in
    // neither the queue nor .acked → spurious dead-letter of a committed
    // message). The ack walk must stamp ACK time on the archived copy:
    // prune measures time-since-ack, not message age.
    val queueB = Files.createTempDirectory("prune-backlog-queue")
    val ckptB  = Files.createTempDirectory("prune-backlog-ckpt")
    val granB  = Files.createTempDirectory("prune-backlog-granules")
    val gB     = mkGranule(granB, "b.nc")
    writeMsg(queueB, "m-backlog", Seq(gB))
    // the message sat unconsumed in the queue for 8 days
    Files.setLastModifiedTime(queueB.resolve("m-backlog"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 8L * 24 * 3600 * 1000))
    val streamB = new graft.streaming.FileQueueStream(
      queueB.toString, 3, ckptB.toString, conf)
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    streamB.latestOffset(graft.streaming.MsgOffset(0L), ReadLimit.maxRows(3L))
    streamB.commit(graft.streaming.MsgOffset(1L)) // ack NOW
    assert(Files.exists(queueB.resolve(".acked").resolve("m-backlog")))
    assert(graft.streaming.Disposition.pruneAcked(queueB.toString, 7, conf) === 0,
      "a file acked minutes ago must survive pruning regardless of message age")
    assert(Files.exists(queueB.resolve(".acked").resolve("m-backlog")))
  }

  test("pruneAckedDays wires acked retention into the ingest loop itself") {
    import graft.domain.TargetCatalog
    import graft.domain.TargetCatalog.Target
    import graft.sources.SyntheticGranule.sounding
    // VERDICT r19 #4: pruneAcked existed but only RepairJob invoked it —
    // retention was operator-remembered. The loop now prunes post-commit
    // on a batch cadence: a long-acked file retires, the replay window
    // (recently-acked files) survives.
    val queue = Files.createTempDirectory("loopprune-queue")
    val gran  = Files.createTempDirectory("loopprune-granules")
    val store = Files.createTempDirectory("loopprune-store").resolve("store").toString
    val ckpt  = Files.createTempDirectory("loopprune-ckpt").toString
    val catalog = TargetCatalog.toDF(spark, Seq(Target("fossil0001", "A", 10.0, 40.0, 12.0, 42.0)))
    val acked = queue.resolve(".acked")
    Files.createDirectories(acked)
    Files.write(acked.resolve("m-ancient"), "g-old\n".getBytes("UTF-8"))
    Files.setLastModifiedTime(acked.resolve("m-ancient"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 9L * 24 * 3600 * 1000))
    val ss = (0 until 6).map(i =>
      sounding(i, 41.0 + 0.1 * i, 11.0 + 0.1 * i, mode = 4, target = "fossil0001",
        day = "2023-06-15"))
    val p  = gran.resolve("oco3_LtCO2_20230615_B.nc")
    val os = new java.io.BufferedOutputStream(new java.io.FileOutputStream(p.toFile))
    try graft.sources.netcdf.NetCDFGranules.writeGranule(os, ss) finally os.close()
    writeMsg(queue, "m-live", Seq(p.toString))
    graft.streaming.MicroBatchIngest.ingestQueue(
      spark, queue.toString, ckpt, store, catalog,
      pruneAckedDays = Some(7), pruneEveryBatches = 1).awaitTermination()
    val left = new java.io.File(acked.toString).list().filterNot(_.startsWith(".")).toSet
    assert(!left.contains("m-ancient"), "the loop must prune a long-acked file itself")
    assert(graft.sinks.ProductStore.read(spark, store).count() > 0)
  }

  test("restart resumes from the checkpoint and late messages are picked up") {
    val queue = Files.createTempDirectory("fq2-queue")
    val gran  = Files.createTempDirectory("fq2-granules")
    val ckpt  = Files.createTempDirectory("fq2-ckpt").toString
    val g1    = mkGranule(gran, "a.nc")
    writeMsg(queue, "m1", Seq(g1))

    def runOnce(): Set[String] = {
      val seen = new scala.collection.mutable.HashSet[String]
      val q = spark.readStream.format("filequeue").option("path", queue.toString).load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen ++= df.select("message").collect().map(_.getString(0)) }
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      seen.toSet
    }

    assert(runOnce() === Set("m1"))
    writeMsg(queue, "m2", Seq(g1))
    // second run must deliver ONLY the new message (m1 committed+acked)
    assert(runOnce() === Set("m2"))

    // --- acked watermark: commits touch only the delta, and losing the
    // watermark file (crash between renames and watermark write) only
    // replays the last delta as skipped no-op renames
    def wmFile(): java.io.File = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
      walk(new java.io.File(ckpt)).find(_.getName == "filequeue-acked.watermark")
        .getOrElse(fail("no watermark file written"))
    }
    val wm = wmFile()
    assert(new String(Files.readAllBytes(wm.toPath), "UTF-8").trim.toLong >= 2L)
    Files.delete(wm.toPath) // crash-sim: watermark lost after renames
    writeMsg(queue, "m3", Seq(g1))
    assert(runOnce() === Set("m3")) // m1/m2 re-ack as no-ops, m3 delivers
    assert(new String(Files.readAllBytes(wmFile().toPath), "UTF-8").trim.toLong === 3L)
    val acked = new java.io.File(queue.resolve(".acked").toString).list().toSet
    assert(Set("m1", "m2", "m3").subsetOf(acked))

    // --- crash-sim: watermark file TRUNCATED (crash between a truncating
    // create and the close). The tolerant reader degrades to 0L — the next
    // drain re-acks m1..m3 as no-ops, delivers only the new message, and
    // rewrites a complete watermark; no NumberFormatException crash-loop.
    Files.write(wmFile().toPath, Array.emptyByteArray)
    writeMsg(queue, "m4", Seq(g1))
    assert(runOnce() === Set("m4"))
    assert(new String(Files.readAllBytes(wmFile().toPath), "UTF-8").trim.toLong === 4L)
    // garbage content degrades the same way (corrupt, not just empty)
    Files.write(wmFile().toPath, "not-a-number".getBytes("UTF-8"))
    writeMsg(queue, "m5", Seq(g1))
    assert(runOnce() === Set("m5"))
    assert(new String(Files.readAllBytes(wmFile().toPath), "UTF-8").trim.toLong === 5L)
    val ackedAll = new java.io.File(queue.resolve(".acked").toString).list().toSet
    assert(Set("m1", "m2", "m3", "m4", "m5").subsetOf(ackedAll))
  }
}
