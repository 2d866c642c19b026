package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sinks.ProductStore
import graft.domain.Pipeline
import graft.queries.DomainQueries

class StoreStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  private lazy val product =
    Pipeline.process(DomainQueries.demoGranule(spark), DomainQueries.demoCatalog(spark))

  test("compact merges a day's small files, content-identical and idempotent") {
    val path = tmp("compact")
    // simulate a streaming day written in many small pieces
    ProductStore.appendIdempotent(product.repartition(8), path)
    val day = ProductStore.read(spark, path)
      .select(col("day").cast("string")).distinct().collect().map(_.getString(0)).min
    val before = ProductStore.read(spark, path).collect().toSet
    val (b, a) = ProductStore.compact(spark, path, Seq(day), targetRows = 1000000)
    assert(b >= 4, s"setup should produce several small files, got $b")
    assert(a === 1, s"one target-sized file after compaction, got $a")
    assert(ProductStore.read(spark, path).collect().toSet === before)
    assert(ProductStore.findDuplicates(spark, path).count() === 0)
    // idempotent: compacting again changes nothing
    val (b2, a2) = ProductStore.compact(spark, path, Seq(day), targetRows = 1000000)
    assert(b2 === 1 && a2 === 1)
    assert(ProductStore.read(spark, path).collect().toSet === before)
  }

  test("compact zOrder: content-identical, lon-box touches fewer files, blooms in footers") {
    // a dense day: two variables over a 64×64 grid — the shape where the
    // raster layout (day, variable, lat, lon) spreads a longitude box over
    // every file and the Morton layout confines it to spatial rectangles
    // high-cardinality target_id: the bloom's point-probe use case (a
    // constant id is fully dictionary-encoded and parquet rightly skips
    // the bloom — the dictionary is already an exact membership filter)
    val grid = (for (v <- Seq("sif", "xco2"); lat <- 0 until 64; lon <- 0 until 64)
      yield (f"fossil${lat * 64 + lon}%04d", v, lat, lon, (lat * 64 + lon).toDouble))
      .toDF("target_id", "variable", "lat_idx", "lon_idx", "value")
      .withColumn("time", lit("2024-01-01 00:00:00").cast("timestamp"))
    val raster = tmp("compact-raster")
    val zorder = tmp("compact-zorder")
    Seq(raster, zorder).foreach(p => ProductStore.appendIdempotent(grid.repartition(8), p))
    val day    = "2024-01-01"
    val before = ProductStore.read(spark, raster).collect().toSet
    val (_, aR) = ProductStore.compact(spark, raster, Seq(day), targetRows = 512)
    val (_, aZ) = ProductStore.compact(spark, zorder, Seq(day), targetRows = 512,
      zOrder = true, bloomFilterCols = Seq("target_id"))
    assert(aR === 16 && aZ === 16, s"both layouts compact to 16 files, got $aR/$aZ")
    // pure layout: content identical to the raster compact and the original
    assert(ProductStore.read(spark, zorder).collect().toSet === before)
    assert(ProductStore.read(spark, raster).collect().toSet === before)
    // a longitude box crosses EVERY latitude strip: raster spreads it over
    // ~all files; z-order confines it to the overlapping rectangles
    def filesHolding(path: String): Long =
      ProductStore.read(spark, path)
        .filter(col("lon_idx").between(8, 15))
        .select(input_file_name()).distinct().count()
    val rmF = filesHolding(raster)
    val zF  = filesHolding(zorder)
    assert(rmF >= 12, s"raster should spread the lon box over most files, got $rmF")
    assert(zF * 2 <= rmF, s"z-order should at least halve file touch: $zF vs $rmF")
    // variable stays a leading layout key: a variable filter touches ~half
    // the files (sif is half the rows) plus at most ONE boundary straddle —
    // NOT all of them (interleaving). Compared against the file budget, not
    // the raster run: repartitionByRange samples its boundaries per run, so
    // raster/zorder straddle counts can differ by one between otherwise
    // identical runs (this exact flake: 9 vs 8 under full-suite ordering).
    def filesForVariable(path: String): Long =
      ProductStore.read(spark, path).filter(col("variable") === "sif")
        .select(input_file_name()).distinct().count()
    val vZ = filesForVariable(zorder)
    val vR = filesForVariable(raster)
    assert(vZ <= aZ / 2 + 1, s"z-order must not interleave variables: sif touches $vZ of $aZ files")
    assert(vR <= aR / 2 + 1, s"raster baseline: sif touches $vR of $aR files")
    // bloom filters present on the named column, absent elsewhere
    val conf = spark.sessionState.newHadoopConf()
    val part = new java.io.File(zorder, s"day=$day").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(part.getAbsolutePath), conf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val byName = (0 until cols.size).map(cols.get)
        .map(c => c.getPath.toDotString -> (c.getBloomFilterOffset >= 0)).toMap
      assert(byName("target_id") === true, s"target_id must carry a bloom: $byName")
      assert(byName("variable") === false, "unlisted columns stay bloom-free")
    } finally reader.close()
    // idempotent: re-compacting the z-ordered day changes nothing
    val (b2, a2) = ProductStore.compact(spark, zorder, Seq(day), targetRows = 512,
      zOrder = true, bloomFilterCols = Seq("target_id"))
    assert(b2 === 16 && a2 === 16)
    assert(ProductStore.read(spark, zorder).collect().toSet === before)
  }

  test("RepairJob CLI: repair + --compact --zorder --bloom through the front door") {
    val path = tmp("repaircli")
    val grid = (for (v <- Seq("sif", "xco2"); lat <- 0 until 16; lon <- 0 until 16)
      yield (f"fossil${lat * 16 + lon}%04d", v, lat, lon, (lat * 16 + lon).toDouble))
      .toDF("target_id", "variable", "lat_idx", "lon_idx", "value")
      .withColumn("time", lit("2024-01-01 00:00:00").cast("timestamp"))
    ProductStore.appendIdempotent(grid.repartition(6), path)
    // a foreign double-append: the CLI must repair it, then compact z-ordered
    grid.withColumn("day", col("time").cast("date"))
      .write.mode("append").partitionBy("day").parquet(path)
    val before = grid.withColumn("day", col("time").cast("date")).collect().toSet
    graft.tools.RepairJob.main(Array(
      path, "--compact", "2024-01-01", "--target-rows", "256", "--zorder",
      "--bloom", "target_id"))
    assert(ProductStore.findDuplicates(spark, path).count() === 0)
    assert(ProductStore.read(spark, path).collect().toSet === before)
    val files = new java.io.File(path, "day=2024-01-01").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 2, s"512 rows / 256 target-rows = 2 files, got ${files.length}")
    // bloom footer present through the CLI path too
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(files.head.getAbsolutePath),
      spark.sessionState.newHadoopConf())
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val hasBloom = (0 until cols.size).map(cols.get)
        .exists(c => c.getPath.toDotString == "target_id" && c.getBloomFilterOffset >= 0)
      assert(hasBloom, "target_id bloom missing through the CLI path")
    } finally reader.close()
  }

  test("idempotent append converges on re-delivery of the same day") {
    val path = tmp("store")
    ProductStore.appendIdempotent(product, path)
    val n1 = ProductStore.read(spark, path).count()
    // simulate the queue re-delivering the same granule-day
    ProductStore.appendIdempotent(product, path)
    ProductStore.appendIdempotent(product, path)
    val n2 = ProductStore.read(spark, path).count()
    assert(n1 === n2)
    assert(ProductStore.findDuplicates(spark, path).count() === 0)
  }

  test("append of a new day leaves existing partitions untouched") {
    val path = tmp("store")
    ProductStore.appendIdempotent(product, path)
    val n1    = ProductStore.read(spark, path).count()
    val dayTwo = product.withColumn("time", col("time") + expr("INTERVAL 1 DAY"))
    ProductStore.appendIdempotent(dayTwo, path)
    assert(ProductStore.read(spark, path).count() === 2 * n1)
  }

  test("verify finds and repair removes duplicates from plain appends") {
    val path = tmp("store")
    ProductStore.appendIdempotent(product, path)
    // a foreign writer double-appends (plain append mode, no idempotence)
    product
      .withColumn("day", col("time").cast("date"))
      .write.mode("append").partitionBy("day").parquet(path)
    assert(ProductStore.findDuplicates(spark, path).count() > 0)
    val fixed = ProductStore.repair(spark, path)
    assert(fixed > 0)
    assert(ProductStore.findDuplicates(spark, path).count() === 0)
  }

  test("drop-empty guard removes all-NaN slices and keeps mixed ones") {
    import spark.implicits._
    val df = Seq(
      ("t1", "2023-06-15 00:00:00", Double.NaN),
      ("t1", "2023-06-15 00:00:00", Double.NaN), // t1/day all NaN -> dropped
      ("t2", "2023-06-15 00:00:00", Double.NaN),
      ("t2", "2023-06-15 00:00:00", 1.5)         // t2/day has a value -> kept
    ).toDF("target_id", "s", "value").withColumn("time", to_timestamp($"s")).drop("s")
    val kept = ProductStore.dropEmptySlices(df)
    assert(kept.select("target_id").distinct().collect().map(_.getString(0)) === Array("t2"))
    assert(kept.count() === 2) // both t2 rows survive (slice-level guard)
    // null-keyed slices with values survive (null-safe join keys)
    val withNull = df.unionByName(
      Seq((null.asInstanceOf[String], "2023-06-15 00:00:00", 7.0))
        .toDF("target_id", "s", "value").withColumn("time", to_timestamp($"s")).drop("s"))
    assert(ProductStore.dropEmptySlices(withNull).filter($"target_id".isNull).count() === 1)
    // the guard is applied at write time behind dropEmpty
    val path = tmp("dropempty")
    ProductStore.appendIdempotent(df, path, dropEmpty = true)
    assert(ProductStore.read(spark, path).select("target_id").distinct().count() === 1)
    // global long form has NO target column: the slice key degrades to the
    // day — an all-NaN day drops, a mixed day survives whole
    val global = Seq(
      ("2023-06-15 00:00:00", Double.NaN),
      ("2023-06-16 00:00:00", Double.NaN),
      ("2023-06-16 00:00:00", 2.5)
    ).toDF("s", "value").withColumn("time", to_timestamp($"s")).drop("s")
    val gkept = ProductStore.dropEmptySlices(global)
    assert(gkept.select($"time".cast("date").cast("string")).distinct()
      .collect().map(_.getString(0)) === Array("2023-06-16"))
    assert(gkept.count() === 2)
  }

  test("foreachBatch ingestion with idempotent sink is exactly-once in effect") {
    val src  = tmp("stream-src")
    val path = tmp("stream-store")
    val ckpt = tmp("stream-ckpt")
    // day-stamped long-form rows arriving as files
    product.write.mode("overwrite").parquet(src)
    val stream = spark.readStream
      .schema(ProductStore.read(spark, src).schema)
      .parquet(src)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, _: Long) => ProductStore.appendIdempotent(b, path))
      .start()
    q.awaitTermination(60000)
    val n = ProductStore.read(spark, path).count()
    assert(n === product.count())
    assert(ProductStore.findDuplicates(spark, path).count() === 0)
  }
}
