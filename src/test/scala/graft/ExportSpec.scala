package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sinks.{GeoTiff, ZarrStore}
import graft.domain.Pipeline
import graft.queries.DomainQueries

class ExportSpec extends SparkSpec {

  private lazy val product =
    Pipeline.process(DomainQueries.demoGranule(spark), DomainQueries.demoCatalog(spark)).cache()

  test("netCDF-4 export: one deflate-compressed .nc4 per (target, day), values round-trip") {
    val dir = Files.createTempDirectory("nc4exp").toString
    val files = graft.sinks.NetCDFExport.exportTargetDailyH5(product, dir).collect()
    assert(files.map(_.target_id).sorted === Array("fossil0001", "volcano0002"))
    val f = files.find(_.target_id === "fossil0001").get
    val back = spark.read.format("hdf5").option("rowdim", "lat").load(f.path)
      .selectExpr("row_index AS lat_idx", "posexplode(xco2) AS (lon_idx, v)", "latitude", "longitude")
      .filter(col("v").isNotNull)
      .select(
        col("lat_idx").cast("int"),
        col("lon_idx").cast("int"),
        col("v"),
        expr("latitude[lon_idx]").as("lat"),
        expr("longitude[lon_idx]").as("lon"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    val want = product
      .filter(col("target_id") === "fossil0001" && col("variable") === "xco2")
      .select(col("lat_idx"), col("lon_idx"), col("value"), col("lat"), col("lon"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2))
    assert(back === want)
    // deflate parity with the reference's zlib-9 export: compression
    // actually shrinks the chunk payloads (same metadata either way; on
    // this tiny demo slice the file-level win shows only against the
    // uncompressed HDF5 encoding)
    val rawDir = Files.createTempDirectory("nc4exp-raw").toString
    val raw = graft.sinks.NetCDFExport.exportTargetDailyH5(product, rawDir, deflateLevel = 0)
      .collect().find(_.target_id === "fossil0001").get
    def size(p: String) = new java.io.File(new java.net.URI(
      if (p.startsWith("file:")) p else "file://" + p)).length()
    assert(size(f.path) < size(raw.path))
  }

  test("GeoTIFF codec: tiled float64 raster round-trips with georeferencing") {
    val (w, h) = (300, 270) // forces 2x2 tiles with padding
    val data = Array.tabulate(w * h)(i => if (i % 7 == 0) Double.NaN else i * 0.5)
    val bytes = GeoTiff.encode(data, w, h, originLon = -10.5, originLat = 42.5, scaleLon = 0.1, scaleLat = 0.1)
    // CoG property: metadata at the front (header + IFD before tile data)
    assert(bytes(0) === 'I'.toByte && bytes(1) === 'I'.toByte)
    val r = GeoTiff.decode(bytes)
    assert(r.width === w && r.height === h)
    assert(r.originLon === -10.5 && r.originLat === 42.5 && r.scaleLon === 0.1 && r.scaleLat === 0.1)
    assert(r.data.length === data.length)
    data.indices.foreach { i =>
      assert(java.lang.Double.compare(r.data(i), data(i)) === 0 || (r.data(i).isNaN && data(i).isNaN))
    }
    // deflate (the default) must actually compress the NaN-padded tiles,
    // and the uncompressed form must round-trip identically
    val raw = GeoTiff.encode(data, w, h, -10.5, 42.5, 0.1, 0.1, deflate = false)
    assert(bytes.length < raw.length / 2)
    assert(GeoTiff.decode(raw).data.zip(r.data).forall { case (a, b) =>
      java.lang.Double.compare(a, b) === 0 })
  }

  test("GeoTIFF overviews: chained IFD pyramid with NaN-aware average downsampling") {
    val (w, h) = (64, 32)
    val data = Array.tabulate(w * h)(i => i.toDouble)
    data(0) = Double.NaN
    val bytes = GeoTiff.encode(data, w, h, 0.0, 0.0, 1.0, 1.0, overviews = 2)
    assert(GeoTiff.levelCount(bytes) === 3)
    val l1 = GeoTiff.decode(bytes, 1)
    assert(l1.width === 32 && l1.height === 16)
    // cell (0,0): NaN-aware mean of {NaN, 1, 64, 65} = 130/3
    assert(math.abs(l1.data(0) - 130.0 / 3) < 1e-12)
    // cell (1,0): mean of {2, 3, 66, 67}
    assert(l1.data(1) === 34.5)
    val l2 = GeoTiff.decode(bytes, 2)
    assert(l2.width === 16 && l2.height === 8)
    // level-0 decode unchanged by the pyramid
    val l0 = GeoTiff.decode(bytes)
    assert(l0.width === w && java.lang.Double.compare(l0.data(1), 1.0) === 0)
  }

  test("CoG export: one GeoTIFF per (target, variable, day), north-up values") {
    val dir = Files.createTempDirectory("cog").toString
    val files = graft.sinks.CoGExport.exportSlices(product, dir).collect()
    assert(files.length === 4) // 2 targets x 2 variables
    val f = files.find(s => s.target_id == "fossil0001" && s.variable == "xco2").get
    val raster = GeoTiff.decode(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(
        if (f.path.startsWith("file:")) f.path else "file://" + f.path))))
    val want = product
      .filter(col("target_id") === "fossil0001" && col("variable") === "xco2")
      .select("lat_idx", "lon_idx", "value", "lat", "lon").collect()
    want.foreach { r =>
      val (latIdx, lonIdx, v) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      val row = raster.height - 1 - latIdx // north-up flip
      assert(raster.data(row * raster.width + lonIdx) === v)
      // georeferencing: pixel center ~ recorded lon/lat
      val lonC = raster.originLon + raster.scaleLon * (lonIdx + 0.5)
      assert(math.abs(lonC - r.getDouble(4)) < 1e-6)
    }
  }

  test("GeoTIFF sparse tiles: absent tiles decode as NaN and cost no bytes") {
    // two levels, 2x1 tiles at level 0; the second tile is sparse
    val ts = GeoTiff.TileSize
    def denseTile(f: Int => Double): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(ts * ts * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until ts * ts).foreach(i => b.putDouble(i * 8, f(i)))
      GeoTiff.deflateTile(b.array())
    }
    val full = GeoTiff.assembleTiles(
      IndexedSeq(
        GeoTiff.LevelTiles(2 * ts, ts, IndexedSeq(denseTile(_.toDouble), denseTile(i => i * 2.0))),
        GeoTiff.LevelTiles(ts, ts / 2, IndexedSeq(denseTile(i => if (i < ts * ts / 2) 7.0 else Double.NaN)))),
      0.0, 0.0, 1.0, 1.0)
    val sparse = GeoTiff.assembleTiles(
      IndexedSeq(
        GeoTiff.LevelTiles(2 * ts, ts, IndexedSeq(denseTile(_.toDouble), Array.emptyByteArray)),
        GeoTiff.LevelTiles(ts, ts / 2, IndexedSeq(Array.emptyByteArray))),
      0.0, 0.0, 1.0, 1.0)
    assert(sparse.length < full.length)
    val r = GeoTiff.decode(sparse)
    assert(r.width === 2 * ts && r.height === ts)
    (0 until ts).foreach { row =>
      (0 until ts).foreach { c =>
        assert(r.data(row * 2 * ts + c) === (row * ts + c).toDouble) // present tile
        assert(r.data(row * 2 * ts + ts + c).isNaN)                  // sparse tile
      }
    }
    assert(GeoTiff.decode(sparse, 1).data.forall(_.isNaN))
    // the dense assembly of the same present values decodes identically
    val rf = GeoTiff.decode(full)
    (0 until ts * ts).foreach(i => assert(rf.data((i / ts) * 2 * ts + i % ts) === r.data((i / ts) * 2 * ts + i % ts)))
  }

  test("global CoG mosaic: distributed tile export matches the dense encoder level by level") {
    // small global grid with whole-tile gaps; integer values make the
    // overview means exact, so distributed avg == dense downsample bitwise
    val (nLon, nLat) = (600, 300)
    val cells = for {
      latIdx <- 10 until 150
      lonIdx <- 300 until 580
      if (latIdx / 30 + lonIdx / 30) % 3 != 2 // carve gaps, incl. whole tiles
    } yield (latIdx, lonIdx, ((latIdx * 31 + lonIdx * 7) % 97).toDouble)
    val long = spark.createDataFrame(cells.map { case (la, lo, v) =>
      ("xco2", java.sql.Timestamp.valueOf("2023-06-15 00:00:00"), la, lo, v)
    }).toDF("variable", "time", "lat_idx", "lon_idx", "value")
    val dir = Files.createTempDirectory("mosaic").toString
    val files = graft.sinks.CoGExport.exportGlobalMosaic(
      long, dir, nLon, nLat, minLon = -179.7, dLon = 0.6, minLat = -89.7, dLat = 0.6, overviews = 2).collect()
    assert(files.length === 1)
    val got = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(
      if (files.head.path.startsWith("file:")) files.head.path else "file://" + files.head.path)))
    // dense reference: same cells burned into a full north-up plane
    val dense = Array.fill(nLat * nLon)(Double.NaN)
    cells.foreach { case (la, lo, v) => dense((nLat - 1 - la) * nLon + lo) = v }
    val want = GeoTiff.encode(
      dense, nLon, nLat,
      originLon = -179.7 - 0.3, originLat = (-89.7 + 299 * 0.6) + 0.3,
      scaleLon = 0.6, scaleLat = 0.6, overviews = 2)
    assert(GeoTiff.levelCount(got) === GeoTiff.levelCount(want))
    (0 until GeoTiff.levelCount(want)).foreach { l =>
      val a = GeoTiff.decode(got, l); val b = GeoTiff.decode(want, l)
      assert(a.width === b.width && a.height === b.height, s"level $l dims")
      a.data.indices.foreach { i =>
        assert(java.lang.Double.compare(a.data(i), b.data(i)) === 0, s"level $l cell $i")
      }
    }
    val g = GeoTiff.decode(got)
    assert(math.abs(g.originLon - (-180.0)) < 1e-9 && math.abs(g.originLat - 90.0) < 1e-9)
    assert(g.scaleLon === 0.6 && g.scaleLat === 0.6)
  }

  test("global netCDF-4 export: sparse chunked file round-trips through the hdf5 source") {
    // deliberately NOT divisible by the 100x100 chunking, with data in the
    // ragged bottom-right corner: partial edge chunks must round-trip
    val (nLon, nLat) = (510, 290)
    val cells = (for {
      latIdx <- 20 until 120
      lonIdx <- 150 until 420
      if (latIdx + lonIdx) % 4 != 3
    } yield (latIdx, lonIdx, (latIdx * 1000 + lonIdx).toDouble)) ++
      (for { latIdx <- 285 until 290; lonIdx <- 505 until 510 }
        yield (latIdx, lonIdx, (latIdx * 1000 + lonIdx).toDouble))
    val long = spark.createDataFrame(cells.map { case (la, lo, v) =>
      ("xco2", java.sql.Timestamp.valueOf("2023-06-15 00:00:00"), la, lo, v)
    }).toDF("variable", "time", "lat_idx", "lon_idx", "value")
    val dir = Files.createTempDirectory("ncglobal").toString
    val files = graft.sinks.NetCDFExport.exportGlobalDailyH5(
      long, dir, nLon, nLat, minLon = -179.64, dLon = 0.72, minLat = -89.7, dLat = 0.6,
      cLat = 100, cLon = 100).collect()
    assert(files.length === 1 && files.head.day === "2023-06-15")
    val back = spark.read.format("hdf5").option("rowdim", "lat").load(files.head.path)
      .selectExpr("row_index AS lat_idx", "posexplode(xco2) AS (lon_idx, v)")
      .filter(col("v").isNotNull)
      .collect().map(r => (r.getLong(0).toInt, r.getInt(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    val want = cells.map { case (la, lo, v) => (la, lo, v) }.sortBy(t => (t._1, t._2))
    assert(back.length === want.length)
    assert(back === want.toArray)
    // byte-bounded splits: capping split size must fan the same file out
    // across many row ranges and read back identically (the guard against
    // production-width rows overflowing a single split's read buffer)
    val backSplit = spark.read.format("hdf5")
      .option("rowdim", "lat").option("maxbytespersplit", (64 * 1024).toString)
      .load(files.head.path)
    assert(backSplit.rdd.getNumPartitions > 4)
    val backSplitRows = backSplit
      .selectExpr("row_index AS lat_idx", "posexplode(xco2) AS (lon_idx, v)")
      .filter(col("v").isNotNull)
      .collect().map(r => (r.getLong(0).toInt, r.getInt(1), r.getDouble(2))).sortBy(t => (t._1, t._2))
    assert(backSplitRows === want.toArray)
    // the lat/lon dimension-scale axes carry the grid spec (coordinate
    // vars are hidden by the source, so decode the file directly)
    import graft.sources.netcdf.Hdf5
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(
      if (files.head.path.startsWith("file:")) files.head.path else "file://" + files.head.path)))
    val h5  = Hdf5.open(new Hdf5.BytesInput(raw))
    val latDs = h5.dataset("lat").get
    val bb = java.nio.ByteBuffer.wrap(h5.readRows(latDs, 0, 2)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    assert(math.abs(bb.getDouble(0) - (-89.7)) < 1e-9 && math.abs(bb.getDouble(8) - (-89.1)) < 1e-9)
    // sparse: the file stores only the chunks that have data (12 of 15
    // possible per-variable chunk slots at this coverage)
    val ds = h5.dataset("xco2").get
    assert(ds.shape.toSeq === Seq(nLat.toLong, nLon.toLong))
  }

  test("JSONL training export: token-budget shards, byte-deterministic, round-trips") {
    import spark.implicits._
    import graft.sinks.TrainingExport
    val docs = (0L until 50L).map { i =>
      (i, (0 to (i % 7).toInt).map(j => s"w${i}_$j").mkString(" "), s"s${i % 3}")
    }.toDF("doc_id", "text", "source")
    val path = Files.createTempDirectory("jsonl").toString + "/out"
    val nShards = TrainingExport.jsonl(docs, "doc_id", "text", path, tokensPerShard = 40)
    assert(nShards >= 2, s"test should span shards, got $nShards")

    // round-trip: every row and column survives (shard column from the dir name)
    val back = spark.read.json(path)
    assert(back.count() === 50)
    val orig = docs.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val got = back.select($"doc_id", $"text", $"source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === orig)

    // budget law: docs are whole, so a shard holds < budget + its last doc
    val maxDoc = 7L
    val perShard = back
      .withColumn("_t", size(split($"text", " ")).cast("long"))
      .groupBy($"shard").agg(sum($"_t").as("t"))
      .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
    assert(perShard.keySet === (0L until nShards).toSet) // contiguous, none empty
    assert(perShard.values.forall(_ <= 40L + maxDoc), s"overfull shard: $perShard")

    // determinism: a differently-partitioned input yields byte-identical shards
    val path2 = Files.createTempDirectory("jsonl2").toString + "/out"
    TrainingExport.jsonl(docs.repartition(13), "doc_id", "text", path2, tokensPerShard = 40)
    def shardBytes(base: String): Map[String, String] =
      new java.io.File(base).listFiles().filter(_.getName.startsWith("shard=")).map { d =>
        val lines = d.listFiles().filter(_.getName.endsWith(".txt"))
          .sortBy(_.getName)
          .flatMap(f => scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq)
        d.getName -> lines.mkString("\n")
      }.toMap
    assert(shardBytes(path) === shardBytes(path2))

    // gzip option: .txt.gz line files, identical logical content back
    val path3 = Files.createTempDirectory("jsonlgz").toString + "/out"
    TrainingExport.jsonl(docs, "doc_id", "text", path3, tokensPerShard = 40,
      compression = Some("gzip"))
    val gzFiles = new java.io.File(path3).listFiles().filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles()).map(_.getName).filter(_.endsWith(".txt.gz"))
    assert(gzFiles.nonEmpty, "gzip export produced no .txt.gz files")
    val backGz = spark.read.json(path3).select($"doc_id", $"text", $"source")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(backGz === orig)
  }

  test("store attrs: coverage widens and date_created persists across appends") {
    // one target: the Zarr store models a single (time, lat, lon) grid
    val one  = product.filter(col("target_id") === "fossil0001")
    val grid = ZarrStore.GridSpec(16, 16, 40.0, 0.125, 10.0, 0.125)
    val path = Files.createTempDirectory("attrs").toString
    def attrs(): Map[String, String] =
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(new String(
        Files.readAllBytes(java.nio.file.Paths.get(path, ".zattrs")), "UTF-8"))
        .map(m => m.group(1) -> m.group(2)).toMap
    ZarrStore.write(one, path, grid, now = "2024-01-01T00:00:00Z")
    val a = attrs()
    assert(a("coverage_start") === "2023-06-15T00:00:00Z" && a("coverage_end") === "2023-06-15T00:00:00Z")
    assert(a("date_created") === "2024-01-01T00:00:00Z" && a("date_updated") === "2024-01-01T00:00:00Z")
    // a later day appended later widens coverage_end and moves
    // date_updated; date_created and coverage_start stay
    ZarrStore.write(one.withColumn("time", to_timestamp(lit("2023-06-16 00:00:00"))), path, grid,
      now = "2024-02-02T00:00:00Z")
    val b = attrs()
    assert(b("date_created") === "2024-01-01T00:00:00Z")
    assert(b("date_updated") === "2024-02-02T00:00:00Z")
    assert(b("coverage_start") === "2023-06-15T00:00:00Z")
    assert(b("coverage_end") === "2023-06-16T00:00:00Z")
  }
}
