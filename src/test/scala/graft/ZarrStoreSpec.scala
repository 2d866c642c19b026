package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.domain.Pipeline
import graft.queries.DomainQueries
import graft.sinks.ZarrStore

/** Zarr v2 store sink (reference `writers/ZarrWriter.py`): public-format
  * metadata, chunk-grid file layout, blosc(blosclz)/zlib chunk codecs,
  * absent empty chunks, forward-only time append with boundary-chunk
  * merge. */
class ZarrStoreSpec extends SparkSpec {

  // one target: the store models a single (time, lat, lon) grid, and the
  // demo catalog's two targets both index pixels 0..15 on their own grids
  private lazy val product =
    Pipeline.process(DomainQueries.demoGranule(spark), DomainQueries.demoCatalog(spark))
      .filter(col("target_id") === "fossil0001").cache()

  private val grid   = ZarrStore.GridSpec(16, 16, 40.0, 0.125, 10.0, 0.125)
  private val chunks = ZarrStore.Chunking(t = 5, y = 6, x = 6)

  private def slurp(p: String): String = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  test("create writes valid Zarr v2 metadata and round-trips values") {
    val path = Files.createTempDirectory("zarr").toString
    ZarrStore.write(product, path, grid, chunks)
    // root group + root attrs
    assert(slurp(s"$path/.zgroup").contains("\"zarr_format\": 2"))
    val rootAttrs = slurp(s"$path/.zattrs")
    assert(rootAttrs.contains("\"coverage_start\": \"2023-06-15T00:00:00Z\""))
    // per-variable array metadata: shape (1 day, 16, 16), chunk (5,6,6),
    // blosc blosclz-9 codec (reference parity: ZarrWriter.py:205), NaN
    // fill, xarray dims convention
    val za = slurp(s"$path/xco2/.zarray")
    assert(za.contains("\"shape\": [1, 16, 16]"))
    assert(za.contains("\"chunks\": [5, 6, 6]"))
    assert(za.contains("\"id\": \"blosc\"") && za.contains("\"cname\": \"blosclz\"")
      && za.contains("\"clevel\": 9") && za.contains("\"shuffle\": 1"))
    assert(za.contains("\"fill_value\": \"NaN\""))
    assert(slurp(s"$path/xco2/.zattrs").contains("\"_ARRAY_DIMENSIONS\": [\"time\", \"lat\", \"lon\"]"))
    // coordinate arrays exist with dims
    assert(slurp(s"$path/time/.zattrs").contains("days since 1970-01-01"))
    assert(slurp(s"$path/lat/.zarray").contains("\"shape\": [16]"))
    // consolidated metadata inlines every metadata doc (reference parity)
    val zmeta = slurp(s"$path/.zmetadata")
    assert(zmeta.contains("\"zarr_consolidated_format\": 1"))
    assert(zmeta.contains("\"xco2/.zarray\"") && zmeta.contains("\"time/.zattrs\""))
    // values round-trip bit-exactly through the public chunk format
    val back = ZarrStore.read(spark, path, "xco2")
      .select(col("lat_idx"), col("lon_idx"), col("value"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).sorted
    val want = product.filter(col("variable") === "xco2")
      .select(col("lat_idx"), col("lon_idx"), col("value"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).sorted
    assert(back.nonEmpty && back === want)
  }

  test("empty chunk cells produce no files (write_empty_chunks=False semantics)") {
    val path = Files.createTempDirectory("zarr-empty").toString
    // data only in the low-left 6x6 chunk cell
    val corner = product.filter(col("lat_idx") < 6 && col("lon_idx") < 6 && col("variable") === "xco2")
    ZarrStore.write(corner, path, grid, chunks)
    val files = new java.io.File(s"$path/xco2").listFiles().map(_.getName).filter(!_.startsWith("."))
    assert(files.toSeq === Seq("0.0.0"))
  }

  test("append extends the time axis and merges boundary chunks; out-of-order appends are rejected") {
    val path = Files.createTempDirectory("zarr-append").toString
    ZarrStore.write(product, path, grid, chunks)
    // next day: time axis grows to 2; day 1 lands in the SAME time-chunk
    // (ct=5) so the existing chunk files must merge, not be replaced
    val day2 = product.withColumn("time", to_timestamp(lit("2023-06-16 00:00:00")))
      .withColumn("value", col("value") + 100.0)
    ZarrStore.write(day2, path, grid, chunks)
    assert(slurp(s"$path/xco2/.zarray").contains("\"shape\": [2, 16, 16]"))
    assert(ZarrStore.existingDays(spark, path) ===
      Seq(java.time.LocalDate.parse("2023-06-15").toEpochDay, java.time.LocalDate.parse("2023-06-16").toEpochDay))
    val back = ZarrStore.read(spark, path, "xco2")
    // both days present, day-0 values untouched, day-1 = day-0 + 100
    val d0 = back.filter(col("time_idx") === 0).agg(sum("value")).collect()(0).getDouble(0)
    val d1n = back.filter(col("time_idx") === 1).count()
    val d0n = back.filter(col("time_idx") === 0).count()
    assert(d0n === d1n && d1n > 0)
    val d1 = back.filter(col("time_idx") === 1).agg(sum("value")).collect()(0).getDouble(0)
    assert(math.abs(d1 - (d0 + 100.0 * d0n)) < 1e-6)
    // coverage widened
    assert(slurp(s"$path/.zattrs").contains("\"coverage_end\": \"2023-06-16T00:00:00Z\""))
    // rewriting an EARLIER day is rejected (forward-only append, as in the
    // reference's daily pipeline)
    val earlier = product.withColumn("time", to_timestamp(lit("2023-06-01 00:00:00")))
    val e = intercept[IllegalArgumentException](ZarrStore.write(earlier, path, grid, chunks))
    assert(e.getMessage.contains("forward"))
  }

  test("an append extends the time axis of arrays the batch does not mention (shared multi-mission store)") {
    val path = Files.createTempDirectory("zarr-othervar").toString
    // day 1: variable xco2 only, but the store is declared with a second
    // (absent-mission) array via ensureVariables
    val day1 = product.filter(col("variable") === "xco2")
    ZarrStore.write(day1, path, grid, chunks, ensureVariables = Seq("daily_sif"))
    assert(slurp(s"$path/daily_sif/.zarray").contains("\"shape\": [1, 16, 16]"))
    // day 2: a SIF-only batch — xco2's metadata must still track the new
    // 2-day axis even though this batch never mentions it
    val day2 = product.filter(col("variable") === "xco2")
      .withColumn("time", to_timestamp(lit("2023-06-16 00:00:00")))
      .withColumn("variable", lit("daily_sif"))
    ZarrStore.write(day2, path, grid, chunks)
    assert(slurp(s"$path/xco2/.zarray").contains("\"shape\": [2, 16, 16]"))
    assert(slurp(s"$path/daily_sif/.zarray").contains("\"shape\": [2, 16, 16]"))
    // xco2 still reads its day-1 data; its day 2 is absent (all-fill);
    // daily_sif has day 2 only
    val xb = ZarrStore.read(spark, path, "xco2")
    assert(xb.filter(col("time_idx") === 0).count() > 0)
    assert(xb.filter(col("time_idx") === 1).count() === 0)
    val sb = ZarrStore.read(spark, path, "daily_sif")
    assert(sb.filter(col("time_idx") === 0).count() === 0)
    assert(sb.filter(col("time_idx") === 1).count() > 0)
    // consolidated metadata covers both arrays after both writes
    val zmeta = slurp(s"$path/.zmetadata")
    assert(zmeta.contains("\"xco2/.zarray\"") && zmeta.contains("\"daily_sif/.zarray\""))
  }

  test("streaming foreachBatch appends days to the Zarr store (the reference's production loop)") {
    // the reference's run loop: queue batch → pipeline → Zarr append along
    // time. Here: a file-manifest stream of two day-stamped batches through
    // foreachBatch with ZarrStore.write as the sink.
    val src  = Files.createTempDirectory("zstream-src").toString
    val path = Files.createTempDirectory("zstream-store").toString
    val ckpt = Files.createTempDirectory("zstream-ckpt").toString
    val day2 = product.withColumn("time", to_timestamp(lit("2023-06-16 00:00:00")))
    product.unionByName(day2).write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema(product.schema).parquet(src)
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => ZarrStore.write(b, path, grid, chunks))
      .start()
    q.awaitTermination(60000)
    assert(slurp(s"$path/xco2/.zarray").contains("\"shape\": [2, 16, 16]"))
    val back = ZarrStore.read(spark, path, "xco2")
    assert(back.filter(col("time_idx") === 0).count() === back.filter(col("time_idx") === 1).count())
  }

  test("chunk writes are task-retry-atomic: rename over existing files, stale attempt tmps ignored and swept") {
    val path = Files.createTempDirectory("zarr-atomic").toString
    ZarrStore.write(product, path, grid, chunks)

    // a retried attempt re-writes THROUGH a temp name and renames over the
    // existing complete file — the final path never holds partial bytes
    val conf  = spark.sessionState.newHadoopConf()
    val chunk = new org.apache.hadoop.fs.Path(s"$path/xco2/0.0.0")
    val before = Files.readAllBytes(Paths.get(s"$path/xco2/0.0.0"))
    ZarrStore.atomicWriteFile(conf, chunk, before) // idempotent retry
    assert(Files.readAllBytes(Paths.get(s"$path/xco2/0.0.0")).toSeq === before.toSeq)
    assert(!new java.io.File(s"$path/xco2").listFiles().exists(_.getName.contains("tmp")),
      "rename must consume the temp file")

    // a task killed mid-write leaves only a stale dot-prefixed tmp; a later
    // append must (a) never read it as chunk data, (b) sweep it
    val stale = Paths.get(s"$path/xco2/.0.0.0.tmp-99")
    Files.write(stale, Array.fill[Byte](17)(0x5a)) // truncated garbage
    val day2 = product.withColumn("time", to_timestamp(lit("2023-06-16 00:00:00")))
      .withColumn("value", col("value") + 100.0)
    ZarrStore.write(day2, path, grid, chunks)
    assert(!Files.exists(stale), "driver sweep must remove stale attempt files")
    // append round-trips byte-correct despite the garbage neighbor
    val back = ZarrStore.read(spark, path, "xco2")
    val d0n = back.filter(col("time_idx") === 0).count()
    val d1n = back.filter(col("time_idx") === 1).count()
    assert(d0n === d1n && d0n > 0)
    val d0 = back.filter(col("time_idx") === 0).agg(sum("value")).collect()(0).getDouble(0)
    val d1 = back.filter(col("time_idx") === 1).agg(sum("value")).collect()(0).getDouble(0)
    assert(math.abs(d1 - (d0 + 100.0 * d0n)) < 1e-6)
    // the read surface never lists dot-files as chunks
    Files.write(Paths.get(s"$path/xco2/.1.0.0.tmp-7"), Array.fill[Byte](5)(1))
    assert(ZarrStore.read(spark, path, "xco2").count() === d0n + d1n)
  }

  test("blosc chunks actually compress and store NaN fill for absent pixels") {
    val path = Files.createTempDirectory("zarr-z").toString
    ZarrStore.write(product, path, grid, chunks)
    val f = new java.io.File(s"$path/xco2/0.0.0")
    assert(f.exists())
    assert(f.length() < 5L * 6 * 6 * 8) // smaller than the raw chunk
  }

  test("an append keeps the codec the store was created with (zlib store stays zlib)") {
    val path = Files.createTempDirectory("zarr-zlib").toString
    ZarrStore.write(product, path, grid, chunks, codec = ZarrStore.ZlibCodec(9))
    assert(slurp(s"$path/xco2/.zarray").contains("\"id\": \"zlib\""))
    // the default-codec append must NOT switch codecs: old chunks are zlib
    // bytes and one array can only declare one compressor
    val day2 = product.withColumn("time", to_timestamp(lit("2023-06-16 00:00:00")))
    ZarrStore.write(day2, path, grid, chunks)
    assert(slurp(s"$path/xco2/.zarray").contains("\"id\": \"zlib\""))
    assert(!slurp(s"$path/xco2/.zarray").contains("blosc"))
    val back = ZarrStore.read(spark, path, "xco2")
    assert(back.filter(col("time_idx") === 0).count() === back.filter(col("time_idx") === 1).count())
  }

  test("time-sliced read prunes chunk FILES, not just rows (reference time-slice subset)") {
    val path = Files.createTempDirectory("zarr-slice").toString
    val d1 = product.withColumn("time", to_timestamp(lit("2023-06-16 00:00:00")))
      .withColumn("value", col("value") + 100.0)
    val d2 = product.withColumn("time", to_timestamp(lit("2023-06-17 00:00:00")))
      .withColumn("value", col("value") + 200.0)
    // t=1 chunking: one chunk file per day
    ZarrStore.write(product.unionByName(d1).unionByName(d2), path, grid,
      ZarrStore.Chunking(t = 1, y = 6, x = 6))
    // corrupt every chunk file of days 0 and 2: a sliced read of day 1
    // must never open them — file pruning, not row filtering
    new java.io.File(s"$path/xco2").listFiles()
      .filter(_.getName.matches("[02]\\.\\d+\\.\\d+"))
      .foreach(f => Files.write(f.toPath, Array[Byte](1, 2, 3)))
    val sliced = ZarrStore.read(spark, path, "xco2", timeIdxRange = Some((1, 2)))
    val got = sliced.select("time_idx", "lat_idx", "lon_idx", "value")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sorted
    val want = d1.filter(col("variable") === "xco2")
      .select(lit(1), col("lat_idx"), col("lon_idx"), col("value"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).sorted
    assert(got.nonEmpty && got === want)
    // control: an unsliced read opens the corrupted files and fails — the
    // corruption above is real, so the sliced success proves the prune
    intercept[Exception](ZarrStore.read(spark, path, "xco2").collect())
  }

  test("blosc frames round-trip across sizes, shapes, and entropy profiles") {
    import graft.sinks.Blosc
    val rnd = new scala.util.Random(42)
    def doubles(n: Int)(f: Int => Double): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(n * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => b.putDouble(f(i)))
      b.array()
    }
    val cases: Seq[(String, Array[Byte])] = Seq(
      "tiny coord"      -> doubles(3)(_.toDouble),
      "sub-split block" -> doubles(100)(i => i * 0.125),
      "one full block"  -> doubles(16384)(i => if (i % 7 == 0) Double.NaN else 400.0 + (i % 50) * 0.01),
      "multi-block + leftover tail" -> doubles(5 * 250 * 250 / 8 + 13)(i => 400.0 + (i % 97) * 0.001),
      "all-NaN (empty-chunk profile)" -> doubles(5 * 6 * 6)(_ => Double.NaN),
      "incompressible random" -> {
        val a = new Array[Byte](4096); rnd.nextBytes(a); a
      },
      "odd length (typesize falls back to 1)" -> {
        val a = new Array[Byte](1001); rnd.nextBytes(a); a
      })
    for ((label, raw) <- cases) {
      val frame = Blosc.compress(raw, 8, shuffle = true)
      // the header records the decompressed length (bytes 4..7, little-endian)
      assert(java.nio.ByteBuffer.wrap(frame, 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        === raw.length, label)
      assert(Blosc.decompress(frame).toSeq === raw.toSeq, label)
      assert(frame.length <= raw.length + 16, s"$label: overhead bound")
    }
    // the smooth profiles must genuinely compress under shuffle+blosclz
    val nanFrame = Blosc.compress(doubles(5 * 6 * 6)(_ => Double.NaN), 8, shuffle = true)
    assert(nanFrame.length < 5 * 6 * 6 * 8 / 10, "all-NaN chunk should compress >10x")
    // header structure: version-format 2, blosclz version 1, shuffle flag,
    // typesize 8, nbytes recorded LE
    val f = Blosc.compress(doubles(16384)(i => (i % 251).toDouble), 8, shuffle = true)
    assert(f(0) === 2.toByte && f(1) === 1.toByte, "version bytes")
    assert((f(2) & 0x01) === 0x01, "shuffle flag")
    assert((f(2) & 0xe0) === 0, "codec bits say blosclz")
    assert(f(3) === 8.toByte, "typesize")
  }

  test("blosclz decoder accepts the full public token grammar (golden streams)") {
    import graft.sinks.Blosc
    def dec(stream: Array[Int], outLen: Int): Array[Byte] = {
      val s   = stream.map(_.toByte)
      val out = new Array[Byte](outLen)
      Blosc.blosclzDecompress(s, 0, s.length, out, 0, outLen)
      out
    }
    // literal run: token 2 -> 3 literals
    assert(dec(Array(2, 'a', 'b', 'c'), 3).toSeq === "abc".getBytes.toSeq)
    // near match, short form: lencode 1 -> copy 3, distance = ofs+code+1
    // "abcabc": literals "abc", then match len 3 dist 3 (ctrl 1<<5|0, code 2)
    assert(dec(Array(2, 'a', 'b', 'c', 1 << 5, 2), 6).toSeq === "abcabc".getBytes.toSeq)
    // RLE: distance 1 (ofs 0, code 0) copies the previous byte repeatedly
    assert(dec(Array(0, 'x', (2 << 5), 0), 5).toSeq === "xxxxx".getBytes.toSeq)
    // long match with chained 255 extensions: copy 9+255+0 = 264+ bytes
    val longOut = dec(Array(0, 'q', 7 << 5, 255, 0, 0), 1 + 9 + 255)
    assert(longOut.forall(_ == 'q'.toByte))
    // far match: low5=31, code=255, then big-endian u16; distance = u16+8192
    val src = new Array[Int](1 + 8192 + 4)
    src(0) = 0; src(1) = 'z'
    // fill 8191 more literals via runs of 32: 256 runs of 32 - 1 = 8191
    val lits = Array.fill(8191)('w'.toInt)
    val runTokens = lits.grouped(32).flatMap(g => Array(g.length - 1) ++ g).toArray
    val farStream = Array(0, 'z') ++ runTokens ++ Array((1 << 5) | 31, 255, 0, 0)
    // distance 8192 reaches back exactly to 'z' from op=8192
    val farOut = dec(farStream, 8192 + 3)
    assert(farOut(0) === 'z'.toByte && farOut(8192) === 'z'.toByte
      && farOut(8193) === 'w'.toByte && farOut(8194) === 'w'.toByte)
    // corrupt streams fail loudly, never return garbage
    intercept[IllegalArgumentException](dec(Array(5, 'a'), 6)) // truncated literals
    intercept[IllegalArgumentException](dec(Array(0, 'a', 1 << 5, 9), 4)) // match before start
  }
}
