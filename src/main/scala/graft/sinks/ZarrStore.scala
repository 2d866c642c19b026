package graft.sinks

import java.util.zip.{Deflater, Inflater}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.netcdf.SerializableHadoopConf

/** Zarr v2 product store — the reference's PRIMARY sink format
  * (`writers/ZarrWriter.py`): one array per variable over a
  * (time, lat, lon) grid, 5×250×250-day/pixel chunks, compressed chunk
  * payloads, append along the time axis, coverage attrs on the root group.
  *
  * This is the actual public Zarr v2 layout (`.zgroup`/`.zarray`/`.zattrs`
  * JSON + `t.y.x` chunk files), with the xarray `_ARRAY_DIMENSIONS`
  * convention and 1-D time/lat/lon coordinate arrays, so any Zarr client
  * (zarr-python, xarray, GDAL) opens the store directly. The default
  * compressor is numcodecs `blosc` with cname `blosclz`, clevel 9, byte
  * shuffle — byte parity with the reference's
  * `zarr.Blosc(cname='blosclz', clevel=9)` (`writers/ZarrWriter.py:205`) —
  * via the pure-JVM [[Blosc]] codec; `zlib` remains supported, and appends
  * always keep the codec the existing store was created with. Chunks
  * holding no data are simply absent — readers materialize `fill_value`
  * (NaN), the reference's `write_empty_chunks=False`.
  *
  * Scale shape: one task per non-empty (variable, time-chunk, lat-chunk,
  * lon-chunk) cell assembles and writes that cell's file after one shuffle
  * on the cell key; the driver writes only the JSON metadata and the tiny
  * 1-D coordinate arrays. Appends merge boundary time-chunks executor-side
  * (read + inflate + overlay + rewrite the touched files only) and must
  * extend the time axis monotonically — exactly the reference's
  * append_dim='time' daily-forward model.
  */
object ZarrStore {

  /** Regular lat/lon mesh: index i → lat0 + i·dlat (ascending), same for
    * lon. */
  final case class GridSpec(h: Int, w: Int, lat0: Double, dlat: Double, lon0: Double, dlon: Double)

  /** Chunk shape in (time, lat, lon) — reference default 5×250×250
    * (`ZarrWriter.py:236-263`). */
  final case class Chunking(t: Int = 5, y: Int = 250, x: Int = 250)

  /** Chunk compressor — serializable (executors compress/decompress chunk
    * payloads) and carrying its own numcodecs `.zarray` JSON so readers of
    * the store pick the matching decoder. */
  sealed trait ChunkCodec extends Serializable {
    def compress(raw: Array[Byte]): Array[Byte]
    def decompress(stored: Array[Byte], rawLen: Int): Array[Byte]
    def json: String
  }

  /** numcodecs `zlib` — the store's pre-round-10 codec, kept for reading
    * and appending stores created with it. */
  final case class ZlibCodec(level: Int = 9) extends ChunkCodec {
    def compress(raw: Array[Byte]): Array[Byte] = zlib(raw, level)
    def decompress(stored: Array[Byte], rawLen: Int): Array[Byte] = unzlib(stored, rawLen)
    def json: String = s"""{"id": "zlib", "level": $level}"""
  }

  /** numcodecs `blosc` (cname blosclz, byte shuffle) — reference parity.
    * blosclz has no effort dial worth modeling (clevel only picks block
    * sizes in c-blosc), so `clevel` is carried into the metadata verbatim. */
  final case class BloscCodec(clevel: Int = 9, shuffle: Int = 1, typesize: Int = 8) extends ChunkCodec {
    def compress(raw: Array[Byte]): Array[Byte] = Blosc.compress(raw, typesize, shuffle == 1)
    def decompress(stored: Array[Byte], rawLen: Int): Array[Byte] = {
      val out = Blosc.decompress(stored)
      require(out.length == rawLen, s"blosc chunk decoded ${out.length} bytes, expected $rawLen")
      out
    }
    def json: String =
      s"""{"id": "blosc", "blocksize": 0, "clevel": $clevel, "cname": "blosclz", "shuffle": $shuffle}"""
  }

  object ChunkCodec {
    val default: ChunkCodec = BloscCodec()

    /** Codec recorded in a `.zarray` document. */
    private[sinks] def fromZarray(json: String): ChunkCodec = {
      def int(key: String, dflt: Int): Int =
        s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(dflt)
      "\"id\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(json).map(_.group(1)) match {
        case Some("zlib")  => ZlibCodec(int("level", 9))
        case Some("blosc") => BloscCodec(int("clevel", 9), int("shuffle", 1))
        case Some(other)   => throw new IllegalArgumentException(s"unsupported zarr compressor '$other'")
        case None          => throw new IllegalArgumentException("zarr array has no compressor id")
      }
    }
  }

  private def fsFor(path: String, spark: SparkSession) = {
    val p = new Path(path)
    (p, p.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  private def writeFile(fs: org.apache.hadoop.fs.FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val os = fs.create(p, true)
    try os.write(bytes) finally os.close()
  }

  /** Task-retry-atomic file write: the payload goes to a dot-prefixed
    * per-attempt temp name in the same directory, then renames into place
    * with `Rename.OVERWRITE` (atomic on HDFS and on POSIX local rename).
    * A task killed mid-write leaves only a stale `.name.tmp-<attempt>`
    * file — never a truncated file at the final path — so retries and
    * later appends that READ existing chunks always see complete bytes.
    * Matches the reference's transactional care around the store
    * (`utils/ZarrUtils.py:115-344`). */
  private[graft] def atomicWriteFile(conf: org.apache.hadoop.conf.Configuration, p: Path, bytes: Array[Byte]): Unit = {
    val attempt = Option(org.apache.spark.TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-$attempt")
    val fs  = p.getFileSystem(conf)
    val os  = fs.create(tmp, true)
    try os.write(bytes) finally os.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  private def readFileOpt(fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[Array[Byte]] =
    if (!fs.exists(p)) None
    else {
      val in  = fs.open(p)
      val len = fs.getFileStatus(p).getLen.toInt
      val b   = new Array[Byte](len)
      try { in.readFully(0, b, 0, len); Some(b) } finally in.close()
    }

  private def zlib(raw: Array[Byte], level: Int): Array[Byte] = {
    val d = new Deflater(level)
    d.setInput(raw); d.finish()
    val o   = new java.io.ByteArrayOutputStream(raw.length / 4 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) o.write(buf, 0, d.deflate(buf))
    d.end()
    o.toByteArray
  }

  private def unzlib(stored: Array[Byte], rawLen: Int): Array[Byte] = {
    val inf = new Inflater()
    inf.setInput(stored)
    val out = new Array[Byte](rawLen)
    var filled = 0
    while (!inf.finished() && filled < rawLen) {
      val k = inf.inflate(out, filled, rawLen - filled)
      if (k == 0 && inf.needsInput()) throw new IllegalArgumentException("truncated zlib chunk")
      filled += k
    }
    inf.end()
    out
  }

  private def doublesLE(a: Array[Double]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(a.length * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    a.foreach(b.putDouble); b.array()
  }

  private def lEDoubles(b: Array[Byte]): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Array.fill(b.length / 8)(bb.getDouble())
  }

  private def zarrayJson(shape: Seq[Long], chunks: Seq[Int], codec: ChunkCodec): String =
    s"""{
       |  "zarr_format": 2,
       |  "shape": [${shape.mkString(", ")}],
       |  "chunks": [${chunks.mkString(", ")}],
       |  "dtype": "<f8",
       |  "compressor": ${codec.json},
       |  "fill_value": "NaN",
       |  "order": "C",
       |  "filters": null
       |}
       |""".stripMargin

  private def zattrsJson(dims: Seq[String], extra: Seq[(String, String)] = Nil): String = {
    val dimLine = s""""_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(", ")}]"""
    val lines   = dimLine +: extra.map { case (k, v) => s""""$k": "$v"""" }
    lines.mkString("{\n  ", ",\n  ", "\n}\n")
  }

  /** Write a 1-D float64 coordinate array as a single chunk. */
  private def writeCoord(fs: org.apache.hadoop.fs.FileSystem, root: Path, name: String, values: Array[Double], dim: String, codec: ChunkCodec, units: Option[String] = None): Unit = {
    val dir = new Path(root, name)
    fs.mkdirs(dir)
    writeFile(fs, new Path(dir, ".zarray"), zarrayJson(Seq(values.length.toLong), Seq(values.length.max(1)), codec).getBytes("UTF-8"))
    writeFile(fs, new Path(dir, ".zattrs"),
      zattrsJson(Seq(dim), units.map("units" -> _).toSeq).getBytes("UTF-8"))
    writeFile(fs, new Path(dir, "0"), codec.compress(doublesLE(values)))
  }

  /** Existing time axis (days since epoch), if the store exists. */
  def existingDays(spark: SparkSession, path: String): Seq[Long] = {
    val (root, fs) = fsFor(path, spark)
    val za = readFileOpt(fs, new Path(new Path(root, "time"), ".zarray")).map(new String(_, "UTF-8"))
    za match {
      case None => Nil
      case Some(json) =>
        val n = "\"shape\"\\s*:\\s*\\[\\s*(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toInt).getOrElse(0)
        if (n == 0) Nil
        else readFileOpt(fs, new Path(new Path(root, "time"), "0"))
          .map(b => lEDoubles(ChunkCodec.fromZarray(json).decompress(b, n * 8)).map(_.toLong).toSeq)
          .getOrElse(Nil)
    }
  }

  /** Codec of an existing store (from its time array's metadata), if any —
    * appends must compress new chunks the way the store's readers expect. */
  private def existingCodec(spark: SparkSession, path: String): Option[ChunkCodec] = {
    val (root, fs) = fsFor(path, spark)
    readFileOpt(fs, new Path(new Path(root, "time"), ".zarray"))
      .map(b => ChunkCodec.fromZarray(new String(b, "UTF-8")))
  }

  /** Create or append. `long` columns: time (castable to date), variable,
    * lat_idx, lon_idx, value. Appended days must all be AFTER the store's
    * current coverage (the reference's forward-only time append).
    * `ensureVariables` forces arrays to exist even with zero input rows —
    * the sparse form of the reference's empty-day/absent-mission synthesis
    * (G5, `main.py:219-230`): metadata without chunks reads back as
    * all-fill in any Zarr client. */
  def write(
      long: DataFrame,
      path: String,
      grid: GridSpec,
      chunks: Chunking = Chunking(),
      codec: ChunkCodec = ChunkCodec.default,
      ensureVariables: Seq[String] = Nil,
      now: String = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now())): Unit = {
    val spark = long.sparkSession
    import spark.implicits._
    val (root, fs) = fsFor(path, spark)

    // One compute of the (possibly expensive) input plan: project to the
    // store's essential columns and persist, so the metadata pass and the
    // chunk pass don't each re-run the whole upstream pipeline (measured
    // 3× → 1× on the 1M-sounding global probe).
    val proj = graft.CacheScope.persist(
      long.select(
        col("variable").cast("string").as("v"),
        datediff(col("time").cast("date"), lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("d"),
        col("lat_idx").cast("int").as("y"),
        col("lon_idx").cast("int").as("x"),
        col("value").cast("double").as("value")),
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // an append must keep the codec the store was created with: mixing
      // codecs within one array would corrupt it for every Zarr reader
      val effective = existingCodec(spark, path).getOrElse(codec)
      writePersisted(proj, path, grid, chunks, effective, ensureVariables, now, root, fs, spark)
    } finally {
      proj.unpersist()
      ()
    }
  }

  private def writePersisted(
      proj: DataFrame,
      path: String,
      grid: GridSpec,
      chunks: Chunking,
      codec: ChunkCodec,
      ensureVariables: Seq[String],
      now: String,
      root: Path,
      fs: org.apache.hadoop.fs.FileSystem,
      spark: SparkSession): Unit = {
    import spark.implicits._

    // ---- single metadata pass: (day, variable) pairs are bounded
    val dayVar = proj.select(col("d"), col("v")).distinct().as[(Long, String)].collect()

    // time axis: existing days ++ new days (strictly increasing)
    val oldDays  = existingDays(spark, path)
    val newDays  = dayVar.map(_._1).distinct.sorted.toSeq
    val freshDays = newDays.filterNot(oldDays.toSet)
    require(
      oldDays.isEmpty || freshDays.forall(_ > oldDays.max),
      s"zarr append must extend the time axis forward (existing max ${if (oldDays.isEmpty) "-" else oldDays.max})")
    val allDays  = oldDays ++ freshDays
    require(allDays.nonEmpty, "zarr write: input has no days")
    val dayIndex = allDays.zipWithIndex.map { case (d, i) => d -> i }.toMap

    // an append must extend EVERY array's time axis, including variables
    // this batch doesn't mention (another mission's arrays in the shared
    // global store): pick up existing array dirs so their .zarray shape
    // tracks the new time length — their missing chunks read as fill
    val existingVars =
      if (!fs.exists(root)) Nil
      else fs.listStatus(root).toSeq
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .filterNot(Set("time", "lat", "lon"))
        .filter(n => fs.exists(new Path(new Path(root, n), ".zarray")))
    val variables =
      (dayVar.map(_._2) ++ ensureVariables ++ existingVars).distinct.sorted.toSeq
    val conf   = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val bcIdx  = spark.sparkContext.broadcast(dayIndex)
    val bcVars = spark.sparkContext.broadcast(variables)
    val (ct, cy, cx) = (chunks.t, chunks.y, chunks.x)
    val (gh, gw) = (grid.h, grid.w)
    val rootStr  = root.toString

    // ---- chunk cells: shuffle once on the cell key, write cell files.
    // The variable name dictionary-encodes to an int via a literal map
    // BEFORE the shuffle: per-pixel rows carry 4 bytes, not a string.
    val varIdxCol = element_at(
      map(variables.zipWithIndex.flatMap { case (v, i) => Seq(lit(v), lit(i)) }: _*),
      col("v"))
    val cells = proj.select(
      varIdxCol.as("vi"), col("d"), col("y"), col("x"), col("value"))
      .as[(Int, Long, Int, Int, Double)]
      .groupByKey { r =>
        val t = bcIdx.value(r._2)
        (r._1, t / ct, r._3 / cy, r._4 / cx)
      }
      .mapGroups { (key: (Int, Int, Int, Int), it: Iterator[(Int, Long, Int, Int, Double)]) =>
        val (vi, tc, yc, xc) = key
        val v = bcVars.value(vi)
        val chunkPath = new Path(new Path(rootStr, v), s"$tc.$yc.$xc")
        val cfs       = chunkPath.getFileSystem(conf.value)
        val rawLen    = ct * cy * cx * 8
        // boundary merge: overlay onto the existing chunk if present
        val base = readFileOpt(cfs, chunkPath) match {
          case Some(stored) => lEDoubles(codec.decompress(stored, rawLen))
          case None         => Array.fill(ct * cy * cx)(Double.NaN)
        }
        val idx = bcIdx.value
        it.foreach { case (_, d, y, x, value) =>
          val t = idx(d)
          base(((t % ct) * cy + (y % cy)) * cx + (x % cx)) = value
        }
        atomicWriteFile(conf.value, chunkPath, codec.compress(doublesLE(base)))
        (v, tc, yc, xc)
      }
    cells.write.format("noop").mode("overwrite").save() // materialize the writes

    // ---- driver-side metadata: group, per-variable arrays, coordinates
    fs.mkdirs(root)
    // sweep stale per-attempt temp files left by killed/speculative tasks
    // (they are dot-prefixed, so Zarr readers never see them as chunks)
    variables.foreach { v =>
      val dir = new Path(root, v)
      if (fs.exists(dir))
        fs.listStatus(dir).map(_.getPath)
          .filter(_.getName.matches("\\..*\\.tmp-\\d+"))
          .foreach(p => fs.delete(p, false))
    }
    writeFile(fs, new Path(root, ".zgroup"), "{\n  \"zarr_format\": 2\n}\n".getBytes("UTF-8"))
    val shape = Seq(allDays.length.toLong, gh.toLong, gw.toLong)
    variables.foreach { v =>
      val dir = new Path(root, v)
      fs.mkdirs(dir)
      writeFile(fs, new Path(dir, ".zarray"), zarrayJson(shape, Seq(ct, cy, cx), codec).getBytes("UTF-8"))
      writeFile(fs, new Path(dir, ".zattrs"), zattrsJson(Seq("time", "lat", "lon")).getBytes("UTF-8"))
    }
    writeCoord(fs, root, "time", allDays.map(_.toDouble).toArray, "time", codec,
      units = Some("days since 1970-01-01"))
    writeCoord(fs, root, "lat", Array.tabulate(gh)(i => grid.lat0 + i * grid.dlat), "lat", codec)
    writeCoord(fs, root, "lon", Array.tabulate(gw)(i => grid.lon0 + i * grid.dlon), "lon", codec)
    // root attrs: reference coverage/date semantics (`ZarrWriter.py:140-167`)
    val attrsP = new Path(root, ".zattrs")
    val existing: Map[String, String] = readFileOpt(fs, attrsP).map { b =>
      "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(new String(b, "UTF-8"))
        .map(m => m.group(1) -> m.group(2)).toMap
    }.getOrElse(Map.empty)
    def iso(day: Long) = java.time.LocalDate.ofEpochDay(day).toString + "T00:00:00Z"
    val aStart = iso(allDays.min); val aEnd = iso(allDays.max)
    val merged = Map(
      "date_created"   -> existing.getOrElse("date_created", now),
      "date_updated"   -> now,
      "coverage_start" -> existing.get("coverage_start").filter(_ <= aStart).getOrElse(aStart),
      "coverage_end"   -> existing.get("coverage_end").filter(_ >= aEnd).getOrElse(aEnd))
    writeFile(fs, attrsP,
      merged.toSeq.sorted.map { case (k, v) => s""""$k": "$v"""" }
        .mkString("{\n  ", ",\n  ", "\n}\n").getBytes("UTF-8"))
    // consolidated metadata (the reference writes it via zarr's
    // consolidate_metadata): every metadata document inlined under one
    // root .zmetadata, so openers do a single read instead of one per array
    val metaKeys =
      Seq(".zgroup", ".zattrs") ++
        (variables ++ Seq("time", "lat", "lon")).flatMap(v => Seq(s"$v/.zarray", s"$v/.zattrs"))
    val entries = metaKeys.flatMap { k =>
      readFileOpt(fs, new Path(root, k)).map { b =>
        s""""$k": ${new String(b, "UTF-8").trim}"""
      }
    }
    writeFile(fs, new Path(root, ".zmetadata"),
      entries.mkString(
        "{\n  \"metadata\": {\n    ", ",\n    ", "\n  },\n  \"zarr_consolidated_format\": 1\n}\n")
        .getBytes("UTF-8"))
    bcIdx.destroy()
  }

  /** Grid of an existing store, reconstructed from its 1-D lat/lon
    * coordinate arrays (driver-side: two tiny single-chunk reads). */
  def gridOf(spark: SparkSession, path: String): GridSpec = {
    val (root, fs) = fsFor(path, spark)
    def coord(name: String): Array[Double] = {
      val dir = new Path(root, name)
      val json = new String(
        readFileOpt(fs, new Path(dir, ".zarray")).getOrElse(
          throw new IllegalArgumentException(s"store $path has no $name coordinate")), "UTF-8")
      val n = "\"shape\"\\s*:\\s*\\[\\s*(\\d+)".r.findFirstMatchIn(json).map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"bad .zarray for $name"))
      lEDoubles(ChunkCodec.fromZarray(json).decompress(
        readFileOpt(fs, new Path(dir, "0")).getOrElse(
          throw new IllegalArgumentException(s"store $path: $name coordinate has no chunk")),
        n * 8))
    }
    val lat = coord("lat"); val lon = coord("lon")
    require(lat.nonEmpty && lon.nonEmpty, s"store $path has empty coordinate arrays")
    GridSpec(
      lat.length, lon.length,
      lat(0), if (lat.length > 1) lat(1) - lat(0) else 1.0,
      lon(0), if (lon.length > 1) lon(1) - lon(0) else 1.0)
  }

  /** Read one variable back as (time_idx, lat_idx, lon_idx, value) — the
    * round-trip verification surface. Chunk files fan out one per task;
    * `maxPartitions` defaults to the cluster's parallelism (was a
    * hardcoded 32 before round 5).
    *
    * `timeIdxRange` is the store-level form of the reference's time-slice
    * subset (`tools/climatology/main.py:220`, `ds.sel(time=slice(...))`):
    * a `[lo, hi)` bound on time_idx prunes CHUNK FILES before any task is
    * planned — a one-month slice of a 10-year store opens ~1/120th of the
    * files — and rows of partially-overlapping boundary chunks filter
    * exactly. */
  def read(
      spark: SparkSession,
      path: String,
      variable: String,
      maxPartitions: Int = 0,
      timeIdxRange: Option[(Int, Int)] = None): DataFrame = {
    import spark.implicits._
    val (root, fs) = fsFor(path, spark)
    val dir  = new Path(root, variable)
    val json = new String(readFileOpt(fs, new Path(dir, ".zarray"))
      .getOrElse(throw new IllegalArgumentException(s"no .zarray for $variable")), "UTF-8")
    def ints(key: String): Seq[Int] =
      s""""$key"\\s*:\\s*\\[([^\\]]*)\\]""".r.findFirstMatchIn(json)
        .map(_.group(1).split(",").map(_.trim.toInt).toSeq)
        .getOrElse(throw new IllegalArgumentException(s"bad .zarray: missing $key"))
    val Seq(nt, nh, nw) = ints("shape")
    val Seq(ct, cy, cx) = ints("chunks")
    val codec = ChunkCodec.fromZarray(json)
    val (tLo, tHi) = timeIdxRange.getOrElse((0, nt))
    val files = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("\\d+\\.\\d+\\.\\d+"))
      .filter { name => // chunk-file time pruning: never list, plan, or read
        val tc = name.takeWhile(_ != '.').toInt //  chunks outside the slice
        tc * ct < tHi && (tc + 1) * ct > tLo
      }
      .toSeq.sorted
    val conf    = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val dirStr  = dir.toString
    val cap = if (maxPartitions > 0) maxPartitions else spark.sparkContext.defaultParallelism
    spark.createDataset(files)
      .repartition(math.max(1, math.min(files.length, cap)))
      .flatMap { name =>
        val Array(tc, yc, xc) = name.split('.').map(_.toInt)
        val p   = new Path(dirStr, name)
        val cfs = p.getFileSystem(conf.value)
        val raw = lEDoubles(codec.decompress(readFileOpt(cfs, p).get, ct * cy * cx * 8))
        for {
          t <- 0 until ct; y <- 0 until cy; x <- 0 until cx
          gt = tc * ct + t; gy = yc * cy + y; gx = xc * cx + x
          if gt >= tLo && gt < tHi && gt < nt && gy < nh && gx < nw
          v = raw((t * cy + y) * cx + x)
          if !v.isNaN
        } yield (gt, gy, gx, v)
      }
      .toDF("time_idx", "lat_idx", "lon_idx", "value")
  }
}
