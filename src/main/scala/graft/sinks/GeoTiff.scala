package graft.sinks

import java.nio.{ByteBuffer, ByteOrder}

/** Minimal tiled GeoTIFF codec (SURVEY S9, reference
  * `writers/CoGWriter.py:102-217`).
  *
  * Cloud-Optimized GeoTIFF layout from the public TIFF 6.0 + GeoTIFF specs:
  * little-endian, ALL IFDs at the FRONT of the file (the cloud-optimized
  * property: readers fetch every level's metadata with one ranged read),
  * 256x256 tiles of IEEE float64 samples (NaN = nodata), GeoTIFF
  * georeferencing tags on the full-resolution IFD (ModelPixelScale,
  * ModelTiepoint, GeoKeyDirectory with EPSG:4326 geographic keys), and an
  * overview pyramid: successive 2x reductions (NaN-aware 2x2 average -
  * GDAL's `average` resampling) as chained IFDs marked
  * NewSubfileType=ReducedImage.
  *
  * Encoder + decoder are symmetric so exports are verifiable in-repo.
  */
object GeoTiff {

  val TileSize = 256

  private def tilesAcross(n: Int) = (n + TileSize - 1) / TileSize
  private val TileLen = TileSize * TileSize * 8

  /** NaN-aware 2x2 mean reduction (all-NaN block stays NaN). */
  private[sinks] def downsample(data: Array[Double], w: Int, h: Int): (Array[Double], Int, Int) = {
    val w2 = (w + 1) / 2
    val h2 = (h + 1) / 2
    val out = Array.fill(w2 * h2)(Double.NaN)
    var r = 0
    while (r < h2) {
      var c = 0
      while (c < w2) {
        var sum = 0.0; var n = 0
        var dr = 0
        while (dr < 2) {
          var dc = 0
          while (dc < 2) {
            val rr = r * 2 + dr; val cc = c * 2 + dc
            if (rr < h && cc < w) {
              val v = data(rr * w + cc)
              if (!v.isNaN) { sum += v; n += 1 }
            }
            dc += 1
          }
          dr += 1
        }
        if (n > 0) out(r * w2 + c) = sum / n
        c += 1
      }
      r += 1
    }
    (out, w2, h2)
  }

  /** Encode one north-up raster (row 0 = northernmost; callers flip lat
    * ascending -> descending first, the G6 flip) with georeferencing:
    * `originLon/originLat` = outer corner of pixel (0,0), `scaleLon/
    * scaleLat` = pixel size in degrees. `overviews` extra pyramid levels
    * are appended (each halves both dims; levels smaller than one pixel
    * are skipped). */
  def encode(
      data: Array[Double], // row-major, length = width*height
      width: Int,
      height: Int,
      originLon: Double,
      originLat: Double,
      scaleLon: Double,
      scaleLat: Double,
      overviews: Int = 0,
      deflate: Boolean = true): Array[Byte] = {
    require(data.length == width * height, "data length must be width*height")

    // pyramid levels: (data, w, h)
    val levels = scala.collection.mutable.ArrayBuffer((data, width, height))
    var l = 0
    while (l < overviews && levels.last._2 > 1 && levels.last._3 > 1) {
      val (d, w, h) = levels.last
      levels += downsample(d, w, h)
      l += 1
    }

    // materialize each level's tile bytes first (deflate makes lengths
    // data-dependent, so offsets need the real sizes)
    def tileBytes(d: Array[Double], w: Int, h: Int): IndexedSeq[Array[Byte]] =
      for (ty <- 0 until tilesAcross(h); tx <- 0 until tilesAcross(w)) yield {
        val b = ByteBuffer.allocate(TileLen).order(ByteOrder.LITTLE_ENDIAN)
        var r = 0
        while (r < TileSize) {
          var c = 0
          while (c < TileSize) {
            val row = ty * TileSize + r
            val col = tx * TileSize + c
            b.putDouble(if (row < h && col < w) d(row * w + col) else Double.NaN)
            c += 1
          }
          r += 1
        }
        if (deflate) deflateTile(b.array()) else b.array()
      }
    assembleTiles(
      levels.toIndexedSeq.zip(levels.map { case (d, w, h) => tileBytes(d, w, h) })
        .map { case ((_, w, h), ts) => LevelTiles(w, h, ts) },
      originLon, originLat, scaleLon, scaleLat, deflate)
  }

  /** Deflate one raw tile payload (the per-tile compression step; callers
    * that assemble tiles on executors run this there so only compressed
    * bytes reach the file-writer task). */
  def deflateTile(raw: Array[Byte]): Array[Byte] = {
    val defl = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    defl.setInput(raw); defl.finish()
    val outB = new java.io.ByteArrayOutputStream(raw.length / 4)
    val buf  = new Array[Byte](8192)
    while (!defl.finished()) outB.write(buf, 0, defl.deflate(buf))
    defl.end()
    outB.toByteArray
  }

  /** One pyramid level as pre-compressed tile payloads in row-major tile
    * order (`tilesAcross(height) * tilesAcross(width)` entries). An EMPTY
    * array marks a sparse all-nodata tile: it is written with TileOffset 0
    * and TileByteCount 0 — the sparse-file convention COG readers (and
    * [[decode]]) interpret as nodata without storing anything. */
  final case class LevelTiles(width: Int, height: Int, tiles: IndexedSeq[Array[Byte]])

  /** Assemble a (possibly sparse) tiled GeoTIFF from pre-compressed tile
    * payloads — the file-layout half of [[encode]], exposed so distributed
    * exporters can deflate tiles on the executors that own them and funnel
    * only compressed bytes into the single task that owns the output file
    * (a file format imposes one writer; it should never impose one
    * *encoder*). */
  def assembleTiles(
      levels: IndexedSeq[LevelTiles],
      originLon: Double,
      originLat: Double,
      scaleLon: Double,
      scaleLat: Double,
      deflate: Boolean = true): Array[Byte] = {
    require(levels.nonEmpty, "need at least the full-resolution level")
    levels.foreach { lt =>
      require(
        lt.tiles.length == tilesAcross(lt.width) * tilesAcross(lt.height),
        s"level ${lt.width}x${lt.height}: expected ${tilesAcross(lt.width) * tilesAcross(lt.height)} tiles, got ${lt.tiles.length}")
    }

    def shorts(v: Seq[Int]): Array[Byte] = {
      val b = ByteBuffer.allocate(v.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      v.foreach(x => b.putShort(x.toShort)); b.array()
    }
    def longsA(v: Seq[Long]): Array[Byte] = {
      val b = ByteBuffer.allocate(v.length * 4).order(ByteOrder.LITTLE_ENDIAN)
      v.foreach(x => b.putInt(x.toInt)); b.array()
    }
    def doubles(v: Seq[Double]): Array[Byte] = {
      val b = ByteBuffer.allocate(v.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      v.foreach(b.putDouble); b.array()
    }
    val geoKeys = Seq(
      1, 1, 0, 3,
      1024, 0, 1, 2,   // GTModelType = geographic
      1025, 0, 1, 1,   // GTRasterType = PixelIsArea
      2048, 0, 1, 4326) // GeographicType = WGS84

    val levelTiles = levels.map(_.tiles)

    // entry spec per level: (tag, type, count, Left(inline)|Right(payload));
    // TileOffsets carry a placeholder resolved once data offsets are known
    def levelEntries(li: Int): Seq[(Int, Int, Int, Either[Long, Array[Byte]])] = {
      val w  = levels(li).width
      val h  = levels(li).height
      val nT = tilesAcross(w) * tilesAcross(h)
      val common = Seq(
        (256, 4, 1, Left(w.toLong)),
        (257, 4, 1, Left(h.toLong)),
        (258, 3, 1, Left(64L)),
        (259, 3, 1, Left(if (deflate) 8L else 1L)), // 8 = Adobe deflate
        (262, 3, 1, Left(1L)),
        (277, 3, 1, Left(1L)),
        (322, 3, 1, Left(TileSize.toLong)),
        (323, 3, 1, Left(TileSize.toLong)),
        (324, 4, nT, Right(longsA(Seq.fill(nT)(0L)))),
        (325, 4, nT, Right(longsA(levelTiles(li).map(_.length.toLong)))),
        (339, 3, 1, Left(3L)))
      val geo =
        if (li == 0) Seq(
          (33550, 12, 3, Right(doubles(Seq(scaleLon, scaleLat, 0.0)): Array[Byte])),
          (33922, 12, 6, Right(doubles(Seq(0.0, 0.0, 0.0, originLon, originLat, 0.0)): Array[Byte])),
          (34735, 3, geoKeys.length, Right(shorts(geoKeys): Array[Byte])))
        else Seq((254, 4, 1, Left(1L))) // NewSubfileType = reduced image
      (geo.filter(_._1 == 254) ++ common ++ geo.filterNot(_._1 == 254)).sortBy(_._1)
    }

    // ---- layout pass: header, then each level's IFD + payload block ----
    var off = 8
    val ifdOffsets = new Array[Int](levels.length)
    val payloadOffsets = Array.ofDim[Array[Int]](levels.length)
    val specs = levels.indices.map(levelEntries)
    levels.indices.foreach { li =>
      ifdOffsets(li) = off
      off += 2 + specs(li).length * 12 + 4
      payloadOffsets(li) = specs(li).map {
        case (_, _, _, Right(p)) if p.length > 4 => val o = off; off += p.length; o
        case _ => -1
      }.toArray
    }
    val dataStart = (off + 7) / 8 * 8
    // per-tile offsets: each level's tiles laid out sequentially; sparse
    // (empty) tiles take offset 0 and no space
    var dOff = dataStart.toLong
    val tileOffs: IndexedSeq[IndexedSeq[Long]] = levelTiles.toIndexedSeq.map { ts =>
      ts.map { t => if (t.isEmpty) 0L else { val o = dOff; dOff += t.length; o } }
    }

    val out = ByteBuffer.allocate(dOff.toInt).order(ByteOrder.LITTLE_ENDIAN)
    out.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffsets(0))
    levels.indices.foreach { li =>
      out.position(ifdOffsets(li))
      out.putShort(specs(li).length.toShort)
      val resolved = specs(li).map {
        case (324, t, c, Right(_)) => (324, t, c, Right(longsA(tileOffs(li))))
        case e                     => e
      }
      resolved.zipWithIndex.foreach { case ((tag, typ, count, v), ei) =>
        out.putShort(tag.toShort).putShort(typ.toShort).putInt(count)
        v match {
          case Left(inline) => out.putInt(inline.toInt)
          case Right(p) if p.length <= 4 => out.put(java.util.Arrays.copyOf(p, 4))
          case Right(_) => out.putInt(payloadOffsets(li)(ei))
        }
      }
      out.putInt(if (li + 1 < levels.length) ifdOffsets(li + 1) else 0)
      resolved.zipWithIndex.foreach { case ((_, _, _, v), ei) =>
        v match {
          case Right(p) if p.length > 4 => out.position(payloadOffsets(li)(ei)); out.put(p)
          case _ => ()
        }
      }
    }
    levels.indices.foreach { li =>
      levelTiles(li).zipWithIndex.foreach { case (t, ti) =>
        if (t.nonEmpty) {
          out.position(tileOffs(li)(ti).toInt)
          out.put(t)
        }
      }
    }
    out.array()
  }

  /** Decoded raster + georeferencing (geo tags are NaN on overview levels). */
  final case class Raster(
      data: Array[Double],
      width: Int,
      height: Int,
      originLon: Double,
      originLat: Double,
      scaleLon: Double,
      scaleLat: Double)

  /** Number of IFDs (1 + overview levels). */
  def levelCount(bytes: Array[Byte]): Int = {
    val in = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    var n = 0
    var off = in.getInt(4)
    while (off != 0) {
      n += 1
      val count = in.getShort(off).toInt
      off = in.getInt(off + 2 + count * 12)
    }
    n
  }

  /** Decode one pyramid level of a GeoTIFF produced by [[encode]]. */
  def decode(bytes: Array[Byte], level: Int = 0): Raster = {
    val in = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require(in.get(0) == 'I' && in.get(1) == 'I' && in.getShort(2) == 42, "not a little-endian TIFF")
    var ifd = in.getInt(4)
    var li = 0
    while (li < level) {
      val count = in.getShort(ifd).toInt
      ifd = in.getInt(ifd + 2 + count * 12)
      require(ifd != 0, s"level $level not present")
      li += 1
    }
    val n = in.getShort(ifd).toInt
    var width = 0; var height = 0; var tileW = TileSize; var tileH = TileSize
    var compression = 1
    var tileOffsets: Array[Long] = Array.empty
    var tileCounts: Array[Long] = Array.empty
    var scale: Array[Double] = Array(Double.NaN, Double.NaN, Double.NaN)
    var tie: Array[Double] = Array.fill(6)(Double.NaN)
    (0 until n).foreach { i =>
      val base  = ifd + 2 + i * 12
      val tag   = in.getShort(base) & 0xffff
      val count = in.getInt(base + 4)
      val value = in.getInt(base + 8)
      def payloadDoubles(c: Int): Array[Double] = {
        val b = ByteBuffer.wrap(bytes, value, c * 8).order(ByteOrder.LITTLE_ENDIAN)
        Array.fill(c)(b.getDouble())
      }
      def payloadLongs(c: Int): Array[Long] =
        if (c == 1) Array(value.toLong)
        else {
          val b = ByteBuffer.wrap(bytes, value, c * 4).order(ByteOrder.LITTLE_ENDIAN)
          Array.fill(c)(b.getInt().toLong)
        }
      tag match {
        case 256   => width = value
        case 257   => height = value
        case 259   => compression = value
        case 322   => tileW = value
        case 323   => tileH = value
        case 324   => tileOffsets = payloadLongs(count)
        case 325   => tileCounts = payloadLongs(count)
        case 33550 => scale = payloadDoubles(3)
        case 33922 => tie = payloadDoubles(6)
        case _     => ()
      }
    }
    val tilesX = (width + tileW - 1) / tileW
    val data   = Array.fill(width * height)(Double.NaN)
    // sparse tiles (offset 0, bytecount 0) stay NaN — nothing to read
    tileOffsets.zipWithIndex.filter { case (_, t) => tileCounts(t) > 0 }.foreach { case (toff, t) =>
      val ty = t / tilesX; val tx = t % tilesX
      val tileRaw: Array[Byte] =
        if (compression == 8) {
          val infl = new java.util.zip.Inflater()
          val cnt  = tileCounts(t).toInt
          infl.setInput(bytes, toff.toInt, cnt)
          val outB = new Array[Byte](tileW * tileH * 8)
          var filled = 0
          while (!infl.finished() && filled < outB.length)
            filled += infl.inflate(outB, filled, outB.length - filled)
          infl.end()
          outB
        } else java.util.Arrays.copyOfRange(bytes, toff.toInt, toff.toInt + tileW * tileH * 8)
      val b = ByteBuffer.wrap(tileRaw).order(ByteOrder.LITTLE_ENDIAN)
      var r = 0
      while (r < tileH) {
        var c = 0
        while (c < tileW) {
          val row = ty * tileH + r; val col = tx * tileW + c
          val v   = b.getDouble()
          if (row < height && col < width) data(row * width + col) = v
          c += 1
        }
        r += 1
      }
    }
    Raster(data, width, height, tie(3), tie(4), scale(0), scale(1))
  }
}

/** Distributed CoG-style export: one GeoTIFF per (target, variable, day)
  * slice, latitude flipped to north-up (G6), written by the owning task. */
object CoGExport {

  import org.apache.hadoop.fs.Path
  import org.apache.spark.sql.{DataFrame, Dataset}
  import org.apache.spark.sql.functions._
  import graft.sources.netcdf.SerializableHadoopConf

  final case class SliceFile(target_id: String, variable: String, day: String, path: String)

  def exportSlices(long: DataFrame, outDir: String): Dataset[SliceFile] = {
    val spark = long.sparkSession
    import spark.implicits._
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val rows = long.select(
      col("target_id").cast("string"),
      col("variable").cast("string"),
      col("time").cast("date").cast("string").as("day"),
      col("lat_idx").cast("int"),
      col("lon_idx").cast("int"),
      col("lat").cast("double"),
      col("lon").cast("double"),
      col("value").cast("double"))
      .as[(String, String, String, Int, Int, Double, Double, Double)]
    rows
      .groupByKey(r => (r._1, r._2, r._3))
      .mapGroups { (key: (String, String, String), it: Iterator[(String, String, String, Int, Int, Double, Double, Double)]) =>
        val (target, variable, day) = key
        val cells = it.toArray
        val nLat  = cells.map(_._4).max + 1
        val nLon  = cells.map(_._5).max + 1
        val data  = Array.fill(nLat * nLon)(Double.NaN)
        cells.foreach { c =>
          // G6 flip: lat_idx ascends south→north; raster row 0 is north
          data((nLat - 1 - c._4) * nLon + c._5) = c._8
        }
        // the grid is an exact linspace: any two cells with distinct indices
        // recover the step; extrapolate to index 0 / nLat-1 for the origin
        val byLon = cells.sortBy(_._5)
        val dLon =
          if (byLon.last._5 == byLon.head._5) 1.0
          else (byLon.last._7 - byLon.head._7) / (byLon.last._5 - byLon.head._5)
        val byLat = cells.sortBy(_._4)
        val dLat =
          if (byLat.last._4 == byLat.head._4) 1.0
          else (byLat.last._6 - byLat.head._6) / (byLat.last._4 - byLat.head._4)
        val lon0   = byLon.head._7 - byLon.head._5 * dLon
        val latTop = byLat.last._6 + (nLat - 1 - byLat.last._4) * dLat
        val bytes = GeoTiff.encode(
          data, nLon, nLat,
          originLon = lon0 - dLon / 2, originLat = latTop + dLat / 2,
          scaleLon = dLon, scaleLat = dLat,
          overviews = 3)
        val out = new Path(outDir, s"${target}_${variable}_$day.tif")
        ZarrStore.atomicWriteFile(conf.value, out, bytes)
        SliceFile(target, variable, day, out.toString)
      }
  }

  /** Distributed global-mosaic export: one (possibly sparse) Cloud-Optimized
    * GeoTIFF per (variable, day) over the FULL grid — the production-mesh
    * shape (36000×18000 ⇒ a 5.2 GB dense plane) where [[exportSlices]]'s
    * assemble-one-slice-per-task design cannot hold: no single task may ever
    * materialize the dense plane.
    *
    * Scale shape (mirrors ZarrStore's owner-task chunk writes):
    *  1. overview pyramid levels are built SPARSELY — a NaN-aware 2×2 mean
    *     is `avg` over the present cells of the previous level, so empty
    *     ocean never materializes at any level (identical semantics to
    *     [[GeoTiff.downsample]] on dense data);
    *  2. each 256×256 tile is assembled dense and deflated by the task that
    *     owns it (one `groupByKey` on the tile key — bounded 512 KB memory
    *     per group);
    *  3. only compressed tile bytes shuffle to the per-(variable, day)
    *     writer task, which lays out the file with [[GeoTiff.assembleTiles]];
    *     absent tiles are written sparse (TileOffset/ByteCount 0, the COG
    *     sparse-file convention).
    * The file format imposes one writer per file; encode work and memory
    * stay distributed. Overview cell values are float means and so partial-
    * aggregation-order dependent in the last bits; level 0 is exact.
    *
    * `long` needs (variable, time, lat_idx, lon_idx, value) on the
    * ascending-index global grid; `minLon/dLon/minLat/dLat` are the CELL
    * CENTER origin and step (ZarrStore.GridSpec convention). */
  def exportGlobalMosaic(
      long: DataFrame,
      outDir: String,
      nLon: Int,
      nLat: Int,
      minLon: Double,
      dLon: Double,
      minLat: Double,
      dLat: Double,
      overviews: Int = 3): Dataset[SliceFile] = {
    val spark = long.sparkSession
    import spark.implicits._
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val ts = GeoTiff.TileSize

    def dims(l: Int): (Int, Int) = ((nLon + (1 << l) - 1) >> l, (nLat + (1 << l) - 1) >> l)
    val nLevels = {
      var l = 0
      while (l < overviews && dims(l)._1 > 1 && dims(l)._2 > 1) l += 1
      l + 1
    }

    // level 0: north-up rows (G6 flip), then successive sparse 2×2 means
    val level0raw = long.select(
      col("variable").cast("string"),
      col("time").cast("date").cast("string").as("day"),
      (lit(nLat - 1) - col("lat_idx")).cast("int").as("row"),
      col("lon_idx").cast("int").as("col"),
      col("value").cast("double"))
    // every overview level's lineage passes through level 0, and the union
    // below references nLevels of those chains — without a persist the
    // (possibly expensive) `long` plan would execute once PER LEVEL
    // (the toStoreVariables double-execution class). CacheScope: batch
    // callers get session-lifetime cache; the streaming loop's per-batch
    // withScope unpersists it at micro-batch end.
    val level0 =
      if (nLevels > 1)
        graft.CacheScope.persist(level0raw, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else level0raw
    // each level feeds BOTH its own tile branch and the next level's agg,
    // so deeper chains would re-run every shallower agg (agg1 3×, agg2 2×
    // at 4 levels) — persist each; total footprint ≤ Σ 4⁻ˡ ≈ 1.33× level 0
    val levels = Iterator.iterate(level0) { prev =>
      val next = prev.groupBy(
        col("variable"), col("day"),
        (col("row") / 2).cast("int").as("row"),
        (col("col") / 2).cast("int").as("col"))
        .agg(avg(col("value")).as("value"))
      graft.CacheScope.persist(next, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }.take(nLevels).toIndexedSeq
    val cells = levels.zipWithIndex.map { case (df, l) =>
      df.select(
        col("variable"), col("day"), lit(l).as("level"),
        (col("row") / ts).cast("int").as("ty"),
        (col("col") / ts).cast("int").as("tx"),
        (col("row") % ts).cast("int").as("r"),
        (col("col") % ts).cast("int").as("c"),
        col("value"))
    }.reduce(_.unionByName(_))
      .as[(String, String, Int, Int, Int, Int, Int, Double)]

    // 2. owner-task tile assembly + deflate (≤ 512 KB dense per group)
    val tiles = cells
      .groupByKey(t => (t._1, t._2, t._3, t._4, t._5))
      .mapGroups { (key: (String, String, Int, Int, Int), it: Iterator[(String, String, Int, Int, Int, Int, Int, Double)]) =>
        val raw = java.nio.ByteBuffer.allocate(ts * ts * 8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < ts * ts) { raw.putDouble(i * 8, Double.NaN); i += 1 }
        it.foreach(t => raw.putDouble((t._6 * ts + t._7) * 8, t._8))
        (key._1, key._2, key._3, key._4, key._5, GeoTiff.deflateTile(raw.array()))
      }

    // 3. per-file layout from compressed bytes only
    tiles
      .groupByKey(t => (t._1, t._2))
      .mapGroups { (key: (String, String), it: Iterator[(String, String, Int, Int, Int, Array[Byte])]) =>
        val (variable, day) = key
        val byLevel = it.toSeq.groupBy(_._3)
        val lts = (0 until nLevels).map { l =>
          val (w, h) = dims(l)
          val tX = (w + ts - 1) / ts
          val arr = Array.fill(tX * ((h + ts - 1) / ts))(Array.emptyByteArray)
          byLevel.getOrElse(l, Nil).foreach(t => arr(t._4 * tX + t._5) = t._6)
          GeoTiff.LevelTiles(w, h, arr.toIndexedSeq)
        }
        // cell-center grid → outer-corner origin of pixel (0,0) (north-west)
        val bytes = GeoTiff.assembleTiles(
          lts,
          originLon = minLon - dLon / 2,
          originLat = (minLat + (nLat - 1) * dLat) + dLat / 2,
          scaleLon = dLon, scaleLat = dLat)
        val out = new Path(outDir, s"global_${variable}_$day.tif")
        ZarrStore.atomicWriteFile(conf.value, out, bytes)
        SliceFile("global", variable, day, out.toString)
      }
  }
}
