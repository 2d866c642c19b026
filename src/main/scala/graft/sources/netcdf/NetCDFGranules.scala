package graft.sources.netcdf

import java.io.OutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SyntheticGranule.Sounding

/** Granule-shaped view over the netcdf3 source plus the fixture encoder
  * (SURVEY S1, reference `readers/GranuleReader.py` + `main.py` cfg
  * `input.granules`).
  *
  * The reference reads each granule's root group (`*`) and the /Sounding
  * group vars `operation_mode`/`target_id` (ESSENTIAL_VARS,
  * `GranuleReader.py:31-36`). Here the same shape: root variables carry the
  * science columns, `Sounding/...` variables carry mode and target;
  * `toGranule` strips group prefixes and converts epoch-seconds `time` to
  * timestamp, yielding exactly the logical granule schema the pipelines
  * consume (`sounding_index, latitude, longitude, time, vertex_*, xco2*,
  * operation_mode, target_id`).
  */
object NetCDFGranules {

  /** Read granule files through the right DataSource V2 for their container:
    * netCDF-4 granules (HDF5 signature — the reference's actual L2 Lite
    * transport) go through the `hdf5` source, classic files through
    * `netcdf3`. Mixed batches union by name: both sources surface the same
    * column conventions. Dispatch sniffs 8 bytes per file on the driver —
    * granule lists are bounded by the manifest, never the data. */
  def read(spark: SparkSession, paths: Seq[String], maxRowsPerSplit: Long = 1L << 20): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val sniffed = GranuleSource.parMap(paths) { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val fs = hp.getFileSystem(conf)
      val isFile =
        try fs.getFileStatus(hp).isFile
        catch { case _: java.io.FileNotFoundException => false }
      val isH5 =
        if (!isFile) false
        else {
          val in = fs.open(hp)
          try {
            val b = new Array[Byte](8)
            in.readFully(0, b, 0, 8)
            Hdf5.isHdf5(b)
          } catch { case _: java.io.EOFException => false } finally in.close()
        }
      p -> isH5
    }
    val (h5Pairs, classicPairs) = sniffed.partition(_._2)
    val (h5, classic) = (h5Pairs.map(_._1), classicPairs.map(_._1))
    def load(fmt: String, ps: Seq[String]): Option[DataFrame] =
      if (ps.isEmpty) None
      else Some(spark.read.format(fmt).option("maxrowspersplit", maxRowsPerSplit).load(ps: _*))
    (load("hdf5", h5), load("netcdf3", classic)) match {
      case (Some(a), Some(b)) => a.unionByName(b, allowMissingColumns = true)
      case (Some(a), None)    => a
      case (None, Some(b))    => b
      case (None, None)       => throw new IllegalArgumentException("no granule files found")
    }
  }

  /** CF-style time decode (xarray `decode_times` analog): an epoch offset
    * in whole seconds from a `units` attribute like
    * "seconds since 1990-01-01 00:00:00" — the SIF products' 1990 epoch
    * (`OCO3SifProcessor.py:66,93-95`) decodes correctly without callers
    * knowing the mission. ABSENT units → unix epoch (bare fixture files);
    * a units attribute that is PRESENT but undecodable is an error — a
    * silent 1970 fallback would shift every timestamp by the real epoch,
    * a wrong-answer path, not a metadata gap. */
  private[netcdf] def epochOffsetSeconds(units: String): Long =
    "since\\s+(\\d{4})-(\\d{2})-(\\d{2})".r.findFirstMatchIn(units).map { m =>
      java.time.LocalDate.of(m.group(1).toInt, m.group(2).toInt, m.group(3).toInt)
        .toEpochDay * 86400L
    }.getOrElse(throw new IllegalArgumentException(
      s"undecodable time 'units' attribute: \"$units\" — expected CF form " +
        "\"<unit> since YYYY-MM-DD[ HH:MM:SS]\"; refusing to guess the epoch"))

  /** Map the raw netcdf3 columns to the pipeline's logical granule schema.
    * Column pruning pushes through this projection to the file scan. */
  def toGranule(raw: DataFrame): DataFrame = {
    val offset =
      if (raw.schema.fieldNames.contains("time") && raw.schema("time").metadata.contains("units"))
        epochOffsetSeconds(raw.schema("time").metadata.getString("units"))
      else 0L
    raw.select(
      col("row_index").as("sounding_index"),
      col("sounding_id"),
      col("latitude"),
      col("longitude"),
      timestamp_seconds(col("time") + lit(offset)).as("time"),
      col("vertex_latitude").cast("array<double>").as("vertex_latitude"),
      col("vertex_longitude").cast("array<double>").as("vertex_longitude"),
      col("xco2_quality_flag"),
      col("xco2"),
      col("xco2_uncertainty"),
      col("Sounding_operation_mode").as("operation_mode"),
      col("Sounding_target_id").as("target_id"),
      col("granule_path"))
  }

  /** End-to-end convenience: files → pipeline-ready granule table. */
  def readGranules(spark: SparkSession, paths: Seq[String]): DataFrame =
    toGranule(read(spark, paths))

  // -------------------------------------------------------------- SIF files

  /** Map raw SIF granule columns to [[graft.domain.SifPipeline]]'s input
    * schema (`OCO3SifProcessor.py:363-366` variable set). SIF time stays as
    * raw `delta_time` — the pipeline owns the 1990-epoch decode. */
  private def toSifGranule(raw: DataFrame): DataFrame =
    raw.select(
      col("row_index").as("sounding_index"),
      col("latitude"),
      col("longitude"),
      col("delta_time"),
      col("vertex_latitude").cast("array<double>").as("vertex_latitude"),
      col("vertex_longitude").cast("array<double>").as("vertex_longitude"),
      col("quality_flag"),
      col("daily_sif"),
      col("operation_mode"),
      col("sequences_index"),
      col("granule_path"))

  /** SIF soundings, pipeline-ready. */
  def readSifGranules(spark: SparkSession, paths: Seq[String]): DataFrame =
    toSifGranule(spark.read.format("hdf5").load(paths: _*))

  /** The per-granule sequences lookup (`sequences_index` → target name),
    * read off the same files over their `sequences` dimension. Tiny by
    * contract (dozens of sequences per granule) — callers broadcast it. */
  def readSifSequences(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format("hdf5").option("rowdim", "sequences").load(paths: _*)
      .select(
        col("row_index").cast("int").as("seq_index"),
        col("Sequences_target_id").as("seq_target"),
        col("granule_path"))

  /** SIF sounding for fixtures and probes. */
  final case class SifSounding(
      sounding_index: Long,
      latitude: Double,
      longitude: Double,
      delta_time: Double, // seconds since the 1990 epoch
      vertex_latitude: Seq[Double],
      vertex_longitude: Seq[Double],
      quality_flag: Int,
      daily_sif: Double,
      operation_mode: Int,
      sequences_index: Int)

  /** Encode a SIF granule as netCDF-4/HDF5: root science vars over the
    * `sounding` dim plus a /Sequences group over its own `sequences` dim —
    * the indirect target naming real SIF products use. */
  def writeSifGranuleH5(soundings: Seq[SifSounding], sequences: Seq[String]): Array[Byte] = {
    import Hdf5._
    val n  = soundings.length
    val m  = sequences.length
    val nv = soundings.headOption.map(_.vertex_latitude.length).getOrElse(4)
    def dimScale(len: Int) = Seq(
      Attr("CLASS", "DIMENSION_SCALE"),
      Attr("NAME", f"This is a netCDF dimension but not a netCDF variable.$len%10d"))
    def d(f: SifSounding => Double): Array[Double] = soundings.map(f).toArray
    val root = WGroup("", Seq(
      WVar("sounding", Seq(n.toLong), new Array[Double](n), atts = dimScale(n)),
      WVar("sequences", Seq(m.toLong), new Array[Double](m), atts = dimScale(m)),
      WVar("latitude", Seq(n.toLong), d(_.latitude)),
      WVar("longitude", Seq(n.toLong), d(_.longitude)),
      WVar("delta_time", Seq(n.toLong), d(_.delta_time),
        atts = Seq(Attr("units", Vlen("seconds since 1990-01-01 00:00:00")))),
      WVar("vertex_latitude", Seq(n.toLong, nv.toLong), soundings.flatMap(_.vertex_latitude).toArray),
      WVar("vertex_longitude", Seq(n.toLong, nv.toLong), soundings.flatMap(_.vertex_longitude).toArray),
      WVar("quality_flag", Seq(n.toLong), soundings.map(_.quality_flag).toArray),
      WVar("daily_sif", Seq(n.toLong), d(_.daily_sif)),
      WVar("operation_mode", Seq(n.toLong), soundings.map(_.operation_mode).toArray),
      WVar("sequences_index", Seq(n.toLong), soundings.map(_.sequences_index).toArray)))
    val seqGroup = WGroup("Sequences", Seq(
      WVar("target_id", Seq(m.toLong), sequences.toArray, strSize = 24)))
    Hdf5.write(Seq(root, seqGroup), rootAtts = Seq(Attr("title", "graft synthetic SIF granule")))
  }

  /** Encode soundings as a classic (CDF-5) NetCDF granule — the fixture
    * writer for specs and the S10 export encoder. Mirrors the reference
    * granule layout: root science vars + group-qualified Sounding vars. */
  def writeGranule(os: OutputStream, soundings: Seq[Sounding], targetIdLen: Int = 24): Unit = {
    import NetCDF3._
    val n  = soundings.length
    val nv = soundings.headOption.map(_.vertex_latitude.length).getOrElse(4)
    val dims = Seq(
      Dim("sounding", n.toLong),
      Dim("vertices", nv.toLong),
      Dim("target_id_len", targetIdLen.toLong))
    def d(f: Sounding => Double): Array[Double] = soundings.map(f).toArray
    val vars = Seq(
      VarData("sounding_id", NC_INT64, Seq("sounding"), soundings.map(_.sounding_id).toArray),
      VarData("latitude", NC_DOUBLE, Seq("sounding"), d(_.latitude)),
      VarData("longitude", NC_DOUBLE, Seq("sounding"), d(_.longitude)),
      VarData("time", NC_DOUBLE, Seq("sounding"), d(_.time.getTime / 1000.0),
        atts = Seq(Att("units", NC_CHAR, "seconds since 1970-01-01 00:00:00"))),
      VarData("vertex_latitude", NC_DOUBLE, Seq("sounding", "vertices"),
        soundings.flatMap(_.vertex_latitude).toArray),
      VarData("vertex_longitude", NC_DOUBLE, Seq("sounding", "vertices"),
        soundings.flatMap(_.vertex_longitude).toArray),
      VarData("xco2_quality_flag", NC_INT, Seq("sounding"), soundings.map(_.xco2_quality_flag).toArray),
      VarData("xco2", NC_DOUBLE, Seq("sounding"), d(_.xco2),
        atts = Seq(Att("_FillValue", NC_DOUBLE, Array(999999.0)))),
      VarData("xco2_uncertainty", NC_DOUBLE, Seq("sounding"), d(_.xco2_uncertainty)),
      VarData("Sounding/operation_mode", NC_INT, Seq("sounding"), soundings.map(_.operation_mode).toArray),
      VarData("Sounding/target_id", NC_CHAR, Seq("sounding", "target_id_len"),
        soundings.map(_.target_id).toArray))
    NetCDF3.write(os, dims, vars, gatts = Seq(Att("title", NC_CHAR, "graft synthetic granule")))
  }

  /** Encode soundings as a netCDF-4/HDF5 granule with the reference layout:
    * root science vars + a /Sounding group (`GranuleReader.py:31-36`
    * ESSENTIAL_VARS), a `sounding` dimension-scale dataset, and
    * chunked+deflate science variables — the storage profile of real L2
    * Lite files. */
  def writeGranuleH5(
      soundings: Seq[Sounding],
      chunkRows: Int = 0,
      deflateLevel: Int = 6,
      timeUnits: String = "seconds since 1970-01-01 00:00:00",
      vlenUnits: Boolean = false): Array[Byte] = {
    import Hdf5._
    val n  = soundings.length
    val nv = soundings.headOption.map(_.vertex_latitude.length).getOrElse(4)
    val cr = if (chunkRows > 0) chunkRows else n.max(1)
    val epochOff = epochOffsetSeconds(timeUnits)
    def d(f: Sounding => Double): Array[Double] = soundings.map(f).toArray
    val dimScale = Seq(
      Attr("CLASS", "DIMENSION_SCALE"),
      Attr("NAME", f"This is a netCDF dimension but not a netCDF variable.$n%10d"))
    val root = WGroup("", Seq(
      WVar("sounding", Seq(n.toLong), new Array[Double](n), atts = dimScale),
      WVar("sounding_id", Seq(n.toLong), soundings.map(_.sounding_id).toArray,
        chunkRows = cr, deflateLevel = deflateLevel),
      WVar("latitude", Seq(n.toLong), d(_.latitude), chunkRows = cr, deflateLevel = deflateLevel),
      WVar("longitude", Seq(n.toLong), d(_.longitude), chunkRows = cr, deflateLevel = deflateLevel),
      WVar("time", Seq(n.toLong), d(s => s.time.getTime / 1000.0 - epochOff),
        // vlenUnits exercises the NC_STRING profile: libnetcdf writes
        // string attrs as VL global-heap references on real products
        atts = Seq(Attr("units", if (vlenUnits) Vlen(timeUnits) else timeUnits)),
        chunkRows = cr, deflateLevel = deflateLevel),
      WVar("vertex_latitude", Seq(n.toLong, nv.toLong),
        soundings.flatMap(_.vertex_latitude).toArray, chunkRows = cr, deflateLevel = deflateLevel),
      WVar("vertex_longitude", Seq(n.toLong, nv.toLong),
        soundings.flatMap(_.vertex_longitude).toArray, chunkRows = cr, deflateLevel = deflateLevel),
      WVar("xco2_quality_flag", Seq(n.toLong), soundings.map(_.xco2_quality_flag).toArray,
        chunkRows = cr, deflateLevel = deflateLevel),
      WVar("xco2", Seq(n.toLong), d(_.xco2),
        atts = Seq(Attr("_FillValue", Array(999999.0))),
        chunkRows = cr, deflateLevel = deflateLevel),
      WVar("xco2_uncertainty", Seq(n.toLong), d(_.xco2_uncertainty),
        chunkRows = cr, deflateLevel = deflateLevel)))
    val sounding = WGroup("Sounding", Seq(
      WVar("operation_mode", Seq(n.toLong), soundings.map(_.operation_mode).toArray,
        chunkRows = cr, deflateLevel = deflateLevel),
      WVar("target_id", Seq(n.toLong), soundings.map(_.target_id).toArray, strSize = 24)))
    Hdf5.write(Seq(root, sounding), rootAtts = Seq(Attr("title", "graft synthetic granule")))
  }
}
