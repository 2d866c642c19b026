package graftbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.domain.{GlobalPipeline, Pipeline}
import graft.operators.Grid
import graft.sinks.{CoGExport, NetCDFExport, ZarrStore}
import graft.sources.SyntheticGranule.Sounding
import graft.sources.netcdf.NetCDFGranules

/** The create path of the global product, run by the traced
  * `queue_backfill` run next to its append path: one synthetic OCO-3 L2
  * Lite granule-day through `GlobalPipeline` at the reference's 10 km
  * product, then each dense writer `RunJob` calls on it (the Zarr store,
  * the COG mosaic and the netCDF-4 export), timed and checked one by one. */
object GlobalSinks {
  val MeshW = 3600
  val MeshH = 1800
  val Day   = "2023-06-15"
  val Soundings = 6000

  final case class Inputs(granule: String, soundings: Long, ranges: Map[String, (Double, Double)])

  /** Region captures of mixed size (10 to 600 soundings) at 40 targets,
    * each followed by background soundings that belong to no region
    * (mode 0), so every capture is its own mode run. */
  def soundings(rnd: Random): Seq[Sounding] = {
    val targets = IndexedSeq.fill(40)((-100.0 + rnd.nextDouble() * 40.0, 10.0 + rnd.nextDouble() * 40.0))
    val t0  = Timestamp.valueOf(s"$Day 10:30:00").getTime
    val out = Seq.newBuilder[Sounding]
    var idx = 0L
    var region = rnd.nextBoolean()
    while (idx < Soundings) {
      val r   = rnd.nextDouble()
      val len =
        if (!region) 20 + rnd.nextInt(60)
        else if (r < 0.5) 10 + rnd.nextInt(50) else if (r < 0.85) 60 + rnd.nextInt(190) else 250 + rnd.nextInt(350)
      val t     = rnd.nextInt(targets.size)
      val mode  = if (!region) 0 else if (rnd.nextBoolean()) 4 else 2
      val track = -120.0 + rnd.nextDouble() * 80.0
      (0 until math.min(len.toLong, Soundings - idx).toInt).foreach { i =>
        idx += 1
        val (lat, lon) =
          if (region) (targets(t)._2 + rnd.nextDouble() * 1.5, targets(t)._1 + rnd.nextDouble() * 1.5)
          else (-60.0 + 120.0 * i / len, track)
        val half = 0.03 + rnd.nextDouble() * 0.04
        out += Sounding(
          sounding_index = idx,
          sounding_id = 2023061500000000L + idx,
          latitude = lat, longitude = lon,
          time = new Timestamp(t0 + idx * 333L),
          vertex_latitude = Seq(lat - half, lat - half, lat + half, lat + half),
          vertex_longitude = Seq(lon - half, lon + half, lon + half, lon - half),
          xco2_quality_flag = if (rnd.nextDouble() < 0.1) 1 else 0,
          xco2 = 412.0 + 3.0 * rnd.nextGaussian(),
          xco2_uncertainty = 0.3 + 0.5 * rnd.nextDouble(),
          operation_mode = mode,
          target_id = if (region) f"fossil$t%04d" else "none")
      }
      region = !region
    }
    out.result()
  }

  def generate(dir: String, seed: Long): Inputs = {
    val ss   = soundings(new Random(seed))
    val path = Paths.get(dir, s"oco3_LtCO2_${Day.replace("-", "")}_B10400Br.nc4")
    Files.write(path, NetCDFGranules.writeGranuleH5(ss, chunkRows = 2048, deflateLevel = 4))
    val good = ss.filter(s => s.xco2_quality_flag == 0 && s.operation_mode != 0)
    def range(f: Sounding => Double) = (good.map(f).min, good.map(f).max)
    Inputs(path.toString, ss.size, Map(
      "OCO3_global_xco2"             -> range(_.xco2),
      "OCO3_global_xco2_uncertainty" -> range(_.xco2_uncertainty),
      "OCO3_global_operation_mode"   -> range(_.operation_mode.toDouble)))
  }

  val mesh: Grid.GridSpec = Grid.GridSpec(-180.0, 180.0, MeshW, -90.0, 90.0, MeshH)
  val cfg: Pipeline.Config = Pipeline.Config(method = "linear")

  /** `RunJob`'s global product for an oco3 granule, from the same public calls. */
  def product(spark: SparkSession, in: Inputs): DataFrame =
    GlobalPipeline.toStoreVariables("oco3", GlobalPipeline.process(
      NetCDFGranules.readGranules(spark, Seq(in.granule)).drop("sounding_id"), mesh, cfg))

  /** Row count and an order-free content digest over (variable, pixel, value). */
  def digest(df: DataFrame): (Long, BigDecimal) = {
    val r = df
      .select(xxhash64(col("variable"), col("lat_idx").cast("int"), col("lon_idx").cast("int"),
        col("value").cast("double")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h")))
      .collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The writers' output checks, against `prod`, the product they wrote. */
  def check(spark: SparkSession, in: Inputs, prod: DataFrame, out: String, o: Outcome): Unit = {
    val vals = prod.filter(!isnan(col("value")))
    val vars = vals.select("variable").distinct().collect().map(_.getString(0)).sorted.toSeq
    val back = vars.map(v => ZarrStore.read(spark, s"$out/store", v).withColumn("variable", lit(v)))
      .reduce(_.unionByName(_))
    val (want, got) = (digest(vals), digest(back))
    o.check("sinks.zarr_readback", want == got && want._1 > 0, s"product=$want zarr=$got")
    val days = 1
    val tifs = Common.filesUnder(s"$out/cog").count(_.getName.endsWith(".tif"))
    val ncs  = Common.filesUnder(s"$out/nc").count(_.getName.endsWith(".nc4"))
    o.check("sinks.cog_files", tifs == vars.size * days, s"tif=$tifs variables=${vars.size}")
    o.check("sinks.nc4_files", ncs == days, s"nc=$ncs days=$days")
    // annotation ids and type codes have no input range; every other
    // variable must lie within its quality-passing input range
    val bad = back.groupBy("variable").agg(min("value"), max("value")).collect().toSeq.flatMap { r =>
      val (v, lo, hi) = (r.getString(0), r.getDouble(1), r.getDouble(2))
      in.ranges.get(v) match {
        case Some((a, b)) if lo >= a - 1e-9 * math.abs(a) && hi <= b + 1e-9 * math.abs(b) => None
        case None if v.endsWith("target_id") || v.endsWith("target_type") => None
        case other => Some(s"$v=[$lo,$hi] input=$other")
      }
    }
    o.check("sinks.value_ranges", bad.isEmpty, bad.mkString("; "))
  }

  /** The global product, persisted and counted the way `RunJob` builds
    * it; each dense writer timed on it; then the writers' checks. */
  def traced(spark: SparkSession, a: RunArgs, o: Outcome, tr: Tracer): Unit = {
    val in = generate(Common.freshDir(s"${a.work}/global-inputs"), a.seed)
    val (prod, domS) = tr("domain.global_process") {
      Common.timed {
        val p = product(spark, in).persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      }
    }
    val productRows = prod.count()
    o.put("domain.global_process_s", domS)
    o.put("domain.global_rows_per_sounding", productRows.toDouble / in.soundings)

    val out = Common.freshDir(s"${a.work}/sinks")
    val (minLon, dLon, minLat, dLat) = (-180.0 + 180.0 / MeshW, 360.0 / MeshW, -90.0 + 90.0 / MeshH, 180.0 / MeshH)
    o.put("sinks.zarr_write_s", tr("sinks.zarr_write") {
      Common.timed(ZarrStore.write(prod, s"$out/store", ZarrStore.GridSpec(MeshH, MeshW, minLat, dLat, minLon, dLon)))._2
    })
    o.put("sinks.cog_s", tr("sinks.cog") {
      Common.timed(CoGExport.exportGlobalMosaic(prod, s"$out/cog", MeshW, MeshH,
        minLon = minLon, dLon = dLon, minLat = minLat, dLat = dLat).count())._2
    })
    o.put("sinks.nc4_s", tr("sinks.nc4") {
      Common.timed(NetCDFExport.exportGlobalDailyH5(prod, s"$out/nc", MeshW, MeshH,
        minLon = minLon, dLon = dLon, minLat = minLat, dLat = dLat).count())._2
    })
    o.attempted += 3
    val zbytes = Common.du(s"$out/store").toDouble
    o.put("sinks.zarr_bytes", zbytes)
    o.put("sinks.zarr_files", Common.filesUnder(s"$out/store").size.toDouble)
    o.put("sinks.bytes_per_value", zbytes / math.max(1L, productRows))
    tr("checks.sinks")(check(spark, in, prod, out, o))
    prod.unpersist()
  }
}
