package graftbench

import org.apache.spark.sql.SparkSession

import graft.sources.netcdf.NetCDFGranules

/** Per-layer probes shared by the granule workloads. */
object Probes {
  /** `sources.*`: decode the granules through the `noop` sink. Bytes come
    * from the scan's task input metrics when it reports them, otherwise
    * from the file sizes (`sources.bytes_from_files` = 1). */
  def sources(spark: SparkSession, a: RunArgs, paths: Seq[String], o: Outcome, tr: Tracer): Unit = {
    val (_, readS, eng) = tr("sources.read") {
      EngineCounters.measure(spark, a.cores) {
        NetCDFGranules.readGranules(spark, paths).write.format("noop").mode("overwrite").save()
      }
    }
    val scan  = eng.toMap.getOrElse("engine.input_bytes", 0.0)
    val bytes = if (scan > 0) scan else paths.map(p => new java.io.File(p).length).sum.toDouble
    o.put("sources.read_s", readS)
    o.put("sources.rows", NetCDFGranules.readGranules(spark, paths).count().toDouble)
    o.put("sources.bytes_read", bytes)
    o.put("sources.bytes_from_files", if (scan > 0) 0.0 else 1.0)
    o.put("sources.mb_per_s", bytes / 1e6 / readS)
  }
}
