package graft.tools

import org.apache.spark.sql.SparkSession
import graft.sinks.ProductStore

/** CLI equivalents of the reference's companion tools. */
object Jobs {
  private[graft] def session(app: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE sizes every shuffle by data volume: start wide (8× slots) so a
      // large stage's partitions stay memory-sized instead of spilling at a
      // fixed 32, and let coalescing shrink small stages back down —
      // cached stages too, since CacheScope.persist plans its caches with
      // final-stage coalescing on. The static shuffle.partitions above is
      // only the non-AQE fallback.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

/** `tools/repair` analog (SURVEY S8/S12): verify a store for duplicate
  * logical rows and repair keep-first if dirty.
  *
  * Usage: RepairJob <storePath>
  */
object RepairJob {
  def main(args: Array[String]): Unit = {
    val Array(store) = args.take(1)
    val preExisting  = SparkSession.getActiveSession.isDefined
    val spark        = Jobs.session("graft-repair")
    spark.sparkContext.setLogLevel("WARN")
    val fixed = ProductStore.repair(spark, store)
    // optional maintenance compaction:
    //   --compact d1,d2 [--target-rows n] [--zorder] [--bloom c1,c2]
    // --zorder lays each (day, variable) out on the Morton curve so lat/lon
    // box reads (the climatology tool's subset) skip files; --bloom adds
    // parquet split-block bloom filters for point-probe columns.
    val compactDays = args.sliding(2)
      .collectFirst { case Array("--compact", d) => d.split(",").map(_.trim).filter(_.nonEmpty).toSeq }
      .getOrElse(Nil)
    val targetRows = args.sliding(2)
      .collectFirst { case Array("--target-rows", n) => n.toLong }.getOrElse(4L * 1000 * 1000)
    val zOrder = args.contains("--zorder")
    val bloomCols = args.sliding(2)
      .collectFirst { case Array("--bloom", c) => c.split(",").map(_.trim).filter(_.nonEmpty).toSeq }
      .getOrElse(Nil)
    val compacted = if (compactDays.nonEmpty) {
      val (b, a) = ProductStore.compact(spark, store, compactDays, targetRows, zOrder, bloomCols)
      s""","files_before":$b,"files_after":$a,"zorder":$zOrder"""
    } else ""
    // --redrive <queueDir>: re-queue dead-lettered messages (after the
    // operator fixed the conf that poisoned them) — the next ingest run
    // reprocesses them; the store append is idempotent either way.
    val redriven = args.sliding(2)
      .collectFirst { case Array("--redrive", q) =>
        val names = graft.streaming.Disposition.redrive(q, spark.sessionState.newHadoopConf())
        s""","redriven":${names.length}"""
      }
      .getOrElse("")
    // --prune-acked <queueDir> [--older-than-days N] (default 7): retire
    // old consumed-message files from the .acked/ audit dir — the
    // reference's basic_ack deletes them outright; we keep a bounded
    // retention window instead of an ever-growing object-store prefix.
    val pruned = args.sliding(2)
      .collectFirst { case Array("--prune-acked", q) =>
        val days = args.sliding(2)
          .collectFirst { case Array("--older-than-days", d) => d.toInt }.getOrElse(7)
        val n = graft.streaming.Disposition.pruneAcked(
          q, days, spark.sessionState.newHadoopConf())
        s""","acked_pruned":$n"""
      }
      .getOrElse("")
    println(s"""{"store":"$store","duplicate_groups_repaired":$fixed$compacted$redriven$pruned}""")
    if (!preExisting) spark.stop()
  }
}
