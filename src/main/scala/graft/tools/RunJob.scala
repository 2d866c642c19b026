package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{GlobalPipeline, Oco2Pipeline, Pipeline, SifPipeline, TargetCatalog}
import graft.operators.Grid
import graft.sinks.{CoGExport, NetCDFExport, ProductStore, ZarrStore}
import graft.sources.netcdf.NetCDFGranules

/** Config-driven batch run — the reference's `main.py` entry point over its
  * own run-config YAML shape (`sam_extract/schema/run-config-schema.yaml`),
  * so an existing config file drives the Spark engine with minimal edits.
  *
  * Usage: RunJob <run-config.yaml>
  *
  * Recognized subset (reference keys, kebab-case):
  * {{{
  * input:
  *   files: [granule.nc4, ...]        # plain list = oco3, or a mission map
  *                                    # {oco3: [...], oco2: [...],
  *                                    #  oco3_sif: [...]} — each mission
  *                                    # runs through ITS pipeline
  *                                    # (Pipeline / Oco2Pipeline /
  *                                    # SifPipeline) and multi-mission
  *                                    # outputs merge per J5; unknown
  *                                    # mission keys are rejected
  * output:
  *   local: /path/store               # required
  *   format: zarr | parquet           # extension; default parquet for
  *                                    # target mode, zarr for global mode
  *   global: false                    # true → GlobalPipeline onto the mesh;
  *                                    # mission maps build the reference's
  *                                    # 3-mission store (variables prefixed
  *                                    # OCO3_global_/OCO2_global_/
  *                                    # OCO3_SIF_global_, absent missions
  *                                    # synthesized all-fill per G5)
  *   drop-empty: true
  *   cog: {output: {local: /path}}    # optional GeoTIFF slice export
  *   nc4: {output: {local: /path}}    # optional netCDF-4 slice export (ext)
  * grid:
  *   latitude: 3200                   # global mesh height (global mode)
  *   longitude: 6400                  # global mesh width
  *   method: nearest | linear | cubic
  *   target-n: 64                     # extension: per-target grid N
  * chunking: {time: 5, latitude: 250, longitude: 250}
  * mask-scaling: 1.2
  * target-file: /path/targets.json    # the reference's catalog format
  * }}}
  *
  * Unsupported reference keys (s3/rmq credentials, naming patterns) are
  * ignored; the streaming entry point is `MicroBatchIngest.ingestQueue`.
  */
object RunJob {

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: RunJob <run-config.yaml>")
    // embeddable: reuse a caller's running session (tests, notebooks) and
    // only stop what this main itself started
    val preExisting = SparkSession.getActiveSession.isDefined
    val spark = Jobs.session("graft-run")
    spark.sparkContext.setLogLevel("WARN")
    val conf = spark.sessionState.newHadoopConf()

    // ---- parse config (YAML via the Jackson shipped with Spark)
    val p  = new org.apache.hadoop.fs.Path(args(0))
    val fs = p.getFileSystem(conf)
    val text = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val yaml = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = yaml.readTree(text)
    def at(pathKeys: String*): Option[com.fasterxml.jackson.databind.JsonNode] =
      pathKeys.foldLeft(Option(root)) { (n, k) => n.flatMap(x => Option(x.get(k))) }
    def str(keys: String*): Option[String] = at(keys: _*).map(_.asText)
    def int(keys: String*): Option[Int]    = at(keys: _*).map(_.asInt)
    def bool(keys: String*): Boolean       = at(keys: _*).exists(_.asBoolean)

    // input.files: plain list (= oco3), or mission-keyed map (values =
    // lists) dispatched per-mission like the reference's processor
    // registry (`main.py:199-297`, `Processor.py:102`)
    val missionFiles: Seq[(String, Seq[String])] = at("input", "files") match {
      case None => throw new IllegalArgumentException("config: input.files is required")
      case Some(n) if n.isArray =>
        Seq("oco3" -> (0 until n.size).map(n.get(_).asText))
      case Some(n) =>
        import scala.jdk.CollectionConverters._
        n.properties().asScala.toSeq.map { e =>
          val v = e.getValue
          val fs =
            if (v == null || v.isNull) Nil
            else if (v.isArray) (0 until v.size).map(v.get(_).asText).toSeq
            else Seq(v.asText)
          e.getKey -> fs
        }.filter(_._2.nonEmpty)
    }
    val knownMissions = Set("oco3", "oco2", "oco3_sif")
    val unknown = missionFiles.map(_._1).filterNot(knownMissions)
    require(
      unknown.isEmpty,
      s"config: unknown mission key(s) ${unknown.mkString(", ")} — supported: ${knownMissions.toSeq.sorted.mkString(", ")}")
    val files = missionFiles.flatMap(_._2)
    val outPath   = str("output", "local").getOrElse(
      throw new IllegalArgumentException("config: output.local is required"))
    val isGlobal  = bool("output", "global")
    val format    = str("output", "format").getOrElse(if (isGlobal) "zarr" else "parquet")
    val dropEmpty = bool("output", "drop-empty")
    val method    = str("grid", "method").getOrElse("nearest")
    val gridN     = int("grid", "target-n").getOrElse(64)
    val meshH     = int("grid", "latitude").getOrElse(3200)
    val meshW     = int("grid", "longitude").getOrElse(6400)
    val chunking  = ZarrStore.Chunking(
      t = int("chunking", "time").getOrElse(5),
      y = int("chunking", "latitude").getOrElse(250),
      x = int("chunking", "longitude").getOrElse(250))
    val maskScale = at("mask-scaling").map(_.asDouble).getOrElse(1.0)

    // ---- catalog + per-mission pipelines → (J5) merged product
    val catalog = str("target-file").map(TargetCatalog.fromJson(spark, _))
    val cfg = Pipeline.Config(gridN = gridN, method = method, maskScale = maskScale)
    val product = RunJob.product(spark, missionFiles, catalog, cfg,
      if (isGlobal) Some(Grid.GridSpec(-180.0, 180.0, meshW, -90.0, 90.0, meshH)) else None)
    val cleaned0 = if (dropEmpty) ProductStore.dropEmptySlices(product) else product
    // every run takes ≥2 actions over the product (store write + the row
    // count; plus optional COG / netCDF exports — up to 4) and the plan
    // above is the full granule→sessionize→interp→mask pipeline: without
    // a persist EACH action re-executes it end to end. CacheScope so the
    // streaming wrapper's per-batch scope releases it; the explicit
    // unpersist below covers the batch path.
    val cleaned = graft.CacheScope.persist(
      cleaned0, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // ---- store + optional slice exports
    format match {
      case "zarr" =>
        require(isGlobal, "zarr store indexes the global mesh; use output.global=true (or format=parquet)")
        ZarrStore.write(
          cleaned, outPath,
          ZarrStore.GridSpec(
            meshH, meshW,
            -90.0 + 180.0 / meshH / 2, 180.0 / meshH,
            -180.0 + 360.0 / meshW / 2, 360.0 / meshW),
          chunking,
          // G5: absent missions' arrays exist (all-fill) for every day —
          // the reference's empty-day synthesis (`main.py:219-230,275-283`)
          ensureVariables = knownMissions.toSeq.sorted
            .flatMap(GlobalPipeline.missionStoreVariables))
      case "parquet" =>
        ProductStore.appendIdempotent(cleaned, outPath, dropEmpty = false)
      case other => throw new IllegalArgumentException(s"config: unknown output.format $other")
    }
    // slice exports are per-target rasters in target mode; in global mode
    // the same config keys dispatch to the distributed full-mesh exporters
    // (one COG mosaic per (variable, day) / one netCDF-4 per day — a
    // per-target slice export has no target_id to slice on there)
    val nCog = str("output", "cog", "output", "local").map { dir =>
      if (isGlobal)
        CoGExport.exportGlobalMosaic(
          cleaned, dir, meshW, meshH,
          minLon = -180.0 + 360.0 / meshW / 2, dLon = 360.0 / meshW,
          minLat = -90.0 + 180.0 / meshH / 2, dLat = 180.0 / meshH).count()
      else CoGExport.exportSlices(cleaned, dir).count()
    }
    val nNc4 = str("output", "nc4", "output", "local").map { dir =>
      if (isGlobal)
        NetCDFExport.exportGlobalDailyH5(
          cleaned, dir, meshW, meshH,
          minLon = -180.0 + 360.0 / meshW / 2, dLon = 360.0 / meshW,
          minLat = -90.0 + 180.0 / meshH / 2, dLat = 180.0 / meshH).count()
      else NetCDFExport.exportTargetDailyH5(cleaned, dir).count()
    }

    val nOut = format match {
      case "parquet" => ProductStore.read(spark, outPath).count()
      case _         => cleaned.count()
    }
    cleaned.unpersist(blocking = false)
    println(
      s"""{"job":"run","granules":${files.length},"store":"$outPath","format":"$format","rows":$nOut""" +
        nCog.map(n => s""","cog_slices":$n""").getOrElse("") +
        nNc4.map(n => s""","nc4_slices":$n""").getOrElse("") + "}")
    if (!preExisting) spark.stop()
  }

  /** The run's product over mission-keyed granule files (`oco3`, `oco2`,
    * `oco3_sif`). Target mode (`mesh = None`) runs each mission through
    * its pipeline (`Pipeline` / `Oco2Pipeline` / `SifPipeline`) against
    * `catalog`; several missions merge per J5 (disjoint variable sets
    * union in long form). Global mode runs every mission's
    * `GlobalPipeline` variant onto `mesh` with the reference's variable
    * prefixes (`main.py:199-297`) and unions them into one long form.
    * `RunJob.main` and a multi-mission queue product call this one
    * function. */
  def product(
      spark: SparkSession,
      missionFiles: Seq[(String, Seq[String])],
      catalog: Option[DataFrame],
      cfg: Pipeline.Config,
      mesh: Option[Grid.GridSpec]): DataFrame = {
    def cat = catalog.getOrElse(
      throw new IllegalArgumentException("config: target-file is required unless output.global"))
    def missionProduct(mission: String, paths: Seq[String]): DataFrame = mission match {
      case "oco3" =>
        Pipeline.process(NetCDFGranules.readGranules(spark, paths).drop("sounding_id"), cat, cfg)
      case "oco2" =>
        Oco2Pipeline.process(NetCDFGranules.readGranules(spark, paths).drop("sounding_id"), cat, cfg)
      case "oco3_sif" =>
        SifPipeline.process(
          NetCDFGranules.readSifGranules(spark, paths),
          NetCDFGranules.readSifSequences(spark, paths),
          cat,
          cfg.copy(samMode = 3, targetMode = 2))
    }
    def missionGlobal(mission: String, paths: Seq[String], mesh: Grid.GridSpec): DataFrame =
      mission match {
        case "oco3" =>
          GlobalPipeline.toStoreVariables(mission, GlobalPipeline.process(
            NetCDFGranules.readGranules(spark, paths).drop("sounding_id"), mesh, cfg))
        case "oco2" =>
          // Target-mode-only runs (R3); the reference's OCO-2 global mask
          // adds no target annotations (`OCO2GlobalProcessor.py:206`)
          GlobalPipeline.toStoreVariables(mission, GlobalPipeline.process(
            NetCDFGranules.readGranules(spark, paths).drop("sounding_id"),
            mesh, cfg.copy(samMode = cfg.targetMode)))
        case "oco3_sif" =>
          val soundings = NetCDFGranules.readSifGranules(spark, paths)
            .withColumn("time", SifPipeline.sifTime(col("delta_time")))
          val resolved = SifPipeline.resolveTargets(
            soundings, NetCDFGranules.readSifSequences(spark, paths))
          GlobalPipeline.toStoreVariables(mission, GlobalPipeline.process(
            resolved, mesh, cfg.copy(samMode = 3, targetMode = 2),
            valueCols = Seq("daily_sif"),
            quality = (df, _) => SifPipeline.qualityFilter(df)))
      }
    mesh match {
      case Some(m) =>
        missionFiles.map { case (mission, paths) =>
          val p = missionGlobal(mission, paths, m)
          // multi-mission: SEQUENCE the mission builds — materialize
          // mission N (eager localCheckpoint truncates its lineage, so its
          // broadcasts are collectable) before building N+1. Leaving all
          // three pipelines lazy under one union co-resided their builds
          // in a single job: measured 4× driver heap (32 GiB) for 2.5×
          // soundings at the deploy mesh where one mission fits 8 GiB.
          // The union is at the store grain — it only reads the
          // checkpointed partitions.
          if (missionFiles.sizeIs > 1) p.localCheckpoint(true) else p
        }.reduce(_.unionByName(_))
      case None => missionFiles match {
        case Seq((mission, paths)) => missionProduct(mission, paths)
        case several =>
          GlobalPipeline.mergeMissions(
            several.map { case (mission, paths) => mission -> missionProduct(mission, paths) }.toMap)
      }
    }
  }
}
