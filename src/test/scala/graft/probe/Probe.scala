package graft.probe

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.domain.{GlobalPipeline, Pipeline, TargetCatalog}
import graft.domain.TargetCatalog.Target
import graft.operators.{Climatology, Grid}
import graft.sinks.{ProductStore, ZarrStore}
import graft.sources.SyntheticGranule.Sounding
import graft.sources.netcdf.NetCDFGranules
import graft.streaming.{CorpusIngest, MicroBatchIngest}
import graft.tools.{ClimatologyJob, CorpusJob, Jobs, RunJob}

/** Scale probe over synthetic inputs. Each entry writes its inputs, drives
  * one front door of the engine and prints one JSON line: wall seconds,
  * output sizes, a content signature and `checks`, which all read true on
  * working code.
  *
  * {{{
  * sbt "Test/runMain graft.probe.Probe <entry> …"   # or dev/probe.sh graft.probe.Probe …
  *   runjob     <soundings> <targets> <gridN> <method> [key=value …]
  *   queue      <soundings> <targets> <gridN> <method> <days> [key=value …]
  *   corpusjob  <docs> [reps]
  *   text       <docs> [op,op,…]
  *   ingestgate <docs>
  * }}}
  *
  * `runjob` runs a `RunJob` YAML over granule files; `queue` enqueues one
  * message per granule-day, drains it with `MicroBatchIngest.ingestQueue`
  * (product: `RunJob.product`) and checks the store's seams: a replayed
  * day, compaction, duplicates, the climatology state against a rescan.
  * Keys: `mode=target|global` (global: a 100·gridN × 50·gridN mesh),
  * `missions=oco3[,oco2,oco3_sif]`, `days=N` (runjob), `exports=cog,nc4`
  * (runjob) and `shape=band` (every sounding in one mode, so a global day
  * is one region covering the band).
  */
object Probe {

  final case class Opts(
      n: Int, nTgt: Int, gridN: Int, method: String, days: Int,
      global: Boolean, missions: Seq[String], exports: Seq[String], band: Boolean) {
    def mesh: Option[Grid.GridSpec] =
      if (global) Some(Grid.GridSpec(-180.0, 180.0, 100 * gridN, -90.0, 90.0, 50 * gridN)) else None
    def cfg: Pipeline.Config = Pipeline.Config(gridN = gridN, method = method)
  }

  private def opts(args: Seq[String], days: Int): Opts = {
    val kv = args.drop(4).flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k -> v)
      case _           => None
    }).toMap
    def list(k: String, d: String) = kv.getOrElse(k, d).split(",").filter(_.nonEmpty).toSeq
    Opts(args(0).toInt, args(1).toInt, args(2).toInt, args(3),
      kv.get("days").map(_.toInt).getOrElse(days), kv.get("mode").contains("global"),
      list("missions", "oco3"), list("exports", ""), kv.get("shape").contains("band"))
  }

  def main(args: Array[String]): Unit = {
    val spark = Jobs.session("graft-probe")
    spark.sparkContext.setLogLevel("WARN")
    val rest = args.toSeq.drop(1)
    val out = args.headOption match {
      case Some("runjob")     => runjob(spark, opts(rest, 1))
      case Some("queue")      => queue(spark, opts(rest.take(4) ++ rest.drop(5), rest(4).toInt))
      case Some("corpusjob")  => corpusjob(spark, rest.head.toLong, rest.lift(1).fold(1)(_.toInt))
      case Some("text")       => text(spark, rest.head.toLong, rest.lift(1).map(_.split(",").toSet))
      case Some("ingestgate") => ingestgate(spark, rest.head.toLong)
      case other => throw new IllegalArgumentException(
        s"unknown probe entry ${other.getOrElse("")}: runjob | queue | corpusjob | text | ingestgate")
    }
    println(render(out))
    spark.stop()
  }

  // ---------------------------------------------------------------- output

  /** A JSON object with its fields in order. */
  final case class J(fields: (String, Any)*)

  private def render(v: Any): String = v match {
    case J(fs @ _*) => fs.map { case (k, x) => "\"" + k + "\":" + render(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case s: String  => "\"" + s + "\""
    case d: Double  => BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    case x          => x.toString
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Order-independent content signature: row count and the decimal sum
    * (2^63-scale hashes overflow a long sum) of one xxhash64 per row over
    * every column in name order. */
  def signature(df: DataFrame): (Long, BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")))
      .collect()(0)
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  // ---------------------------------------------------------------- granules

  def targets(nTgt: Int): Seq[Target] = (0 until nTgt).map { i =>
    val lon = -170.0 + (i % 160) * 2.0
    val lat = -40.0 + (i / 160) * 4.0
    Target(f"fossil$i%04d", s"T$i", lon, lat, lon + 2.0, lat + 2.0)
  }

  /** Mission of a granule file by the reference's naming. */
  def byMission(paths: Seq[String]): Seq[(String, Seq[String])] =
    paths.groupBy { p =>
      val f = new java.io.File(p).getName
      if (f.contains("LtSIF")) "oco3_sif" else if (f.startsWith("oco2_")) "oco2" else "oco3"
    }.toSeq.sortBy(_._1)

  /** One day's granule files under `dir`, as (mission, path). Target t of
    * nTgt is ONE capture a day: the contiguous soundings
    * [t·m/nTgt, (t+1)·m/nTgt) of the day's m, scattered inside its 2°×2°
    * catalog box. Every 10th sounding fails quality; the mode alternates
    * by target, or stays constant with `band`. oco2 granules carry no
    * target ids; oco3_sif granules hold n / 2 soundings and name their
    * targets through /Sequences. */
  def writeDay(dir: Path, day: String, o: Opts): Seq[(String, String)] = {
    val tag = day.replace("-", "")
    def at(i: Int, m: Int): (Int, Double, Double) = {
      val t = (i.toLong * o.nTgt / m).toInt
      (t, -170.0 + (t % 160) * 2.0 + (i * 7919L % 2000) / 1000.0,
        -40.0 + (t / 160) * 4.0 + (i * 104729L % 2000) / 1000.0)
    }
    def box(x: Double) = Seq(x - 0.01, x - 0.01, x + 0.01, x + 0.01)
    val time = java.sql.Timestamp.valueOf(s"$day 10:30:00")
    def co2(targeted: Boolean) = (0 until o.n).map { i =>
      val (t, lon, lat) = at(i, o.n)
      Sounding(i.toLong, tag.toLong * 100000000L + i, lat, lon, time,
        box(lat), Seq(lon - 0.01, lon + 0.01, lon + 0.01, lon - 0.01),
        if (i % 10 == 9) 1 else 0, 400.0 + (i % 100) / 10.0, 0.5,
        if (o.band || t % 2 == 0) 4 else 2, if (targeted) f"fossil$t%04d" else "")
    }
    o.missions.map { m =>
      val (name, bytes) = m match {
        case "oco3" => (s"oco3_LtCO2_${tag}_B10400Br.nc4",
          NetCDFGranules.writeGranuleH5(co2(targeted = true), chunkRows = 16384, deflateLevel = 4))
        case "oco2" => (s"oco2_LtCO2_${tag}_B11100Ar.nc4",
          NetCDFGranules.writeGranuleH5(co2(targeted = false), chunkRows = 16384, deflateLevel = 4))
        case "oco3_sif" =>
          val epoch = (java.time.LocalDate.parse(day).toEpochDay -
            java.time.LocalDate.parse("1990-01-01").toEpochDay) * 86400.0 + 37800.0
          val rows = (0 until o.n / 2).map { i =>
            val (t, lon, lat) = at(i, o.n / 2)
            NetCDFGranules.SifSounding(i.toLong, lat, lon, epoch + i * 0.1,
              box(lat), Seq(lon - 0.01, lon + 0.01, lon + 0.01, lon - 0.01),
              quality_flag = if (i % 10 == 9) 1 else 0, daily_sif = 1.0 + (i % 100) / 50.0,
              operation_mode = if (o.band || t % 2 == 0) 3 else 0, sequences_index = t)
          }
          (s"oco3_LtSIF_${tag}_B10400Br.nc4",
            NetCDFGranules.writeSifGranuleH5(rows, targets(o.nTgt).map(_.target_id)))
      }
      val p = dir.resolve(name)
      Files.write(p, bytes)
      m -> p.toString
    }
  }

  private def dayStrings(n: Int): Seq[String] =
    (0 until n).map(i => java.time.LocalDate.parse("2023-06-15").plusDays(i.toLong).toString)

  // ---------------------------------------------------------------- runjob

  private def runjob(spark: SparkSession, o: Opts): J = {
    val dir  = Files.createTempDirectory("probe-runjob")
    val days = dayStrings(o.days)
    val (files, genSec) = timed(days.flatMap(writeDay(dir, _, o)))
    val catalog = dir.resolve("targets.json")
    Files.write(catalog, targets(o.nTgt).map { t =>
      s""""${t.target_id}": {"id": "${t.target_id}", "name": "${t.name}", "bbox": {""" +
        s""""min_lon": ${t.min_lon}, "min_lat": ${t.min_lat}, "max_lon": ${t.max_lon}, "max_lat": ${t.max_lat}}}"""
    }.mkString("{", ",\n", "}").getBytes("UTF-8"))
    val store = dir.resolve("store").toString
    def exportTo(k: String) =
      if (o.exports.contains(k)) s"  $k:\n    output:\n      local: ${dir.resolve(k)}\n" else ""
    val yaml = dir.resolve("run-config.yaml")
    Files.write(yaml, (
      "input:\n  files:\n" +
        byMission(files.map(_._2)).map { case (m, ps) => s"    $m: [${ps.mkString(", ")}]\n" }.mkString +
        s"output:\n  local: $store\n  format: ${if (o.global) "zarr" else "parquet"}\n" +
        s"  global: ${o.global}\n" + exportTo("cog") + exportTo("nc4") +
        s"grid:\n  latitude: ${50 * o.gridN}\n  longitude: ${100 * o.gridN}\n" +
        s"  method: ${o.method}\n  target-n: ${o.gridN}\ntarget-file: $catalog\n").getBytes("UTF-8"))
    val (_, sec) = timed(RunJob.main(Array(yaml.toString)))
    // the store read back, per variable for Zarr
    val frames: Seq[(String, DataFrame)] =
      if (o.global) ClimatologyJob.storeVariables(spark, store).map(v =>
        v -> ZarrStore.read(spark, store, v).withColumn("variable", lit(v)))
      else Seq("" -> ProductStore.read(spark, store))
    val sigs = frames.map(f => signature(f._2))
    val storeDays =
      if (o.global) ZarrStore.existingDays(spark, store).map(java.time.LocalDate.ofEpochDay(_).toString)
      else frames.head._2.select(col("day").cast("string")).distinct().collect().map(_.getString(0)).toSeq
    val science = o.missions.map(m =>
      if (o.global) {
        val v = GlobalPipeline.MissionPrefix(m) + GlobalPipeline.MissionScienceVars(m).head
        m -> frames.find(_._1 == v).fold(0L)(_._2.count())
      } else {
        val df = frames.head._2
        m -> (if (o.missions.sizeIs > 1) df.filter(col("mission") === m) else df).count()
      })
    J("probe" -> "runjob", "mode" -> (if (o.global) "global" else "target"),
      "soundings" -> o.n, "targets" -> o.nTgt, "days" -> o.days, "missions" -> o.missions,
      "mesh" -> (if (o.global) s"${100 * o.gridN}x${50 * o.gridN}" else s"target ${o.gridN}"),
      "method" -> o.method, "shape" -> (if (o.band) "band" else "captures"), "exports" -> o.exports,
      "generate_sec" -> genSec, "wall_sec" -> sec, "rows" -> sigs.map(_._1).sum,
      "signature" -> sigs.map(_._2).sum.toString, "science_rows" -> J(science: _*),
      "checks" -> J(
        "days_present" -> (storeDays.sorted == days),
        "missions_present" -> science.forall(_._2 > 0)))
  }

  // ---------------------------------------------------------------- queue

  private def queue(spark: SparkSession, o: Opts): J = {
    val base  = Files.createTempDirectory("probe-queue")
    val qdir  = base.resolve("queue"); Files.createDirectories(qdir)
    val store = base.resolve("store").toString
    val state = base.resolve("state").toString
    val days  = dayStrings(o.days)
    val messages = days.map(d => writeDay(base, d, o).map(_._2).mkString("\n").getBytes("UTF-8"))
    messages.zipWithIndex.foreach { case (m, i) => Files.write(qdir.resolve(f"msg-$i%03d"), m) }
    val catalog = TargetCatalog.toDF(spark, targets(o.nTgt))
    // the global store's long form has no target_id
    val keys = if (o.global) Seq("variable") else Seq("target_id", "variable")
    def drain(ckpt: String) = {
      val q = MicroBatchIngest.ingestQueue(
        spark, qdir.toString, base.resolve(ckpt).toString, store, catalog, o.cfg,
        climatologyState = Some(state), stateKeys = keys,
        product = Some((s, paths) => RunJob.product(s, byMission(paths), Some(catalog), o.cfg, o.mesh)))
      q.awaitTermination(); q
    }
    def stored = signature(ProductStore.read(spark, store))
    val (q, ingestSec) = timed(drain("ckpt"))
    val perDay = q.recentProgress.toSeq.filter(_.numInputRows > 0).map(_.batchDuration / 1000.0)
    val ingested = stored
    // seam A: a redelivered day under a fresh checkpoint converges
    val (_, replaySec) = timed {
      Files.write(qdir.resolve("msg-replay"), messages.head)
      drain("ckpt2")
    }
    val replayed = stored
    // seam B: z-ordered compaction of every day is pure layout
    val ((filesBefore, filesAfter), compactSec) = timed(ProductStore.compact(
      spark, store, days,
      targetRows = if (o.global) math.max(100000L, ingested._1 / days.length / 12) else 4000000L,
      zOrder = true, bloomFilterCols = if (o.global) Nil else Seq("target_id")))
    val compacted = stored
    val dups = ProductStore.findDuplicates(spark, store).count()
    // seam C: span means from the incremental state equal a full rescan
    val product = ProductStore.read(spark, store)
    def pinned(df: DataFrame) = { val m = df.localCheckpoint(true); m.count(); m }
    val (inc, foldSec) = timed(pinned(Climatology.meansFromState(spark, state, "month", keys)))
    val (full, rescanSec) = timed(pinned(
      Climatology.temporalMean(product, "time", "value", "month", keys)))
    // a lon_idx box read off the compacted store: 2° of the global mesh,
    // the western half of each target grid
    val (lo, hi) =
      if (o.global) { val l = (60.0 / 360.0 * (100 * o.gridN - 1)).toInt; (l, l + 100 * o.gridN / 90) }
      else (0, o.gridN / 2 - 1)
    val ((boxRows, boxFiles), boxSec) = timed {
      val box = product.filter(col("lon_idx").between(lo, hi))
      (box.count(), box.select(input_file_name()).distinct().count())
    }
    J("probe" -> "queue", "mode" -> (if (o.global) "global" else "target"),
      "soundings_per_day" -> o.n, "targets" -> o.nTgt, "days" -> o.days, "missions" -> o.missions,
      "gridN" -> o.gridN, "method" -> o.method, "ingest_sec" -> ingestSec, "per_day_sec" -> perDay,
      "replay_sec" -> replaySec, "compact_sec" -> compactSec, "files_before" -> filesBefore,
      "files_after" -> filesAfter, "duplicates_after" -> dups, "state_fold_sec" -> foldSec,
      "full_rescan_sec" -> rescanSec, "box_lon_idx" -> Seq(lo, hi), "box_rows" -> boxRows,
      "box_files" -> boxFiles, "box_sec" -> boxSec, "store_rows" -> ingested._1,
      "signature" -> ingested._2.toString,
      "checks" -> J(
        "stored" -> (ingested._1 > 0),
        "replay_converges" -> (replayed == ingested),
        "compact_content_equal" -> (compacted == ingested),
        "no_duplicates" -> (dups == 0L),
        "climo_bit_equal" -> (inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)))
  }

  // ---------------------------------------------------------------- text tier

  /** ~60-word docs over a hashed 500-word vocabulary with real duplicate
    * structure: every 50th doc repeats its predecessor, every other 25th
    * differs from it in one word. Built on the executors. */
  def corpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n)
      .select(
        col("id").as("doc_id"),
        when(pmod(col("id"), lit(25)) === 1, col("id") - 1).otherwise(col("id")).as("_seed"),
        (pmod(col("id"), lit(25)) === 1 && pmod(col("id"), lit(50)) =!= 1).as("_patch"))
      .withColumn("text", concat_ws(" ", transform(sequence(lit(1), lit(60)), i =>
        when(col("_patch") && i === 7, lit("patched"))
          .otherwise(concat(lit("w"), pmod(xxhash64(col("_seed"), i), lit(500)))))))
      .select(col("doc_id"), col("text"))

  private def corpusjob(spark: SparkSession, n: Long, reps: Int): J = {
    val dir  = Files.createTempDirectory("probe-corpusjob")
    val docs = corpus(spark, n).withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(16))))
    docs.write.parquet(s"$dir/documents.parquet")
    // the benchmark side is a re-keyed 1/1000 slice, so decontaminate
    // finds real overlap
    docs.filter(pmod(col("doc_id"), lit(1000)) === 7)
      .select((col("doc_id") + lit(100000000L)).as("doc_id"), col("text"))
      .write.parquet(s"$dir/bench.parquet")
    val rates = ((0 until 8).map(i => s"s$i: 2") ++ (8 until 12).map(i => s"s$i: 1")).mkString("{", ", ", "}")
    // every step computes its full signal at a threshold that keeps the
    // corpus the later steps need
    val steps = Seq(
      "exact-dedup", "pii-scrub", "line-dedup\n    delimiter: \" \"\n    min-docs: 1000000000",
      "compression-filter\n    min-ratio: 0.05", "quality-filter\n    min-words: 10\n    min-stop-hits: 0",
      "neardup\n    min-jaccard: 0.5\n    keep-by: length",
      s"decontaminate\n    benchmark: $dir/bench.parquet\n    min-overlap: 5",
      "lm-filter\n    max-bits-per-bigram: 30\n    max-oov-pct: 100",
      "dsir-select\n    target-groups: [s0, s1, s2, s3]\n    keep-above: -1000000",
      s"mixture\n    group-column: source\n    denominator: 2\n    rates: $rates",
      "split\n    weights: {train: 8, val: 1, test: 1}", "shuffle\n    seed: 7", "pack-bins\n    seq-len: 2048")
    val runs = (0 until math.max(1, reps)).map { rep =>
      val yaml = dir.resolve(s"job-$rep.yaml")
      Files.write(yaml, (s"input:\n  documents: $dir/documents.parquet\nsteps:\n" +
        steps.map(s => s"  - op: $s\n").mkString +
        s"output:\n  local: $dir/out-$rep\n  jsonl:\n    dir: $dir/jsonl-$rep\n    tokens-per-shard: 1000000\n")
        .getBytes("UTF-8"))
      timed(CorpusJob.run(spark, yaml.toString))
    }
    val sheets = runs.map(_._1)
    J("probe" -> "corpusjob", "docs" -> n, "reps" -> runs.length, "walls_sec" -> runs.map(_._2),
      "stage_median_sec" -> J(sheets.head.steps.indices.map { i =>
        val secs = sheets.map(_.steps(i).sec).sorted
        sheets.head.steps(i).op -> secs(secs.length / 2)
      }: _*),
      "datasheet" -> sheets.head.steps.map(s => J("op" -> s.op, "rows_in" -> s.rowsIn, "rows_out" -> s.rowsOut)),
      "checks" -> J(
        "rows_kept" -> (sheets.head.outputRows > 0),
        "reps_agree" -> sheets.forall(_.steps.map(s => (s.rowsIn, s.rowsOut)) ==
          sheets.head.steps.map(s => (s.rowsIn, s.rowsOut)))))
  }

  /** The text/dedup operator soak: each op runs twice over the cached
    * corpus into a noop sink, and the second pass is timed. */
  private def text(spark: SparkSession, n: Long, only: Option[Set[String]]): J = {
    import graft.operators._
    import org.apache.spark.storage.StorageLevel
    val docs = corpus(spark, n).persist()
    docs.count()
    val stopwords = Seq("the", "a", "of", "and", "w1", "w2", "w3")
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    // the postings family materializes its shared shingle aggregate once
    // per run, inside the timed window
    def withPostings(use: DataFrame => DataFrame): Unit = {
      val post = graft.CacheScope.persist(
        SetSimilarity.shinglePostings(docs, "doc_id", "text"), StorageLevel.MEMORY_AND_DISK)
      try noop(use(post)) finally post.unpersist(blocking = true)
    }
    def split3 = Sampling.hashSplit(docs, "doc_id", Seq(("train", 90), ("val", 5), ("test", 5)))
    def bySource(m: Column) = docs.withColumn("src", concat(lit("s"), pmod(m, lit(16))))
    val ops: Seq[(String, () => Unit)] = Seq(
      "exact_dedup" -> (() => noop(Dedup.exactStats(docs, Dedup.normalizedTextHash(col("text")), "doc_id"))),
      "token_stats" -> (() => noop(TextAnalysis.tokenStats(docs, "doc_id", "text", stopwords))),
      "lang_id" -> (() => noop(TextAnalysis.languageId(docs, "doc_id", "text",
        Seq("en" -> Seq("w1", "w2"), "de" -> Seq("w3", "w4"))))),
      "fingerprint" -> (() => noop(TextAnalysis.fingerprint(docs, "doc_id", "text"))),
      "minhash_neardup" -> (() => noop(MinHashLSH.nearDuplicates(docs, "doc_id", "text"))),
      "minhash_capped" -> (() => noop(MinHashLSH.nearDuplicates(docs, "doc_id", "text", maxBucket = Some(10000L)))),
      "simhash" -> (() => noop(TextAnalysis.simHash(docs, "doc_id", "text", bits = 32))),
      "simhash_neardup" -> (() => noop(TextAnalysis.simHashNearDup(docs, "doc_id", "text", bits = 32, nBands = 4, maxHamming = 3))),
      "simhash_neardup60" -> (() => noop(TextAnalysis.simHashNearDup(docs, "doc_id", "text", bits = 60, nBands = 4, maxHamming = 3))),
      "simhash_neardup_sized" -> (() => noop(TextAnalysis.simHashNearDupSized(docs, "doc_id", "text", maxHamming = 3))),
      "bpe_tokens" -> (() => noop(TextAnalysis.bpeTokenStats(docs, "doc_id", "text"))),
      "winnow" -> (() => noop(TextAnalysis.winnowFingerprints(docs, "doc_id", "text"))),
      "ngram_jaccard" -> (() => withPostings(SetSimilarity.ngramJaccardFromPostings(_))),
      "containment" -> (() => withPostings(SetSimilarity.containmentFromPostings(_))),
      "hash_split" -> (() => noop(split3)),
      "stratified" -> (() => noop(Sampling.stratifiedSample(
        docs.withColumn("stratum", pmod(col("doc_id"), lit(16))), "doc_id", Seq("stratum"), 100))),
      "decontaminate" -> (() => noop(SetSimilarity.crossOverlap(
        split3.filter(col("split") === "train"), split3.filter(col("split") =!= "train"), "doc_id", "text"))),
      "neardup_clusters" -> (() => withPostings(post =>
        Dedup.connectedComponents(SetSimilarity.ngramJaccardFromPostings(post), "doc_a", "doc_b"))),
      "pii_scrub" -> (() => noop(Pii.scrub(
        docs.withColumn("t2", concat(col("text"), lit(" x@y.com 10.0.0.1 555-123-4567"))), "t2"))),
      "mixture" -> (() => noop(Sampling.mixtureResample(bySource(col("doc_id")),
        "doc_id", "src", (0 until 16).map(i => (s"s$i", (i % 11) * 100)), 1000))),
      "gopher_rules" -> (() => noop(TextAnalysis.gopherRules(docs, "doc_id", "text", stopwords))),
      "incremental_dedup" -> (() => noop(Dedup.incrementalByHash(
        incoming = docs.filter(pmod(col("doc_id"), lit(4)) === 0),
        corpusHashes = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
          .select(Dedup.normalizedTextHash(col("text")).as("h")),
        hashCol = "h", contentHash = Dedup.normalizedTextHash(col("text")),
        expectedCorpusItems = 10000000L))),
      "dup_span_stats" -> (() => noop(TextAnalysis.dupSpanStats(docs, "doc_id", "text"))),
      "dedup_spans" -> (() => noop(TextAnalysis.dedupSpans(docs, "doc_id", "text"))),
      "tfidf_topk" -> (() => noop(TextAnalysis.tfIdfTopK(docs, "doc_id", "text", 5))),
      "reference_lm" -> (() => noop(LmScore.referenceLmStats(
        docs, "doc_id", "text", Sampling.hashBucket(col("doc_id"), 2) === 0))),
      "dsir" -> (() => noop(LmScore.dsirWeights(
        docs, "doc_id", "text", pmod(col("doc_id"), lit(16)) < 4, nBuckets = 4096))),
      "bpe_encode" -> (() => noop(BpeTrain.trainAndSegmentStats(docs, "doc_id", "text", numMerges = 50))),
      // word-delimited "lines": the worst case for the line-count aggregate
      "line_dedup" -> (() => noop(TextAnalysis.lineDedup(docs, "doc_id", "text", delim = " ", minDocs = 1000))),
      "temperature" -> (() => noop(Sampling.temperatureResample(
        bySource(col("doc_id") * col("doc_id")), "doc_id", "src"))),
      "c4_rules" -> (() => noop(TextAnalysis.c4Clean(
        docs, "doc_id", "text", delim = " ", minWordsPerLine = 1, minSentences = 1))),
      "hll_sketch" -> (() => {
        val g = docs.withColumn("src", pmod(col("doc_id"), lit(16)))
        noop(Sketches.hllEstimate(Sketches.hllRegisters(g, Seq("src"), col("text"), p = 12), Seq("src"), p = 12))
      }),
      "cms_sketch" -> (() => noop(Sketches.cmsRegisters(
        docs.select(explode(split(col("text"), " ")).as("tok")), Nil, col("tok"), depth = 4, width = 4096))),
      "strided_windows" -> (() => noop(Packing.packSequencesStrided(
        docs, "doc_id", "text", seqLen = 256, stride = 128)))
    ).filter(o => only.forall(_(o._1)))
    ops.foreach(_._2())
    val secs = ops.map { case (name, f) => name -> timed(f())._2 }
    docs.unpersist()
    J("probe" -> "text", "docs" -> n, "ops" -> J(secs: _*),
      "checks" -> J("every_op_ran" -> (secs.nonEmpty && only.forall(_.size == secs.length))))
  }

  /** `CorpusIngest.gate` over the corpus as 64 parquet files, once in
    * batch and once as a file stream in bounded micro-batches. */
  private def ingestgate(spark: SparkSession, n: Long): J = {
    val dir  = Files.createTempDirectory("probe-ingestgate")
    val docs = corpus(spark, n).withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(4))))
    docs.repartition(64).write.parquet(s"$dir/in")
    val standing = pmod(col("doc_id"), lit(4)) === 0
    val hashes = docs.filter(standing)
      .select(graft.operators.Dedup.normalizedTextHash(col("text")).as("h")).persist()
    hashes.count()
    val lmModel = graft.operators.LmScore.compactModel(
      graft.operators.LmScore.bigramModel(docs.filter(standing), "text"), maxGrams = 200000)
    val dsirModel = graft.operators.LmScore.compactDsirModel(
      docs, "doc_id", "text", standing, nBuckets = 4096)
    // permissive thresholds: the probe measures stage cost, not
    // selectivity (language keeps 'und'); quality and mixture still drop
    def gate(in: DataFrame) = CorpusIngest.gate(
      in, "doc_id", "text",
      quality = Some(CorpusIngest.Quality(Seq("w1", "w2", "w3"), minWords = 5L, minStopHits = 0L)),
      language = Some(CorpusIngest.Language(
        Seq("en" -> Seq("w1", "w2", "w3"), "de" -> Seq("w4", "w5")), keep = Seq("en", "de", "und"))),
      lm = Some(CorpusIngest.LmQuality(lmModel, maxBitsPerBigram = 64.0, maxOovPct = 100L)),
      dsir = Some(CorpusIngest.DsirSelect(dsirModel, keepAbove = Long.MinValue)),
      mixture = Some(("source", Seq("s0" -> 2, "s1" -> 2, "s2" -> 1, "s3" -> 1), 2)),
      corpus = Some(CorpusIngest.CorpusIndex(hashes, "h", expectedItems = n, fpp = 0.01)),
      compression = Some(CorpusIngest.Compression(minRatio = 0.0)))
    def counts(df: DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), count(when(col("is_dup"), 1))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (batch, batchSec) = timed(counts(gate(spark.read.parquet(s"$dir/in"))))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", sys.env.getOrElse("SPARK_GRAFT_FILES_PER_TRIGGER", "8").toInt)
      .parquet(s"$dir/in")
    val kept = new java.util.concurrent.atomic.AtomicLong()
    val dups = new java.util.concurrent.atomic.AtomicLong()
    val (q, streamSec) = timed {
      val q = gate(stream).writeStream
        .option("checkpointLocation", s"$dir/ckpt")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val (k, d) = counts(b)
          kept.addAndGet(k); dups.addAndGet(d); ()
        }
        .start()
      q.processAllAvailable(); q.stop(); q
    }
    hashes.unpersist()
    J("probe" -> "ingestgate", "docs" -> n, "files" -> 64, "batches" -> q.recentProgress.length,
      "batch_sec" -> batchSec, "stream_sec" -> streamSec, "docs_per_sec" -> n / streamSec,
      "batch_kept" -> batch._1, "batch_dups" -> batch._2, "stream_kept" -> kept.get, "stream_dups" -> dups.get,
      "checks" -> J("stream_equals_batch" -> ((kept.get, dups.get) == batch), "kept_some" -> (batch._1 > 0)))
  }
}
