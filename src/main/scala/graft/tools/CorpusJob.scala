package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, MinHashLSH, Packing, Pii, Sampling, SetSimilarity, TextAnalysis}

/** Config-driven corpus-preparation run — the training-data twin of
  * [[RunJob]] (which drives the reference's domain pipelines,
  * `sam_extract/main.py`): one YAML file composes the corpus-prep operators
  * into an end-to-end cleaning job, so the whole dedup/scrub/filter/split
  * tier runs as a single batch entry point instead of hand-written driver
  * code.
  *
  * Usage: CorpusJob <corpus-config.yaml>
  *
  * Config shape (steps apply in listed order, each consuming the previous
  * output; every step is one of the oracle-gated operators):
  * {{{
  * input:
  *   documents: /path/documents.parquet   # required
  *   id-column: doc_id                    # default doc_id
  *   text-column: text                    # default text
  * steps:
  *   - op: exact-dedup                    # normalized-hash keep-first
  *   - op: pii-scrub                      # redact in place, keep counts
  *   - op: c4-clean                       # C4 line+page rules: failing pages
 *     min-words-per-line: 5              # drop, kept pages' text rewrites
 *     min-sentences: 3                   # to the retained lines
 *     badwords: [verboten]               # optional page blocklist
 *   - op: compression-filter             # DEFLATE-ratio repetitiveness gate
 *     min-ratio: 0.3                     # drop pages compressing below it
 *   - op: quality-filter                 # Gopher rules, keep `pass` rows
  *     min-words: 30                      # optional rule overrides
  *     max-words: 100000
  *   - op: lang-filter                    # heuristic language ID: keep
  *     keep: [en]                         # argmax langs ('und' = no hit)
  *   - op: neardup                        # MinHash-LSH pairs -> clusters ->
  *     min-jaccard: 0.8                   # keep cluster canonicals; or
  *     keep-by: n_chars                   # keep-best-by-score instead
  *                                        # ('length' = computed text length)
  *     max-bucket: 10000                  # DEFAULT cap: drop (loudly) LSH
  *                                        # buckets past it; 0 = uncapped
  *   - op: decontaminate                  # drop docs overlapping a benchmark
  *     benchmark: /path/bench.parquet     # same id/text column names
  *     min-overlap: 5
  *   - op: lm-filter                      # reference-LM familiarity gate
  *     train-groups: [wiki, books]        # reference corpus by group (kept);
  *     group-column: source               # absent -> md5 half-split trains
  *     max-bits-per-bigram: 16.0          # quantized surprisal ceiling
  *     max-oov-pct: 50                    # unseen-bigram share ceiling
  *   - op: dsir-select                    # DSIR importance resampling
  *     target-groups: [wiki]              # target slice (kept as anchors)
  *     group-column: source
  *     buckets: 4096                      # hashed-feature model size
  *     keep-above: 0                      # quantized log2 weight floor
  *   - op: mixture                        # per-group keep rates
  *     group-column: source               # rates out of `denominator`
  *     denominator: 1000
  *     rates: {src0: 500, src1: 1000}     # unlisted groups drop to 0
  *     # OR, instead of rates — the recipe form training mixes use:
  *     # token-budgets: {src0: 30000000}  # rates derived from group totals
  *   - op: stratified                     # deterministic k-per-group sample
  *     group-column: source
  *     k: 1000
  *   - op: split                          # deterministic hash split
  *     weights: {train: 90, val: 5, test: 5}
  *   - op: shuffle                        # deterministic global permutation
  *     seed: 42                           # adds shuffle_key/shuffle_rank
  *   - op: pack                           # sequence-packing offsets
  *     seq-len: 2048                      # adds n_tokens/offset/first_seq/...
  *   - op: pack-sequences                 # MATERIALIZE the packed windows —
  *     seq-len: 2048                      # output rows become sequences
  *                                        # (terminal: replaces the doc schema)
  *   - op: pack-sequences-strided         # overlapping (sliding-context)
  *     seq-len: 2048                      # windows; stride defaults to
  *     stride: 1024                       # seq-len/2 (terminal)
  *   - op: pack-bins                      # whole-doc FFD bin assignment —
  *     seq-len: 2048                      # adds bin/oversize (no truncation)
  *   - op: pack-bin-sequences             # MATERIALIZE one row per bin
  *     seq-len: 2048                      # (terminal: replaces the doc schema)
  * output:
  *   local: /path/out                     # required
  * checkpoint: /path/ckpt                 # optional: cluster-form restart
  * stopword-table: {en: [the, a], fr: [le]} # optional lang-filter lexicon
  * }}}
  *
  * Writes `out/documents` (parquet, partitioned by `split` when a split
  * step ran) and `out/datasheet.json` with per-step row counts — the
  * retention report every dataset release ships with.
  *
  * Scale shape: each step's output is persisted (MEMORY_AND_DISK) before
  * its count and the predecessor unpersisted, so the lineage never
  * re-executes an upstream step — the job materializes each stage exactly
  * once.
  *
  * With `checkpoint:` set, the persist-once discipline swaps for parquet
  * materialization — the cluster form a multi-day 100 TB run needs: each
  * stage writes `ckpt/stage-NN-<op>` plus a `.meta.json` sidecar (written
  * only after the parquet commit, so a kill mid-stage leaves an invalid
  * stage), and the next stage reads the materialized parquet, cutting the
  * lineage. A re-run resumes after the longest valid prefix of completed
  * stages whose FULL step config (fingerprinted in the sidecar) is
  * unchanged: finished stages are never recomputed, their datasheet rows
  * replay from the sidecars, and the first missing or edited stage —
  * including a same-op parameter change — invalidates everything after
  * it.
  */
object CorpusJob {

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: CorpusJob <corpus-config.yaml>")
    val preExisting = SparkSession.getActiveSession.isDefined
    val spark = Jobs.session("graft-corpus")
    spark.sparkContext.setLogLevel("WARN")
    try {
      val sheet = run(spark, args(0))
      println(sheet.json)
    } finally if (!preExisting) spark.stop()
  }

  /** Per-step retention record: rows entering each step, rows leaving,
    * and the step's wall seconds (materialization + count; 0.0 for stages
    * resumed from a checkpoint — they did no work this run). */
  final case class StepCount(op: String, rowsIn: Long, rowsOut: Long, sec: Double = 0.0)

  final case class Datasheet(steps: Seq[StepCount], outputRows: Long) {
    def json: String = {
      val ss = steps.map(s =>
        s"""{"op":"${s.op}","rows_in":${s.rowsIn},"rows_out":${s.rowsOut},""" +
          s""""sec":${BigDecimal(s.sec).setScale(3, BigDecimal.RoundingMode.HALF_UP)}}""")
      s"""{"steps":[${ss.mkString(",")}],"output_rows":$outputRows}"""
    }
  }

  /** Parse + execute the config; returns the datasheet (tests call this
    * directly with their own session). */
  def run(spark: SparkSession, configPath: String): Datasheet = {
    val conf = spark.sessionState.newHadoopConf()
    val p    = new org.apache.hadoop.fs.Path(configPath)
    val fs   = p.getFileSystem(conf)
    val text = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    }
    val yaml = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = yaml.readTree(text)

    def req(n: com.fasterxml.jackson.databind.JsonNode, key: String) = {
      val v = n.get(key)
      require(v != null, s"config missing required key '$key'")
      v
    }
    val input   = req(root, "input")
    val inPath  = req(input, "documents").asText
    val idCol   = Option(input.get("id-column")).map(_.asText).getOrElse("doc_id")
    val textCol = Option(input.get("text-column")).map(_.asText).getOrElse("text")
    val outDir  = req(req(root, "output"), "local").asText

    val stepsNode = Option(root.get("steps"))
      .map(n => (0 until n.size).map(n.get))
      .getOrElse(Seq.empty)
    val known = Set("exact-dedup", "pii-scrub", "line-dedup", "c4-clean", "compression-filter",
      "quality-filter", "lang-filter",
      "neardup", "decontaminate", "lm-filter", "dsir-select", "mixture", "stratified",
      "split", "shuffle", "pack", "pack-sequences", "pack-sequences-strided",
      "pack-bins", "pack-bin-sequences")
    stepsNode.foreach { s =>
      val op = req(s, "op").asText
      require(known(op), s"unknown step op '$op' (known: ${known.toSeq.sorted.mkString(", ")})")
    }

    // lang-filter's (lang, words) lexicon: the config's per-language
    // lists, else the built-in table
    val stopTable = Option(root.get("stopword-table")) match {
      case Some(m) =>
        import scala.jdk.CollectionConverters._
        m.properties().asScala.toSeq.map { e =>
          e.getKey -> (0 until e.getValue.size).map(e.getValue.get(_).asText)
        }
      case None => TextAnalysis.DefaultStopwords
    }

    def applyStep(df: DataFrame, s: com.fasterxml.jackson.databind.JsonNode): DataFrame = {
      def dbl(key: String, d: Double) = Option(s.get(key)).map(_.asDouble).getOrElse(d)
      def lng(key: String, d: Long)   = Option(s.get(key)).map(_.asLong).getOrElse(d)
      req(s, "op").asText match {
        case "exact-dedup" =>
          Dedup.exactByHash(df, Dedup.normalizedTextHash(col(textCol)), idCol)
        case "pii-scrub" =>
          // restore the text column name so downstream steps keep composing
          Pii.scrub(df, textCol).withColumnRenamed("redacted", textCol)
        case "line-dedup" =>
          // corpus-boilerplate line removal; text REWRITES in place (docs
          // are kept, their repeated lines vanish) so downstream steps
          // keep composing on the cleaned text
          val delim = Option(s.get("delimiter")).map(_.asText).getOrElse("\n")
          val cleaned = TextAnalysis
            .lineDedup(df, idCol, textCol, delim, lng("min-docs", 2L).toInt)
            .select(col(idCol), col("clean_text"))
          df.drop(textCol)
            .join(cleaned, Seq(idCol))
            .withColumnRenamed("clean_text", textCol)
        case "c4-clean" =>
          // C4 page+line rules, both per-row: failing pages drop, kept
          // pages' text REWRITES to the retained lines so downstream
          // steps keep composing on the cleaned text — no join, the
          // whole step pipelines with the scan
          val delim = Option(s.get("delimiter")).map(_.asText).getOrElse("\n")
          val bad = Option(s.get("badwords")) match {
            case Some(a) => (0 until a.size).map(a.get(_).asText)
            case None    => Seq.empty[String]
          }
          val minWpl  = lng("min-words-per-line", 5L).toInt
          val minSent = lng("min-sentences", 3L).toInt
          df.filter(TextAnalysis.c4Pass(col(textCol), delim, minWpl, minSent, bad))
            .withColumn(textCol, TextAnalysis.c4CleanText(col(textCol), delim, minWpl))
        case "compression-filter" =>
          // DEFLATE-ratio repetitiveness gate: pure per-row filter
          df.filter(TextAnalysis.compressionPass(col(textCol),
            dbl("min-ratio", 0.3), lng("level", 6L).toInt))
        case "quality-filter" =>
          val stop = Option(s.get("stopwords")) match {
            case Some(a) => (0 until a.size).map(a.get(_).asText)
            case None    => Seq("the", "a", "and", "of", "to")
          }
          df.filter(TextAnalysis.gopherPass(col(textCol), stop,
            minWords = lng("min-words", 50L), maxWords = lng("max-words", 100000L),
            minMeanLen = dbl("min-mean-len", 3.0), maxMeanLen = dbl("max-mean-len", 10.0),
            maxSymbolRatio = dbl("max-symbol-ratio", 0.1),
            minAlphaFrac = dbl("min-alpha-frac", 0.8),
            minStopHits = lng("min-stop-hits", 2L)))
        case "lang-filter" =>
          val keep = req(s, "keep")
          df.filter(TextAnalysis.languagePass(col(textCol), stopTable,
            (0 until keep.size).map(keep.get(_).asText)))
        case "neardup" =>
          // maxBucket is ON by default (r10 verdict: the measured uncapped
          // 3.7×/2× curve is a config default's job to bend, not the
          // operator's): buckets past the cap drop loudly via the observe
          // guard, and `max-bucket: 0` restores uncapped behavior
          val cap = lng("max-bucket", 10000L)
          val pairs = MinHashLSH.nearDuplicates(df, idCol, textCol,
            minJaccard = dbl("min-jaccard", 0.8),
            maxBucket = if (cap > 0L) Some(cap) else None)
          val losers = Option(s.get("keep-by")).map(_.asText) match {
            case None => // canonical keep-first: lowest id per cluster
              Dedup
                .connectedComponents(pairs, "doc_a", "doc_b")
                .filter(col("comp") =!= col("id"))
                .select(col("id").as(idCol))
            case Some(kb) => // quality-aware: highest kb survives (ties → lowest id)
              val scores =
                if (df.columns.contains(kb)) df.select(col(idCol), col(kb))
                else {
                  require(kb == "length",
                    s"keep-by column '$kb' not in input (or use the computed 'length')")
                  df.select(col(idCol), length(col(textCol)).cast("long").as(kb))
                }
              val keep = Dedup
                .keepBestInCluster(pairs, "doc_a", "doc_b", scores, idCol, kb)
                .select(col("keep_id"))
              val members = pairs.select(col("doc_a").as(idCol))
                .unionByName(pairs.select(col("doc_b").as(idCol))).distinct()
              members.join(keep, members(idCol) === keep("keep_id"), "left_anti")
                .select(col(idCol))
          }
          df.join(losers, Seq(idCol), "left_anti")
        case "decontaminate" =>
          val bench = spark.read.parquet(req(s, "benchmark").asText)
          val contaminated = SetSimilarity
            .crossOverlap(df, bench, idCol, textCol,
              minOverlap = lng("min-overlap", 5L).toInt)
            .select(col("left_id").as(idCol)).distinct()
          df.join(contaminated, Seq(idCol), "left_anti")
        case "lm-filter" =>
          // CCNet-shape familiarity gate: train the bigram model on the
          // reference slice (named groups, else the even md5 half), keep
          // reference docs outright and scored docs within the surprisal /
          // OOV ceilings; short docs (no bigram evidence) pass
          val groupCol = Option(s.get("group-column")).map(_.asText).getOrElse("source")
          // coalesce: a null group (or null id in the md5 fallback) makes
          // the raw predicate NULL, which matches neither filter branch —
          // null-group docs must fall into the SCORED branch, not vanish
          val trainPred = coalesce(Option(s.get("train-groups")) match {
            case Some(a) => col(groupCol).isin((0 until a.size).map(a.get(_).asText): _*)
            case None    => Sampling.hashBucket(col(idCol), 2) === 0
          }, lit(false))
          val maxBits   = dbl("max-bits-per-bigram", 16.0)
          val maxOovPct = lng("max-oov-pct", 50L)
          val pass = graft.operators.LmScore
            .referenceLmStats(df, idCol, textCol, trainPred)
            .filter(
              col("n_bigrams") === 0L ||
                (col("surprisal_q") <= col("n_bigrams").cast("double") * maxBits &&
                  col("n_oov") * 100L <= col("n_bigrams") * maxOovPct))
            .select(col(idCol))
          df.filter(trainPred)
            .unionByName(df.filter(!trainPred).join(pass, Seq(idCol), "left_semi"))
        case "dsir-select" =>
          // DSIR importance resampling: target groups anchor the recipe
          // (kept), raw docs keep when their quantized log2 importance
          // weight clears the floor
          val groupCol = Option(s.get("group-column")).map(_.asText).getOrElse("source")
          val tgt = req(s, "target-groups")
          // null-group docs must land in the weighted branch, not vanish
          // (NULL predicate matches neither side of the filter/!filter split)
          val targetPred = coalesce(
            col(groupCol).isin((0 until tgt.size).map(tgt.get(_).asText): _*),
            lit(false))
          val keep = graft.operators.LmScore
            .dsirWeights(df, idCol, textCol, targetPred,
              nBuckets = lng("buckets", 4096L).toInt,
              keepAbove = lng("keep-above", 0L))
            .filter(col("keep"))
            .select(col(idCol))
          df.filter(targetPred)
            .unionByName(df.filter(!targetPred).join(keep, Seq(idCol), "left_semi"))
        case "mixture" =>
          val groupCol = Option(s.get("group-column")).map(_.asText).getOrElse("source")
          val denom    = lng("denominator", 1000L).toInt
          import scala.jdk.CollectionConverters._
          val rates = Option(s.get("rates")) match {
            case Some(r) =>
              r.properties().asScala.toSeq.map(e => (e.getKey, e.getValue.asInt))
            case None => // recipe written in token budgets, rates derived
              val b = req(s, "token-budgets")
              Sampling.ratesForTokenBudget(df, groupCol, textCol,
                b.properties().asScala.toSeq.map(e => (e.getKey, e.getValue.asLong)),
                denom)
          }
          Sampling.mixtureResample(df, idCol, groupCol, rates, denom)
        case "split" =>
          val w = req(s, "weights")
          import scala.jdk.CollectionConverters._
          val weights = w.properties().asScala.toSeq.map(e => (e.getKey, e.getValue.asInt))
          Sampling.hashSplit(df, idCol, weights)
        case "stratified" =>
          val groupCol = Option(s.get("group-column")).map(_.asText).getOrElse("source")
          Sampling.stratifiedSample(df, idCol, Seq(groupCol), lng("k", 1000L).toInt)
        case "shuffle" =>
          Sampling.shuffleRank(df, idCol, lng("seed", 0L))
        case "pack" =>
          // packOffsets projects to the offset table; re-attach doc columns
          val packCols = Seq("n_tokens", "offset", "first_seq", "last_seq", "offset_in_seq")
          require(!df.columns.exists(packCols.contains),
            s"pack step would clobber existing ${packCols.mkString("/")} columns")
          df.join(Packing.packOffsets(df, idCol, textCol, lng("seq-len", 2048L).toInt),
            Seq(idCol))
        case "pack-sequences" => // terminal: rows become fixed-length windows
          Packing.packSequences(df, idCol, textCol, lng("seq-len", 2048L).toInt)
        case "pack-sequences-strided" => // terminal: overlapping windows
          val seqLen = lng("seq-len", 2048L).toInt
          Packing.packSequencesStrided(df, idCol, textCol, seqLen,
            lng("stride", (seqLen / 2).toLong).toInt)
        case "pack-bins" => // whole-doc bin assignment, no truncation
          require(!df.columns.contains("bin") && !df.columns.contains("oversize"),
            "pack-bins step would clobber existing bin/oversize columns")
          df.join(
            Packing.packBins(df, idCol, textCol, lng("seq-len", 2048L).toInt)
              .drop("n_tokens"),
            Seq(idCol))
        case "pack-bin-sequences" => // terminal: rows become whole-doc bins
          Packing.packBinSequences(df, idCol, textCol, lng("seq-len", 2048L).toInt)
      }
    }

    val docs = spark.read.parquet(inPath)
    require(docs.columns.contains(idCol) && docs.columns.contains(textCol),
      s"input needs '$idCol' and '$textCol' columns (has: ${docs.columns.mkString(", ")})")

    val ckptDir = Option(root.get("checkpoint")).map(_.asText)
    def stagePath(i: Int, op: String) = s"${ckptDir.get}/stage-${f"$i%02d"}-$op"
    def metaPath(i: Int, op: String)  = new org.apache.hadoop.fs.Path(stagePath(i, op) + ".meta.json")
    // a stage is only as reusable as its FULL step config: same op with
    // changed params (min-words, rates, ...) must recompute, so the
    // sidecar carries a fingerprint of the step node, not just the op
    def stepMd5(s: com.fasterxml.jackson.databind.JsonNode): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def stageValid(i: Int, s: com.fasterxml.jackson.databind.JsonNode, op: String): Option[StepCount] = {
      val success = new org.apache.hadoop.fs.Path(stagePath(i, op), "_SUCCESS")
      if (!fs.exists(success) || !fs.exists(metaPath(i, op))) None
      else {
        val in  = fs.open(metaPath(i, op))
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        for {
          md5 <- "\"step_md5\"\\s*:\\s*\"([0-9a-f]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
          if md5 == stepMd5(s)
          ri <- "\"rows_in\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
          ro <- "\"rows_out\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
        } yield StepCount(op, ri, ro)
      }
    }

    // resume: the longest prefix of completed, config-matching stages
    // stands; everything after the first gap recomputes
    val resumed: Seq[StepCount] = ckptDir match {
      case None => Seq.empty
      case Some(_) =>
        stepsNode.zipWithIndex
          .map { case (s, i) => stageValid(i, s, req(s, "op").asText) }
          .takeWhile(_.isDefined).flatten
    }
    val startIdx = resumed.length

    val counts = Seq.newBuilder[StepCount]
    counts ++= resumed
    // in checkpoint mode nothing is persisted: stage inputs are parquet
    // scans (the raw input or the previous stage's materialization)
    var cur =
      if (startIdx > 0) spark.read.parquet(stagePath(startIdx - 1, resumed.last.op))
      else if (ckptDir.isDefined) docs
      else graft.CacheScope.persist(docs, StorageLevel.MEMORY_AND_DISK)
    var curRows = if (startIdx > 0) resumed.last.rowsOut else cur.count()
    // the persisted frame behind `cur`, for explicit release once the next
    // stage lands (`cur` itself becomes a plan BARRIER over that cache —
    // steps that reference their input twice, e.g. lm-filter's and
    // dsir-select's union of an anchor branch and a scored branch, double
    // the logical plan per stage; without a barrier a 12-stage chain's
    // plan exceeds the JVM's 1 GB string limit before a single optimizer
    // pass finishes — measured, corpusjob probe)
    var curPersisted: Option[DataFrame] =
      if (startIdx == 0 && ckptDir.isEmpty) Some(cur) else None

    stepsNode.zipWithIndex.drop(startIdx).foreach { case (s, i) =>
      val op = req(s, "op").asText
      val t0 = System.nanoTime()
      ckptDir match {
        case Some(_) =>
          val path = stagePath(i, op)
          applyStep(cur, s).write.mode("overwrite").parquet(path)
          val mat = spark.read.parquet(path)
          val n   = mat.count()
          val sec = (System.nanoTime() - t0) / 1e9
          // the meta sidecar commits the stage: written only after the
          // parquet _SUCCESS exists, so a kill mid-write is never resumable
          val out = fs.create(metaPath(i, op), true)
          try out.write(
            s"""{"op":"$op","step_md5":"${stepMd5(s)}","rows_in":$curRows,"rows_out":$n}\n"""
              .getBytes("UTF-8"))
          finally out.close()
          counts += StepCount(op, curRows, n, sec)
          cur = mat
          curRows = n
        case None =>
          val mat = graft.CacheScope.persist(applyStep(cur, s), StorageLevel.MEMORY_AND_DISK)
          val n   = mat.count()
          counts += StepCount(op, curRows, n, (System.nanoTime() - t0) / 1e9)
          curPersisted.foreach(_.unpersist())
          curPersisted = Some(mat)
          cur = org.apache.spark.sql.GraftSqlBridge.planBarrier(mat)
          curRows = n
      }
    }

    val writer = cur.write.mode("overwrite")
    // partition by split only if it SURVIVED to the output — a terminal
    // pack-sequences step replaces the doc schema entirely
    (if (cur.columns.contains("split")) writer.partitionBy("split") else writer)
      .parquet(s"$outDir/documents")
    // optional trainer-facing JSONL export next to the parquet output:
    //   output: { local: …, jsonl: { dir: …, tokens-per-shard: N } }
    Option(req(root, "output").get("jsonl")).foreach { j =>
      val dir = req(j, "dir").asText
      val tps = Option(j.get("tokens-per-shard")).map(_.asLong).getOrElse(100000000L)
      val cmp = Option(j.get("compression")).map(_.asText)
      require(cur.columns.contains(idCol) && cur.columns.contains(textCol),
        s"jsonl export needs '$idCol'/'$textCol' to survive to the output " +
          "(a terminal pack step replaces the document schema)")
      graft.sinks.TrainingExport.jsonl(cur, idCol, textCol, dir, tps, cmp)
    }
    val sheet = Datasheet(counts.result(), curRows)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$outDir/datasheet.json"), true)
    try out.write((sheet.json + "\n").getBytes("UTF-8")) finally out.close()
    curPersisted.foreach(_.unpersist())
    sheet
  }
}
