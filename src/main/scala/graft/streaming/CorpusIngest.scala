package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pii, Sampling, TextAnalysis}

/** Streaming corpus-ingest gate — the CorpusJob front stages composed for
  * the queue path (the reference's streaming mode, `main.py` queue loop,
  * applied to the training-data tier). Every core stage is a per-row
  * projection/filter or a stream-static join, so that part of the gate is
  * streaming-safe BY CONSTRUCTION: no state store, no watermark, and
  * results identical to running the batch operators on the same rows
  * (pinned in CorpusIngestSpec). The one OPTIONAL stateful stage — the
  * near-dup flag — is watermark-bounded LSH bucket state
  * ([[StreamingNearDup.flagBands]]) appended last; it emits per-band rows
  * the sink collapses with [[mergeBandFlags]].
  *
  * Stage order mirrors CorpusJob: PII scrub (text redacted in place,
  * counts kept) → optional C4 cleaning (per-row line filter + page
  * rules; failing pages drop, kept text rewrites) → Gopher quality gate
  * (per-row predicate form; failing rows drop) → language gate (per-row
  * stopword-argmax) → reference-LM
  * gate (per-row kernel against a bounded [[LmQuality]] model artifact) →
  * DSIR selection ([[DsirSelect]], per-row kernel weight vs a standing
  * bucket model) → domain-mixture resample (deterministic hash rates) →
  * incremental dedup against a
  * standing corpus hash index (bloom prefilter + stream-static join) →
  * optional near-dup flag. Dups are FLAGGED (`is_dup` / `near_dup_hit`),
  * not dropped — disposition belongs to the sink, mirroring the
  * file-queue reject/ack taxonomy. The bloom and the index snapshot fix
  * at stream start; restart the query to pick up a grown corpus.
  */
object CorpusIngest {

  /** Gopher quality gate: drop rows failing [[TextAnalysis.gopherPass]]
    * (thresholds default as there) — the same per-row flags as the batch
    * [[TextAnalysis.gopherRules]] `pass` column and CorpusJob's
    * `quality-filter`. */
  final case class Quality(
      stopwords: Seq[String],
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopHits: Long = 2L) {
    def predicate(text: Column): Column =
      TextAnalysis.gopherPass(text, stopwords, minWords, maxWords, minMeanLen,
        maxMeanLen, maxSymbolRatio, minAlphaFrac, minStopHits)
  }

  /** C4 cleaning stage ([[TextAnalysis.c4Pass]]/[[TextAnalysis.c4CleanText]]
    * — Raffel et al. 2020 §2.2): failing pages drop, kept pages' text
    * rewrites to the retained lines. Pure per-row, streaming-safe by
    * construction. */
  final case class C4(
      delim: String = "\n",
      minWordsPerLine: Int = 5,
      minSentences: Int = 3,
      badwords: Seq[String] = Seq.empty) {
    def predicate(text: Column): Column =
      TextAnalysis.c4Pass(text, delim, minWordsPerLine, minSentences, badwords)
    def cleanText(text: Column): Column =
      TextAnalysis.c4CleanText(text, delim, minWordsPerLine)
  }

  /** Compression-ratio gate ([[TextAnalysis.compressionPass]]): drop
    * pages whose DEFLATE ratio falls below `minRatio` (repetitive
    * boilerplate compresses hard). Pure per-row, streaming-safe. */
  final case class Compression(minRatio: Double, level: Int = 6) {
    def predicate(text: Column): Column =
      TextAnalysis.compressionPass(text, minRatio, level)
  }

  /** Standing-corpus index for the dedup flag: the single-column hash
    * frame (`hashCol`) plus the bloom sizing contract. */
  final case class CorpusIndex(
      hashes: DataFrame,
      hashCol: String,
      expectedItems: Long,
      fpp: Double = 0.01)

  /** Language gate: keep rows whose stopword-argmax language is in
    * `keep` ([[TextAnalysis.languagePass]]: one stopword-kernel read per
    * row, the same argmax as [[TextAnalysis.languageId]] and CorpusJob's
    * `lang-filter`; 'und' keeps no-hit docs). */
  final case class Language(stopwords: Seq[(String, Seq[String])], keep: Seq[String]) {
    def predicate(text: Column): Column =
      TextAnalysis.languagePass(text, stopwords, keep)
  }

  /** Reference-LM quality gate: per-row scoring against a BOUNDED
    * [[graft.operators.CompactLmModel]] artifact via the codegen
    * [[graft.functions.LmScoreStats]] kernel — the streaming face of the
    * CorpusJob `lm-filter` step, and streaming-safe by construction (pure
    * per-row projection, no state, no aggregation). Same ceilings as the
    * batch step: quantized surprisal per bigram and OOV share; short docs
    * (no bigram evidence) pass. */
  final case class LmQuality(
      model: graft.operators.CompactLmModel,
      maxBitsPerBigram: Double = 16.0,
      maxOovPct: Long = 50L) {
    def predicate(text: Column): Column = {
      val s   = graft.functions.LmScoreStats(text, model)
      val n   = s.getItem(0)
      val oov = s.getItem(1)
      val sq  = s.getItem(4)
      n === 0L ||
        (sq.cast("double") <= n.cast("double") * maxBitsPerBigram &&
          oov * 100L <= n * maxOovPct)
    }
  }

  /** DSIR selection gate: per-row quantized importance weight against a
    * standing [[graft.operators.CompactDsirModel]] (lossless by
    * construction — nBuckets-bounded count arrays), keep at
    * `weight_q ≥ keepAbove`. The streaming face of the CorpusJob
    * `dsir-select` step; per-row, stateless, streaming-safe. */
  final case class DsirSelect(
      model: graft.operators.CompactDsirModel,
      keepAbove: Long = 0L) {
    def predicate(text: Column): Column =
      graft.functions.DsirWeight(text, model).getItem(1) >= keepAbove
  }

  /** Near-dup flag stage config ([[StreamingNearDup.flagBands]] —
    * watermark-bounded LSH bucket state; flags, never drops). `maxBucket`
    * is the per-bucket state cap, ON by default (r10 verdict: the measured
    * uncapped curves belong in the operator API, the defaults belong
    * here): a bucket at cap keeps flagging but stops retaining entries. */
  final case class NearDup(
      tsCol: String,
      watermarkMs: Long = 10 * 60 * 1000L,
      shingleLen: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5,
      maxBucket: Int = StreamingNearDup.DefaultMaxBucket)

  def gate(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      quality: Option[Quality] = None,
      language: Option[Language] = None,
      lm: Option[LmQuality] = None,
      dsir: Option[DsirSelect] = None,
      mixture: Option[(String, Seq[(String, Int)], Int)] = None, // (groupCol, rates, denom)
      corpus: Option[CorpusIndex] = None,
      nearDup: Option[NearDup] = None,
      c4: Option[C4] = None,
      compression: Option[Compression] = None): DataFrame = {
    val scrubbed = Pii.scrub(stream, textCol).withColumnRenamed("redacted", textCol)
    val c4Gated = c4 match {
      case Some(c) =>
        scrubbed
          .filter(c.predicate(col(textCol)))
          .withColumn(textCol, c.cleanText(col(textCol)))
      case None => scrubbed
    }
    val compGated = compression match {
      case Some(c) => c4Gated.filter(c.predicate(col(textCol)))
      case None    => c4Gated
    }
    val qualGated = quality match {
      case Some(q) => compGated.filter(q.predicate(col(textCol)))
      case None    => compGated
    }
    val langGated = language match {
      case Some(l) => qualGated.filter(l.predicate(col(textCol)))
      case None    => qualGated
    }
    val lmGated = lm match {
      case Some(m) => langGated.filter(m.predicate(col(textCol)))
      case None    => langGated
    }
    val gated = dsir match {
      case Some(d) => lmGated.filter(d.predicate(col(textCol)))
      case None    => lmGated
    }
    val mixed = mixture match {
      case Some((groupCol, rates, denom)) =>
        Sampling.mixtureResample(gated, idCol, groupCol, rates, denom)
      case None => gated
    }
    val deduped = corpus match {
      case Some(ci) =>
        Dedup.incrementalByHash(mixed, ci.hashes, ci.hashCol,
          Dedup.normalizedTextHash(col(textCol)), ci.expectedItems, ci.fpp)
      case None => mixed
    }
    nearDup match {
      case Some(nd) =>
        StreamingNearDup.flagBands(deduped, idCol, textCol, nd.tsCol,
          nd.watermarkMs, nd.shingleLen, nd.numHashes, nd.rowsPerBand, nd.minEstJaccard,
          nd.maxBucket)
      case None => deduped
    }
  }

  /** Collapse [[StreamingNearDup.flagBands]]' per-band rows to one row per
    * document (`near_dup_hit` = OR over bands). A document's band rows
    * always share a micro-batch (see flagBands), so this is a plain BATCH
    * aggregation for the caller's foreachBatch — Spark's correctness
    * checker forbids a streaming aggregation after the stateful flag
    * stage, and no state is needed for one. Groups on every other column,
    * which is exact here because band rows are bit-identical copies. */
  def mergeBandFlags(batch: DataFrame, flagCol: String = "near_dup_hit"): DataFrame = {
    val others = batch.columns.filterNot(_ == flagCol)
    batch
      .groupBy(others.map(col): _*)
      .agg(max(col(flagCol)).as(flagCol))
  }
}
