package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.WordGrams

/** Reference-language-model quality scoring for training-data pipelines —
  * the CCNet/KenLM recipe (Wenzek et al. 2020 "CCNet: Extracting High
  * Quality Monolingual Datasets from Web Crawl Data") and DSIR importance
  * weighting (Xie et al. 2023 "Data Selection for Language Models via
  * Importance Resampling"), re-expressed over hashed/word n-gram count
  * models that train and score entirely in-plan.
  *
  * CCNet scores crawl documents by the perplexity of a reference LM
  * (KenLM over Wikipedia); DSIR selects raw documents whose hashed-n-gram
  * distribution looks like a target corpus, by the log importance weight
  * Σ_f n_f·(ln p_target(f) − ln p_raw(f)) under add-one-smoothed
  * multinomials. Both reduce to count models — a groupBy over n-grams —
  * which is what makes them Spark-native at corpus scale: no external LM
  * toolkit, no driver-side state.
  *
  * Oracle-portability contract (the repo-wide law — see
  * [[TextAnalysis.tfIdfTopK]]): the hash-compared surface of both
  * operators is INTEGER-EXACT. Cross-engine `ln` differs by ulps, and a
  * rounded double column fails the gate with probability ∝ docs ×
  * ulp/rounding-boundary, so the gated columns quantize log₂ via bit
  * length — `length(bin(x))` = ⌊log₂ x⌋ + 1, exact in both engines for
  * positive integers. The TRUE double-precision scores (avg log-prob,
  * DSIR log weight) are still computed and returned for real use; they
  * are spec-gated (LmScoreSpec checks them against the quantized columns
  * and hand-computed values) and dropped from the gate queries.
  */
object LmScore {

  /** Per-document word-bigram rows: (id, g = "w1 w2", w1). Tokenization is
    * the corpus-wide single-space rule (`split(text, ' ')`); grams
    * come from the codegen [[WordGrams]] kernel (empty for <2-word docs,
    * so short documents simply contribute no rows). */
  private def bigramRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(WordGrams(col(textCol), 2, distinct = false)).as("g"))
      .withColumn("w1", substring_index(col("g"), " ", 1))

  /** ⌊log₂ x⌋ + 1 for a positive integral column — the engine-portable
    * log₂ quantizer (Spark `bin` and DuckDB `bin` both render the minimal
    * binary string of a BIGINT). */
  private def bitLen(x: Column): Column = length(bin(x)).cast("long")

  /** The trained reference model as three frames: per-gram counts
    * (`g`, `_c`), per-context counts (`w1`, `_ctx` = Σ counts of grams
    * starting with w1), and the 1-row vocabulary size (`_v`). Train once,
    * score many ([[scoreAgainst]]); bound and collect for per-row /
    * streaming scoring ([[compactModel]]). */
  final case class BigramModel(gramCounts: DataFrame, ctxCounts: DataFrame, vocab: DataFrame)

  /** Train the add-one-smoothed word-bigram model over a reference
    * corpus: two map-side-combined hash aggregates plus a scalar distinct
    * count — the model never touches the driver. */
  def bigramModel(train: DataFrame, textCol: String): BigramModel = {
    val trainBg = train.select(explode(WordGrams(col(textCol), 2, distinct = false)).as("g"))
    val gramCounts = trainBg.groupBy(col("g")).agg(count(lit(1)).as("_c"))
    // C(w1) = Σ over grams starting with w1 — aggregate the (already
    // reduced) gram-count table, not the raw bigram stream: |grams| rows
    // in, |vocab| rows out.
    val ctxCounts = gramCounts
      .withColumn("w1", substring_index(col("g"), " ", 1))
      .groupBy(col("w1")).agg(sum(col("_c")).as("_ctx"))
    val vocab = train
      .select(explode(WordGrams(col(textCol), 1, distinct = false)).as("token"))
      .agg(countDistinct(col("token")).as("_v"))
    BigramModel(gramCounts, ctxCounts, vocab)
  }

  /** Reference-LM familiarity statistics — the CCNet shape with the
    * reference corpus drawn from the pipeline itself by a deterministic
    * predicate (e.g. a [[Sampling.hashBucket]] split, or "docs from
    * curated sources"): train an add-one-smoothed word-bigram model
    * p(w₂|w₁) = (c+1)/(C(w₁)+V) on `trainPred` documents, score every
    * other document against it.
    *
    * Output, one row per scored document (all columns but the last
    * integer-exact):
    *  - `n_bigrams`    total bigram occurrences (0 for <2-word docs)
    *  - `n_oov`        occurrences of bigrams unseen in the reference
    *  - `sum_c`        Σ reference count of the doc's bigrams
    *  - `sum_ctx`      Σ reference context count C(w₁)
    *  - `surprisal_q`  Σ (bitlen(C(w₁)+V) − bitlen(c+1)) — the quantized
    *                   total surprisal, ≈ Σ log₂ 1/p(w₂|w₁) within ±1
    *                   bit per bigram
    *  - `avg_logprob`  (double) Σ ln p(w₂|w₁) / n_bigrams — the true
    *                   CCNet score; null for <2-word docs
    *
    * Scale shape: the model is two hash-aggregates over the train
    * corpus's bigrams (map-side combined; the gram key is the shuffle
    * key) plus a 1-row vocabulary count. Scoring joins the scored
    * bigrams to the gram-count table on the gram string and to the
    * context table on w₁ — the latter is the skewed one (stopword-grade
    * w₁), left to AQE's skew-split exactly like the df join-back in
    * [[TextAnalysis.dupSpanStats]]. The vocabulary scalar rides a
    * broadcast cross join. Nothing collects to the driver; the per-doc
    * reduce is one more map-side-combined aggregate. */
  def referenceLmStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      trainPred: Column): DataFrame =
    scoreAgainst(bigramModel(df.filter(trainPred), textCol), df.filter(!trainPred), idCol, textCol)

  /** Score documents against a trained [[BigramModel]] (train once, score
    * any number of corpora — the production CCNet shape where the
    * reference model is a standing artifact). Output contract identical
    * to [[referenceLmStats]]. */
  def scoreAgainst(
      model: BigramModel,
      scored: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val scoredBg = bigramRows(scored, idCol, textCol)
    val joined = scoredBg
      .join(model.gramCounts, Seq("g"), "left")
      .join(model.ctxCounts, Seq("w1"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("_c0", coalesce(col("_c"), lit(0L)))
      .withColumn("_ctx0", coalesce(col("_ctx"), lit(0L)))

    val perDoc = joined
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("_c0") === 0L, 1L).otherwise(0L)).as("n_oov"),
        sum(col("_c0")).as("sum_c"),
        sum(col("_ctx0")).as("sum_ctx"),
        sum(bitLen(col("_ctx0") + col("_v")) - bitLen(col("_c0") + lit(1L)))
          .as("surprisal_q"),
        (sum(log((col("_c0") + lit(1L)).cast("double") /
          (col("_ctx0") + col("_v")).cast("double"))) / count(lit(1)))
          .as("avg_logprob"))

    // every scored doc reports, including <2-word ones (zero stats, null
    // avg_logprob) — the dupSpanStats short-doc contract
    scored.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("sum_c"), lit(0L)).as("sum_c"),
        coalesce(col("sum_ctx"), lit(0L)).as("sum_ctx"),
        coalesce(col("surprisal_q"), lit(0L)).as("surprisal_q"),
        col("avg_logprob"))
  }

  /** CCNet's head/middle/tail perplexity bucketing (Wenzek et al. 2020
    * §4.3: score documents with the reference LM, split the corpus into
    * equal thirds by score, train preferentially from the head): tertile
    * buckets over the integer score `score_milli` =
    * (1000·surprisal_q) div n_bigrams — quantized milli-bits per bigram,
    * so head = most reference-like. Documents without bigram evidence are
    * excluded (no score exists).
    *
    * Scale shape: the tertile cuts come from the SCORE HISTOGRAM, which
    * is bounded by construction (surprisal quantizes to ≤ 64 bits per
    * bigram → ≤ 64 001 distinct milli-scores), so the cumulative window
    * runs over a bounded table — never over documents — and the two cut
    * values broadcast back. Discrete quantile law: cut_i = smallest score
    * with 3·cum ≥ i·n; every comparison integer-exact, so the gated
    * output (id, score_milli, bucket) hashes identically cross-engine. */
  def ccnetBuckets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      trainPred: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // (id, score_milli) feeds BOTH the histogram and the final bucket
    // projection; without a materialization the entire scoring subtree
    // (model training + scoring joins, ~20 exchanges) executes twice. The
    // frame is two integer columns × scored docs — localCheckpoint pins it
    // once, and everything downstream runs over the sliver (guide §3.3:
    // materialize shared intermediates to truncate duplicated plans).
    val scored = referenceLmStats(df, idCol, textCol, trainPred)
      .filter(col("n_bigrams") > 0L)
      .withColumn("score_milli", expr("(1000 * surprisal_q) div n_bigrams"))
      .select(col(idCol), col("score_milli"))
      .localCheckpoint()
    val hist = scored.groupBy(col("score_milli")).agg(count(lit(1)).as("_c"))
    // bounded-table window (≤ 64 001 rows): cumulative counts in score order
    val cum = hist.withColumn("_cum", sum(col("_c")).over(Window.orderBy(col("score_milli"))))
    val cuts = cum
      .crossJoin(broadcast(hist.agg(sum(col("_c")).as("_n"))))
      .agg(
        min(when(col("_cum") * 3 >= col("_n"), col("score_milli"))).as("_cut1"),
        min(when(col("_cum") * 3 >= col("_n") * 2, col("score_milli"))).as("_cut2"))
    scored
      .crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("score_milli") <= col("_cut1"), lit("head"))
          .when(col("score_milli") <= col("_cut2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col("score_milli"), col("bucket"))
  }

  /** Bounded, serializable form of a [[BigramModel]] for per-row /
    * streaming scoring: the top `maxGrams` grams by (count desc, gram asc)
    * — a deterministic cut, the standard LM-pruning artifact shape — plus
    * the full context counts restricted to those grams' first words and
    * the vocabulary scalar. Pruned grams score as unseen (their smoothing
    * mass is the add-one floor), contexts absent from the kept set score
    * as 0 — both documented, both exactly reproduced by
    * [[graft.functions.LmScoreStats]]. With `maxGrams` ≥ the model's
    * distinct-gram count the compact model is LOSSLESS: kernel stats are
    * bit-identical to [[scoreAgainst]] (spec-pinned). The driver collect
    * is bounded by `maxGrams` — the [[BpeTrain]] bounded-dictionary
    * contract, not a data-sized collect. */
  def compactModel(model: BigramModel, maxGrams: Int): CompactLmModel = {
    require(maxGrams >= 1)
    val kept = model.gramCounts
      .orderBy(col("_c").desc, col("g").asc)
      .limit(maxGrams)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val w1s = kept.map(_._1.takeWhile(_ != ' ')).distinct.toSeq
    val ctx = model.ctxCounts
      .filter(col("w1").isin(w1s: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val v = model.vocab.collect()(0).getLong(0)
    CompactLmModel(kept.toMap, ctx.toMap, v)
  }

  /** Collect the DSIR bucket models into a [[CompactDsirModel]] for
    * per-row / streaming scoring ([[graft.functions.DsirWeight]]). Both
    * count tables are ≤ `nBuckets` rows BY CONSTRUCTION, so unlike
    * [[compactModel]] there is no cut and no information loss: the kernel
    * weight is bit-identical to [[dsirWeights]]' quantized column
    * (spec-pinned). Target docs define p_target; everything else defines
    * p_raw — the same split the relational operator scores against. */
  def compactDsirModel(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      nBuckets: Int = 4096): CompactDsirModel = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    val feats = df
      .withColumn("_t", targetPred)
      .select(
        col("_t"),
        explode(concat(
          WordGrams(col(textCol), 1, distinct = false),
          WordGrams(col(textCol), 2, distinct = false))).as("feat"))
      .withColumn("bkt", Sampling.hashBucket(col("feat"), nBuckets))
    def counts(pred: Column): Array[Long] = {
      val a = new Array[Long](nBuckets)
      feats.filter(pred).groupBy(col("bkt")).agg(count(lit(1)).as("_c"))
        .collect().foreach(r => a(r.getLong(0).toInt) = r.getLong(1))
      a
    }
    val ct = counts(col("_t"))
    val cr = counts(!col("_t"))
    CompactDsirModel(ct, cr, ct.sum, cr.sum, nBuckets)
  }

  /** DSIR importance weights: score every NON-target document by how much
    * its hashed-n-gram profile resembles the target slice of the corpus.
    * Features are word unigrams + bigrams hashed into `nBuckets` buckets
    * by the repo's portable md5 bucket ([[Sampling.hashBucket]] on the
    * feature string); target and raw bucket-count models are add-one
    * smoothed multinomials over those buckets.
    *
    * Output, one row per raw (non-target) document:
    *  - `n_feats`   feature occurrences (unigrams + bigrams)
    *  - `weight_q`  Σ n_f·(bitlen(ct_f+1) − bitlen(cr_f+1))
    *                + n_tot·(bitlen(R+B) − bitlen(T+B)) — the quantized
    *                log₂ importance weight (integer-exact, the gated
    *                column)
    *  - `keep`      weight_q ≥ `keepAbove` — the resampling gate (a pure
    *                filter; top-k selection composes downstream via
    *                [[Sampling.shuffleRank]]'s prefix-sum on the weight)
    *  - `log_weight` (double) the true Σ n_f·(ln p_t(f) − ln p_r(f)) —
    *                real-use column, spec-gated, dropped from the oracle
    *                query
    *
    * Scale shape: this is the best-scaling operator in the text tier —
    * both count models are bounded by `nBuckets` ROWS regardless of
    * corpus size, so they BROADCAST to the scoring join (zero shuffle of
    * the corpus side beyond the per-(doc,bucket) partial aggregate, which
    * is map-side combined and capped at docs × nBuckets). The totals T
    * and R ride the same broadcast tables as 1-row aggregates. */
  def dsirWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      targetPred: Column,
      nBuckets: Int = 4096,
      keepAbove: Long = 0L): DataFrame = {
    require(nBuckets >= 2, "nBuckets must be >= 2")
    // evaluate the target predicate BEFORE exploding features — it may
    // reference any input column (source, lang, …), which the feature
    // projection drops. Features explode COUNTED (the WordGramCounts
    // kernel): one row per DISTINCT feature per doc with its occurrence
    // count, so the md5 bucket hash runs once per distinct feature instead
    // of once per occurrence and every exploded stream shrinks by the
    // within-doc repetition factor (guide §2.3); a unigram can never equal
    // a bigram (bigrams contain the separator), so the concat never merges
    // counts across n.
    val feats = df
      .withColumn("_t", targetPred)
      .select(
        col(idCol),
        col("_t"),
        explode(concat(
          graft.functions.WordGramCounts(col(textCol), 1),
          graft.functions.WordGramCounts(col(textCol), 2))).as("_g"))
      .select(col(idCol), col("_t"), col("_g.gram").as("feat"), col("_g.occ").as("_occ"))
      .withColumn("bkt", Sampling.hashBucket(col("feat"), nBuckets))

    // bounded model tables: ≤ nBuckets rows each (occurrence-weighted sums
    // — identical integers to counting the un-counted stream)
    val tCounts = feats.filter(col("_t")).groupBy(col("bkt")).agg(sum(col("_occ")).as("_ct"))
    val rCounts = feats.filter(!col("_t")).groupBy(col("bkt")).agg(sum(col("_occ")).as("_cr"))
    val tTotal  = tCounts.agg(sum(col("_ct")).as("_T"))
    val rTotal  = rCounts.agg(sum(col("_cr")).as("_R"))

    val docBuckets = feats.filter(!col("_t"))
      .groupBy(col(idCol), col("bkt")).agg(sum(col("_occ")).as("_n"))

    val b = lit(nBuckets.toLong)
    val scored = docBuckets
      .join(broadcast(tCounts), Seq("bkt"), "left")
      .join(broadcast(rCounts), Seq("bkt"), "left")
      .crossJoin(broadcast(tTotal))
      .crossJoin(broadcast(rTotal))
      .withColumn("_ct0", coalesce(col("_ct"), lit(0L)))
      // a raw doc's own features are in the raw model, so _cr ≥ _n ≥ 1;
      // the coalesce is belt-and-braces for callers scoring foreign docs
      .withColumn("_cr0", coalesce(col("_cr"), lit(0L)))

    scored
      .groupBy(col(idCol))
      .agg(
        sum(col("_n")).as("n_feats"),
        (sum(col("_n") * (bitLen(col("_ct0") + lit(1L)) - bitLen(col("_cr0") + lit(1L)))) +
          sum(col("_n")) * (bitLen(first(col("_R")) + b) - bitLen(first(col("_T")) + b)))
          .as("weight_q"),
        sum(col("_n").cast("double") *
          (log((col("_ct0") + lit(1L)).cast("double") / (col("_T") + b).cast("double")) -
            log((col("_cr0") + lit(1L)).cast("double") / (col("_R") + b).cast("double"))))
          .as("log_weight"))
      .withColumn("keep", col("weight_q") >= lit(keepAbove))
      .select(col(idCol), col("n_feats"), col("weight_q"), col("keep"), col("log_weight"))
  }
}

/** The bounded reference-LM artifact ([[LmScore.compactModel]]): gram and
  * context count maps plus the vocabulary size, shipped whole to executors
  * (size bounded by `maxGrams`, independent of corpus size). Scoring
  * semantics live in [[graft.functions.LmScoreStats]]. */
final case class CompactLmModel(
    grams: Map[String, Long],
    ctx: Map[String, Long],
    vocab: Long) extends Serializable

/** The bounded DSIR artifact ([[LmScore.compactDsirModel]]): target/raw
  * bucket-count arrays plus totals — `nBuckets` longs each, lossless by
  * construction. Scoring semantics live in
  * [[graft.functions.DsirWeight]]. */
final case class CompactDsirModel(
    targetCounts: Array[Long],
    rawCounts: Array[Long],
    targetTotal: Long,
    rawTotal: Long,
    nBuckets: Int) extends Serializable
