package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality stats, heuristic language ID, fingerprinting.
  *
  * The per-document rules (token stats, Gopher/C4/compression rules,
  * language ID) are pure per-row projections — no shuffle, so they
  * pipeline with the scan and run unchanged inside a streaming gate; the
  * corpus-level operators (dedup, rarity, tf-idf) are one explode +
  * hash-aggregate with no shuffle wider than (doc_id, token), so they
  * scale linearly over a 100 TB document store. Every function has an
  * exact DuckDB-SQL mirror for the oracle gate (word-split tokenization,
  * integer-exact ratios).
  */
object TextAnalysis {

  /** Single-space word tokenizer (the corpus is single-spaced; keep the
    * split rule identical to the oracle's string_split(text, ' ')). */
  def tokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))

  /** The built-in (lang, stopwords) table for heuristic language ID — the
    * q24/q54 oracle's `sw` table and CorpusJob's default `stopword-table`. */
  val DefaultStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a"),
    "fr" -> Seq("le", "la", "et", "de", "un"),
    "de" -> Seq("der", "die", "und", "ein", "das"),
    "es" -> Seq("el", "los", "y", "de", "un"))

  /** Per-row count of tokens of `text` listed in `stopwords` — the
    * one-language form of the [[graft.functions.StopwordHits]] kernel. */
  private def stopwordHits(text: Column, stopwords: Seq[String]): Column =
    graft.functions.StopwordHits(text, Seq("" -> stopwords)).getItem(1)

  /** Per-document quality stats: token count, distinct tokens, mean token
    * length, stopword ratio (integer-exact double divisions).
    *
    * A pure per-row projection — zero shuffle, zero aggregation: token
    * count is the split-array size, the length sum uses the single-space
    * separator identity (`Σ len(token) = length(text) − (n−1)`, exact for
    * any single-char separator, including empty tokens from doubled
    * spaces), distinct tokens via `array_distinct`, stopword hits via the
    * [[graft.functions.StopwordHits]] kernel. Null-text docs drop (the
    * oracle's unnest of a null split emits no rows). Integer-identical to
    * the explode + groupBy form (pinned in TextPipelineSpec). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String, stopwords: Seq[String]): DataFrame = {
    val t      = col(textCol)
    val arr    = split(t, " ")
    val n      = size(arr).cast("long")
    val sumLen = (length(t) - (n - lit(1L))).cast("long")
    df.filter(t.isNotNull).select(
      col(idCol),
      n.as("n_tokens"),
      size(array_distinct(arr)).cast("long").as("n_distinct"),
      (sumLen.cast("double") / n).as("avg_token_len"),
      (stopwordHits(t, stopwords).cast("double") / n).as("stopword_ratio"))
  }

  /** Gopher-style within-document repetition signals (the "repetitive
    * document" quality gates of the Gopher/MassiveText filtering rules):
    * per doc, the total / duplicated / most-frequent-n-gram counts for
    * word 2-grams and 3-grams. All counts integer-exact so the result is
    * hash-portable across engines; ratios (dup fraction, top-gram
    * fraction) are one downstream division.
    *
    * Scale shape: a PURE per-row projection — all six counts compute in
    * ONE generated-code pass per document ([[graft.functions.
    * RepetitionCounts]]: manual split, gram hash map, running max), so the
    * operator is zero-shuffle and pipelines with the scan at any corpus
    * size; the relational explode+group formulation is left to the oracle.
    * (A first cut over higher-order array functions — transform +
    * array_sort + struct-accumulator aggregate — was 35 s at sf0.1 vs
    * ~1 s for this kernel: nested HOF lambdas evaluate interpreted
    * per element, the same lesson as the winnow/simhash kernels.) */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val r = graft.functions.RepetitionCounts(col(textCol))
    df.select(
      col(idCol),
      r.getItem(0).as("n_2gram"),
      r.getItem(1).as("dup_2gram"),
      r.getItem(2).as("top_2gram"),
      r.getItem(3).as("n_3gram"),
      r.getItem(4).as("dup_3gram"),
      r.getItem(5).as("top_3gram"))
  }

  /** Gopher/MassiveText-style document quality rules (Rae et al. 2021,
    * table A1): word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio ('#' and '…'/'...'), alphabetic-word fraction, and a minimum
    * stopword-hit count. Emits the signal columns AND per-rule booleans plus
    * the conjunction (`pass`), so a pipeline can either hard-filter or keep
    * the flags for analysis. Within-doc repetition gates (the other half of
    * the Gopher rule table) are [[repetitionStats]].
    *
    * Counts are integer-exact; the two emitted ratios are single IEEE
    * divisions and the rule comparisons cross-multiply against integer sums
    * (one IEEE multiply), so results hash identically across engines.
    *
    * Scale shape: a PURE PER-ROW PROJECTION — zero shuffle, zero
    * aggregation — built from the same signal and flag builder as
    * [[gopherPass]], so the `pass` column and the predicate cannot drift:
    *
    *  - `n_words` = size of the split array;
    *  - `sum_len` uses the separator identity `length(text) =
    *    Σ len(word) + (n_words − 1)`;
    *  - alpha hits are one codegen'd `regexp_count` over word starts,
    *    stopword hits the [[graft.functions.StopwordHits]] kernel — NOT
    *    higher-order array lambdas, which evaluate interpreted per element
    *    (the q61 lesson).
    *
    * Null-text docs drop, as in the oracle's explode + groupBy. Parity with
    * that relational form is pinned in CorpusIngestSpec. */
  def gopherRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      stopwords: Seq[String],
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopHits: Long = 2L): DataFrame = {
    val t = col(textCol)
    val s = gopherSignals(t, stopwords)
    val flags = gopherFlags(s, minWords, maxWords, minMeanLen, maxMeanLen,
      maxSymbolRatio, minAlphaFrac, minStopHits)
    df.filter(t.isNotNull)
      .select(Seq(
          col(idCol),
          s.nWords.as("n_words"),
          (s.sumLen.cast("double") / s.nWords).as("mean_word_len"),
          (s.nAlpha.cast("double") / s.nWords).as("alpha_frac"),
          s.nSym.as("n_symbols"),
          s.nStop.as("n_stop_hits")) ++
        flags.map { case (name, flag) => flag.as(name) }: _*)
      .withColumn("pass", flags.map { case (name, _) => col(name) }.reduce(_ && _))
  }

  private final case class GopherSignals(
      nWords: Column, sumLen: Column, nAlpha: Column, nStop: Column, nSym: Column)

  private def gopherSignals(t: Column, stopwords: Seq[String]): GopherSignals = {
    val nWords = size(split(t, " ")).cast("long")
    val nHash  = length(t) - length(translate(t, "#", ""))
    val nDots  = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / lit(3)
    val nElli  = length(t) - length(translate(t, "…", ""))
    GopherSignals(
      nWords = nWords,
      sumLen = (length(t) - (nWords - lit(1L))).cast("long"),
      nAlpha = regexp_count(t, lit("(?:^| )[^ ]*[A-Za-z]")).cast("long"),
      nStop  = stopwordHits(t, stopwords),
      nSym   = (nHash + nDots + nElli).cast("long"))
  }

  /** The named per-rule flags of [[gopherRules]]; their conjunction is the
    * `pass` column and [[gopherPass]]. */
  private def gopherFlags(
      s: GopherSignals,
      minWords: Long,
      maxWords: Long,
      minMeanLen: Double,
      maxMeanLen: Double,
      maxSymbolRatio: Double,
      minAlphaFrac: Double,
      minStopHits: Long): Seq[(String, Column)] = Seq(
    "pass_words" -> (s.nWords >= minWords && s.nWords <= maxWords),
    "pass_mean_len" -> (s.sumLen.cast("double") >= lit(minMeanLen) * s.nWords &&
      s.sumLen.cast("double") <= lit(maxMeanLen) * s.nWords),
    "pass_symbols" -> (s.nSym.cast("double") <= lit(maxSymbolRatio) * s.nWords),
    "pass_alpha" -> (s.nAlpha.cast("double") >= lit(minAlphaFrac) * s.nWords),
    "pass_stop" -> (s.nStop >= minStopHits))

  /** The [[gopherRules]] conjunction as a pure per-row predicate `Column` —
    * usable directly in a `filter`, including on streaming frames (where a
    * computed-flags semi-join back to the stream would be an illegal
    * stream-stream join). Same flags, same cross-multiplied comparisons;
    * null text is not a pass. */
  def gopherPass(
      text: Column,
      stopwords: Seq[String],
      minWords: Long = 50L,
      maxWords: Long = 100000L,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaFrac: Double = 0.8,
      minStopHits: Long = 2L): Column =
    gopherFlags(gopherSignals(text, stopwords), minWords, maxWords, minMeanLen,
      maxMeanLen, maxSymbolRatio, minAlphaFrac, minStopHits).map(_._2).reduce(_ && _)

  /** C4 cleaning pass (Raffel et al. 2020, §2.2) — the line-and-page
    * heuristic filter of the C4/"Colossal Clean Crawled Corpus" recipe:
    *
    *  - LINE rules (drop the line): keep only lines ending in a terminal
    *    punctuation mark (`.` `!` `?` `"`), with ≥ `minWordsPerLine`
    *    words, and not containing "javascript" (case-insensitive);
    *  - PAGE rules (drop the whole page): fewer than `minSentences`
    *    sentences in the retained text (sentence ≈ one `.`/`!`/`?`),
    *    the phrase "lorem ipsum", a curly bracket, or any blocklisted
    *    word (`badwords`, matched on lowercased space-tokens).
    *
    * Emits the retained text plus every signal and per-rule flag, with
    * `keep` as the page-rule conjunction — callers hard-filter on
    * `keep` (and non-empty `clean_text`) or carry the flags. All counts
    * are integer-exact and the retained text is a deterministic function
    * of the input, so the result hash-gates against the SQL mirror.
    *
    * Scale shape: a PURE per-row projection, zero shuffle — the line
    * filter is one generated-code byte pass per document
    * ([[graft.functions.C4KeptLines]], not an interpreted per-line HOF
    * lambda), everything else built-in codegen string functions — so the
    * pass pipelines with the scan at any corpus size and runs unchanged
    * inside a streaming ingest gate. */
  /** The C4 line filter's retained text as a pure per-row `Column` —
    * the line-rule half of [[c4Clean]], usable standalone (e.g. to
    * rewrite the text column in a streaming gate). */
  def c4CleanText(text: Column, delim: String = "\n", minWordsPerLine: Int = 5): Column =
    array_join(graft.functions.C4KeptLines(text, delim, minWordsPerLine), delim)

  private def c4SentenceCount(keptText: Column): Column =
    (length(keptText) - length(translate(keptText, ".!?", ""))).cast("long")

  /** The named C4 PAGE rules over the page `text` and its retained
    * `keptText`; their conjunction is [[c4Pass]] and [[c4Clean]]'s `keep`. */
  private def c4PageFlags(
      text: Column,
      keptText: Column,
      minSentences: Int,
      badwords: Seq[String]): Seq[(String, Column)] = Seq(
    "pass_sentences" -> (c4SentenceCount(keptText) >= minSentences),
    "pass_lorem" -> !lower(text).contains("lorem ipsum"),
    "pass_curly" -> !(text.contains("{") || text.contains("}")),
    "pass_badword" ->
      (if (badwords.isEmpty) lit(true)
       else !arrays_overlap(split(lower(text), " "), typedLit(badwords))))

  /** The C4 PAGE keep rule as a pure per-row predicate `Column` — usable
    * directly in a `filter`, including on streaming frames (the same
    * contract as [[gopherPass]]). A kept page still needs its text
    * rewritten with [[c4CleanText]]; with `minSentences ≥ 1` a kept page
    * always has non-empty retained text. */
  def c4Pass(
      text: Column,
      delim: String = "\n",
      minWordsPerLine: Int = 5,
      minSentences: Int = 3,
      badwords: Seq[String] = Seq.empty): Column =
    c4PageFlags(text, c4CleanText(text, delim, minWordsPerLine), minSentences, badwords)
      .map(_._2).reduce(_ && _)

  def c4Clean(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n",
      minWordsPerLine: Int = 5,
      minSentences: Int = 3,
      badwords: Seq[String] = Seq.empty): DataFrame = {
    // the kept-lines kernel runs once per row: every column below reads
    // the one array
    val kept     = graft.functions.C4KeptLines(col(textCol), delim, minWordsPerLine)
    val keptText = array_join(kept, delim)
    val flags    = c4PageFlags(col(textCol), keptText, minSentences, badwords)
    df.select(Seq(
        col(idCol),
        size(split(col(textCol), java.util.regex.Pattern.quote(delim)))
          .cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"),
        c4SentenceCount(keptText).as("n_sentences"),
        keptText.as("clean_text")) ++
      flags.map { case (name, flag) => flag.as(name) }: _*)
      .withColumn("keep", flags.map { case (name, _) => col(name) }.reduce(_ && _))
  }

  /** Per-document compression-ratio quality signal: the fraction a raw
    * DEFLATE pass shrinks the UTF-8 bytes to ([[graft.functions
    * .DeflateStats]] — repetitive/boilerplate pages compress far below
    * normal prose, the classic cheap repetitiveness heuristic). Output:
    * `(id, n_bytes, n_deflated, compression_ratio)`; empty docs report
    * ratio 1.0. Pure per-row, zero shuffle, streaming-safe
    * ([[compressionPass]] is the predicate form). Spec-gated only: the
    * oracle engine has no deflate, and exact byte counts are
    * implementation-defined — the RATIO is the signal; calibrate
    * thresholds per deployment. */
  def compressionStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      level: Int = 6): DataFrame = {
    val s = graft.functions.DeflateStats(col(textCol), level)
    df.select(
      col(idCol),
      s.getItem(0).as("n_bytes"),
      s.getItem(1).as("n_deflated"),
      when(s.getItem(0) === 0L, lit(1.0))
        .otherwise(s.getItem(1).cast("double") / s.getItem(0))
        .as("compression_ratio"))
  }

  /** Keep rows whose compression ratio is at or above `minRatio` (below
    * it the page is compressible enough to flag as repetitive
    * boilerplate). Per-row predicate — usable on streaming frames. */
  def compressionPass(text: Column, minRatio: Double, level: Int = 6): Column = {
    val s = graft.functions.DeflateStats(text, level)
    s.getItem(0) === 0L || s.getItem(1).cast("double") >= lit(minRatio) * s.getItem(0)
  }

  /** Heuristic language ID: per-language stopword hit count, argmax with
    * deterministic (score desc, lang asc) tie-break; no hits (or null
    * text) → ('und', 0). A PURE PER-ROW PROJECTION over the
    * [[graft.functions.StopwordHits]] kernel — zero shuffle, zero state,
    * so the same operator serves the batch query and the streaming gate.
    * Any words work, shared across languages or repeated: a word listed
    * under two languages scores for both, and a repeated (lang, word)
    * entry counts once per copy, exactly as the relational
    * explode ⋈ stopword-table ⋈ window reference (parity pinned in
    * CorpusIngestSpec). */
  def languageId(
      df: DataFrame,
      idCol: String,
      textCol: String,
      stopwords: Seq[(String, Seq[String])]): DataFrame = {
    val h    = graft.functions.StopwordHits(col(textCol), stopwords)
    val best = h.getItem(0)
    df.select(
      col(idCol),
      when(best >= 0L, typedLit(graft.functions.StopwordHits.langs(stopwords)).getItem(best))
        .otherwise(lit("und")).as("pred_lang"),
      coalesce(h.getItem(1), lit(0L)).as("score"))
  }

  /** Per-row language-keep predicate: true when [[languageId]]'s
    * `pred_lang` is in `keep` ('und' keeps the no-hit and null-text docs).
    * Reads the kernel ONCE — a filter gets no common subexpression
    * elimination, and predicate pushdown re-inlines any aliased score
    * column into it, so the condition is a single `array_contains` over
    * the kernel's argmax index. */
  def languagePass(
      text: Column,
      stopwords: Seq[(String, Seq[String])],
      keep: Seq[String]): Column = {
    require(keep.nonEmpty, "keep needs at least one language")
    val keepIdx = graft.functions.StopwordHits.langs(stopwords).zipWithIndex
      .collect { case (l, i) if keep.contains(l) => i.toLong } ++
      (if (keep.contains("und")) Seq(-1L) else Nil)
    array_contains(typedLit(keepIdx),
      coalesce(graft.functions.StopwordHits(text, stopwords).getItem(0), lit(-1L)))
  }

  /** BPE-ish sub-word tokenization: the GPT-2-family pre-tokenizer regex
    * shape (optionally space-prefixed letter runs / digit runs / punct
    * runs, whitespace runs) WITHOUT lookahead, so the same pattern runs
    * identically under Java regex and RE2-family engines — the portable
    * approximation of a real BPE vocabulary's pre-split. Counting these is
    * the training-data token-budget estimator. */
  val BpePattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

  /** Per-document sub-word token stats from the BPE-ish pre-tokenizer:
    * total pieces, distinct pieces, letters-only pieces. Pure projection +
    * one hash aggregate. */
  def bpeTokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(expr(s"regexp_extract_all($textCol, '${BpePattern.replace("'", "\\'")}', 0)")).as("piece"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_pieces"),
        countDistinct(col("piece")).as("n_distinct_pieces"),
        sum(when(col("piece").rlike("^ ?[a-zA-Z]+$"), 1).otherwise(0)).as("n_word_pieces"))

  /** Corpus vocabulary: the `k` most frequent BPE-ish pieces with counts —
    * the precursor to training a sub-word vocabulary. One hash aggregate
    * over the piece stream (map-side combined), then a k-bounded total
    * order; ties break lexicographically so the cut is deterministic. */
  def vocabulary(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(expr(
        s"regexp_extract_all($textCol, '${BpePattern.replace("'", "\\'")}', 0)")).as("piece"))
      .groupBy(col("piece"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("piece").asc)
      .limit(k)

  /** Corpus-frequency quality score (the CCNet-style rare-token filter,
    * self-trained, in integer-exact form): token frequencies over the
    * whole corpus form the unigram model; each document reports its mean
    * corpus term frequency and its rare-token count (tokens with corpus
    * tf < `rareBelow`). Low mean-tf / high rare density flags gibberish.
    * Integer sums only — a float log-prob sum would be partition-order
    * dependent and break the exact oracle hash; the rational mean is the
    * same ranking signal, bit-deterministic. Two hash aggregates + one
    * token join; the model table is vocabulary-sized and broadcasts under
    * AQE. */
  def tokenRarity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      rareBelow: Long = 5L): DataFrame = {
    // per-(doc, token) occurrence counts as a pure projection (the
    // WordGramCounts kernel at n = 1): the model aggregates and the
    // scoring join run over the DISTINCT (doc, token) stream with the
    // occurrence count as a weight — identical sums, one exchange less,
    // and the join probe shrinks from token occurrences to distinct
    // tokens per doc (guide §2.3: shuffle fewer bytes)
    val counted = df.select(
        col(idCol),
        explode(graft.functions.WordGramCounts(col(textCol), 1)).as("_g"))
      .select(col(idCol), col("_g.gram").as("token"), col("_g.occ").as("_occ"))
    val model = counted.groupBy(col("token")).agg(sum(col("_occ")).as("_tf"))
    counted
      .join(model, "token")
      .groupBy(col(idCol))
      .agg(
        sum(col("_occ")).as("n_tokens"),
        (sum(col("_occ") * col("_tf")).cast("double") / sum(col("_occ"))).as("mean_tf"),
        sum(when(col("_tf") < rareBelow, col("_occ")).otherwise(0L)).as("n_rare"))
  }

  /** Cross-document duplicated-span statistics — the corpus-level signal
    * behind exact-substring dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better"): for each document, how much of its
    * word n-gram stream also occurs in at least one OTHER document. A high
    * duplicated fraction marks boilerplate/mirrored text that survives
    * whole-document dedup because the wrapper differs.
    *
    * Output per doc: total n-gram occurrences, occurrences whose n-gram has
    * corpus document-frequency ≥ 2, distinct such n-grams, and the
    * duplicated fraction (one IEEE division of two exact longs — portable).
    * Docs shorter than n words report zeros with a null fraction.
    *
    * Scale shape: per-(doc, gram) counts aggregate FIRST (map-side
    * combined), then corpus document frequency aggregates from that table
    * and joins back on the gram key. The two consumers of the (doc, gram)
    * aggregate request the SAME gram partitioning, so AQE materializes one
    * reused exchange — the gram build and the expensive partial aggregate
    * run once, and only the cheap reduce-side final re-executes. This is
    * deliberately NOT a count-over-gram-partition window, which would be a
    * single lineage but lands EVERY row of a hot gram on one task — a
    * boilerplate gram shared by 10⁸ docs is a skew cliff, where the
    * aggregate+join form gets map-side combine on the df count and AQE
    * skew-split on the join. The gram with max df contributes one row per
    * containing doc, never df² work (no pairing here, unlike
    * [[SetSimilarity]]). */
  def dupSpanStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    // per-(doc, gram) occurrence counts as a PURE PROJECTION: one doc's
    // grams all live in its one source row, so the aggregate needs no
    // exchange — the WordGramCounts kernel replaces the explode +
    // groupBy(id, gram) hash aggregate (one full exchange of the gram
    // stream, the largest intermediate in this plan; guide §2.4)
    val perDoc = df.select(
        col(idCol),
        explode(graft.functions.WordGramCounts(col(textCol), n)).as("_g"))
      .select(col(idCol), col("_g.gram").as("gram"), col("_g.occ").as("occ"))
    val docFreq = perDoc.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val stats = perDoc
      .join(docFreq, "gram")
      .groupBy(col(idCol))
      .agg(
        sum(col("occ")).as("_n"),
        sum(when(col("df") >= 2, col("occ")).otherwise(0L)).as("_dup"),
        countDistinct(when(col("df") >= 2, col("gram"))).as("_dupd"))
    df.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("_n"), lit(0L)).as("n_grams"),
        coalesce(col("_dup"), lit(0L)).as("n_dup_grams"),
        coalesce(col("_dupd"), lit(0L)).as("n_dup_distinct"),
        (col("_dup").cast("double") / col("_n")).as("dup_fraction"))
  }

  /** Duplicated-span REMOVAL — the transform behind [[dupSpanStats]]'s
    * statistic (Lee et al.'s exact-substring dedup, at word n-gram
    * granularity): every token covered by an n-gram occurrence whose gram
    * appears in ≥ 2 distinct documents is cut, and the survivors reassemble
    * in order. Fully duplicated documents come back as empty strings (the
    * caller decides whether to drop them); docs shorter than n words pass
    * through untouched.
    *
    * Output: (id, clean_text, n_tokens, n_removed).
    *
    * Scale shape: the dup-gram set aggregates from the distinct (doc,
    * gram) table (map-side combined — a hot gram is cheap) and joins back
    * to the positioned gram stream on the gram key, where AQE skew-split
    * handles boilerplate grams; a count-over-gram-partition window would
    * land every occurrence of a hot gram on one task (see
    * [[dupSpanStats]]). The gram build feeds the df subtree and the
    * coverage join under different partitionings, so it evaluates twice —
    * it is a narrow codegen'd projection off the scan (two linear passes).
    * Coverage expands dup gram STARTS (≤ n rows per start, never gram ×
    * gram), and reassembly is one per-doc aggregate of (pos, token)
    * structs — bounded by document length, the same contract as every
    * per-doc kernel here.
    *
    * PRECONDITION: `df` must carry ONE ROW PER `idCol` value (the same
    * contract as [[MinHashLSH.shingles]]). The per-row kernel dedup that
    * replaced the (id, gram) `.distinct()` exchange dedups WITHIN a row:
    * duplicate-id rows would each contribute to the document frequency,
    * inflating `df` and changing which grams count as duplicated. */
  def dedupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3): DataFrame = {
    val w = split(col(textCol), " ")
    val toks = df.select(col(idCol), posexplode(w).as(Seq("pos", "token")))
    val grams = df.select(
      col(idCol),
      posexplode(graft.functions.WordGrams(col(textCol), n, distinct = false))
        .as(Seq("start", "gram")))
    // corpus document frequency off the per-row DISTINCT gram arrays: the
    // kernel dedup replaces the (id, gram) .distinct() exchange — only the
    // already-distinct gram stream shuffles into the df aggregate
    val dupGrams = df
      .select(explode(graft.functions.WordGrams(col(textCol), n, distinct = true)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("gram"))
    val covered = grams
      .join(dupGrams, "gram")
      .select(col(idCol), explode(sequence(col("start"), col("start") + lit(n - 1))).as("pos"))
      .distinct()
    val kept = toks
      .join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("token")))),
            x => x.getField("token")),
          " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    df.select(col(idCol), size(w).as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tokens").cast("long").as("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).cast("long").as("n_removed"))
  }

  /** Corpus-level LINE dedup (the RefinedWeb/CCNet boilerplate pass —
    * Penedo et al. 2023 §"line-wise corrections", Wenzek et al. 2020
    * paragraph dedup): a line occurring in ≥ `minDocs` DISTINCT documents
    * is boilerplate (headers, cookie banners, navigation chrome) and is
    * removed from every document; each document reassembles from its
    * surviving lines in original order. Complements [[dedupSpans]]
    * (n-gram granularity, ≥2 docs) with the line-granularity,
    * threshold-semantics form the published web pipelines run.
    *
    * Scale shape: lines shuffle ONCE as (md5(line), doc) pairs for the
    * distinct-doc count (map-side combined; the md5 key bounds shuffle
    * width to 32 bytes/line no matter how long the line is), the
    * boilerplate set joins back on the same key under AQE skew handling,
    * and reassembly is a per-doc sort of its own lines — no global
    * window, no driver materialization. Returns one row per input
    * document: (id, clean_text, n_lines, n_removed).
    *
    * PRECONDITION: `df` must carry ONE ROW PER `idCol` value (the same
    * contract as [[MinHashLSH.shingles]] and [[dedupSpans]]): the
    * boilerplate count dedups a doc's lines within its one source row via
    * `array_distinct`, so duplicate-id rows would each count toward the
    * distinct-document threshold. */
  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delim: String = "\n",
      minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2 (a 1 would drop every line)")
    val lines = df.select(
      col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .as(Seq("pos", "line")))
      .withColumn("_lh", md5(col("line").cast("binary")))
    // distinct-doc count per line hash off per-row DISTINCT hash arrays:
    // one doc's lines live in its one source row, so the per-(line, doc)
    // dedup is array_distinct in a projection — this drops the
    // (_lh, id) .distinct() exchange the count previously needed (the
    // dedupSpans df-side device); only the already-distinct 32-byte
    // hashes shuffle into the count
    val boiler = df.select(
        explode(array_distinct(transform(
          split(col(textCol), java.util.regex.Pattern.quote(delim)),
          l => md5(l.cast("binary"))))).as("_lh"))
      .groupBy(col("_lh")).agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_lh"))
    val kept = lines
      .join(boiler, Seq("_lh"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")),
          delim).as("clean_text"),
        count(lit(1)).as("_nk"))
    df.select(col(idCol), size(split(col(textCol), java.util.regex.Pattern.quote(delim)))
        .cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("_nk"), lit(0L))).as("n_removed"))
  }

  /** Top-k distinctive terms per document by tf-idf, in the log-free idf
    * form score = tf × (N / df): raw inverse document frequency instead of
    * its logarithm, because ln() is a libm call whose low bits differ
    * across engines while IEEE-754 division and multiplication are
    * bit-exact everywhere — the same portability rule as [[tokenRarity]]'s
    * rational mean. Ties break (score desc, token asc) so the cut is
    * deterministic. N (corpus size) stays in-plan as a 1-row broadcast —
    * no driver-side count. Document frequency aggregates from the
    * (doc, token) tf table (map-side combined — stopword-grade hot tokens
    * are cheap) and joins back on the token key under AQE skew-split; both
    * consumers of the tf aggregate request the same token partitioning, so
    * AQE reuses one exchange and only the cheap final aggregate
    * re-executes. A count-over-token-partition window would put every
    * (doc, "the") row on one task — the skew cliff this shape avoids (see
    * [[dupSpanStats]]). */
  def tfIdfTopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 1)
    import org.apache.spark.sql.expressions.Window
    // the (doc, token) tf table as a pure projection (WordGramCounts at
    // n = 1) — no exchange; see dupSpanStats for the shape rationale
    val tf = df.select(
        col(idCol),
        explode(graft.functions.WordGramCounts(col(textCol), 1)).as("_g"))
      .select(col(idCol), col("_g.gram").as("token"), col("_g.occ").as("tf"))
    val dfreq  = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs  = df.select(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf
      .join(dfreq, "token")
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "score",
        col("tf").cast("double") * (col("n_docs").cast("double") / col("df").cast("double")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("token").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("token"), col("tf"), col("df"), col("score"))
  }

  /** Winnowing fingerprint (the MOSS rolling-hash scheme, Schleimer et al.
    * SIGMOD 2003): hash every k-gram of the character stream, slide a
    * window of `w` consecutive k-gram hashes, keep each window's minimum
    * (rightmost on ties = the robust-winnowing choice that a window-min
    * over (hash, position DESC) reproduces), and emit the distinct selected
    * (position, hash) fingerprints. Guarantees: any shared substring of
    * length ≥ w + k − 1 yields at least one shared fingerprint. Hashes are
    * md5-prefix integers — engine-portable. One explode + two window scans
    * per document, partitioned by doc. */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4): DataFrame = {
    // Whole-document kernel (functions/TextKernels): hashing, the sliding
    // rightmost-min window, and the dedupe all happen in one generated-code
    // pass per document — the exploded k-gram stream (~|text| rows/doc)
    // never exists as rows, so nothing shuffles but the selected
    // fingerprints themselves. The packed-long arithmetic
    // (hash * 2^31 + (2^31-1 - pos)) is identical to the SQL oracle's
    // windowed form; outputs are bit-equal to the relational plan this
    // replaced (r2 → r3, ~4 s → sub-second at sf0.1).
    df.select(col(idCol), col(textCol))
      .filter(length(col(textCol)) >= k)
      .select(
        col(idCol),
        explode(graft.functions.WinnowFingerprint(col(textCol), k, w)).as("_m"))
      .select(
        col(idCol),
        (lit(2147483647L) - col("_m").bitwiseAND(lit(2147483647L))).as("fp_pos"),
        shiftrightunsigned(col("_m"), 31).as("fp_hash"))
      .orderBy(col(idCol), col("fp_pos"))
  }

  /** Content fingerprint: md5 over the sorted distinct token set — a
    * canonical-form document hash (word-order-insensitive). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol),
      md5(array_join(array_sort(array_distinct(split(col(textCol), " "))), " ").cast("binary"))
        .as("fingerprint"))

  /** SimHash over `bits` bits (≤ 60): per-token hash = first 15 hex chars
    * of md5 (60 bits, always positive in a signed long — the portable
    * ceiling), per-bit majority vote, reassembled into one integer.
    * Computed as `bits` parallel conditional sums in a single aggregate —
    * no per-bit row explosion, so one hash-aggregate pass at any scale. */
  def simHash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    require(bits >= 1 && bits <= 60)
    // Whole-document kernel (functions/TextKernels): token split, 60-bit
    // md5-prefix hashes, and the per-bit majority vote run in one
    // generated-code pass — a pure projection, replacing the explode +
    // `bits`-sum hash aggregate (one full token-stream shuffle) of r2.
    // Token rule mirrors the oracle's string_split(text, ' ') exactly,
    // empty tokens included.
    df.select(col(idCol), graft.functions.SimHashSig(col(textCol), bits).as("_s"))
      .select(col(idCol), col("_s").getItem(0).as("n_tokens"), col("_s").getItem(1).as("simhash"))
  }

  /** SimHash near-duplicate pairs by banded pigeonhole LSH: split the
    * `bits`-bit signature into `nBands` equal bands — any pair within
    * hamming distance < nBands shares at least one identical band
    * (pigeonhole), so the candidate join is per-(band, band-value) buckets,
    * never all-pairs; candidates then verify exact hamming ≤ `maxHamming`
    * via bit_count(xor). The standard simhash dedup shape at corpus scale:
    * only (id, band value) pairs shuffle. Requires maxHamming < nBands for
    * zero false negatives. */
  /** Corpus-sized band geometry for [[simHashNearDup]].
    *
    * The scaling law (measured, dev/PLANS_r4.md): expected bucket occupancy
    * is n_docs / 2^bandBits, and candidate work is Σ occupancy² per bucket —
    * bands narrower than log₂(n_docs) bits go quadratic (8-bit bands: ~40×
    * superlinear at 500k docs; 15-bit bands: linear). So: bandBits ≥
    * log₂(n_docs), clamped to the 60-bit portable signature ceiling
    * (60 / nBands per band), with nBands = maxHamming + 1 — the minimum
    * band count that keeps the pigeonhole guarantee maxHamming < nBands.
    *
    * Returns (bits, nBands). Above ~2^15 docs the ceiling binds: buckets
    * then hold n / 2^(60/nBands) expected docs — still sub-quadratic far
    * past 10⁹ docs for maxHamming ≤ 3. */
  def sizedSimHashBands(nDocs: Long, maxHamming: Int = 3): (Int, Int) = {
    require(nDocs >= 0 && maxHamming >= 0)
    val nBands      = maxHamming + 1
    val maxBandBits = 60 / nBands
    require(maxBandBits >= 1, s"maxHamming=$maxHamming needs ${nBands} bands; signatures cap at 60 bits")
    val needBits    = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, nDocs - 1)) // ceil(log2 n)
    val bandBits    = math.max(4, math.min(needBits, maxBandBits))
    (bandBits * nBands, nBands)
  }

  /** [[simHashNearDup]] with bands sized to the corpus by
    * [[sizedSimHashBands]] — the entry point to use when you don't already
    * know the corpus size. `nDocsHint` skips the sizing count (pass the
    * catalog row count at 100 TB); absent a hint, one cheap count over the
    * id column prices the geometry — linear and trivially parallel,
    * against the quadratic stage it prevents. */
  def simHashNearDupSized(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      nDocsHint: Option[Long] = None): DataFrame = {
    val n = nDocsHint.getOrElse(df.select(col(idCol)).count())
    val (bits, nBands) = sizedSimHashBands(n, maxHamming)
    simHashNearDup(df, idCol, textCol, bits, nBands, maxHamming)
  }

  /** Unsized entry point: defaults are corpus-sized, not fixed — a fixed
    * 16-bit/4-band geometry is quadratic past ~2^16 docs (dev/PLANS_r4.md),
    * so the no-geometry call routes through [[sizedSimHashBands]]. Callers
    * that already know their geometry use the explicit overload. */
  def simHashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      nDocsHint: Option[Long] = None): DataFrame =
    simHashNearDupSized(df, idCol, textCol, maxHamming, nDocsHint)

  def simHashNearDup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int,
      nBands: Int,
      maxHamming: Int): DataFrame =
    bandedHammingNearDup(
      simHash(df, idCol, textCol, bits), idCol, "simhash", bits, nBands, maxHamming)

  /** Banded-pigeonhole hamming near-dup over ANY long-signature frame
    * (simhash, image dHash, audio chromaprint, …): signatures whose
    * hamming distance ≤ `maxHamming` agree exactly on ≥ 1 of `nBands`
    * bands (pigeonhole), so candidates come from a band-value equi-join
    * and only candidates pay the exact `bit_count(xor)` verify. The
    * generic core the modality-specific fronts share. */
  def bandedHammingNearDup(
      sig: DataFrame, // (idCol, sigCol: long)
      idCol: String,
      sigCol: String,
      bits: Int,
      nBands: Int,
      maxHamming: Int): DataFrame = {
    require(bits % nBands == 0, "bits must divide into equal bands")
    require(maxHamming < nBands, "pigeonhole guarantee needs maxHamming < nBands")
    val bandBits = bits / nBands
    val bands = sig.select(
      col(idCol),
      col(sigCol),
      explode(array((0 until nBands).map { b =>
        struct(
          lit(b).as("band"),
          (shiftright(col(sigCol), b * bandBits) % lit(1L << bandBits)).as("band_val"))
      }: _*)).as("bv"))
      .select(col(idCol), col(sigCol), col("bv.band"), col("bv.band_val"))
    val l = bands.select(col("band"), col("band_val"), col(idCol).as("id_a"), col(sigCol).as("sh_a"))
    val r = bands.select(col("band"), col("band_val"), col(idCol).as("id_b"), col(sigCol).as("sh_b"))
    l.join(r, Seq("band", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }
}
