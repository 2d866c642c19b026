package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Sampling, SetSimilarity, TextAnalysis}

/** Corpus-preparation coverage on the `documents` table: deterministic
  * hash-split assignment (train/val/test) and the composed C4-style
  * cleaning pipeline (quality stats → language filter → exact dedup) — the
  * end-to-end shapes a training-data run executes before tokenization.
  */
object SamplingQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic 90/5/5 split assignment from the md5 hash bucket —
    * content-addressed, so assignment is stable across runs, engines, and
    * parallelism (no RNG). */
  private val q53: Q = (s, dir) =>
    Sampling
      .hashSplit(Tables.documents(s, dir), "doc_id",
        Seq(("train", 90), ("val", 5), ("test", 5)))
      .select(col("doc_id"), col("bucket"), col("split"))
      .orderBy(col("doc_id"))

  private val q53Sql =
    """SELECT doc_id,
      |  ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket,
      |  CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 90 THEN 'train'
      |       WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 < 95 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The composed cleaning pipeline (the C4/RefinedWeb shape): token-count
    * window + repetition (distinct-ratio) floor + heuristic language ID →
    * keep English → exact content dedup keep-first. All three stages are
    * existing operators; the composition is the query. */
  private val q54: Q = (s, dir) => {
    val d     = Tables.documents(s, dir)
    val clean = TextAnalysis
      .tokenStats(
        d.filter(TextAnalysis.languagePass(col("text"), TextAnalysis.DefaultStopwords, Seq("en"))),
        "doc_id", "text", Seq("the", "a"))
      .filter(
        col("n_tokens").between(20, 90) &&
          col("n_distinct").cast("double") / col("n_tokens") >= 0.3)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"))
    val survivors = Dedup
      .exactByHash(
        d.join(clean.select("doc_id"), Seq("doc_id"), "leftsemi"),
        md5(col("text").cast("binary")), "doc_id")
      .select("doc_id")
    clean.join(survivors, Seq("doc_id"), "leftsemi").orderBy(col("doc_id"))
  }

  private val q54Sql =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
      |stats AS (
      |  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT token) AS n_distinct
      |  FROM t GROUP BY doc_id),
      |sw AS (${TextQueries.stopwordSql}),
      |sc AS (
      |  SELECT doc_id, lang, COUNT(*) AS score
      |  FROM t JOIN sw ON t.token = sw.word GROUP BY doc_id, lang),
      |best AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang ASC) AS rn
      |  FROM sc),
      |clean AS (
      |  SELECT s.doc_id, s.n_tokens, s.n_distinct
      |  FROM stats s JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b ON s.doc_id = b.doc_id
      |  WHERE b.lang = 'en' AND s.n_tokens BETWEEN 20 AND 90
      |    AND CAST(s.n_distinct AS DOUBLE) / s.n_tokens >= 0.3),
      |keep AS (
      |  SELECT MIN(d.doc_id) AS doc_id
      |  FROM documents d JOIN clean c ON d.doc_id = c.doc_id
      |  GROUP BY md5(d.text))
      |SELECT c.doc_id, c.n_tokens, c.n_distinct
      |FROM clean c JOIN keep k ON c.doc_id = k.doc_id
      |ORDER BY c.doc_id""".stripMargin

  /** Deterministic stratified sample: 3 docs per (lang, source) stratum,
    * picked by md5-of-id order — balanced eval-set drawing, stable across
    * runs and engines. */
  private val q55: Q = (s, dir) =>
    Sampling
      .stratifiedSample(Tables.documents(s, dir), "doc_id", Seq("lang", "source"), 3)
      .select(col("lang"), col("source"), col("doc_id"))
      .orderBy(col("lang"), col("source"), col("doc_id"))

  private val q55Sql =
    """SELECT lang, source, doc_id FROM (
      |  SELECT lang, source, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY lang, source
      |                       ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rk
      |  FROM documents)
      |WHERE rk <= 3 ORDER BY lang, source, doc_id""".stripMargin

  /** Eval-set decontamination: train-split docs sharing ≥5 distinct
    * 3-gram shingles with any val/test-split doc — the split assignment
    * (q53) composed with the cross-corpus overlap primitive. Any row here
    * is benchmark leakage a real pipeline must drop before training. */
  private val q56: Q = (s, dir) => {
    val split = Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
      Seq(("train", 90), ("val", 5), ("test", 5)))
    SetSimilarity
      .crossOverlap(
        split.filter(col("split") === "train"),
        split.filter(col("split") =!= "train"),
        "doc_id", "text", shingleLen = 3, minOverlap = 5, maxDocFreq = 100)
      .select(
        col("left_id").as("train_id"),
        col("right_id").as("holdout_id"),
        col("n_overlap"))
      .orderBy(col("train_id"), col("holdout_id"))
  }

  private val q56Sql =
    """WITH sp AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |       UNNEST(generate_series(1, len(w)-2)) AS t(i)
      |  WHERE len(w) >= 3),
      |tr AS (SELECT sh.* FROM sh JOIN sp USING (doc_id) WHERE sp.b < 90),
      |ho AS (SELECT sh.* FROM sh JOIN sp USING (doc_id) WHERE sp.b >= 90),
      |trd AS (SELECT shingle FROM tr GROUP BY shingle HAVING COUNT(*) <= 100),
      |hod AS (SELECT shingle FROM ho GROUP BY shingle HAVING COUNT(*) <= 100),
      |ov AS (
      |  SELECT tr.doc_id AS train_id, ho.doc_id AS holdout_id, COUNT(*) AS n_overlap
      |  FROM tr
      |    JOIN trd ON trd.shingle = tr.shingle
      |    JOIN hod ON hod.shingle = tr.shingle
      |    JOIN ho ON ho.shingle = tr.shingle
      |  GROUP BY tr.doc_id, ho.doc_id)
      |SELECT train_id, holdout_id, n_overlap FROM ov
      |WHERE n_overlap >= 5 ORDER BY train_id, holdout_id""".stripMargin

  /** Ingest-style contamination flag: every train-split doc labeled with
    * its strongest holdout overlap via the broadcast benchmark kernel
    * (the streaming decontamination primitive, run in batch where the SQL
    * oracle can see it) — q56 reports the leaking PAIRS, this flags every
    * doc including the clean ones. Uncapped (the kernel has no df cap);
    * ties break on the bench id's STRING form, which the oracle mirrors. */
  private val q60: Q = (s, dir) => {
    val split = Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
      Seq(("train", 90), ("val", 5), ("test", 5)))
    graft.operators.Decontaminate
      .flagContaminated(
        split.filter(col("split") === "train").drop("bucket", "split"),
        split.filter(col("split") =!= "train"),
        "doc_id", "text", shingleLen = 3, minOverlap = 5)
      .select(
        col("doc_id"),
        col("n_overlap"),
        coalesce(col("bench_id"), lit("")).as("bench_id"),
        col("contaminated").cast("int").as("contaminated"))
      .orderBy(col("doc_id"))
  }

  private val q60Sql =
    """WITH sp AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |       UNNEST(generate_series(1, len(w)-2)) AS t(i)
      |  WHERE len(w) >= 3),
      |tr AS (SELECT sh.* FROM sh JOIN sp USING (doc_id) WHERE sp.b < 90),
      |ho AS (SELECT sh.* FROM sh JOIN sp USING (doc_id) WHERE sp.b >= 90),
      |ov AS (
      |  SELECT tr.doc_id AS train_id, ho.doc_id AS bench, COUNT(*) AS n
      |  FROM tr JOIN ho ON ho.shingle = tr.shingle
      |  GROUP BY tr.doc_id, ho.doc_id),
      |best AS (
      |  SELECT train_id, n, bench,
      |    ROW_NUMBER() OVER (PARTITION BY train_id
      |                       ORDER BY n DESC, CAST(bench AS VARCHAR) ASC) AS rn
      |  FROM ov)
      |SELECT d.doc_id, COALESCE(b.n, 0) AS n_overlap,
      |  COALESCE(CAST(b.bench AS VARCHAR), '') AS bench_id,
      |  CASE WHEN COALESCE(b.n, 0) >= 5 THEN 1 ELSE 0 END AS contaminated
      |FROM sp d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.train_id = d.doc_id
      |WHERE d.b < 90 ORDER BY doc_id""".stripMargin

  /** GPT-style sequence packing: concatenate docs in id order, cut
    * seqLen-token windows; per doc the global token offset and spanned
    * sequence range. Spark side is the DISTRIBUTED two-phase prefix sum
    * (no single-partition window); the oracle states the same integers
    * with a plain cumulative window. */
  private val q64: Q = (s, dir) =>
    graft.operators.Packing
      .packOffsets(Tables.documents(s, dir), "doc_id", "text", seqLen = 256)
      .orderBy(col("doc_id"))

  private val q64Sql =
    """WITH t AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |           FROM documents),
      |o AS (SELECT doc_id, n_tokens,
      |        COALESCE(CAST(SUM(n_tokens) OVER (ORDER BY doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS "offset"
      |      FROM t)
      |SELECT doc_id, n_tokens, "offset",
      |  "offset" // 256 AS first_seq,
      |  CASE WHEN n_tokens = 0 THEN "offset" // 256
      |       ELSE ("offset" + n_tokens - 1) // 256 END AS last_seq,
      |  "offset" % 256 AS offset_in_seq
      |FROM o ORDER BY doc_id""".stripMargin

  /** Materialized sequence packing: q64's offsets turned into the actual
    * `seqLen`-token training sequences (concatenated corpus cut into
    * fixed windows, each assembled in one bounded-size aggregate). */
  private val q75: Q = (s, dir) =>
    graft.operators.Packing
      .packSequences(Tables.documents(s, dir), "doc_id", "text", seqLen = 64)
      .orderBy(col("seq_idx"))

  private val q75Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS (SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, w[i] AS token
      |        FROM w, UNNEST(generate_series(1, len(w))) AS t(i)),
      |g AS (SELECT doc_id, token,
      |        ROW_NUMBER() OVER (ORDER BY doc_id, pos) - 1 AS gpos
      |      FROM tok)
      |SELECT gpos // 64 AS seq_idx, COUNT(*) AS n_tokens,
      |  COUNT(DISTINCT doc_id) AS n_docs,
      |  string_agg(token, ' ' ORDER BY gpos) AS seq_text
      |FROM g GROUP BY gpos // 64 ORDER BY seq_idx""".stripMargin

  /** Strided (overlapping) training windows — q75's materializer with a
    * half-seqLen stride, the GPT-2-style sliding-context chunker:
    * window w covers global positions [w·32, w·32 + 64), so consecutive
    * windows share 32 tokens of left context. */
  private val q89: Q = (s, dir) =>
    graft.operators.Packing
      .packSequencesStrided(Tables.documents(s, dir), "doc_id", "text",
        seqLen = 64, stride = 32)
      .orderBy(col("seq_idx"))

  private val q89Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS (SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos, w[i] AS token
      |        FROM w, UNNEST(generate_series(1, len(w))) AS t(i)),
      |g AS (SELECT doc_id, token,
      |        ROW_NUMBER() OVER (ORDER BY doc_id, pos) - 1 AS gpos
      |      FROM tok),
      |x AS (SELECT doc_id, token, gpos,
      |        GREATEST(0, (gpos - 32) // 32) AS wlo, gpos // 32 AS whi
      |      FROM g),
      |e AS (SELECT doc_id, token, gpos, t.w AS seq_idx
      |      FROM x, UNNEST(generate_series(wlo, whi)) AS t(w))
      |SELECT seq_idx, COUNT(*) AS n_tokens, COUNT(DISTINCT doc_id) AS n_docs,
      |  string_agg(token, ' ' ORDER BY gpos) AS seq_text
      |FROM e GROUP BY seq_idx ORDER BY seq_idx""".stripMargin

  /** Packed-sequence document-boundary map (q75's attention-mask
    * sidecar): per 64-token window, the ordered doc_id:start:len spans —
    * what a trainer masks cross-document attention from. */
  private val q91: Q = (s, dir) =>
    graft.operators.Packing
      .packBoundaries(Tables.documents(s, dir), "doc_id", "text", seqLen = 64)
      .orderBy(col("seq_idx"))

  private val q91Sql =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |tok AS (SELECT doc_id, CAST(t.i - 1 AS BIGINT) AS pos
      |        FROM w, UNNEST(generate_series(1, len(w))) AS t(i)),
      |g AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id, pos) - 1 AS gpos
      |      FROM tok),
      |d AS (
      |  SELECT gpos // 64 AS seq_idx, doc_id,
      |    MIN(gpos) - (gpos // 64) * 64 AS strt, COUNT(*) AS len
      |  FROM g GROUP BY gpos // 64, doc_id)
      |SELECT seq_idx, COUNT(*) AS n_docs, SUM(len)::BIGINT AS n_tokens,
      |  string_agg(doc_id || ':' || strt || ':' || len, ',' ORDER BY strt) AS boundaries
      |FROM d GROUP BY seq_idx ORDER BY seq_idx""".stripMargin

  /** Deterministic seed-keyed corpus shuffle (the reproducible read order
    * of a training run): md5(seed|id) key + the distributed prefix-sum
    * rank; the oracle states the same rank with ROW_NUMBER. */
  private val q65: Q = (s, dir) =>
    graft.operators.Sampling
      .shuffleRank(Tables.documents(s, dir).select("doc_id"), "doc_id", seed = 42L)
      .orderBy(col("doc_id"))

  private val q65Sql =
    """SELECT doc_id, md5('42|' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
      |  ROW_NUMBER() OVER (ORDER BY md5('42|' || CAST(doc_id AS VARCHAR))) - 1 AS shuffle_rank
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Domain-mixture resampling: per-source keep rates out of 1000 (full /
    * half / fifth / drop tiers over the 20 synthetic sources) — the
    * mixture-reweighting step of a training-mix recipe, on the same md5
    * coin as q53 so the kept set is stable across runs and engines. */
  private val q69: Q = (s, dir) => {
    val rates = (0 until 20).map { i =>
      val r = if (i < 5) 1000 else if (i < 10) 500 else if (i < 15) 200 else 0
      (s"src$i", r)
    }
    Sampling
      .mixtureResample(Tables.documents(s, dir), "doc_id", "source", rates, denom = 1000)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  private val q69Sql =
    """SELECT doc_id, source FROM documents
      |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 <
      |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 1000
      |       WHEN source IN ('src5','src6','src7','src8','src9') THEN 500
      |       WHEN source IN ('src10','src11','src12','src13','src14') THEN 200
      |       ELSE 0 END
      |ORDER BY doc_id""".stripMargin

  /** Held-out n-gram novelty vs the train split: the aggregate
    * memorization-exposure audit (how much of each eval doc's trigram
    * stream already sits in train) — q56 reports the leaking pairs, this
    * reports per-doc exposure including sub-threshold seepage. */
  private val q71: Q = (s, dir) => {
    val sp = Sampling.hashSplit(
      Tables.documents(s, dir), "doc_id", Seq(("train", 90), ("heldout", 10)))
    SetSimilarity
      .gramNovelty(
        sp.filter(col("split") === "train"),
        sp.filter(col("split") === "heldout"),
        "doc_id", "text")
      .orderBy(col("doc_id"))
  }

  private val q71Sql =
    """WITH sp AS (
      |  SELECT doc_id, text,
      |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS b
      |  FROM documents),
      |tr AS (
      |  SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
      |  FROM (SELECT string_split(text, ' ') AS w FROM sp WHERE b < 90),
      |       UNNEST(generate_series(1, len(w)-2)) AS t(i)
      |  WHERE len(w) >= 3),
      |pg AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM sp WHERE b >= 90),
      |       UNNEST(generate_series(1, len(w)-2)) AS t(i)
      |  WHERE len(w) >= 3),
      |st AS (
      |  SELECT pg.doc_id, COUNT(*) AS n_grams,
      |    CAST(SUM(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
      |  FROM pg LEFT JOIN tr ON pg.gram = tr.gram GROUP BY pg.doc_id)
      |SELECT h.doc_id, COALESCE(n_grams, 0) AS n_grams, COALESCE(n_seen, 0) AS n_seen,
      |  CAST(n_grams - n_seen AS DOUBLE) / n_grams AS novelty
      |FROM (SELECT doc_id FROM sp WHERE b >= 90) h LEFT JOIN st USING(doc_id)
      |ORDER BY h.doc_id""".stripMargin

  /** Temperature-flattened language mixture at α = 1/2 (kept counts ∝
    * √c_s): rates derive from the corpus' own source counts via
    * correctly-rounded sqrt/divide — bit-identical doubles in both
    * engines, so the floored integer rates and each md5 keep decision
    * hash-match exactly. */
  private val q84: Q = (s, dir) =>
    Sampling
      .temperatureResample(
        Tables.documents(s, dir), "doc_id", "lang", alpha = 0.5, denom = 1000000)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  private val q84Sql =
    """WITH c AS (SELECT lang, COUNT(*)::BIGINT AS n FROM documents GROUP BY lang),
      |r AS (SELECT lang,
      |  LEAST(1000000, CAST(FLOOR(sqrt((SELECT MIN(n) FROM c) / CAST(n AS DOUBLE)) * 1000000) AS BIGINT)) AS rate
      |  FROM c)
      |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
      |WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000 < r.rate
      |ORDER BY d.doc_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q84_temperature_mix"   -> q84,
    "q69_mixture_resample"  -> q69,
    "q71_gram_novelty"      -> q71,
    "q53_hash_split"        -> q53,
    "q54_clean_pipeline"    -> q54,
    "q55_stratified_sample" -> q55,
    "q56_decontaminate"     -> q56,
    "q60_contamination_flag" -> q60,
    "q64_sequence_pack"     -> q64,
    "q65_shuffle_rank"      -> q65,
    "q75_pack_sequences"    -> q75,
    "q89_strided_windows"   -> q89,
    "q91_pack_boundaries"   -> q91
  )

  val oracles: Map[String, String] = Map(
    "q84_temperature_mix"   -> q84Sql,
    "q69_mixture_resample"  -> q69Sql,
    "q71_gram_novelty"      -> q71Sql,
    "q53_hash_split"        -> q53Sql,
    "q54_clean_pipeline"    -> q54Sql,
    "q55_stratified_sample" -> q55Sql,
    "q56_decontaminate"     -> q56Sql,
    "q60_contamination_flag" -> q60Sql,
    "q64_sequence_pack"     -> q64Sql,
    "q65_shuffle_rank"      -> q65Sql,
    "q75_pack_sequences"    -> q75Sql,
    "q89_strided_windows"   -> q89Sql,
    "q91_pack_boundaries"   -> q91Sql
  )
}
