package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable._
import graft.operators.{Checksum, Climatology}

/** Aggregation-family coverage (SURVEY §2.5: climatology A7/A8, rollups A10,
  * coverage A6, checksum A12; §2.8 sort/limit).
  */
object AggregateQueries {

  type Q = (SparkSession, String) => DataFrame

  /** A7: monthly climatology — per (month, event_type) temporal mean,
    * valid count, distinct active days. */
  private val q12: Q = (s, dir) =>
    Climatology
      .temporalMean(Tables.events(s, dir), "ts", "value", "month", Seq("event_type"))
      .orderBy(col("span_start"), col("event_type"))

  private val q12Sql =
    """SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS span_start, event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS mean_value,
      |  COUNT(value) AS valid_count,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY span_start, event_type""".stripMargin

  /** A8: monthly-consolidated climatology — mean of monthly means per
    * month-of-year (explicitly NOT mean of days). */
  private val q13: Q = (s, dir) => {
    val monthly = Climatology.temporalMean(Tables.events(s, dir), "ts", "value", "month", Seq("event_type"))
    Climatology
      .consolidateMonthly(monthly, Seq("event_type"))
      .orderBy(col("month_of_year"), col("event_type"))
  }

  private val q13Sql =
    """WITH monthly AS (
      |  SELECT strftime(date_trunc('month', ts), '%Y-%m-%d') AS span_start, event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS mean_value,
      |    COUNT(value) AS valid_count,
      |    COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
      |  FROM events GROUP BY 1, 2)
      |SELECT CAST(MONTH(CAST(span_start AS DATE)) AS INT) AS month_of_year, event_type,
      |  list_reduce(list(mean_value ORDER BY span_start), (a,b) -> a + b) / COUNT(mean_value) AS mean_of_means,
      |  CAST(SUM(valid_count) AS BIGINT) AS valid_count,
      |  CAST(SUM(n_days) AS BIGINT) AS n_days
      |FROM monthly
      |GROUP BY 1, 2
      |ORDER BY month_of_year, event_type""".stripMargin

  /** A10: hierarchical rollup — per (event_type, user_id) with subtotal and
    * grand-total rows in one pass. */
  private val q14: Q = (s, dir) =>
    Tables
      .events(s, dir)
      .rollup(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum2fast(col("value")).as("total_value"))
      .orderBy(col("event_type").asc_nulls_first, col("user_id").asc_nulls_first)

  private val q14Sql =
    """SELECT event_type, user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY ROLLUP(event_type, user_id)
      |ORDER BY event_type NULLS FIRST, user_id NULLS FIRST""".stripMargin

  /** Top-k with deterministic tie-break (§2.8: the rank-1 argmin family). */
  private val q15: Q = (s, dir) =>
    Tables
      .orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("o_totalprice"),
        col("o_orderdate").cast("date").as("order_date"))

  private val q15Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 20""".stripMargin

  /** A6: coverage window — store-level min/max time + cardinalities. */
  private val q16: Q = (s, dir) =>
    Tables
      .events(s, dir)
      .agg(
        tsStr(min(col("ts"))).as("coverage_start"),
        tsStr(max(col("ts"))).as("coverage_end"),
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"))

  private val q16Sql =
    """SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS coverage_start,
      |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS coverage_end,
      |  COUNT(*) AS n_rows, COUNT(DISTINCT user_id) AS n_users
      |FROM events""".stripMargin

  /** A12: order-sensitive store fingerprint (golden-output compare). */
  private val q17: Q = (s, dir) =>
    Checksum.merkle(
      Tables.events(s, dir),
      "event_id",
      md5(concat_ws("|", col("event_id"), col("user_id"), col("event_type")).cast("binary")))

  private val q17Sql =
    """WITH h AS (
      |  SELECT event_id, md5(concat_ws('|', event_id, user_id, event_type)) AS rh
      |  FROM events),
      |blk AS (
      |  SELECT substr(rh, 1, 4) AS b, COUNT(*) AS n,
      |    md5(string_agg(rh, '' ORDER BY event_id)) AS bh
      |  FROM h GROUP BY b)
      |SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
      |  md5(string_agg(bh, '' ORDER BY b)) AS checksum
      |FROM blk""".stripMargin

  /** Long→wide pivot: per-user event-type totals as columns. Fixed pivot
    * values keep the schema static and the plan a single hash aggregate. */
  private val q41: Q = (s, dir) =>
    Tables
      .events(s, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum2fast(col("value")))
      .orderBy(col("user_id"))

  private val q41Sql =
    """SELECT user_id,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Exact grouped quantiles (p50/p90/p99 of value per event_type) with
    * explicit linear interpolation — identical arithmetic in the oracle. */
  private val q50: Q = (s, dir) =>
    graft.operators.Quantiles
      .exact(Tables.events(s, dir), Seq("event_type"), "value", Seq(0.5, 0.9, 0.99))
      .orderBy(col("event_type"), col("p"))

  private val q50Sql =
    """WITH r AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) - 1 AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL),
      |e AS (
      |  SELECT r.*, p.p, p.p * (n - 1) AS pos
      |  FROM r CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)), (CAST(0.9 AS DOUBLE)),
      |                            (CAST(0.99 AS DOUBLE))) p(p)
      |  WHERE rn = CAST(FLOOR(p.p * (n - 1)) AS BIGINT)
      |     OR rn = CAST(CEIL(p.p * (n - 1)) AS BIGINT)),
      |g AS (
      |  SELECT event_type, p,
      |    MAX(CASE WHEN rn = CAST(FLOOR(pos) AS BIGINT) THEN value END) AS vlo,
      |    MAX(CASE WHEN rn = CAST(CEIL(pos) AS BIGINT) THEN value END) AS vhi,
      |    MAX(pos) AS pos
      |  FROM e GROUP BY event_type, p)
      |SELECT event_type, p, vlo + (vhi - vlo) * (pos - FLOOR(pos)) AS q
      |FROM g ORDER BY event_type, p""".stripMargin

  /** HyperLogLog distinct-part sketch per returnflag (p=6 → 64
    * registers): the full register table joined with the raw-estimator
    * summary — registers, non-empty count, and the estimate itself all
    * hash-gate ([[graft.operators.Sketches]] portability contract). */
  private val q87: Q = (s, dir) => {
    val regs = graft.operators.Sketches.hllRegisters(
      Tables.lineitem(s, dir), Seq("l_returnflag"), col("l_partkey"), p = 6)
    graft.operators.Sketches
      .hllEstimate(regs, Seq("l_returnflag"), p = 6, keepRegisters = true)
      .select(col("l_returnflag"), col("register"), col("rho"),
        col("n_registers"), col("estimate"))
      .orderBy(col("l_returnflag"), col("register"))
  }

  private val q87Sql =
    """WITH h AS (
      |  SELECT l_returnflag AS flag,
      |    ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h
      |  FROM lineitem),
      |r AS (
      |  SELECT flag, CAST(h % 64 AS INT) AS register,
      |    CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho0
      |  FROM h),
      |regs AS (
      |  SELECT flag, register, CAST(MAX(rho0) AS BIGINT) AS rho
      |  FROM r GROUP BY 1, 2),
      |a AS (
      |  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_registers, MAX(rho) AS max_rho
      |  FROM regs GROUP BY 1),
      |sden AS (
      |  SELECT regs.flag,
      |    SUM(1::BIGINT << CAST(a.max_rho - regs.rho AS INT)) AS s_nonzero
      |  FROM regs JOIN a USING (flag) GROUP BY 1),
      |e AS (
      |  SELECT a.flag, a.n_registers,
      |    round(0.709 * 4096.0 * pow(2.0, a.max_rho) /
      |      CAST(sden.s_nonzero
      |           + (64 - a.n_registers) * (1::BIGINT << CAST(a.max_rho AS INT))
      |           AS DOUBLE), 6) AS estimate
      |  FROM a JOIN sden USING (flag))
      |SELECT regs.flag AS l_returnflag, regs.register, regs.rho,
      |  e.n_registers, e.estimate
      |FROM regs JOIN e USING (flag)
      |ORDER BY l_returnflag, register""".stripMargin

  /** HLL lossless-merge law, oracle-gated: the corpus splits into
    * orderkey-parity halves, each half sketches independently, the
    * sketches merge by register-wise max — and the ORACLE computes the
    * whole-corpus sketch directly (q87's SQL verbatim), so the hash
    * match IS the merge law `sketch(A ∪ B) = merge(sketch(A),
    * sketch(B))` proven cross-engine. This is the shape a 100 TB
    * deployment runs: per-partition/per-day sketches folded into the
    * corpus cardinality without ever re-scanning. */
  private val q90: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    def half(r: Int) = graft.operators.Sketches.hllRegisters(
      li.filter(pmod(col("l_orderkey"), lit(2)) === r),
      Seq("l_returnflag"), col("l_partkey"), p = 6)
    graft.operators.Sketches
      .hllEstimate(
        graft.operators.Sketches.hllMergeRegisters(half(0), half(1)),
        Seq("l_returnflag"), p = 6, keepRegisters = true)
      .select(col("l_returnflag"), col("register"), col("rho"),
        col("n_registers"), col("estimate"))
      .orderBy(col("l_returnflag"), col("register"))
  }

  /** Count-Min Sketch point queries over the corpus token stream
    * (depth 3 × width 256): every distinct token's CMS estimate next to
    * its true count — integer-exact registers AND estimates, so the
    * whole surface hash-gates; the never-underestimates law is visible
    * in the output itself. */
  private val q95: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val regs  = graft.operators.Sketches.cmsRegisters(toks, Nil, col("token"), depth = 3, width = 256)
    val truth = toks.groupBy(col("token")).agg(count(lit(1)).as("true_count"))
    graft.operators.Sketches
      .cmsEstimate(regs, Nil, truth.select(col("token")), "token", depth = 3, width = 256)
      .join(truth, Seq("token"))
      .select(col("token"), col("true_count"), col("cms_count"))
      .orderBy(col("token"))
  }

  private val q95Sql =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |reg AS (
      |  SELECT d.d AS depth,
      |    ('0x' || substr(md5(d.d::VARCHAR || '|' || token), 1, 15))::BIGINT % 256 AS bucket,
      |    COUNT(*) AS cnt
      |  FROM toks CROSS JOIN UNNEST(generate_series(0, 2)) AS d(d)
      |  GROUP BY 1, 2),
      |tc AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS true_count FROM toks GROUP BY 1),
      |est AS (
      |  SELECT t.token, MIN(COALESCE(r.cnt, 0)) AS cms_count
      |  FROM tc t CROSS JOIN UNNEST(generate_series(0, 2)) AS d(d)
      |  LEFT JOIN reg r ON r.depth = d.d
      |    AND r.bucket = ('0x' || substr(md5(d.d::VARCHAR || '|' || t.token), 1, 15))::BIGINT % 256
      |  GROUP BY t.token)
      |SELECT t.token, t.true_count, CAST(e.cms_count AS BIGINT) AS cms_count
      |FROM tc t JOIN est e USING (token)
      |ORDER BY token""".stripMargin

  /** CMS lossless-merge law, oracle-gated like q90: parity-half token
    * streams sketch independently and merge by elementwise sum; the
    * oracle computes the whole-corpus registers directly. */
  private val q96: Q = (s, dir) => {
    def half(r: Int) = graft.operators.Sketches.cmsRegisters(
      Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(2)) === r)
        .select(explode(split(col("text"), " ")).as("token")),
      Nil, col("token"), depth = 3, width = 256)
    graft.operators.Sketches
      .cmsMergeRegisters(half(0), half(1))
      .orderBy(col("depth"), col("bucket"))
  }

  private val q96Sql =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
      |reg AS (
      |  SELECT d.d AS depth,
      |    ('0x' || substr(md5(d.d::VARCHAR || '|' || token), 1, 15))::BIGINT % 256 AS bucket,
      |    COUNT(*) AS cnt
      |  FROM toks CROSS JOIN UNNEST(generate_series(0, 2)) AS d(d)
      |  GROUP BY 1, 2)
      |SELECT CAST(depth AS INT) AS depth, bucket, CAST(cnt AS BIGINT) AS cnt
      |FROM reg ORDER BY depth, bucket""".stripMargin

  /** HLL set-overlap estimation (inclusion–exclusion over the merge
    * law): two overlapping orderkey slices sketch their distinct parts
    * independently; |A∩B| ≈ est(A)+est(B)−est(A∪B) with the union
    * sketch free via register-wise max — how two corpora's dedup
    * potential is sized WITHOUT a join. Estimates and the subtraction
    * are the portable 6 dp doubles, so the row hash-gates. */
  private val q97: Q = (s, dir) => {
    val li = Tables.lineitem(s, dir)
    def slice(ks: Seq[Int]) = graft.operators.Sketches.hllRegisters(
      li.filter(pmod(col("l_orderkey"), lit(3)).isin(ks.map(Integer.valueOf): _*)),
      Seq("l_returnflag"), col("l_partkey"), p = 6)
    graft.operators.Sketches
      .hllIntersectionEstimate(slice(Seq(0, 1)), slice(Seq(1, 2)), Seq("l_returnflag"), p = 6)
      .orderBy(col("l_returnflag"))
  }

  private val q97Sql = {
    def chain(name: String, src: String): String =
      s"""h_$name AS (
        |  SELECT l_returnflag AS flag,
        |    ('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT AS h
        |  FROM $src),
        |r_$name AS (
        |  SELECT flag, CAST(h % 64 AS INT) AS register,
        |    CASE WHEN h // 64 = 0 THEN 55 ELSE 55 - length(bin(h // 64)) END AS rho0
        |  FROM h_$name),
        |regs_$name AS (
        |  SELECT flag, register, CAST(MAX(rho0) AS BIGINT) AS rho
        |  FROM r_$name GROUP BY 1, 2)""".stripMargin
    def estOf(name: String, regsSrc: String): String =
      s"""a_$name AS (
        |  SELECT flag, CAST(COUNT(*) AS BIGINT) AS nnz, MAX(rho) AS maxm
        |  FROM $regsSrc GROUP BY 1),
        |s_$name AS (
        |  SELECT q.flag, SUM(1::BIGINT << CAST(a.maxm - q.rho AS INT)) AS sn
        |  FROM $regsSrc q JOIN a_$name a USING (flag) GROUP BY 1),
        |e_$name AS (
        |  SELECT a.flag,
        |    round(0.709 * 4096.0 * pow(2.0, a.maxm) /
        |      CAST(s.sn + (64 - a.nnz) * (1::BIGINT << CAST(a.maxm AS INT)) AS DOUBLE),
        |      6) AS est
        |  FROM a_$name a JOIN s_$name s USING (flag))""".stripMargin
    s"""WITH ${chain("a", "lineitem WHERE l_orderkey % 3 IN (0, 1)")},
      |${chain("b", "lineitem WHERE l_orderkey % 3 IN (1, 2)")},
      |regs_u AS (
      |  SELECT flag, register, MAX(rho) AS rho
      |  FROM (SELECT * FROM regs_a UNION ALL SELECT * FROM regs_b)
      |  GROUP BY 1, 2),
      |${estOf("a", "regs_a")},
      |${estOf("b", "regs_b")},
      |${estOf("u", "regs_u")}
      |SELECT e_a.flag AS l_returnflag, e_a.est AS est_a, e_b.est AS est_b,
      |  e_u.est AS est_union, round(e_a.est + e_b.est - e_u.est, 6) AS est_intersection
      |FROM e_a JOIN e_b USING (flag) JOIN e_u USING (flag)
      |ORDER BY l_returnflag""".stripMargin
  }

  /** CMS-backed heavy hitters per language: every token whose true count
    * clears the floor, with its exact count — the sketch filters rows
    * BEFORE the exact groupBy (CMS never underestimates, so no heavy
    * hitter is lost), and the oracle is the plain GROUP BY … HAVING the
    * operator provably equals. Completes the sketch tier:
    * HLL = cardinality (q87), CMS = point query (q95), this = top of
    * the distribution. */
  private val q98: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
    graft.operators.Sketches
      .cmsHeavyHitters(toks, Seq("lang"), col("token"), depth = 3, width = 256, minCount = 200L)
      .orderBy(col("lang"), col("value"))
  }

  private val q98Sql =
    """SELECT lang, token AS value, CAST(COUNT(*) AS BIGINT) AS n
      |FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY 1, 2 HAVING COUNT(*) >= 200
      |ORDER BY lang, value""".stripMargin

  /** Ranked top-k per group over the heavy set (q98 + deterministic rank):
    * the window runs over the sketch-bounded heavy set only, never the
    * distinct-token set, so the oracle is ROW_NUMBER over the same
    * GROUP BY … HAVING. */
  private val q101: Q = (s, dir) => {
    val toks = Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
    graft.operators.Sketches
      .cmsTopK(toks, Seq("lang"), col("token"), depth = 3, width = 256,
        minCount = 100L, k = 5)
      .orderBy(col("lang"), col("rank"))
  }

  private val q101Sql =
    """WITH hh AS (
      |  SELECT lang, token AS value, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 100)
      |SELECT lang, value, n,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, value ASC) AS INT) AS rank
      |FROM hh QUALIFY rank <= 5
      |ORDER BY lang, rank""".stripMargin

  /** A7 incremental: day-grain exact-sum state maintained across three
    * ingest batches (the third a REPEAT of the second — day-partition
    * overwrite converges), then folded to monthly means. Oracle is the
    * plain full-recompute SQL (q12's), so the hash match proves the
    * incremental path is bit-identical to recomputation AND idempotent
    * under re-ingest. */
  private val q102: Q = (s, dir) => {
    val ev    = Tables.events(s, dir)
    val state = Tables.scratchDir("climo-state").toString
    val isOdd = dayofmonth(col("ts")) % 2 === 1
    graft.operators.Climatology.updateDailyState(ev.filter(!isOdd), "ts", "value", Seq("event_type"), state)
    graft.operators.Climatology.updateDailyState(ev.filter(isOdd), "ts", "value", Seq("event_type"), state)
    graft.operators.Climatology.updateDailyState(ev.filter(isOdd), "ts", "value", Seq("event_type"), state)
    graft.operators.Climatology.meansFromState(s, state, "month", Seq("event_type"))
      .orderBy(col("span_start"), col("event_type"))
  }

  val queries: Map[String, Q] = Map(
    "q102_incremental_climatology" -> q102,
    "q101_cms_topk"               -> q101,
    "q98_heavy_hitters"           -> q98,
    "q97_hll_overlap"             -> q97,
    "q95_cms_counts"              -> q95,
    "q96_cms_merge"               -> q96,
    "q90_hll_merge"               -> q90,
    "q87_hll_sketch"              -> q87,
    "q50_quantiles"               -> q50,
    "q41_pivot_wide"              -> q41,
    "q12_climatology_monthly"     -> q12,
    "q13_climatology_consolidated" -> q13,
    "q14_rollup"                  -> q14,
    "q15_topk"                    -> q15,
    "q16_coverage"                -> q16,
    "q17_merkle_checksum"         -> q17
  )

  val oracles: Map[String, String] = Map(
    "q102_incremental_climatology" -> q12Sql, // full recompute == incremental state fold
    "q101_cms_topk"               -> q101Sql,
    "q98_heavy_hitters"           -> q98Sql,
    "q97_hll_overlap"             -> q97Sql,
    "q95_cms_counts"              -> q95Sql,
    "q96_cms_merge"               -> q96Sql, // merge law: whole-corpus registers
    "q90_hll_merge"               -> q87Sql, // merge law: whole-corpus sketch
    "q87_hll_sketch"              -> q87Sql,
    "q50_quantiles"               -> q50Sql,
    "q41_pivot_wide"              -> q41Sql,
    "q12_climatology_monthly"     -> q12Sql,
    "q13_climatology_consolidated" -> q13Sql,
    "q14_rollup"                  -> q14Sql,
    "q15_topk"                    -> q15Sql,
    "q16_coverage"                -> q16Sql,
    "q17_merkle_checksum"         -> q17Sql
  )
}
