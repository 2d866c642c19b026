package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable._
import graft.operators.Climatology

/** Seasonal climatology + the scalar string/date/math function surface the
  * reference uses (SURVEY §2.7): filename↔date codecs, component
  * timestamps, WKT serialization, clamp, Euclidean distance, ISO
  * formatting, regex extraction.
  */
object FunctionQueries {

  type Q = (SparkSession, String) => DataFrame

  /** A7 seasonal: meteorological-season climatology (DJF/MAM/JJA/SON). */
  private val q33: Q = (s, dir) =>
    Climatology
      .temporalMean(Tables.events(s, dir), "ts", "value", "season", Seq("event_type"))
      .orderBy(col("span_start"), col("event_type"))

  private val q33Sql =
    """SELECT strftime(date_trunc('quarter', ts + INTERVAL 1 MONTH) - INTERVAL 1 MONTH,
      |                '%Y-%m-%d') AS span_start, event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS mean_value,
      |  COUNT(value) AS valid_count,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY span_start, event_type""".stripMargin

  /** A7 seasonal with the reference tool's EXACT boundaries: spans end on
    * the 20th of Mar/Jun/Sep/Dec and the first span is clipped to the
    * data's coverage start (`tools/climatology/main.py:194-210`). The
    * boundary is data-dependent (coverage start), so the oracle carries
    * the same GREATEST(min-over-all, 20-day-shifted quarter) arithmetic. */
  private val q51: Q = (s, dir) =>
    Climatology
      .temporalMean(Tables.events(s, dir), "ts", "value", "seasonal-ref", Seq("event_type"))
      .orderBy(col("span_start"), col("event_type"))

  private val q51Sql =
    """WITH t AS (
      |  SELECT *, GREATEST(
      |      date_trunc('quarter', ts - INTERVAL 20 DAY + INTERVAL 1 MONTH)
      |        - INTERVAL 1 MONTH + INTERVAL 20 DAY,
      |      MIN(ts) OVER ()) AS span_ts
      |  FROM events)
      |SELECT strftime(span_ts, '%Y-%m-%d') AS span_start, event_type,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(value) AS mean_value,
      |  COUNT(value) AS valid_count,
      |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
      |FROM t
      |GROUP BY 1, 2
      |ORDER BY span_start, event_type""".stripMargin

  /** §2.7 scalar function surface, one row per order: granule-style
    * filename build + parse-back, component timestamp assembly, WKT bbox
    * serialization (decimal-string coordinates), clamp, Euclidean distance,
    * ISO-8601 formatting, trailing-digit regex extraction. */
  private val q34: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val fname = concat(lit("oco3_LtCO2_"), date_format(col("o_orderdate"), "yyyyMMdd"), lit("_B10400Br.nc4"))
    // miny derives by exact decimal arithmetic — dividing the double by 2
    // would land exactly on .xx5 decimal boundaries where Spark and DuckDB
    // round double→decimal differently (see Portable.scala)
    val minx = col("o_totalprice").cast("decimal(18,2)")
    val miny = (col("o_totalprice").cast("decimal(18,2)") - 100).cast("decimal(18,2)")
    o.select(
        col("o_orderkey"),
        fname.as("granule_name"),
        to_date(regexp_extract(fname, "_(\\d{8})_", 1), "yyyyMMdd").as("parsed_day"),
        date_format(
          make_timestamp(
            year(col("o_orderdate")), month(col("o_orderdate")), dayofmonth(col("o_orderdate")),
            lit(12), lit(30), lit(15.0)),
          "yyyy-MM-dd'T'HH:mm:ss").as("component_ts"),
        concat(
          lit("POLYGON (("), minx, lit(" "), miny, lit(", "), minx, lit(" "),
          (miny + 1).cast("decimal(18,2)"), lit("))")).as("bbox_wkt"),
        least(greatest(col("o_totalprice") / 100000, lit(1.0)), lit(1.5)).as("clamped_scale"),
        sqrt(
          (col("o_totalprice") / 1000) * (col("o_totalprice") / 1000) +
            col("o_custkey") * col("o_custkey")).as("euclid"),
        regexp_extract(col("o_orderpriority"), "(\\d+)", 1).as("priority_num")
      )
      .orderBy(col("o_orderkey"))
  }

  private val q34Sql =
    """SELECT o_orderkey,
      |  'oco3_LtCO2_' || strftime(o_orderdate, '%Y%m%d') || '_B10400Br.nc4' AS granule_name,
      |  CAST(strptime(regexp_extract(
      |    'oco3_LtCO2_' || strftime(o_orderdate, '%Y%m%d') || '_B10400Br.nc4',
      |    '_(\d{8})_', 1), '%Y%m%d') AS DATE) AS parsed_day,
      |  strftime(make_timestamp(CAST(year(o_orderdate) AS BIGINT),
      |    CAST(month(o_orderdate) AS BIGINT), CAST(day(o_orderdate) AS BIGINT),
      |    12, 30, 15.0), '%Y-%m-%dT%H:%M:%S') AS component_ts,
      |  'POLYGON ((' || CAST(o_totalprice AS DECIMAL(18,2)) || ' ' ||
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) - 100 AS DECIMAL(18,2)) || ', ' ||
      |    CAST(o_totalprice AS DECIMAL(18,2)) || ' ' ||
      |    CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) - 100 AS DECIMAL(18,2)) + 1
      |         AS DECIMAL(18,2)) || '))'
      |    AS bbox_wkt,
      |  least(greatest(o_totalprice / 100000, 1.0), 1.5) AS clamped_scale,
      |  sqrt((o_totalprice / 1000) * (o_totalprice / 1000) + o_custkey * o_custkey)
      |    AS euclid,
      |  regexp_extract(o_orderpriority, '(\d+)', 1) AS priority_num
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin

  /** Z-order (Morton) clustering key — the write-layout sort key for
    * 2-D data skipping (`ProductStore.compact`'s z-order). The oracle
    * reproduces the parallel-prefix bit spread with DuckDB's own bitwise
    * arithmetic, so the codegen'd Catalyst expression is cross-engine
    * hash-gated bit for bit. */
  private val q103: Q = (s, dir) =>
    Tables.lineitem(s, dir).select(
      col("l_orderkey"),
      col("l_linenumber"),
      graft.functions.ZOrder2(
        pmod(col("l_partkey"), lit(1024)),
        pmod(col("l_suppkey"), lit(1024))).as("zval"))

  private val q103Sql =
    """WITH b AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(l_partkey % 1024 AS BIGINT) AS x0,
      |    CAST(l_suppkey % 1024 AS BIGINT) AS y0
      |  FROM lineitem),
      |s1 AS (SELECT l_orderkey, l_linenumber,
      |  ((x0 | (x0 << 16)) & 281470681808895) AS x1,
      |  ((y0 | (y0 << 16)) & 281470681808895) AS y1 FROM b),
      |s2 AS (SELECT l_orderkey, l_linenumber,
      |  ((x1 | (x1 << 8)) & 71777214294589695) AS x2,
      |  ((y1 | (y1 << 8)) & 71777214294589695) AS y2 FROM s1),
      |s3 AS (SELECT l_orderkey, l_linenumber,
      |  ((x2 | (x2 << 4)) & 1085102592571150095) AS x3,
      |  ((y2 | (y2 << 4)) & 1085102592571150095) AS y3 FROM s2),
      |s4 AS (SELECT l_orderkey, l_linenumber,
      |  ((x3 | (x3 << 2)) & 3689348814741910323) AS x4,
      |  ((y3 | (y3 << 2)) & 3689348814741910323) AS y4 FROM s3),
      |s5 AS (SELECT l_orderkey, l_linenumber,
      |  ((x4 | (x4 << 1)) & 6148914691236517205) AS x5,
      |  ((y4 | (y4 << 1)) & 6148914691236517205) AS y5 FROM s4)
      |SELECT l_orderkey, l_linenumber, (x5 | (y5 << 1)) AS zval FROM s5""".stripMargin

  val queries: Map[String, Q] = Map(
    "q33_climatology_seasonal" -> q33,
    "q34_scalar_functions"     -> q34,
    "q51_climatology_seasonal_ref" -> q51,
    "q103_zorder_key"          -> q103
  )

  val oracles: Map[String, String] = Map(
    "q33_climatology_seasonal" -> q33Sql,
    "q34_scalar_functions"     -> q34Sql,
    "q51_climatology_seasonal_ref" -> q51Sql,
    "q103_zorder_key"          -> q103Sql
  )
}
