package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Portable._
import graft.operators.{Dedup, Sessionize}

/** Sessionization / ordered-stream operator coverage (SURVEY §2.3 R1-R5,
  * §2.8 keep-first dedup) on the `events` table.
  *
  * The `events` stream stands in for the ordered sounding table: `event_id`
  * is the explicit physical order (`sounding_index`), `event_type` plays
  * `operation_mode`, `user_id` plays `target_id`.
  */
object SessionQueries {

  type Q = (SparkSession, String) => DataFrame

  /** R1: run detection — contiguous runs of (user_id, event_type) in
    * event_id order become regions; one summary row per region. */
  private val q07: Q = (s, dir) => {
    Sessionize
      .regions(
        Tables.events(s, dir).select("event_id", "user_id", "event_type"),
        col("event_id"),
        Seq("user_id", "event_type"))
      .groupBy(col("region_id"))
      .agg(
        min(col("user_id")).as("user_id"),
        min(col("event_type")).as("event_type"),
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy(col("region_id"))
  }

  private val q07Sql =
    """WITH b AS (
      |  SELECT event_id, user_id, event_type,
      |    CASE WHEN user_id IS DISTINCT FROM lag(user_id) OVER w
      |           OR event_type IS DISTINCT FROM lag(event_type) OVER w
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (ORDER BY event_id)),
      |r AS (SELECT *, CAST(SUM(brk) OVER (ORDER BY event_id) - 1 AS BIGINT) AS region_id FROM b)
      |SELECT region_id, MIN(user_id) AS user_id, MIN(event_type) AS event_type,
      |  COUNT(*) AS n_events, MIN(event_id) AS first_event, MAX(event_id) AS last_event
      |FROM r GROUP BY region_id ORDER BY region_id""".stripMargin

  /** Time-gap sessionization per user (30-minute inactivity gap): the walk
    * orders by whole epoch seconds, so a gap is DuckDB's
    * date_diff('second', ...). */
  private val q08: Q = (s, dir) => {
    Sessionize
      .regions(
        Tables.events(s, dir).select("user_id", "ts", "value"),
        unix_timestamp(col("ts")),
        Nil,
        Seq("user_id"),
        margin = Some(1800),
        regionCol = "session_id")
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum2fast(col("value")).as("session_value"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts")))).as("duration_s"),
        tsStr(min(col("ts"))).as("session_start"))
      .orderBy(col("user_id"), col("session_id"))
  }

  private val q08Sql =
    """WITH b AS (
      |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
      |                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |r AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT)
      |        AS session_id
      |      FROM b)
      |SELECT user_id, session_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value,
      |  date_diff('second', MIN(ts), MAX(ts)) AS duration_s,
      |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      |FROM r GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  /** R1+R2: mode-filtered run detection with the reference's margin merge —
    * runs of the "interesting modes" separated by ≤ 2 positions of other
    * traffic merge into one region (`OCO3SamProcessor.py:365-376`). */
  private val q09: Q = (s, dir) => {
    Sessionize
      .regions(
        Tables.events(s, dir).select("event_id", "event_type"),
        col("event_id"),
        Seq("event_type"),
        margin = Some(2),
        keep = col("event_type").isin("purchase", "error"))
      .groupBy(col("region_id"))
      .agg(
        min(col("event_type")).as("event_type"),
        count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy(col("region_id"))
  }

  private val q09Sql =
    """WITH f AS (SELECT event_id, event_type FROM events
      |           WHERE event_type IN ('purchase','error')),
      |b AS (
      |  SELECT *, CASE WHEN event_type IS DISTINCT FROM lag(event_type) OVER w
      |                   OR event_id - lag(event_id) OVER w > 2
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM f WINDOW w AS (ORDER BY event_id)),
      |r AS (SELECT *, CAST(SUM(brk) OVER (ORDER BY event_id) - 1 AS BIGINT) AS region_id FROM b)
      |SELECT region_id, MIN(event_type) AS event_type, COUNT(*) AS n_events,
      |  MIN(event_id) AS first_event, MAX(event_id) AS last_event
      |FROM r GROUP BY region_id ORDER BY region_id""".stripMargin

  /** S8 keep-first dedup: first event per (user_id, event_type) in
    * event_id order — the append-dim `drop_duplicates(keep='first')`. */
  private val q10: Q = (s, dir) => {
    Dedup
      .keepFirst(Tables.events(s, dir), Seq("user_id", "event_type"), "event_id")
      .select(
        col("event_id"),
        col("user_id"),
        col("event_type"),
        col("value"),
        col("ts").cast("date").as("day"))
      .orderBy(col("event_id"))
  }

  private val q10Sql =
    """WITH r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                               ORDER BY event_id) AS rn
      |  FROM events)
      |SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS day
      |FROM r WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Running cumulative sum per user (ordered window frame; exact decimal
    * accumulation so both engines agree bit-for-bit). */
  private val q11: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    Tables
      .events(s, dir)
      .select(
        col("event_id"),
        col("user_id"),
        row_number().over(w).as("rn"),
        sum(dec2(col("value"))).over(w).cast("double").as("cum_value"))
      .orderBy(col("event_id"))
  }

  private val q11Sql =
    """SELECT event_id, user_id,
      |  ROW_NUMBER() OVER w AS rn,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS cum_value
      |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
      |ORDER BY event_id""".stripMargin

  val queries: Map[String, Q] = Map(
    "q07_sessionize_runs"   -> q07,
    "q08_sessionize_gap"    -> q08,
    "q09_session_margin"    -> q09,
    "q10_dedup_keepfirst"   -> q10,
    "q11_running_window"    -> q11
  )

  val oracles: Map[String, String] = Map(
    "q07_sessionize_runs"   -> q07Sql,
    "q08_sessionize_gap"    -> q08Sql,
    "q09_session_margin"    -> q09Sql,
    "q10_dedup_keepfirst"   -> q10Sql,
    "q11_running_window"    -> q11Sql
  )
}
