package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation: salted two-phase aggregation.
  *
  * For heavy-hitter grouping keys (one target observed daily for years, one
  * document hash duplicated millions of times), a plain groupBy funnels the
  * hot key through one reducer. Salting splits each key into `buckets`
  * sub-keys aggregated in parallel, then combines partials — bounded by the
  * algebraic (partial/final) form of the aggregates.
  *
  * AQE's skew-join handling (`spark.sql.adaptive.skewJoin`) covers the join
  * case at runtime; this helper covers aggregation skew, which AQE does not
  * re-balance.
  */
object Skew {

  /** Salted sum/count-style aggregation: `aggs` maps output column name →
    * (partial aggregate over the salted groups, final combiner over the
    * partials). The salt is deterministic (hash of all columns' join with
    * monotonically varying id is NOT reproducible — use pmod of a stable
    * row hash), so re-runs produce identical partials. */
  private def saltedAggregate(
      df: DataFrame,
      keyCols: Seq[String],
      saltSource: Column,
      buckets: Int,
      partial: Seq[(String, Column)],
      finalAgg: Seq[(String, Column)]): DataFrame = {
    val salted = df.withColumn("_salt", pmod(hash(saltSource), lit(buckets)))
    val part = salted
      .groupBy((keyCols :+ "_salt").map(col): _*)
      .agg(partial.head._2.as(partial.head._1), partial.tail.map { case (n, c) => c.as(n) }: _*)
    part
      .groupBy(keyCols.map(col): _*)
      .agg(finalAgg.head._2.as(finalAgg.head._1), finalAgg.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Convenience: salted exact decimal sum + count per key (the common
    * hot-key rollup), identical results to the unsalted form. */
  def saltedSumCount(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      saltSource: Column,
      buckets: Int = 16): DataFrame =
    saltedAggregate(
      df,
      keyCols,
      saltSource,
      buckets,
      partial = Seq(
        "_psum" -> sum(col(valueCol).cast("decimal(28,2)")),
        "_pcnt" -> count(lit(1))),
      finalAgg = Seq(
        "total" -> sum(col("_psum")).cast("double"),
        "n"     -> sum(col("_pcnt"))))
}
