package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact grouped quantiles with linear interpolation — the data-quality
  * primitive behind length/score distribution gates in training-data
  * pipelines.
  *
  * The interpolation is spelled out (pos = p·(n−1); q = v_lo +
  * (v_hi − v_lo)·frac) rather than delegated to an engine's `percentile`,
  * so the arithmetic is identical text in Spark and the SQL oracle —
  * built-in percentile implementations differ in interpolation form across
  * engines and are not hash-portable.
  *
  * Scale note: exact quantiles sort each group once (one window scan per
  * group partition) — correct and parallel across groups, but a 100 TB
  * single group should use a sketch (approx_percentile) and reserve this
  * as the oracle-able baseline; same exact-vs-scale pairing as
  * brute-force vs LSH top-k. */
object Quantiles {

  /** One row per (group, p): the exact linearly-interpolated quantile. */
  def exact(df: DataFrame, groupCols: Seq[String], valueCol: String, ps: Seq[Double]): DataFrame = {
    val part   = Window.partitionBy(groupCols.map(col): _*)
    val w      = part.orderBy(col(valueCol))
    val ranked = df
      .select((groupCols :+ valueCol).map(col): _*)
      .filter(col(valueCol).isNotNull)
      .withColumn("_rn", row_number().over(w).cast("long") - 1)
      .withColumn("_n", count(lit(1)).over(part))
    val pArr = array(ps.map(lit): _*)
    def isBoundary(p: org.apache.spark.sql.Column) = {
      val pos = p * (col("_n") - lit(1))
      col("_rn") === floor(pos) || col("_rn") === ceil(pos)
    }
    val pos = col("p") * (col("_n") - lit(1))
    ranked
      // drop non-boundary rows BEFORE the ×|ps| explode: only ≤ 2|ps| rows
      // per group survive, so the explode runs over O(groups·|ps|) rows
      // instead of every ranked row
      .filter(exists(pArr, isBoundary))
      .withColumn("p", explode(pArr))
      .filter(isBoundary(col("p")))
      .withColumn("_pos", pos)
      .groupBy((groupCols :+ "p").map(col): _*)
      .agg(
        max(when(col("_rn") === floor(col("_pos")), col(valueCol))).as("_vlo"),
        max(when(col("_rn") === ceil(col("_pos")), col(valueCol))).as("_vhi"),
        max(col("_pos")).as("_p2"))
      .select(
        (groupCols.map(col) :+ col("p")) :+
          (col("_vlo") + (col("_vhi") - col("_vlo")) * (col("_p2") - floor(col("_p2")))).as("q"): _*)
  }
}
