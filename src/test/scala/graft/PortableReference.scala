package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The exact decimal sums that [[graft.functions.Portable]]'s fast forms
  * (`sum2fast`, `sum6fast`, `avg2fast`) must equal bit for bit: each value
  * cast to a fixed-scale decimal, summed in Spark's decimal aggregate, and
  * the total cast back to double — the shape of the oracle SQL. */
object PortableReference {

  /** Oracle: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE). */
  def sum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Oracle: CAST(SUM(CAST(expr AS DECIMAL(28,6))) AS DOUBLE). */
  def sum6(c: Column): Column = sum(c.cast(DecimalType(28, 6))).cast("double")

  /** Oracle: CAST(SUM(CAST(x AS DECIMAL(18,2))) AS DOUBLE) / COUNT(x). */
  def avg2(c: Column): Column = sum2(c) / count(c)
}
