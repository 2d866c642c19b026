package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each left row, the most recent right row at or before
  * the left row's timestamp, per key.
  *
  * Implemented as union + ordered window (last_value ignoreNulls) instead
  * of a range join: the union sorts once per key partition —
  * O((|L|+|R|) log) — where a range-predicate join materializes every
  * (left, right-earlier) candidate pair before picking the max. Both sides
  * shuffle exactly once on the key; no broadcast requirement, no pair
  * blowup on hot keys. Ties at identical timestamps resolve right-row
  * first (≤ semantics) then by the right id, deterministically.
  */
object AsOfJoin {

  /** left ⟕asof right: attaches `rightVals` (renamed `asof_<col>`) and
    * `asof_ts` from the latest right row with right.tsCol ≤ left.tsCol,
    * null when no prior right row exists. `toleranceSeconds` (the pandas
    * merge_asof tolerance): when the latest prior right row is older than
    * the bound, the match is NULLED — it does NOT fall back to an even
    * older row (second-truncated comparison, as q08's time gap). */
  def lastPrior(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      rightIdCol: String,
      rightVals: Seq[String],
      toleranceSeconds: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val leftCols = left.columns.toSeq
    // All right-row values travel in ONE struct so the window fill can never
    // tear a row: a null in one value column must not fall back to an older
    // right row while its siblings come from the newest.
    val asofType = StructType(
      StructField("asof_ts", right.schema(tsCol).dataType) +:
        rightVals.map(c => StructField(s"asof_$c", right.schema(c).dataType, nullable = true)))
    val l = left
      .withColumn("_side", lit(1))
      .withColumn("_rid", lit(null).cast(right.schema(rightIdCol).dataType))
      .withColumn("_asof", lit(null).cast(asofType))
    val rBase = right
      .select((keyCols :+ tsCol :+ rightIdCol).distinct.map(col) ++ rightVals.map(col): _*)
    val r = rBase
      .withColumn("_side", lit(0))
      .withColumn("_rid", col(rightIdCol))
      .withColumn(
        "_asof",
        struct(col(tsCol).as("asof_ts") +: rightVals.map(c => col(c).as(s"asof_$c")): _*))
    // null out the left-only columns on the right stream
    val rAligned = l.columns.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df
      else df.withColumn(c, lit(null))
    }.select(l.columns.toIndexedSeq.map(col): _*)

    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).asc, col("_side").asc, col("_rid").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val filled = l.unionByName(rAligned)
      .withColumn("_f", last(col("_asof"), ignoreNulls = true).over(w))
    val keep = toleranceSeconds match {
      case Some(t) =>
        col("_f").isNotNull &&
          unix_timestamp(col(tsCol)) - unix_timestamp(col("_f.asof_ts")) <= t
      case None => col("_f").isNotNull
    }
    filled
      .filter(col("_side") === 1)
      .select(
        (leftCols.map(col) :+ when(keep, col("_f.asof_ts")).as("asof_ts")) ++
          rightVals.map(c => when(keep, col(s"_f.asof_$c")).as(s"asof_$c")): _*)
  }
}
