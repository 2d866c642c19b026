package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions.NearestIndex

/** Nearest-value association join (SURVEY J2, q05).
  *
  * The reference associates each OCO-2 observation region with the closest
  * catalog target by brute-force argmin over 559 centroids
  * (`sam_extract/processors/OCO2Processor.py:400-435`); `Oco2Pipeline`
  * does that inside its region pass (`Pipeline.Targets.pick`), over the
  * same kernel. The join form here serves per-row 1-D lookups: the
  * candidate coordinates are collected once at the driver
  * (the right side is broadcast-sized by contract — collecting it is the
  * same memory class as broadcasting it) and baked into a generated
  * argmin-scan expression ([[graft.functions.NearestIndex]]). Each left row
  * computes its best candidate index purely map-side — no cross join, no
  * aggregate, no window, nothing left-sized ever shuffles or broadcasts —
  * then a broadcast hash join on the index attaches the candidate's
  * payload. This is the shape that holds when the left side is 100 TB:
  * the only join is left ⋈ broadcast(|R|).
  *
  * Determinism: candidates are sorted by `rightKey` before indexing and
  * exact distance ties keep the first index, so ties resolve to the
  * smallest right key. A left row with null coordinates gets a null index
  * and is absent from the output (no valid match) — left rows with nulls
  * in payload columns are unaffected.
  */
object NearestJoin {

  /** 1-D nearest: for each left row, the right row minimizing
    * |leftVal - rightVal|; ties broken by smallest `rightKey`; optionally
    * drop matches farther than `maxDist` (the reference's bbox-intersects
    * validity check analog, `OCO2Processor.py:427-430`). Output columns:
    * the left columns, `dist`, `rightKey`, then the right payload.
    */
  def argmin1D(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      leftVal: String,
      rightKey: String,
      rightVal: String,
      maxDist: Option[Double] = None): DataFrame = {
    // the candidates sorted by key with a dense `_idx`, as a LocalRelation;
    // a null candidate value becomes NaN, which the kernel never selects
    val sorted = right.orderBy(col(rightKey)).collect()
    val vi     = right.schema.fieldIndex(rightVal)
    val values = sorted.map(r => if (r.isNullAt(vi)) Double.NaN else
      r.get(vi) match {
        case d: Double           => d
        case n: java.lang.Number => n.doubleValue()
      })
    val schema = StructType(right.schema.fields :+ StructField("_idx", IntegerType, nullable = false))
    import scala.jdk.CollectionConverters._
    val rightIdx = right.sparkSession.createDataFrame(
      sorted.zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }.toSeq.asJava, schema)
    val joined = left
      .withColumn("_idx", NearestIndex.oneD(col(leftVal), values))
      .join(broadcast(rightIdx), "_idx")
      .withColumn("dist", abs(col(leftVal) - col(rightVal)))
      .select((left.columns.toSeq.map(col) :+ col("dist") :+ col(rightKey)) ++
        right.columns.filterNot(_ == rightKey).toSeq.map(col): _*)
    maxDist.fold(joined)(d => joined.filter(col("dist") <= lit(d)))
  }
}
