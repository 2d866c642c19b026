package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Relational reference for the sketch tier: the 60-bit hash spelled as
  * Spark SQL string functions (`md5` → first 15 hex digits → `conv` to
  * base 10), the CMS hash rows as an `explode` over the depth literals,
  * and rho as `length(bin(rest))`. Same answers as
  * [[graft.operators.Sketches]], bit for bit, by a different route; the
  * oracle SQL of q87/q95/q96 spells the same chain in DuckDB. */
object SketchReference {

  private def hash60(bytes: Column): Column =
    conv(substring(md5(bytes), 1, 15), 16, 10).cast("long")

  def hllRegisters(df: DataFrame, groupCols: Seq[String], value: Column, p: Int): DataFrame = {
    val m        = 1L << p
    val restBits = 60 - p
    val h        = hash60(value.cast("string"))
    val rest     = shiftright(h, p)
    val rho = when(rest === 0L, lit(restBits + 1).cast("long"))
      .otherwise(lit(restBits + 1) - length(bin(rest)))
    df.select(groupCols.map(col) ++ Seq(
        (h % m).cast("int").as("register"), rho.cast("long").as("_rho")): _*)
      .groupBy(groupCols.map(col) :+ col("register"): _*)
      .agg(max(col("_rho")).as("rho"))
  }

  private def cmsBucket(depth: Column, value: Column, width: Int): Column =
    hash60(concat(depth.cast("string"), lit("|"), value.cast("string"))) % width

  private def depths(depth: Int): Column = explode(array((0 until depth).map(d => lit(d)): _*))

  def cmsRegisters(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      depth: Int,
      width: Int): DataFrame =
    df.select(groupCols.map(col) :+ value.cast("string").as("_v"): _*)
      .select(groupCols.map(col) ++ Seq(col("_v"), depths(depth).as("depth")): _*)
      .withColumn("bucket", cmsBucket(col("depth"), col("_v"), width))
      .groupBy(groupCols.map(col) ++ Seq(col("depth"), col("bucket")): _*)
      .agg(count(lit(1)).as("cnt"))

  def cmsEstimate(
      regs: DataFrame,
      groupCols: Seq[String],
      queries: DataFrame,
      valueCol: String,
      depth: Int,
      width: Int): DataFrame =
    queries
      .select(groupCols.map(col) ++ Seq(col(valueCol), depths(depth).as("depth")): _*)
      .withColumn("bucket", cmsBucket(col("depth"), col(valueCol), width))
      .join(regs, groupCols ++ Seq("depth", "bucket"), "left")
      .groupBy(groupCols.map(col) :+ col(valueCol): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_count"))

  /** Heavy hitters through the reference estimate: every distinct
    * non-null (group, value) whose CMS estimate and exact count both
    * reach `minCount`, joined null-safely on the group (a null group is a
    * group). Output `(groupCols…, value, n)`. */
  def cmsHeavyHitters(
      df: DataFrame,
      groupCols: Seq[String],
      value: Column,
      depth: Int,
      width: Int,
      minCount: Long): DataFrame = {
    val rows = df.select(groupCols.map(col) :+ value.cast("string").as("value"): _*)
    val regs = cmsRegisters(rows, groupCols, col("value"), depth, width)
      .select(groupCols.map(c => col(c).as(s"r_$c")) ++
        Seq(col("depth").as("r_depth"), col("bucket").as("r_bucket"), col("cnt")): _*)
    val q = rows.distinct()
      .select(groupCols.map(col) ++ Seq(col("value"), depths(depth).as("depth")): _*)
      .withColumn("bucket", cmsBucket(col("depth"), col("value"), width))
    // a null value's null bucket matches no counter: its estimate is 0
    val on = (groupCols.map(c => col(c) <=> col(s"r_$c")) ++
      Seq("depth", "bucket").map(c => col(c) === col(s"r_$c"))).reduce(_ && _)
    val est = q.join(regs, on, "left")
      .groupBy(groupCols.map(col) :+ col("value"): _*)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .filter(col("est") >= minCount)
    val exact = rows.groupBy(groupCols.map(col) :+ col("value"): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(groupCols.map(c => col(c).as(s"e_$c")) ++
        Seq(col("value").as("e_value"), col("n")): _*)
    est.join(exact, (groupCols :+ "value").map(c => col(c) <=> col(s"e_$c")).reduce(_ && _))
      .select(groupCols.map(col) ++ Seq(col("value"), col("n")): _*)
  }
}
