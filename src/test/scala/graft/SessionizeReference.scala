package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Window reference for the sessionizer: gaps-and-islands window algebra,
  * `break = first row || key != lag(key) [|| gap > margin]` and
  * `region_id = sum(break) - 1` over an ordered window per partition, and
  * the wildcard fill as a `last`/`first` ignore-nulls window pair. Same
  * ids as [[graft.operators.Sessionize.regions]] wherever the window's
  * answer does not depend on row order (see `regions`' tie note), by a
  * different route; the oracle SQL of q07–q09 spells the same windows in
  * DuckDB.
  *
  * The first row of a partition breaks explicitly (`lag` of a constant is
  * null only there); a key-change test alone numbers a partition's leading
  * null-key run -1. */
object SessionizeReference {

  private def w(orderCol: String, partitionCols: Seq[String]): WindowSpec =
    Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))

  private def firstRow(win: WindowSpec): Column = lag(lit(true), 1).over(win).isNull

  private def keyChanged(keyCols: Seq[String], win: WindowSpec): Column =
    keyCols.map(k => !(col(k) <=> lag(col(k), 1).over(win))).foldLeft(firstRow(win))(_ || _)

  private def numbered(df: DataFrame, brk: Column, win: WindowSpec, regionCol: String): DataFrame =
    df.withColumn("_brk", brk.cast("long"))
      .withColumn(regionCol, sum(col("_brk")).over(win) - lit(1))
      .drop("_brk")

  /** Contiguous runs of identical `keyCols` values in `orderCol` order. */
  def byKeyChange(
      df: DataFrame,
      orderCol: String,
      keyCols: Seq[String],
      partitionCols: Seq[String] = Nil,
      regionCol: String = "region_id"): DataFrame = {
    val win = w(orderCol, partitionCols)
    numbered(df, keyChanged(keyCols, win), win, regionCol)
  }

  /** Key change OR a gap in `orderCol` above `margin`; a null gap does not
    * break. */
  def byKeyChangeWithMargin(
      df: DataFrame,
      orderCol: String,
      keyCols: Seq[String],
      margin: Long,
      partitionCols: Seq[String] = Nil,
      regionCol: String = "region_id"): DataFrame = {
    val win = w(orderCol, partitionCols)
    val gap = col(orderCol) - lag(col(orderCol), 1).over(win)
    numbered(df, keyChanged(keyCols, win) || gap > lit(margin), win, regionCol)
  }

  /** A new session when the event is more than `gapSeconds` whole seconds
    * after the previous one (`unix_timestamp` difference, DuckDB's
    * date_diff('second', ...)); a null previous timestamp breaks. */
  def byTimeGap(
      df: DataFrame,
      tsCol: String,
      gapSeconds: Long,
      partitionCols: Seq[String] = Nil,
      sessionCol: String = "session_id"): DataFrame = {
    val win  = w(tsCol, partitionCols)
    val prev = lag(col(tsCol), 1).over(win)
    val brk  = prev.isNull || (unix_timestamp(col(tsCol)) - unix_timestamp(prev)) > lit(gapSeconds)
    numbered(df, brk, win, sessionCol)
  }

  /** Rows whose `keyCol` is `wildcard` (or null) inherit the nearest
    * preceding other value in `orderCol` order, else the nearest following
    * one, else keep their own. */
  def coalesceWildcard(
      df: DataFrame,
      orderCol: String,
      keyCol: String,
      wildcard: String,
      partitionCols: Seq[String] = Nil): DataFrame = {
    val base = w(orderCol, partitionCols)
    val fwd  = base.rowsBetween(Window.unboundedPreceding, 0)
    val bwd  = base.rowsBetween(0, Window.unboundedFollowing)
    val v    = when(col(keyCol) === lit(wildcard), lit(null)).otherwise(col(keyCol))
    df.withColumn("_v", v)
      .withColumn("_f", last(col("_v"), ignoreNulls = true).over(fwd))
      .withColumn("_b", first(col("_v"), ignoreNulls = true).over(bwd))
      .withColumn(keyCol, coalesce(col("_f"), col("_b"), col(keyCol)))
      .drop("_v", "_f", "_b")
  }
}
