package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Argmin scan over a small static candidate set (SURVEY J2).
  *
  * Rather than cross-join + re-aggregate — which shuffles an |L|-sized
  * table and needs a fragile rejoin — the candidate values become a
  * static array inside ONE generated expression: a tight per-row loop,
  * purely map-side, that returns the index of the closest candidate.
  * Ties keep the FIRST index (candidates are pre-sorted by their key, so
  * this is the deterministic smallest-key tie-break). A null input, or an
  * empty/all-null candidate set, returns null.
  *
  * Distance semantics match the declarative forms exactly: the
  * expression's 1-D distance is `Math.abs(x - xs[i])` (= `abs(col -
  * col)`); the kernel's 2-D distance, which the OCO-2 region pass calls
  * for its nearest-centroid pick (`OCO2Processor.py:400-435`), is
  * `Math.hypot(dx, dy)` (= Spark's `hypot`). Null candidate coordinates
  * are encoded as NaN and never win (NaN comparisons are false).
  */
case class NearestIndex(child: Expression, xs: Array[Double]) extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val xv = child.eval(input)
    if (xv == null) return null
    val idx = NearestIndexKernel.nearest(xv.asInstanceOf[Double], 0.0, xs, xs, oneD = true)
    if (idx < 0) null else idx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a      = child.genCode(ctx)
    val xsRef  = ctx.addReferenceObj("nearestXs", xs, "double[]")
    val kernel = NearestIndexKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${a.code}
      boolean ${ev.isNull} = ${a.isNull};
      int ${ev.value} = -1;
      if (!${ev.isNull}) {
        ${ev.value} = $kernel.nearest(${a.value}, 0.0, $xsRef, $xsRef, true);
        ${ev.isNull} = ${ev.value} < 0;
      }""")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object NearestIndexKernel {
  def nearest(x: Double, y: Double, xs: Array[Double], ys: Array[Double], oneD: Boolean): Int = {
    var best  = -1
    var bestD = Double.PositiveInfinity
    var i     = 0
    while (i < xs.length) {
      val d = if (oneD) math.abs(x - xs(i)) else math.hypot(x - xs(i), y - ys(i))
      // strict < keeps the first (smallest-key) candidate on exact ties
      if (d < bestD) { bestD = d; best = i }
      i += 1
    }
    best
  }
}

object NearestIndex {
  /** 1-D argmin index of |x - xs(i)| over the static candidate values. */
  def oneD(x: Column, xs: Array[Double]): Column =
    GraftSqlBridge.column(NearestIndex(GraftSqlBridge.expression(x.cast("double")), xs))
}
