package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Static Morton-code kernel shared by interpreted eval and generated
  * code: bit i of `x` lands at result bit 2i, bit i of `y` at 2i+1
  * (the standard parallel-prefix spread, e.g. Sean Anderson's Bit
  * Twiddling Hacks "Interleave bits by Binary Magic Numbers"). */
object ZOrderKernel {
  /** Spread the low 32 bits of `v` onto the even bit positions. */
  private def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave(x: Int, y: Int): Long =
    spread(x.toLong) | (spread(y.toLong) << 1)
}

/** Morton (Z-order) interleave of two non-negative 32-bit ints into one
  * long sort key (SURVEY "beyond the reference": write-layout clustering
  * for a 100 TB store).
  *
  * Sorting a table by this value clusters 2-D neighbors into the same
  * parquet row groups, so the engine's min/max statistics on the two
  * source columns become tight rectangles and an arbitrary (x, y) box
  * predicate skips the row groups outside it — the same layout trick
  * Delta/Iceberg expose as OPTIMIZE ZORDER, applied here to the dense
  * raster store's (lat_idx, lon_idx) grid (a row-major layout prunes
  * only the leading dimension; see `ProductStore.compact`).
  *
  * A native Catalyst expression with full codegen so the key computes
  * inside the surrounding WholeStageCodegen span during the layout
  * shuffle — never a Scala UDF on the 100 TB write path. Negative
  * inputs are rejected per-row (raise) rather than silently wrapped:
  * a wrapped sign bit would interleave garbage and destroy locality.
  */
case class ZOrder2(x: Expression, y: Expression) extends Expression {

  override def children: Seq[Expression] = Seq(x, y)

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val xv = x.eval(input)
    val yv = y.eval(input)
    if (xv == null || yv == null) return null
    val xi = xv.asInstanceOf[Int]
    val yi = yv.asInstanceOf[Int]
    if (xi < 0 || yi < 0)
      throw new IllegalArgumentException(s"zorder: inputs must be non-negative, got ($xi, $yi)")
    ZOrderKernel.interleave(xi, yi)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = x.genCode(ctx)
    val b = y.genCode(ctx)
    val kernel = ZOrderKernel.getClass.getName.stripSuffix("$") + "$.MODULE$"
    ev.copy(code = code"""
      ${a.code}
      ${b.code}
      boolean ${ev.isNull} = ${a.isNull} || ${b.isNull};
      long ${ev.value} = 0L;
      if (!${ev.isNull}) {
        if (${a.value} < 0 || ${b.value} < 0) {
          throw new IllegalArgumentException(
            "zorder: inputs must be non-negative, got (" + ${a.value} + ", " + ${b.value} + ")");
        }
        ${ev.value} = $kernel.interleave(${a.value}, ${b.value});
      }""")
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(x = c(0), y = c(1))
}

object ZOrder2 {
  import org.apache.spark.sql.GraftSqlBridge._
  /** Column API: zorder(x, y) — inputs cast to int (the expression skips
    * analyzer type checks). */
  def apply(x: Column, y: Column): Column =
    column(new ZOrder2(expression(x.cast("int")), expression(y.cast("int"))))
}
