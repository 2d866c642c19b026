package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Bin, Conv, Md5}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.operators.Sketches

/** The typed register aggregates answer exactly what the relational
  * reference ([[SketchReference]]: MD5 hex digits through `conv`, an
  * explode per hash row, `length(bin(…))`) answers, and the sketch
  * queries' executed plans no longer hold that chain. */
class SketchParitySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** ASCII (with the `|` separator and spaces), multibyte (2-, 3- and
    * 4-byte UTF-8), empty and null strings; longs and timestamps with
    * nulls; groups a, b and null. */
  private lazy val input: DataFrame = {
    val rnd = new scala.util.Random(20261019)
    val multi = Seq("é", "ß", "漢字", "日本語", "🙂", "a🙂b", "Ωμέγα")
    val rows = (0 until 600).map { i =>
      val s = i % 10 match {
        case 0 => null
        case 1 => ""
        case 2 | 3 => multi(rnd.nextInt(multi.size)) + (if (rnd.nextBoolean()) i % 7 else "")
        case _ => rnd.alphanumeric.take(rnd.nextInt(9)).mkString + (if (i % 4 == 0) "|x y" else "")
      }
      val grp = i % 3 match { case 0 => "a"; case 1 => "b"; case _ => null }
      val n: java.lang.Long = if (i % 11 == 0) null else java.lang.Long.valueOf(rnd.nextLong() >> rnd.nextInt(60))
      val ts = if (i % 13 == 0) null
        else new java.sql.Timestamp(1600000000000L + rnd.nextInt(1000000) * 1000L + (i % 3) * 123L)
      (grp, s, n, ts)
    }
    rows.toDF("grp", "s", "n", "ts").repartition(3).cache()
  }

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def same(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq === want.columns.toSeq, what)
    val g = rowsOf(got)
    val w = rowsOf(want)
    assert(g.nonEmpty, s"$what: empty")
    assert(g === w, what)
  }

  private val values: Seq[(String, Column, Seq[String])] = Seq(
    ("string by group", col("s"), Seq("grp")),
    ("long", col("n"), Nil),
    ("timestamp by group", col("ts"), Seq("grp")))

  test("hllRegisters equals the relational reference bit for bit (p = 4, 6, 16)") {
    for (p <- Seq(4, 6, 16); (what, v, g) <- values)
      same(Sketches.hllRegisters(input, g, v, p), SketchReference.hllRegisters(input, g, v, p),
        s"$what, p=$p")
  }

  test("cmsRegisters equals the relational reference bit for bit (depth 1/3/16 x width 2/256/1024)") {
    for (depth <- Seq(1, 3, 16); width <- Seq(2, 256, 1024))
      same(Sketches.cmsRegisters(input, Seq("grp"), col("s"), depth, width),
        SketchReference.cmsRegisters(input, Seq("grp"), col("s"), depth, width),
        s"string by group, depth=$depth width=$width")
    for ((what, v, g) <- values.tail)
      same(Sketches.cmsRegisters(input, g, v, 3, 256),
        SketchReference.cmsRegisters(input, g, v, 3, 256), what)
  }

  test("cmsEstimate and cmsHeavyHitters equal the reference, null groups and values included") {
    for ((depth, width) <- Seq((1, 2), (3, 256), (16, 1024))) {
      val regs    = Sketches.cmsRegisters(input, Seq("grp"), col("s"), depth, width)
      val refRegs = SketchReference.cmsRegisters(input, Seq("grp"), col("s"), depth, width)
      val queries = input.select(col("grp"), col("s")).distinct()
      same(Sketches.cmsEstimate(regs, Seq("grp"), queries, "s", depth, width),
        SketchReference.cmsEstimate(refRegs, Seq("grp"), queries, "s", depth, width),
        s"estimate depth=$depth width=$width")
    }
    // a few values repeat enough to clear a floor of 3 in each group
    val hot = input.union(input.filter(col("s").isin("", "é", "漢字")))
      .union(input.filter(col("s") === ""))
    for ((g, width) <- Seq((Seq("grp"), 2), (Seq("grp"), 256), (Nil, 1024)))
      same(Sketches.cmsHeavyHitters(hot, g, col("s"), 3, width, minCount = 3L),
        SketchReference.cmsHeavyHitters(hot, g, col("s"), 3, width, minCount = 3L),
        s"heavy hitters groups=$g width=$width")
    // fewer null values than the floor: their count must not stand in for
    // a bucket's counter in the probe (a null value has no bucket)
    val fewNulls = (Seq("x", "y", "z").flatMap(v => Seq.fill(5)(("a", v))) :+ (("a", null: String)))
      .toDF("grp", "s")
    val hh = Sketches.cmsHeavyHitters(fewNulls, Seq("grp"), col("s"), 3, 2, minCount = 5L)
    same(hh, SketchReference.cmsHeavyHitters(fewNulls, Seq("grp"), col("s"), 3, 2, minCount = 5L),
      "heavy hitters, one null value")
    assert(rowsOf(hh) === Seq("[a,x,5]", "[a,y,5]", "[a,z,5]"))
  }

  /** Every expression of an executed plan, AQE stages and subqueries
    * included. */
  private def expressionsOf(plan: SparkPlan) =
    collectWithSubqueries(plan) { case p => p }.flatMap(_.expressions.flatMap(_.collect { case e => e }))

  test("q96 and q87 execute without md5, conv, bin or an explode of the depth literals") {
    for (name <- Seq("q96_cms_merge", "q87_hll_sketch")) {
      val df = SparkEntry.queries(name)(spark, sf("sf0.01"))
      df.collect() // runs this plan, so the adaptive plan below is the final one
      val plan = df.queryExecution.executedPlan
      val chain = expressionsOf(plan).collect {
        case e @ (_: Md5 | _: Conv | _: Bin) => e.prettyName
      }
      assert(chain.isEmpty, s"$name still hashes through ${chain.distinct.mkString(", ")}")
      val literalExplodes = collectWithSubqueries(plan) {
        case g: GenerateExec if g.generator.children.forall(_.foldable) => g.generator.sql
      }
      assert(literalExplodes.isEmpty, s"$name explodes literals: $literalExplodes")
    }
  }
}
