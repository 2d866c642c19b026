package graft

import org.apache.spark.sql.functions._

import graft.functions.Portable._
import graft.PortableReference.{avg2, sum2, sum6}

/** The oracle-portable fast-sum kernel (Portable.sumFast and its
  * partial/merge two-level form): bit-identical to the exact decimal sums
  * on real-shaped data, loud — never wrong — when its overflow guard
  * cannot prove safety.
  */
class PortableSpec extends SparkSpec {
  import spark.implicits._

  /** 10⁶ random money-like rows across 97 groups, signed, with exact
    * half-cent boundary values mixed in (the decimal-rounding edge). */
  private lazy val corpus = spark
    .range(1000000)
    .select(
      col("id"),
      (col("id") % 97).as("g"),
      when(col("id") % 1000 === 0, lit(1.005) * (col("id") % 7 - 3))
        .otherwise(rand(42) * 20000 - 10000)
        .as("v"),
      (rand(7) * 2).as("w"))
    .persist()

  test("sumFast / avgFast are bit-identical to the exact decimal forms on 10^6 random rows") {
    val slow = corpus
      .groupBy("g")
      .agg(
        sum2(col("v")).as("s2"),
        sum6(col("v") * col("w")).as("s6"),
        avg2(col("v")).as("a2"))
    val fast = corpus
      .groupBy("g")
      .agg(
        sum2fast(col("v")).as("s2"),
        sum6fast(col("v") * col("w")).as("s6"),
        avg2fast(col("v")).as("a2"))
    // except() compares binary row values — this is bit equality, not ≈
    assert(slow.except(fast).count() === 0)
    assert(fast.except(slow).count() === 0)
  }

  test("two-level partial/merge equals the single-level fast sum and the decimal sum") {
    // level 1 per (g, id%13) sub-key, level 2 per g — the q04 shape
    val partials = corpus
      .groupBy(col("g"), (col("id") % 13).as("sub"))
      .agg(sumFastPartial(col("v") * col("w"), 6).as("p"))
    val merged = partials.groupBy("g").agg(sumFastMerge(col("p"), 6).as("s6"))
    val oneLevel = corpus.groupBy("g").agg(sum6fast(col("v") * col("w")).as("s6"))
    val decimal  = corpus.groupBy("g").agg(sum6(col("v") * col("w")).as("s6"))
    assert(merged.except(oneLevel).count() === 0)
    assert(merged.except(decimal).count() === 0)
    assert(decimal.except(merged).count() === 0)
  }

  test("the magnitude guard fires when limb sums could overflow, both levels") {
    // limbCap injected small so 1000 plausible rows trip the rows×magnitude
    // branch (production cap 2^62-1 needs ~10^9 rows — same predicate)
    val big = spark.range(1000).select(lit(9.0e9).as("v"))
    val err = intercept[Exception] {
      big.agg(sumFastGuarded(col("v"), 2, limbCap = 1L << 20)).collect()
    }
    assert(err.getMessage.contains("sumFast"))
    // merge level re-proves the bound from the witnesses: same rows via
    // partials must fail the production predicate when witnesses say so
    val forged = spark
      .range(4)
      .select(
        struct(
          lit(1L).as("sq"),
          lit(0L).as("sr"),
          lit(1L << 35).as("n"), // 4 partials × 2^35 rows ≥ the 2^36 row cap
          lit(0L).as("mq"),
          lit(1L << 35).as("nc")).as("p"))
    val err2 = intercept[Exception] {
      forged.agg(sumFastMerge(col("p"), 2)).collect()
    }
    assert(err2.getMessage.contains("sumFast"))
  }

  test("a value too large for the 18-digit decimal cast fails loudly, never silently truncates") {
    // 1e17 at scale 2 needs 19 digits: the cast overflows (ANSI raises at
    // the cast; non-ANSI nulls it and the count-mismatch guard raises) —
    // either way no wrong sum escapes
    val df = spark.range(10).select((lit(1.0e17) + col("id")).as("v"))
    val err = intercept[Exception] {
      df.agg(sumFast(col("v"), 2)).collect()
    }
    assert(err.getMessage.contains("sumFast") || err.getMessage.toLowerCase.contains("overflow")
      || err.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"))
  }

  test("guard passes (and stays exact) right at plausible 100 TB group shapes") {
    // 10^6 rows of near-max money values: guard must admit this (the
    // whole point is that real groups pass) and the result must equal sum2
    val nearMax = spark.range(1000000).select((lit(9.0e9) + col("id") % 1000).as("v"))
    val fast = nearMax.agg(sum2fast(col("v"))).as[Double].head()
    val slow = nearMax.agg(sum2(col("v"))).as[Double].head()
    assert(java.lang.Double.doubleToLongBits(fast) === java.lang.Double.doubleToLongBits(slow))
  }
}
