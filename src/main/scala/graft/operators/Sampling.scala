package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and split assignment for
  * training-data pipelines.
  *
  * Every primitive derives from a 60-bit md5 prefix of the row's id — a
  * content-addressed coin flip, so the same row lands in the same
  * split/sample on every run, on every engine, at any parallelism, with no
  * RNG state and no seed-ordering hazards (the properties `rand()`-based
  * sampling lacks on a cluster: Spark's `sample` is partition-order
  * dependent under retries/AQE re-plans). DuckDB reproduces the bucket
  * exactly via `('0x' || substr(md5(id::VARCHAR), 1, 15))::BIGINT`, which
  * is the oracle form of [[hashBucket]].
  *
  * All primitives are pure projections/filters — nothing shuffles, so they
  * compose under any downstream plan at any scale.
  */
object Sampling {

  /** Deterministic bucket in [0, nBuckets): first 15 hex chars of
    * md5(id as string) read as a 60-bit integer, mod nBuckets. Always
    * non-negative (60 bits never sets the sign bit). */
  def hashBucket(id: Column, nBuckets: Int): Column = {
    require(nBuckets >= 1)
    conv(substring(md5(id.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long") % nBuckets
  }

  /** Weighted split assignment (train/val/test and friends): `splits` is
    * (name, weight) with integer weights; a row's bucket out of
    * Σweights picks the split by cumulative range. Adds `bucket` and
    * `split` columns. */
  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Int)]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "splits need positive weights")
    // the output columns are part of the contract — refuse to silently
    // overwrite caller data rather than clobber it
    require(!df.columns.contains("bucket") && !df.columns.contains("split"),
      "input already has a 'bucket'/'split' column; rename it before hashSplit")
    val total  = splits.map(_._2).sum
    val bucket = hashBucket(col(idCol), total)
    val cum    = splits.scanLeft(0)(_ + _._2).tail // cumulative upper bounds
    val assign = splits.zip(cum).init.foldRight(lit(splits.last._1): Column) {
      case (((name, _), upper), rest) => when(col("bucket") < upper, name).otherwise(rest)
    }
    df.withColumn("bucket", bucket).withColumn("split", assign)
  }

  /** Deterministic corpus shuffle: a dense rank over the md5-of-(seed, id)
    * order — the reproducible global permutation a training run reads the
    * corpus in. Engine-portable (same hash both engines) and seed-keyed
    * (a new seed is a fresh permutation; same seed is bit-identical on
    * any partitioning). The rank comes from [[Packing.prefixSum]] of ones
    * over the hash order — the distributed two-phase form, NOT a
    * single-partition row_number window. Adds `shuffle_key` (the hex
    * hash) and `shuffle_rank` (0-based). */
  def shuffleRank(df: DataFrame, idCol: String, seed: Long): DataFrame = {
    require(!df.columns.contains("shuffle_key") && !df.columns.contains("shuffle_rank") &&
      !df.columns.contains("_one"),
      "input already has a shuffle_key/shuffle_rank/_one column; rename it first")
    val keyed = df.withColumn(
      "shuffle_key",
      md5(concat(lit(seed.toString), lit("|"), col(idCol).cast("string")).cast("binary")))
    Packing.prefixSum(keyed.withColumn("_one", lit(1L)), "shuffle_key", "_one", "shuffle_rank")
      .drop("_one")
  }

  /** Deterministic domain-mixture resampling: per-group keep rates out of
    * a common `denom` (e.g. web 300/1000, code 800/1000, wiki 1000/1000) —
    * the mixture-reweighting step that turns a raw crawl into a training
    * mix (the Pile/Dolma recipe shape). Groups absent from `rates` drop
    * entirely; a rate equal to `denom` keeps the whole group. Built on
    * [[hashBucket]], so it inherits every determinism property: same rows
    * on every run and engine, and raising a group's rate strictly grows
    * its sample (nested-sample property per group — mixtures can be tuned
    * upward without churning previously selected rows). Pure filter, zero
    * shuffle; the rate table folds into a codegen'd CASE. */
  def mixtureResample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      rates: Seq[(String, Int)],
      denom: Int): DataFrame = {
    require(denom >= 1, "denom must be positive")
    require(rates.nonEmpty && rates.forall { case (_, r) => r >= 0 && r <= denom },
      s"rates must lie in [0, $denom]")
    val rate = rates.foldRight(lit(0): Column) { case ((g, r), rest) =>
      when(col(groupCol) === g, lit(r)).otherwise(rest)
    }
    df.filter(hashBucket(col(idCol), denom) < rate)
  }

  /** Derive [[mixtureResample]] rates from per-group TOKEN budgets — the
    * form training-mix recipes are actually written in ("30B web tokens,
    * 5B code tokens"), whereas keep rates are per-document. Computes each
    * group's token total (one map-side-combined aggregate; result bounded
    * by the number of groups, which is what makes the driver collect
    * legal), then rate = budget/total quantized UP to `denom`ths and
    * clamped — a group whose budget exceeds its supply keeps everything;
    * rounding up errs toward over-delivering tokens, never starving a
    * budget by quantization. Deterministic given the corpus; the returned
    * rates feed mixtureResample and inherit its nested-sample property.
    * The realized token count per group is rate-proportional in
    * expectation with md5-uniform deviation (documents are kept whole —
    * exact-to-the-token budgets require packing, [[graft.operators
    * .Packing]], downstream). */
  def ratesForTokenBudget(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      budgets: Seq[(String, Long)],
      denom: Int = 10000): Seq[(String, Int)] = {
    require(denom >= 1 && budgets.forall(_._2 >= 0L), "budgets must be non-negative")
    val totals = df
      .filter(col(groupCol).isin(budgets.map(_._1): _*))
      .groupBy(col(groupCol))
      .agg(sum(size(split(col(textCol), " ")).cast("long")).as("_toks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    budgets.map { case (g, budget) =>
      val total = totals.getOrElse(g, 0L)
      val rate =
        if (total == 0L || budget >= total) denom
        else {
          // ceil(budget * denom / total) without overflow for 100T-token groups
          val r = (BigInt(budget) * denom + total - 1) / total
          r.toInt.max(if (budget > 0) 1 else 0)
        }
      g -> rate.min(denom)
    }
  }

  /** Temperature-flattened mixture rates — the multilingual/multi-source
    * sampling law (expected kept counts ∝ c_s^α, the p ∝ p^α recipe of
    * multilingual BERT/mT5-style corpus balancing): keep-rate
    * r_s = (c_min / c_s)^(1−α), so the smallest group keeps everything
    * and heads flatten toward the temperature (downsample-only — no
    * upsampling/duplication). Group counts are one map-side-combined
    * aggregate bounded by |groups| (the legal driver collect); rates
    * quantize by floor to `denom`-ths and feed [[mixtureResample]],
    * inheriting its nested-sample determinism.
    *
    * α = 1/2 is the oracle-gated configuration: sqrt and division are
    * correctly-rounded IEEE-754 ops, so the rate doubles — and therefore
    * the floored integer rates and every keep decision — are bit-identical
    * on any engine. Other α use math.pow (not correctly rounded;
    * spec-gated only). */
  def temperatureRates(
      df: DataFrame,
      groupCol: String,
      alpha: Double = 0.5,
      denom: Int = 1000000): Seq[(String, Int)] = {
    require(denom >= 1, "denom must be positive")
    require(alpha >= 0.0 && alpha <= 1.0, "alpha must lie in [0, 1]")
    val counts = df
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("_n"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(counts.nonEmpty, "temperatureRates: empty corpus")
    val cMin = counts.map(_._2).min.toDouble
    counts.toSeq.sortBy(_._1).map { case (g, n) =>
      val ratio = cMin / n.toDouble
      val r =
        if (alpha == 0.5) math.sqrt(ratio)
        else math.pow(ratio, 1.0 - alpha)
      g -> math.min(denom.toLong, math.floor(r * denom).toLong).toInt
    }
  }

  /** [[temperatureRates]] + [[mixtureResample]] in one call. */
  def temperatureResample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      alpha: Double = 0.5,
      denom: Int = 1000000): DataFrame =
    mixtureResample(df, idCol, groupCol, temperatureRates(df, groupCol, alpha, denom), denom)

  /** Deterministic stratified sample: the `k` rows per group whose id
    * md5 sorts lowest (ties impossible — md5 of distinct ids), i.e. "k
    * documents per language/source", reproducibly. One shuffle on the
    * group key; within-group selection is a window rank, so skewed strata
    * cost sort-of-stratum, never a global sort. For very hot strata at
    * 100 TB, pre-thin with a [[hashBucket]] filter first (a lower bucket
    * bound keeps a nested sample, so the final pick equals sorting the
    * full stratum whenever the pre-thin keeps ≥ k rows). */
  def stratifiedSample(df: DataFrame, idCol: String, groupCols: Seq[String], k: Int): DataFrame = {
    require(k >= 1 && groupCols.nonEmpty)
    val rk = "__graft_sample_rk"
    require(!df.columns.contains(rk), s"input already has a '$rk' column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(md5(col(idCol).cast("string").cast("binary")))
    df.withColumn(rk, row_number().over(w)).filter(col(rk) <= k).drop(rk)
  }
}
