package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining batches: concatenate documents in a
  * deterministic order and cut fixed-length token windows (the GPT-style
  * pack-and-slice that turns a document store into training sequences;
  * documents may span window boundaries).
  *
  * The primitive underneath is a DISTRIBUTED exclusive prefix sum. A naive
  * `sum over (order by id)` window has no partition key, so Spark moves
  * the whole corpus to ONE task (the classic WindowExec warning) — the
  * opposite of scale. Here: range-partition by the order column, per-task
  * running sums inside each partition, one tiny per-partition total
  * aggregate (numPartitions rows) to the driver, exclusive-prefix those
  * totals, and broadcast-join the per-partition base offsets back. The
  * corpus shuffles once (the range partitioning); everything else is
  * narrow. Same two-phase shape a 1000-executor scan would use.
  */
object Packing {

  /** Exclusive prefix sum of `valueCol` over the TOTAL order `orderCol`
    * (must be unique — document ids). Adds `outCol`.
    *
    * Storage lifecycle: the range-partitioned input is localCheckpoint-ed
    * (both phases MUST read one materialization — see the inline comment)
    * and those blocks stay in executor storage until the returned frame is
    * garbage-collected (ContextCleaner reclaims them); same contract as
    * [[Dedup.connectedComponents]]'s returned labels, its last round's
    * checkpoint. One checkpoint per
    * call, sized by the frame handed in — [[packOffsets]] passes only
    * (id, n_tokens); [[Sampling.shuffleRank]] passes the full rows, which
    * is the price of ranking them. */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String, outCol: String = "offset"): DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    require(!df.columns.contains("_pid"), "input already has a '_pid' column")
    // the range partitioning MUST be materialized exactly once:
    // RangePartitioner's boundary sampling is seeded by the RDD id, so the
    // local-sums job and the totals job would otherwise re-evaluate
    // repartitionByRange with DIFFERENT boundaries — _pid then names
    // different row sets in the two jobs, the _pid join drops rows and
    // ranks collide (caught by the 200k corpusjob probe: 119900 → 26437
    // rows out of shuffleRank; invisible at oracle scale, where boundary
    // samples cover the whole input). localCheckpoint pins the computed
    // partitions so both consumers read one materialization.
    val parts = df
      .repartitionByRange(col(orderCol))
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint()
    // per-partition running (exclusive) sums: the window key is the
    // partition id, so parallelism stays width-of-cluster
    val w = Window.partitionBy(col("_pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = parts.withColumn("_local", coalesce(sum(col(valueCol)).over(w), lit(0L)))
    // per-partition totals → driver exclusive prefix → broadcast base map
    val totals = parts.groupBy(col("_pid")).agg(sum(col(valueCol)).as("_t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    var acc = 0L
    val bases = totals.map { case (pid, t) => val b = acc; acc += t; pid -> b }
    val baseDF = spark.createDataFrame(bases.toSeq).toDF("_pid", "_base")
    withLocal
      .join(broadcast(baseDF), Seq("_pid"))
      .withColumn(outCol, col("_base") + col("_local"))
      .drop("_pid", "_local", "_base")
  }

  /** MATERIALIZE the packed training sequences: concatenate all documents'
    * tokens in `idCol` order and emit one row per `seqLen`-token window
    * (the last window may be short) — [[packOffsets]] computes where each
    * document lands; this produces the sequences themselves, the final
    * artifact a training loader reads. Output per sequence: `seq_idx`,
    * `n_tokens`, `n_docs` (documents contributing), `seq_text`.
    *
    * Scale shape: one prefix sum over the doc table (see [[prefixSum]]),
    * then tokens shuffle ONCE on their destination sequence index and each
    * sequence assembles in a single aggregate — per-group work bounded by
    * `seqLen`, so no hot key regardless of corpus size (every group is the
    * same size by construction; this is the rare groupBy where skew is
    * impossible). The in-group (pos, token) sort + join runs on a
    * seqLen-bounded array — the same per-group reassembly contract as
    * dedupSpans' per-doc rebuild. */
  def packSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val withN = df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("_n"))
    val off   = prefixSum(withN, idCol, "_n", "_off").select(col(idCol), col("_off"))
    // join BEFORE exploding (guide §3.3): the offset attaches to one row
    // per document, not one per token — the join never carries the
    // exploded token stream
    df.select(col(idCol), col(textCol))
      .join(off, Seq(idCol))
      .select(col(idCol), col("_off"),
        posexplode(split(col(textCol), " ")).as(Seq("_pos", "_tok")))
      .select(
        col(idCol),
        ((col("_off") + col("_pos")) / seqLen).cast("long").as("seq_idx"),
        (col("_off") + col("_pos")).as("_gpos"),
        col("_tok"))
      .groupBy(col("seq_idx"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col(idCol)).as("n_docs"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_gpos"), col("_tok")))),
            s => s.getField("_tok")),
          " ").as("seq_text"))
  }

  /** Document-boundary map of the packed sequences — the attention-mask
    * sidecar: for every `seqLen`-token window of [[packSequences]], the
    * ordered `doc_id:start:len` spans of the documents contributing to
    * it (trainers mask cross-document attention inside packed batches
    * from exactly this map). `start` is the document's first token
    * position WITHIN the window; spans tile the window end to end.
    * Output: `seq_idx, n_docs, n_tokens, boundaries` (boundaries as one
    * deterministic comma-joined string — engine-portable and
    * driver-sortable, unlike an array column).
    *
    * Scale shape: identical to [[packSequences]] minus the text — one
    * prefix sum, one shuffle of (seq, doc)-level rows (NOT tokens: the
    * per-doc min/count pre-aggregates on the token stream map-side), and
    * every group is ≤ seqLen spans by construction. */
  def packBoundaries(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val withN = df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("_n"))
    val off   = prefixSum(withN, idCol, "_n", "_off")
    // boundaries never need the token STRINGS — positions suffice, so the
    // explode is a numeric sequence off the (id, n, offset) row (join
    // before explode, guide §3.3; split arrays never reach the exchange)
    off
      .select(col(idCol), col("_off"),
        explode(sequence(lit(0L), col("_n") - 1)).as("_pos"))
      .select(
        col(idCol),
        (col("_off") + col("_pos")).as("_g"),
        ((col("_off") + col("_pos")) / seqLen).cast("long").as("seq_idx"))
      .groupBy(col("seq_idx"), col(idCol))
      .agg((min(col("_g")) - col("seq_idx") * seqLen).as("_start"), count(lit(1)).as("_len"))
      .groupBy(col("seq_idx"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("_len")).as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_start"), col(idCol), col("_len")))),
            s => concat_ws(":",
              s.getField(idCol).cast("string"),
              s.getField("_start").cast("string"),
              s.getField("_len").cast("string"))),
          ",").as("boundaries"))
  }

  /** STRIDED sequence materialization — [[packSequences]] with
    * overlapping windows (the GPT-2-style sliding-context evaluation /
    * training chunker): window `w` covers global token positions
    * `[w·stride, w·stride + seqLen)`, so consecutive windows share
    * `seqLen − stride` tokens of left context; `stride = seqLen`
    * degrades to [[packSequences]] exactly (spec-pinned). Output schema
    * matches packSequences: `seq_idx, n_tokens, n_docs, seq_text`
    * (trailing windows may be short).
    *
    * Scale shape: identical to packSequences — one distributed prefix
    * sum, then tokens shuffle on their destination window. Each token
    * lands in at most `ceil(seqLen / stride)` windows, so shuffle volume
    * is the overlap factor × corpus (the price of overlap, stated, not
    * hidden), and every group is still ≤ `seqLen` tokens — skew remains
    * impossible by construction. Window bounds use integer `div` with a
    * clamp at 0, so truncation-vs-floor on the one possibly-negative
    * numerator can't matter (both land at 0). */
  def packSequencesStrided(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int,
      stride: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    require(stride > 0 && stride <= seqLen, "stride must be in [1, seqLen]")
    val withN = df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("_n"))
    val off   = prefixSum(withN, idCol, "_n", "_off").select(col(idCol), col("_off"))
    // join before exploding (guide §3.3) — same shape as packSequences
    df.select(col(idCol), col(textCol))
      .join(off, Seq(idCol))
      .select(col(idCol), col("_off"),
        posexplode(split(col(textCol), " ")).as(Seq("_pos", "_tok")))
      .withColumn("_g", col("_off") + col("_pos"))
      .withColumn("_wlo",
        greatest(lit(0L), expr(s"(_g - ${seqLen - stride}) div $stride")))
      .withColumn("_whi", expr(s"_g div $stride"))
      .select(col(idCol), col("_g"), col("_tok"),
        explode(sequence(col("_wlo"), col("_whi"))).as("seq_idx"))
      .groupBy(col("seq_idx"))
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col(idCol)).as("n_docs"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("_g"), col("_tok")))),
            s => s.getField("_tok")),
          " ").as("seq_text"))
  }

  /** Pack documents into `seqLen`-token training sequences in `orderCol`
    * order. Output per document: its token count, global token offset,
    * the first/last sequence index it lands in, and its offset within the
    * first sequence — everything a loader needs to materialize packed
    * batches, all integer-exact. */
  def packOffsets(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val n = size(split(col(textCol), " ")).cast("long")
    val withN = df.select(col(idCol), n.as("n_tokens"))
    val off = prefixSum(withN, idCol, "n_tokens")
    off.select(
      col(idCol),
      col("n_tokens"),
      col("offset"),
      (col("offset") / seqLen).cast("long").as("first_seq"),
      when(col("n_tokens") === 0, (col("offset") / seqLen).cast("long"))
        .otherwise(((col("offset") + col("n_tokens") - 1) / seqLen).cast("long"))
        .as("last_seq"),
      (col("offset") % seqLen).as("offset_in_seq"))
  }

  /** Whole-document bin packing — the no-truncation alternative to
    * [[packOffsets]]' concat-and-slice: every document lands INTACT in
    * exactly one bin of capacity `seqLen` tokens (the
    * "packing without cross-contamination" recipe family, Krell et al.
    * 2021: real workloads pack near-optimally from the LENGTH HISTOGRAM
    * alone, because at most `seqLen` distinct lengths exist).
    *
    * Scale shape, in three bounded moves:
    *  1. The length histogram aggregates distributed (map-side combined)
    *     and collects ≤ `seqLen` rows — the bounded-dictionary driver
    *     contract ([[graft.operators.BpeTrain]]), NOT a data-sized
    *     collect.
    *  2. A greedy first-fit-decreasing RECIPE runs on the histogram:
    *     repeatedly build one bin composition greedily (largest remaining
    *     length that fits, batched copies), then stamp as many identical
    *     bins as the remaining counts allow. The loop is over
    *     compositions, never over bins or documents.
    *  3. Assignment is relational: a distributed within-length rank
    *     ([[prefixSum]] + a ≤-histogram-sized min-rank join-back) matched
    *     against the broadcast strategy interval table — pure integer
    *     arithmetic maps each rank to its bin id.
    *
    * Documents longer than `seqLen` each get a bin of their own, flagged
    * `oversize` (callers split or drop them upstream; silently truncating
    * is the failure mode this operator exists to avoid). Null text counts
    * as one token — the same slot an empty string occupies — so every
    * input row lands in exactly one bin. Deterministic on
    * any partitioning: ranks order by (length, id), the recipe is a pure
    * function of the histogram. Output: (id, n_tokens, bin, oversize);
    * bins are dense 0..nBins-1, regular bins first. */
  def packBins(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val spark = df.sparkSession
    import spark.implicits._

    // null text must not vanish (size(split(null)) is null → matches neither
    // branch) nor poison the FFD loop with a 0/-1 length: count it as one
    // token, the same slot an empty string already occupies (split("") →
    // [""] → 1), so every input doc lands in exactly one bin.
    val withLen = df.select(
      col(idCol),
      greatest( // greatest also absorbs legacy-mode size(null) = -1
        coalesce(size(split(col(textCol), " ")).cast("long"), lit(1L)),
        lit(1L)).as("n_tokens"))
    val regular  = withLen.filter(col("n_tokens") <= seqLen)
    val oversize = withLen.filter(col("n_tokens") > seqLen)

    // 1. bounded histogram
    val hist: Map[Long, Long] = regular.groupBy(col("n_tokens")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // 2. greedy FFD recipe over the histogram: Seq of (composition, nBins)
    val remaining = scala.collection.mutable.Map(hist.toSeq: _*)
    val lengthsDesc = hist.keys.toArray.sorted(Ordering[Long].reverse)
    val recipe = Seq.newBuilder[(Seq[(Long, Long)], Long)] // (len -> copies)*, bins
    while (remaining.valuesIterator.exists(_ > 0)) {
      var residual = seqLen.toLong
      val comp     = Seq.newBuilder[(Long, Long)]
      var i        = 0
      while (i < lengthsDesc.length) {
        val len = lengthsDesc(i)
        val cnt = remaining(len)
        if (len <= residual && cnt > 0) {
          val copies = math.min(cnt, residual / len)
          comp += (len -> copies)
          residual -= copies * len
          // stay on this index: residual may still fit more of SMALLER
          // lengths only (copies was maximal for this one)
        }
        i += 1
      }
      val c = comp.result()
      // stamp as many identical bins as every component's count allows
      val stamp = c.map { case (len, k) => remaining(len) / k }.min
      c.foreach { case (len, k) => remaining(len) -= stamp * k }
      recipe += ((c, stamp))
    }
    val strategies = recipe.result()
    val nRegularBins = strategies.map(_._2).sum

    // 3. interval table: for each (strategy, length): within-length rank
    //    range [start, end), copies per bin, bin base
    val cursor = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    var binBase = 0L
    val rows = Seq.newBuilder[(Long, Long, Long, Long, Long)] // len, start, end, copies, base
    strategies.foreach { case (comp, bins) =>
      comp.foreach { case (len, k) =>
        val start = cursor(len)
        rows += ((len, start, start + k * bins, k, binBase))
        cursor(len) = start + k * bins
      }
      binBase += bins
    }
    val intervals = rows.result().toDF("_len", "_start", "_end", "_k", "_base")

    // distributed prefix-sum rank over (length, id) order — no per-length
    // window, no hot-length task
    def globalRank(part: DataFrame): DataFrame = {
      val ord = part.withColumn(
        "_ord", format_string("%010d|%020d", col("n_tokens"), col(idCol)))
        .withColumn("_one", lit(1L))
      prefixSum(ord, "_ord", "_one", "_rank").drop("_one", "_ord")
    }

    // within-length rank = global rank minus the length's first rank
    // (a ≤-histogram-sized broadcast join-back)
    val r = globalRank(regular)
    val mins = r.groupBy(col("n_tokens")).agg(min(col("_rank")).as("_min"))
    val regularAssigned = r
      .join(broadcast(mins), Seq("n_tokens"))
      .withColumn("_wr", col("_rank") - col("_min"))
      .join(broadcast(intervals),
        col("n_tokens") === col("_len") && col("_wr") >= col("_start") && col("_wr") < col("_end"))
      .select(
        col(idCol),
        col("n_tokens"),
        (col("_base") + (col("_wr") - col("_start")) / col("_k")).cast("long").as("bin"),
        lit(false).as("oversize"))

    // every oversize doc is its own bin: global rank, lengths mixed
    val oversizeAssigned = globalRank(oversize)
      .select(
        col(idCol),
        col("n_tokens"),
        (lit(nRegularBins) + col("_rank")).cast("long").as("bin"),
        lit(true).as("oversize"))

    regularAssigned.unionByName(oversizeAssigned)
  }

  /** Materialize [[packBins]] assignments into one row per bin — the
    * loader-ready form ([[packSequences]]' sibling for whole-doc bins):
    * documents concatenate in id order inside their bin, with the doc-id
    * list kept for attention-mask / provenance use. One join on the id
    * and one shuffle on the bin key; the in-bin sort is bounded by bin
    * capacity, not corpus size. */
  def packBinSequences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      seqLen: Int): DataFrame = {
    val assigned = packBins(df, idCol, textCol, seqLen)
    assigned
      .join(df.select(col(idCol), col(textCol)), Seq(idCol))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        max(col("oversize")).as("oversize"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(idCol), col(textCol)))),
            s => s.getField(textCol)),
          " ").as("bin_text"),
        array_sort(collect_list(col(idCol))).as("doc_ids"))
  }
}
