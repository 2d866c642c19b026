package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming near-duplicate detection at ingest — the queue-mode face of
  * `MinHashLSH.nearDuplicates` (SURVEY §2.9 composed with the LLM-pipeline
  * dedup family; the reference's queue loop is `main.py:670-801`).
  *
  * Each arriving document's minhash signature computes in the same
  * one-pass kernel as the batch operator (`MinHashSigExpr` — a pure
  * projection, streaming-safe), is banded into LSH bucket keys, and a
  * `flatMapGroupsWithState` cell per bucket holds the signatures seen
  * within the watermark. An arrival is a hit when its signature-estimated
  * Jaccard against a held entry — the fraction of equal minhash
  * components, the standard unbiased estimator — reaches the threshold.
  * The exact shingle-set verify of the batch operator would mean carrying
  * full shingle sets in state; at ingest the estimator gates cheaply and
  * the exact verify of the batch `MinHashLSH.nearDuplicates` remains the
  * offline arbiter (same estimate-online / verify-offline split as the
  * reference's post-append verification S8).
  *
  * State is bounded FOUR ways: entries older than the watermark are
  * pruned on every group invocation, idle buckets are removed by
  * event-time timeout, per-bucket size is kept small by the near-dup
  * premise (the gate dedups exactly upstream, so buckets hold genuine
  * near-dup clusters, not exact-copy floods), and — mirroring the batch
  * operator's `maxBucket` contract — a HARD per-bucket state cap (default
  * [[DefaultMaxBucket]], on by default): a bucket at cap still compares
  * every arrival against its held entries (flags keep flowing) but stops
  * accumulating new entries, so a corpus that skipped exact dedup bounds
  * both state size and per-arrival work at `maxBucket` instead of growing
  * without limit. The first cap engagement logs a once-per-JVM warning
  * naming the bucket. Pass `maxBucket = Int.MaxValue` to restore uncapped
  * behavior.
  */
object StreamingNearDup {

  /** Default per-bucket state cap — the streaming twin of the batch
    * operator's `bucketWarnThreshold`/`maxBucket` (MinHashLSH): 10k
    * signature entries ≈ a few MB per pathological bucket, and per-arrival
    * comparison work is bounded at the same figure. */
  val DefaultMaxBucket: Int = 10000

  private val capWarned = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def warnCap(key: String, cap: Int): Unit =
    if (capWarned.compareAndSet(false, true))
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"StreamingNearDup.flagBands bucket '$key' reached the $cap-entry state cap: new arrivals " +
          "still compare against held entries but are no longer retained. An over-cap minhash " +
          "bucket means an exact-duplicate flood — run exact dedup upstream. " +
          "(warned once per JVM)")

  final case class FlagEntry(id: String, ts: Long, sig: Seq[String])
  final case class FlagBucketState(entries: List[FlagEntry])

  /** Per-document near-dup FLAG stream: every input row is emitted once
    * per band (schema-preserving, plus a `near_dup_hit` boolean), so the
    * stage composes into [[CorpusIngest.gate]] as flag-don't-drop,
    * mirroring the gate's dedup-flag contract. `watermarkMs` is both the
    * event-time watermark and the bucket-state retention: a near-dup is
    * only discoverable while the earlier document is younger than the
    * watermark — the deliberate ingest-window semantics (full-corpus
    * near-dup is the batch operator's job).
    *
    * Spark's correctness checker (rightly) refuses a second stateful
    * operator after `flatMapGroupsWithState`, so the per-document merge of
    * the nBands per-band rows CANNOT be a streaming aggregation. It does
    * not need to be: a document's exploded band rows enter — and therefore
    * exit — the stateful stage in the SAME micro-batch, so the merge is a
    * plain within-batch aggregation ([[CorpusIngest.mergeBandFlags]]) in
    * the caller's foreachBatch, with cross-batch matching carried entirely
    * by this operator's bucket state.
    *
    * Documents shorter than `shingleLen` words have no signature; they
    * bypass the stateful stage via a self-union and emit one unflagged row
    * (the gate keeps them — a FILTER there would silently drop short docs,
    * which is the near-dup stage's call to make, not the signature's). */
  def flagBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      watermarkMs: Long = 10 * 60 * 1000L,
      shingleLen: Int = 3,
      numHashes: Int = 8,
      rowsPerBand: Int = 2,
      minEstJaccard: Double = 0.5,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(maxBucket >= 1, "maxBucket must be positive")
    require(numHashes % rowsPerBand == 0, "numHashes must be a multiple of rowsPerBand")
    val nBands = numHashes / rowsPerBand
    val sig    = graft.functions.MinHashSigExpr(col(textCol), shingleLen, numHashes)
    val bandKeyCols = (0 until nBands).map { b =>
      concat_ws("|",
        lit(b.toString) +: (0 until rowsPerBand).map(r => col("_sig").getItem(b * rowsPerBand + r)): _*)
    }
    val watermarked = df.withWatermark(tsCol, s"$watermarkMs milliseconds")
    val isLong      = size(split(col(textCol), " ")) >= shingleLen

    val outSchema = org.apache.spark.sql.types.StructType(
      df.schema.fields :+
        org.apache.spark.sql.types.StructField("near_dup_hit", org.apache.spark.sql.types.BooleanType, nullable = false))
    val origCols = df.columns

    val exploded = watermarked
      .filter(isLong)
      .withColumn("_sig", sig)
      .withColumn("_band_key", explode(array(bandKeyCols: _*)))
    val schema  = exploded.schema
    val keyIdx  = schema.fieldIndex("_band_key")
    val sigIdx  = schema.fieldIndex("_sig")
    val idIdx   = schema.fieldIndex(idCol)
    val tsIdx   = schema.fieldIndex(tsCol)
    val nOrig   = origCols.length

    import org.apache.spark.sql.{Encoders, Row}
    val flagged = exploded
      .groupByKey(_.getString(keyIdx))(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: String, it: Iterator[Row], state: GroupState[FlagBucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            var entries = state.getOption.map(_.entries).getOrElse(Nil).filter(_.ts >= wm)
            val out = Seq.newBuilder[Row]
            // deterministic within-batch order: event time, then id
            it.toSeq
              .sortBy(r => (r.getTimestamp(tsIdx).getTime, String.valueOf(r.get(idIdx))))
              .foreach { r =>
                val id  = String.valueOf(r.get(idIdx))
                val t   = r.getTimestamp(tsIdx).getTime
                val s   = r.getSeq[String](sigIdx)
                val hit = entries.exists { e =>
                  e.id != id &&
                    e.sig.iterator.zip(s.iterator).count { case (a, b) => a == b }.toDouble / numHashes >= minEstJaccard
                }
                out += Row.fromSeq((0 until nOrig).map(r.get) :+ hit)
                if (entries.lengthCompare(maxBucket) < 0)
                  entries = FlagEntry(id, t, s) :: entries
                else warnCap(key, maxBucket)
              }
            if (entries.isEmpty) state.remove()
            else {
              state.update(FlagBucketState(entries))
              state.setTimeoutTimestamp(math.max(entries.map(_.ts).max + watermarkMs, wm + 1))
            }
            out.result().iterator
          }
      }(Encoders.product[FlagBucketState], Encoders.row(outSchema))

    val shortDocs = watermarked
      .filter(!isLong)
      .withColumn("near_dup_hit", lit(false))
    flagged.unionByName(shortDocs)
  }
}
