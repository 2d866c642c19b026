package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded heavy-hitter candidate summary — the SpaceSaving algorithm
  * (Metwally, Agrawal & El Abbadi 2005, "Efficient Computation of
  * Frequent and Top-k Elements in Data Streams") as a partial aggregate,
  * mergeable in the sense of Agarwal et al. 2012 ("Mergeable Summaries"):
  * union the counters, keep the top `m` by count.
  *
  * Guarantees carried by the summary (and pinned in specs):
  *  - state is bounded at `m` counters FOREVER, whatever the distinct
  *    count of the stream;
  *  - within a single UNMERGED summary, `count` never underestimates the
  *    true count, and overestimates by at most `err` (the evicted mass
  *    absorbed at takeover time);
  *  - every value whose true count exceeds N/m (N = stream size reaching
  *    this summary) is present — the never-miss law heavy-hitter
  *    harvesting builds on. With `m` ≥ distinct values nothing ever
  *    evicts and every count is exact.
  *
  * After a distributed MERGE the guarantees weaken to the standard
  * mergeable-summaries error band (Agarwal et al. 2012): the merge sums
  * only counters PRESENT in each partial and truncates back to the top
  * `m`, so a value evicted from one partial but kept in another loses the
  * evicted side's absorbed mass — merged counts CAN underestimate, by at
  * most the evicted partial's minimum counter per merge. The never-miss
  * threshold likewise degrades additively across merges (a value must
  * exceed the SUM of the partials' N_i/m thresholds to be guaranteed
  * present). The specs exercise the collision/eviction-free regime where
  * both bounds are tight; downstream consumers treat the output strictly
  * as a CANDIDATE set and re-price counts with CMS.
  *
  * This is the CANDIDATE side of streaming heavy hitters: it answers
  * "which values could be frequent" with a bounded set; the counts worth
  * reporting come from pairing the candidates with a CMS register table
  * ([[graft.operators.Sketches.cmsEstimate]]), whose estimates
  * are independent of eviction order.
  *
  * Determinism note: the candidate SET depends on reduce/merge order for
  * values below the guarantee threshold (as in any SpaceSaving
  * deployment); everything ABOVE the threshold is order-independent.
  * Eviction picks the (count asc, value asc)-smallest counter, so each
  * individual step is deterministic given its buffer.
  */
object SpaceSaving {

  final case class Counter(value: String, count: Long, err: Long)

  final class SpaceSavingAggregator(m: Int)
      extends Aggregator[String, mutable.HashMap[String, (Long, Long)], Seq[Counter]] {
    require(m >= 1, "capacity must be positive")

    private def evictMin(b: mutable.HashMap[String, (Long, Long)]): (String, Long) = {
      // smallest count wins eviction; value order breaks ties deterministically
      var minK: String = null
      var minC = Long.MaxValue
      b.foreach { case (k, (c, _)) =>
        if (c < minC || (c == minC && (minK == null || k < minK))) { minK = k; minC = c }
      }
      b.remove(minK)
      (minK, minC)
    }

    override def zero: mutable.HashMap[String, (Long, Long)] = mutable.HashMap.empty

    override def reduce(
        b: mutable.HashMap[String, (Long, Long)],
        v: String): mutable.HashMap[String, (Long, Long)] = {
      if (v != null) {
        b.get(v) match {
          case Some((c, e)) => b.update(v, (c + 1L, e))
          case None if b.size < m => b.update(v, (1L, 0L))
          case None =>
            // take over the min counter: its count is the new value's
            // possible overcount, recorded as err
            val (_, minC) = evictMin(b)
            b.update(v, (minC + 1L, minC))
        }
      }
      b
    }

    override def merge(
        b1: mutable.HashMap[String, (Long, Long)],
        b2: mutable.HashMap[String, (Long, Long)]): mutable.HashMap[String, (Long, Long)] = {
      // mergeable-summaries union: sum counts and errs per value...
      b2.foreach { case (k, (c2, e2)) =>
        b1.get(k) match {
          case Some((c1, e1)) => b1.update(k, (c1 + c2, e1 + e2))
          case None           => b1.update(k, (c2, e2))
        }
      }
      // ...then truncate back to the top m by (count desc, value asc)
      if (b1.size > m) {
        val keep = b1.toSeq.sortBy { case (k, (c, _)) => (-c, k) }.take(m)
        b1.clear()
        b1 ++= keep
      }
      b1
    }

    override def finish(b: mutable.HashMap[String, (Long, Long)]): Seq[Counter] =
      b.toSeq.sortBy { case (k, (c, _)) => (-c, k) }
        .map { case (k, (c, e)) => Counter(k, c, e) }

    override def bufferEncoder: Encoder[mutable.HashMap[String, (Long, Long)]] =
      Encoders.kryo[mutable.HashMap[String, (Long, Long)]]
    override def outputEncoder: Encoder[Seq[Counter]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Counter]]()
  }

  /** Column aggregate: the m-bounded SpaceSaving summary of `value`,
    * returned as array<struct<value,count,err>> sorted by (count desc,
    * value asc). Usable in batch GROUP BY and in streaming aggregations
    * (the buffer is ordinary checkpointed aggregation state). */
  def summary(m: Int, value: Column): Column = {
    val agg = udaf(new SpaceSavingAggregator(m), Encoders.STRING)
    agg(value.cast("string"))
  }
}
