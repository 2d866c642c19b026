package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Release the executor-storage blocks behind a `localCheckpoint()`ed
  * DataFrame.
  *
  * `Dataset.localCheckpoint` persists the materialized rows as blocks with
  * no public release hook, so an iterative operator (the connected-components
  * star contraction) that checkpoints per round leaks one RDD of blocks per round
  * for the life of the session. `free` unpersists exactly the checkpoint's
  * own RDD — it is a no-op unless the frame's ROOT plan is the checkpoint
  * (`LogicalRDD`), so passing a derived frame can never unpersist an
  * ancestor some other plan still needs.
  *
  * Only call it on a checkpoint nothing will read again: the blocks ARE
  * the data (lineage was truncated), so a later action on the freed frame
  * fails with a missing-block error rather than silently recomputing.
  */
private[graft] object Checkpoints {

  /** Unpersist `df`'s backing blocks iff `df` is itself a local
    * checkpoint; no-op (and safe) otherwise. */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _             => ()
    }
}
