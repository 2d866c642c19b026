package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Scoped lifetime for pipeline-internal persists.
  *
  * Batch jobs persist intermediates (e.g. `RunJob`'s product, which the
  * store write, the row count and the slice exports each read; the
  * domain pipelines themselves persist nothing) and release them with the
  * Spark session
  * — the right lifetime for a run-once job. A long-lived streaming loop
  * (foreachBatch over many days) re-enters the pipeline every micro-batch,
  * so session-lifetime caches accrete until LRU eviction starts thrashing
  * the store. This scope gives such loops per-batch lifetime WITHOUT
  * threading cache handles through every pipeline signature: pipelines
  * route persists through [[persist]], and a wrapper brackets each batch
  * in [[withScope]], which unpersists everything registered on that thread
  * when the body finishes (success or failure).
  *
  * Thread-local because a foreachBatch body — plan construction, persist
  * calls, sink action — runs synchronously on the micro-batch thread;
  * scopes nest (inner scope releases only its own persists). Outside any
  * scope a persisted frame lives as long as the session (or until its
  * owner unpersists it): batch callers keep session-lifetime caches with
  * zero code change.
  *
  * Every cache is sized by AQE like an ordinary query: [[persist]] plans
  * the cached query with its final shuffle read coalescable, so a
  * one-granule batch caches one partition instead of
  * `coalescePartitions.initialPartitionNum` mostly empty ones, and every
  * consumer of the cache launches that many fewer tasks. Spark's default
  * keeps a cached plan's shuffle partitioning fixed so that consumers
  * planned against it stay shuffle-free; a coalesced hash read reports
  * `CoalescedHashPartitioning` over the same keys, which still satisfies
  * a consumer clustered on them.
  */
object CacheScope {

  private val active = new ThreadLocal[java.util.ArrayDeque[DataFrame]]()

  private val CoalesceCachedPlans = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Persist `df` at `level`, registering it with the innermost active
    * scope on this thread (no-op registration if none). The cached plan
    * is built with final-stage coalescing on; the session conf reads as
    * the caller left it once this returns. */
  def persist(df: DataFrame, level: StorageLevel): DataFrame = {
    val conf = df.sparkSession.conf
    // Spark reads the flag only while `persist` plans the cached query.
    // The lock keeps concurrent persists from restoring each other's
    // value; `getAll` holds only explicitly set keys, where `getOption`
    // would report an unset key's default.
    val out = CacheScope.synchronized {
      val prev = conf.getAll.get(CoalesceCachedPlans)
      conf.set(CoalesceCachedPlans, "true")
      try df.persist(level)
      finally prev match {
        case Some(v) => conf.set(CoalesceCachedPlans, v)
        case None    => conf.unset(CoalesceCachedPlans)
      }
    }
    val stack = active.get()
    if (stack != null) stack.push(out)
    out
  }

  /** Run `body`; unpersist (non-blocking) every [[persist]] registered
    * during it on this thread, even on failure. Returns `body`'s value. */
  def withScope[T](body: => T): T = {
    val prev = active.get()
    val mine = new java.util.ArrayDeque[DataFrame]()
    active.set(mine)
    try body
    finally {
      if (prev == null) active.remove() else active.set(prev)
      mine.forEach(df => df.unpersist(blocking = false))
    }
  }
}
