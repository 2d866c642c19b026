package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The reference queue consumer's disposition taxonomy, applied to errors
  * that surface INSIDE the pipeline (after a message was admitted).
  *
  * The reference classifies every processing failure before acking:
  * `NonRetryableException → basic_reject(requeue=False)` (drop to
  * dead-letter), anything transient → `basic_nack` (requeue)
  * (`sam_extract/main.py:711-735`, `exceptions/Exceptions.py:16-42`).
  * [[FileQueueSource]] applies the same taxonomy at DISCOVERY (unreadable /
  * missing-input messages never enter the stream); this object covers the
  * second failure surface: an ADMITTED granule whose processing trips an
  * analysis-time guard — e.g. the degenerate-region ceiling
  * ([[graft.domain.GlobalPipeline.MaxRegionPixelsConfKey]] under
  * `oversizeRegions=fail`) or a malformed-conf `IllegalArgumentException`.
  * Without classification such an error is a POISON MESSAGE: the
  * micro-batch fails, Spark replays it from the checkpoint, it fails again
  * — a crash loop that wedges the whole queue behind one bad granule.
  * [[MicroBatchIngest.ingestQueue]] catches the batch failure, asks
  * [[nonRetryable]], and either dead-letters the message and continues the
  * stream (reject) or rethrows so Spark's checkpoint replay requeues it
  * (nack).
  */
object Disposition {

  /** The full cause chain of `t`, cycle-safe, outermost first. */
  private def causes(t: Throwable): List[Throwable] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Throwable]
    var cur  = t
    while (cur != null && seen.add(cur)) cur = cur.getCause
    seen.toList
  }

  /** Deterministic-failure classification — replaying the same bytes can
    * only fail the same way:
    *  - `raise_error` guards (Spark condition USER_RAISED_EXCEPTION): the
    *    guards written as SQL expressions raise through it (`Portable`'s
    *    exact-sum guard);
    *  - `IllegalArgumentException` RAISED BY THIS ENGINE (the first
    *    non-JDK/non-scala frame below the throw site is `graft.` — see
    *    [[graftRaised]]): malformed conf, argument validation, the
    *    global region ceiling (raised in the region pass), or a JDK
    *    primitive fed bad graft arguments (`parseLong` on malformed
    *    metadata — NumberFormatException IS an IAE). The reference
    *    rejects only ITS OWN NonRetryable taxonomy
    *    (`exceptions/Exceptions.py:16-42`); IAE is ubiquitous in JVM/Spark
    *    internals and can be transient (racy config, library edge cases),
    *    so a blanket IAE match could permanently dead-letter a good
    *    granule — IAEs whose first library frame is Spark/Hadoop/other
    *    stay transient (requeue);
    *  - `AnalysisException`: a granule whose decoded schema doesn't bind
    *    the pipeline's columns;
    *  - `FileNotFoundException`: the input vanished after admission —
    *    redelivery cannot bring it back (the reference's
    *    `__validate_files` NonRetryable).
    * Everything else (executor loss, I/O hiccups, OOM) is transient:
    * requeue via Spark's own checkpoint replay. */
  def nonRetryable(t: Throwable): Boolean = causes(t).exists {
    case e: org.apache.spark.SparkThrowable
        if e.getCondition == "USER_RAISED_EXCEPTION" => true
    case _: org.apache.spark.sql.AnalysisException   => true
    case e: IllegalArgumentException if graftRaised(e) => true
    case _: java.io.FileNotFoundException            => true
    case _                                           => false
  }

  /** Did this engine raise `e`? Classified by the THROW SITE, not the whole
    * stack: most executor/driver work runs under graft lambdas, so a
    * third-party IAE thrown anywhere beneath graft-invoked code would still
    * carry graft frames further down — a whole-stack match would classify
    * it non-retryable and permanently dead-letter a granule whose failure
    * was transient. Instead we walk down from the throw site past
    * JDK/scala frames and ask whether the FIRST library frame is `graft.`:
    *  - a graft `require` guard (`scala.Predef$` over the graft caller)
    *    and a JDK-raised IAE fed by graft arguments (`Long.parseLong` on
    *    malformed metadata, TimSort's contract violation under a graft
    *    comparator — NumberFormatException IS an IAE) both attribute to
    *    graft: replaying the same bytes fails the same way, and an
    *    infinite requeue would wedge the queue where a dead-letter stays
    *    operator-recoverable via redrive;
    *  - an IAE whose first library frame is Spark/Hadoop/any other
    *    non-graft package classifies transient (requeue), even when graft
    *    invoked it — third-party IAEs can be racy-config artifacts, and a
    *    wrong dead-letter there would discard a good granule.
    * Exceptions carried back from executors keep their original
    * throw-site frames, so the check survives serialization.
    *
    * An EMPTY stack trace cannot be attributed by throw site. The JVM's
    * default `-XX:+OmitStackTraceInFastThrow` strips stacks from
    * repeatedly-thrown exceptions — precisely during a replay crash loop
    * of a deterministic graft guard — so the fallback matters: use the
    * nearest CAUSE that kept a stack (wrappers are created fresh per
    * throw, but a cached cause can be stackless too). If nothing in the
    * chain has a stack, classify transient; the bounded-redelivery
    * breaker ([[bumpDeliveries]]) then stops the loop after
    * `maxRedeliveries` replays. Launch configs additionally pass
    * `-XX:-OmitStackTraceInFastThrow` (build.sbt, dev/probe.sh) so the
    * primary classification keeps its evidence. */
  private[streaming] def graftRaised(e: Throwable): Boolean = {
    def firstLib(t: Throwable): Option[StackTraceElement] =
      t.getStackTrace.iterator.find { f =>
        val c = f.getClassName
        !(c.startsWith("java.") || c.startsWith("jdk.") || c.startsWith("sun.") ||
          c.startsWith("scala."))
      }
    if (e.getStackTrace.nonEmpty) firstLib(e).exists(_.getClassName.startsWith("graft."))
    else
      causes(e).drop(1).find(_.getStackTrace.nonEmpty)
        .flatMap(firstLib).exists(_.getClassName.startsWith("graft."))
  }

  /** Raised by the bounded-redelivery circuit breaker: a message whose
    * batch failed with TRANSIENT-classified errors `max` times in a row.
    * Deterministic failures misclassified transient (a third-party
    * `require` fed bad graft arguments, a stackless hot-thrown guard)
    * replay identically forever — the reference's RMQ nack loop wedges
    * the same way (`sam_extract/main.py:711-735`); this engine bounds it.
    * Dead-lettered with this reason, the message stays recoverable via
    * `RepairJob --redrive`. */
  final class MaxRedeliveriesExceeded(
      name: String, attempts: Int, max: Int, cause: Throwable = null)
      extends RuntimeException(
        s"max-redeliveries: message '$name' delivered $attempts times with transient-" +
          s"classified failures (limit $max) — dead-lettering to unwedge the queue; " +
          "recover with RepairJob --redrive once the cause is fixed", cause)

  /** Durable per-message delivery counter under
    * `<checkpoint>/filequeue-deliveries/<name>`: bump on every delivery
    * (batch entry), returning the attempt number. Tolerant read like the
    * acked watermark — a torn/garbage counter degrades to 0, which only
    * grants extra replays (the safe direction). O(1) filesystem ops per
    * message per batch; [[clearDeliveries]] retires counters when their
    * batch completes, so the dir holds only in-flight names. */
  def bumpDeliveries(checkpointLocation: String, name: String, conf: Configuration): Int = {
    val dir = new Path(checkpointLocation, "filequeue-deliveries")
    val fs  = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val p = new Path(dir, name)
    val prev =
      if (!fs.exists(p)) 0
      else
        try {
          val src = scala.io.Source.fromInputStream(fs.open(p), "UTF-8")
          try src.mkString.trim.toInt finally src.close()
        } catch { case _: Exception => 0 }
    val n   = prev + 1
    val out = fs.create(p, true)
    try out.write(s"$n\n".getBytes("UTF-8")) finally out.close()
    n
  }

  /** Retire delivery counters for messages whose batch completed (committed
    * or dead-lettered). A redriven message re-enters under a fresh
    * `.redrive` name, so its budget starts over by construction. */
  def clearDeliveries(checkpointLocation: String, names: Seq[String], conf: Configuration): Unit =
    if (names.nonEmpty) {
      val dir = new Path(checkpointLocation, "filequeue-deliveries")
      val fs  = dir.getFileSystem(conf)
      names.foreach(n => fs.delete(new Path(dir, n), false))
    }

  /** `basic_reject(requeue=False)`: move a message file out of the queue to
    * `<queue>/.deadletter/` with a `<name>.reason` sidecar carrying the
    * guard message. Idempotent — a replayed reject is a no-op move (the
    * reason sidecar is rewritten). */
  def deadLetter(queueDir: String, name: String, cause: Throwable, conf: Configuration): Unit = {
    val q    = new Path(queueDir)
    val fs   = q.getFileSystem(conf)
    val dead = new Path(q, ".deadletter")
    fs.mkdirs(dead)
    val src = new Path(q, name)
    if (fs.exists(src)) fs.rename(src, new Path(dead, name))
    val reason = new Path(dead, s"$name.reason")
    val out    = fs.create(reason, true)
    try out.write(
      (causes(cause).map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n") + "\n")
        .getBytes("UTF-8"))
    finally out.close()
    // driver-side and rare: a visible one-liner beats a logger dependency
    println(s"graft.streaming: non-retryable failure — dead-lettered message '$name': ${cause.getMessage}")
  }

  /** Is this message already dead-lettered? (A replayed batch must not
    * re-process a rejected message.) */
  def isDead(queueDir: String, name: String, conf: Configuration): Boolean = {
    val fs = new Path(queueDir).getFileSystem(conf)
    fs.exists(new Path(new Path(new Path(queueDir), ".deadletter"), name))
  }

  /** Retention pruning for the `.acked/` audit dir (`RepairJob
    * --prune-acked`). The reference's `basic_ack` DELETES the consumed
    * message outright (RMQ keeps no archive, `main.py:733`); this engine
    * keeps acked files as a replay-readable audit trail, which on an
    * object store grows one listing entry per message forever (a year at
    * the reference's 15-min cadence ≈ 35k objects in one prefix). Prune
    * entries older than `olderThanDays` by modification time — which is
    * the ACK time, not the producer write time: the ack walk stamps a
    * fresh mtime on the archived copy after the rename (rename preserves
    * the producer mtime, so a backlog older than the cutoff would
    * otherwise have just-acked files pruned inside the replay window —
    * exactly the wedged-queue scenario; the copy-repair path gets a fresh
    * mtime from the copy itself). A replayed batch can only need an acked
    * file within the replay window around the CURRENT offset (minutes at
    * most — everything older is terminally committed), so any day-scale
    * cutoff over time-since-ack is safe, and the acked watermark is a
    * name-count over the offset log, unaffected by dir contents. Returns
    * the pruned count. */
  def pruneAcked(queueDir: String, olderThanDays: Int, conf: Configuration): Int = {
    require(olderThanDays >= 1,
      "prune-acked cutoff must be >= 1 day: a replayed batch around the current " +
        "offset may still read recently-acked files")
    val acked = new Path(new Path(queueDir), ".acked")
    val fs    = acked.getFileSystem(conf)
    if (!fs.exists(acked)) return 0
    val cutoff = System.currentTimeMillis() - olderThanDays.toLong * 24 * 3600 * 1000
    var n = 0
    fs.listStatus(acked).foreach { s =>
      if (s.isFile && !s.getPath.getName.startsWith(".") && s.getModificationTime < cutoff)
        if (fs.delete(s.getPath, false)) n += 1
    }
    n
  }

  /** Re-queue every dead-lettered message (`RepairJob --redrive`): move it
    * out of `.deadletter/` back into the queue under `<name>.redrive` and
    * drop its `.reason` sidecar — the operational analog of manually
    * redelivering after the reference's `basic_reject(requeue=False)`
    * once the operator has fixed the conf that poisoned it. The RENAME
    * matters: the queue source's offset log is keyed by message name, so
    * re-entering under the original name inside a live checkpoint would
    * be skipped at discovery yet swept into `.acked` unprocessed; a fresh
    * name is a fresh message. Idempotent — a second redrive finds an
    * empty `.deadletter/` and is a no-op; a message whose target name
    * already exists in the queue is left in place. Returns the re-queued
    * names. */
  def redrive(queueDir: String, conf: Configuration): Seq[String] = {
    val q    = new Path(queueDir)
    val fs   = q.getFileSystem(conf)
    val dead = new Path(q, ".deadletter")
    if (!fs.exists(dead)) return Nil
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    fs.listStatus(dead).toSeq.map(_.getPath).sortBy(_.getName).foreach { p =>
      val name = p.getName
      if (!name.startsWith(".") && !name.endsWith(".reason") && !name.endsWith(".crc")) {
        val dst = new Path(q, s"$name.redrive")
        if (!fs.exists(dst) && fs.rename(p, dst)) {
          fs.delete(new Path(dead, s"$name.reason"), false)
          moved += dst.getName
        }
      }
    }
    moved.toSeq
  }
}
