package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming ingestion (SURVEY S5 / §2.9).
  *
  * The reference consumes RabbitMQ messages (prefetch 1) naming granule
  * files, processes each batch through the same dataflow as batch mode, and
  * acks/nacks for at-least-once delivery; duplicate appends are repaired
  * post-hoc (`sam_extract/main.py:670-801`, `writers/ZarrWriter.py:355-378`).
  *
  * Structured-Streaming shape: a file-manifest stream → `foreachBatch`
  * running the identical batch pipeline → idempotent partition-overwrite
  * sink (graft.sinks.ProductStore). Idempotent sink + checkpointed source =
  * exactly-once effect over at-least-once delivery, replacing the reference's
  * ack/repair protocol. Completeness gating (the reference's day-gap logic,
  * `tools/deploy/run.py:217-333`) stays a driver-side manifest filter, as in
  * the reference.
  */
object MicroBatchIngest {

  /** The reference's FULL production loop, Spark-native (`main.py:670-801`
    * queue consumer → `process_inputs` → store append): consume granule-list
    * messages from a [[FileQueueSource]] queue, decode the named NetCDF
    * granules through the netcdf3 source, run the target-focused pipeline,
    * and append to the idempotent product store. Message metadata is the
    * only driver-side data; granule bytes flow executor-side. Exactly-once
    * effect: checkpointed queue offsets × day-partition overwrite.
    * Returns the started query (AvailableNow: drains, then stops). */
  /** `climatologyState`: optional day-grain exact-sum state dir
    * ([[graft.operators.Climatology.updateDailyState]]) kept fresh per
    * micro-batch — after the store append, the batch's days re-aggregate
    * FROM THE STORE (day-pruned scan, correct even when a later batch
    * re-delivers or rewrites a day the state already covers), so span
    * means are always one bounded fold away instead of a nightly
    * full-store rescan. */
  /** `product`: optional override of the batch pipeline — `(spark, granule
    * paths) → long-form product` — so the SAME queue loop drives other
    * pipelines (e.g. the global-mesh product,
    * `GlobalPipeline.toStoreVariables ∘ GlobalPipeline.process`); default
    * is the target-focused `Pipeline.process` over `catalog`/`cfg`.
    * `stateKeys`: climatology state grouping keys (the global store's long
    * form has no target_id — pass `Seq("variable")`); a batch whose
    * product lacks one of them dead-letters before its store append.
    * `maxRedeliveries`: the bounded-redelivery budget — a message whose
    * batch keeps failing with TRANSIENT-classified errors is dead-lettered
    * after this many deliveries instead of replaying forever (the breaker
    * for deterministic failures the taxonomy misclassifies; see the
    * circuit-breaker block below). Tradeoff note: in a SINGLE-message
    * batch the budget check precedes the run, so a transient outage that
    * spans the full budget dead-letters the message (recoverable via
    * `RepairJob --redrive`); multi-message batches discriminate outages
    * from poison at the solo-probe stage (all-fail → replay).
    * `pruneAckedDays`: opt-in `.acked/` retention wired into the loop
    * (VERDICT r19 #4 — [[Disposition.pruneAcked]] existed but nothing
    * invoked it on a cadence): after a batch completes, acked messages
    * older than this many days SINCE ACK are pruned, every
    * `pruneEveryBatches` batches. The RepairJob `--prune-acked` path
    * remains for operators. */
  def ingestQueue(
      spark: SparkSession,
      queueDir: String,
      checkpoint: String,
      storePath: String,
      catalog: DataFrame,
      cfg: graft.domain.Pipeline.Config = graft.domain.Pipeline.Config(),
      maxMessagesPerBatch: Int = 1,
      climatologyState: Option[String] = None,
      stateKeys: Seq[String] = Seq("target_id", "variable"),
      product: Option[(SparkSession, Seq[String]) => DataFrame] = None,
      maxRedeliveries: Int = 5,
      pruneAckedDays: Option[Int] = None,
      pruneEveryBatches: Int = 100): StreamingQuery = {
    val stream = spark.readStream
      .format("filequeue")
      .option("path", queueDir)
      .option("maxmessagesperbatch", maxMessagesPerBatch)
      .load()
    val buildProduct: Seq[String] => DataFrame = product match {
      case Some(f) => paths => f(spark, paths)
      case None =>
        paths =>
          graft.domain.Pipeline.process(
            graft.sources.netcdf.NetCDFGranules.readGranules(spark, paths).drop("sounding_id"),
            catalog, cfg)
    }
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hconf = spark.sessionState.newHadoopConf()
        val admitted: Seq[(String, Seq[String])] = batch
          .select(col("message"), col("granule_path")).collect()
          .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSeq.distinct)
          .toSeq.sortBy(_._1)
          // a replayed batch can contain a message rejected just before a
          // crash — already in .deadletter, never re-process it
          .filterNot { case (name, _) => Disposition.isDead(queueDir, name, hconf) }
        // Bounded-redelivery circuit breaker: the disposition taxonomy can
        // misclassify a DETERMINISTIC failure as transient (a third-party
        // `require` fed bad graft arguments — its throw site is the
        // library, not graft — or a stackless hot-thrown guard under
        // OmitStackTraceInFastThrow). Such a batch replays identically
        // forever and wedges the queue; the reference's RMQ nack loop has
        // the same hazard (`main.py:711-735`). Every delivery bumps a
        // durable per-message counter; a message past its budget is
        // dead-lettered with a `max-redeliveries` reason (recoverable via
        // RepairJob --redrive) and the stream drains the rest. Counters
        // clear when the batch completes, so a genuinely transient failure
        // that succeeds within the budget leaves no residue.
        val attempts = admitted.map { case (name, paths) =>
          (name, paths, Disposition.bumpDeliveries(checkpoint, name, hconf))
        }
        val overBudget = attempts.filter(_._3 > maxRedeliveries)
        // Attribution at the exhaustion boundary: in a MULTI-message batch
        // the budget was burned by JOINT failures, so dead-lettering every
        // over-budget message would punish innocent batch-mates of one
        // poison message. Probe each over-budget message SOLO with a
        // catch-ALL (replaying is over at this point, so even transient-
        // classified failures count against the message here) and
        // dead-letter only the solo failures — each with its actual error
        // as the cause under the max-redeliveries reason; survivors rejoin
        // the batch. A combination-only failure (every solo probe passes,
        // the joint run keeps failing) gets one bounded second budget:
        // past 2×maxRedeliveries the whole group dead-letters, so the
        // breaker can never be argued back into an infinite loop.
        //
        // Outage discrimination (ADVICE r19): the probe's catch must stay
        // broad — the misclassified-deterministic poison it exists to stop
        // is transient-CLASSIFIED by construction — but a store/FS OUTAGE
        // at the exhaustion boundary also fails every probe with
        // transient-classified errors, and dead-lettering there converts
        // healthy messages into dead letters needing manual --redrive
        // after recovery. The distinguishing signal is batch-width: an
        // outage fails EVERY probed message, a poison message fails ONLY
        // its own probe. So when every solo probe fails and at least one
        // failure is transient-classified, rethrow (Spark replays; the
        // durable counters still bound total replays at the 2× hard stop
        // below); a MIX of pass and fail is message-specific and
        // dead-letters exactly the failures. Single-message batches skip
        // the probe: the joint failure IS the solo failure, already
        // observed maxRedeliveries times.
        val exhausted: Seq[(String, Throwable)] =
          if (overBudget.isEmpty) Nil
          else if (attempts.sizeIs <= 1 || overBudget.exists(_._3 > 2 * maxRedeliveries))
            overBudget.map { case (name, _, n) =>
              (name, new Disposition.MaxRedeliveriesExceeded(name, n, maxRedeliveries))
            }
          else {
            val probed = overBudget.map { case (name, paths, n) =>
              val err =
                try {
                  graft.CacheScope.withScope {
                    buildProduct(paths).queryExecution.toRdd.count()
                  }
                  None
                } catch { case scala.util.control.NonFatal(e) => Some(e) }
              (name, n, err)
            }
            if (probed.forall(_._3.isDefined) &&
                probed.exists(p => !Disposition.nonRetryable(p._3.get)))
              throw probed.collectFirst {
                case (_, _, Some(e)) if !Disposition.nonRetryable(e) => e
              }.get
            probed.collect { case (name, n, Some(e)) =>
              (name, new Disposition.MaxRedeliveriesExceeded(name, n, maxRedeliveries, e))
            }
          }
        exhausted.foreach { case (name, e) => Disposition.deadLetter(queueDir, name, e, hconf) }
        val deadNames = exhausted.map(_._1).toSet
        val byMsg = attempts.collect {
          case (name, paths, _) if !deadNames(name) => (name, paths)
        }
        // CacheScope brackets the whole batch: the batch's caches (the
        // product below; a custom `product`'s session table) persist
        // WITHIN the batch, then unpersist in the scope's finally — a
        // multi-day streaming run holds a flat cache footprint instead of
        // accreting caches per micro-batch until LRU eviction.
        def runBatch(paths: Seq[String]): Unit = if (paths.nonEmpty) graft.CacheScope.withScope {
          val product0 = buildProduct(paths)
          // the refresh groups the store by stateKeys AFTER the commit; keys
          // the product lacks (the global product has no target_id) would
          // fail there on every batch, so reject the batch before it commits
          if (climatologyState.isDefined) {
            val missing = stateKeys.filterNot(product0.columns.contains)
            if (missing.nonEmpty)
              throw new IllegalArgumentException(
                s"stateKeys ${missing.mkString(", ")} not in the product's columns " +
                  s"(${product0.columns.mkString(", ")}); pass stateKeys the product has")
          }
          // with a climatology state the product has TWO consumers (store
          // append + the touched-days collect) — persist within the
          // batch's CacheScope so the pipeline executes once
          val product =
            if (climatologyState.isDefined)
              graft.CacheScope.persist(product0, org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            else product0
          graft.sinks.ProductStore.appendIdempotent(product, storePath)
          climatologyState.foreach { statePath =>
            // POST-COMMIT stage: the store append above already committed.
            // A deterministic failure here must NOT propagate into the
            // outer disposition catch — it would dead-letter every message
            // in the batch with this shared reason even though their data
            // is in the store (misattribution + redrive double-processing).
            // The refresh recomputes its touched days FROM THE STORE, so
            // skipping it is safe: the next batch touching those days (or
            // an operator-run ClimatologyJob) converges the state. A
            // transient failure still rethrows — Spark replays the batch
            // and the idempotent append makes the replay a no-op.
            // ANY refresh failure would recur or misattribute if it
            // propagated from here (the append already committed), and
            // skipping the refresh is always convergent — the state
            // recomputes FROM THE STORE on the next batch touching the
            // same days (or an operator-run ClimatologyJob). So the
            // post-commit stage swallows ALL NonFatal failures, not just
            // the nonRetryable taxonomy: a deterministic error OUTSIDE the
            // taxonomy (an NPE from state-schema drift) used to rethrow
            // and crash-loop the batch forever, since the idempotent
            // append makes every replay hit the same failure (ADVICE r18).
            // Swallowing with only a stdout line would freeze the derived
            // state silently — the `_REFRESH_FAILED` marker inside the
            // state dir is the durable alarm (underscore-prefixed, so
            // parquet readers of the state ignore it); ClimatologyJob
            // `--state` warns loudly when it finds one. The marker body
            // records WHICH days failed (Climatology.writeRefreshFailedMarker,
            // merging across consecutive failures), and a later healthy
            // pass clears it only when its refreshed days COVER them —
            // clearing on any healthy pass (the r19 behavior) deleted the
            // only durable alarm while a day that was in both store and
            // state stayed stale forever (ADVICE r19). A marker whose day
            // set is unknown (the failure struck before the day collect)
            // is cleared by ClimatologyJob's full reconcile, never here.
            val marker = new org.apache.hadoop.fs.Path(statePath, "_REFRESH_FAILED")
            val mfs    = marker.getFileSystem(hconf)
            var days: Option[Seq[String]] = None
            try {
              days = Some(product.select(col("time").cast("date").cast("string"))
                .distinct().collect().map(_.getString(0)).toSeq)
              days.filter(_.nonEmpty).foreach { ds =>
                graft.operators.Climatology.refreshDaysFromStore(
                  graft.sinks.ProductStore.read(spark, storePath),
                  "day", ds, "time", "value", stateKeys, statePath)
              }
              if (mfs.exists(marker)) {
                val failed    = graft.operators.Climatology.markerFailedDays(mfs, marker)
                val refreshed = days.get.toSet
                failed match {
                  case Some(f) if f.subsetOf(refreshed) =>
                    mfs.delete(marker, false)
                  case Some(f) if (f -- refreshed).nonEmpty && f.exists(refreshed) =>
                    // partial coverage: REPLACE with the still-stale rest
                    // (delete first — the writer merges with what it finds)
                    mfs.delete(marker, false)
                    graft.operators.Climatology.writeRefreshFailedMarker(
                      mfs, marker, "remaining after partial healthy refresh",
                      Some(f -- refreshed))
                  case _ =>
                    println(s"graft.streaming: _REFRESH_FAILED marker kept — this " +
                      s"batch's refreshed days do not cover the failed days " +
                      s"(${failed.fold("unknown")(_.toSeq.sorted.mkString(","))}); " +
                      "run ClimatologyJob --state to reconcile")
                }
              }
            } catch {
              case scala.util.control.NonFatal(e) =>
                try {
                  mfs.mkdirs(new org.apache.hadoop.fs.Path(statePath))
                  graft.operators.Climatology.writeRefreshFailedMarker(
                    mfs, marker, e.toString, days.map(_.toSet))
                } catch { case _: Exception => () } // the marker is best-effort
                println(s"graft.streaming: climatology refresh failed post-commit " +
                  s"(store append already durable; state is STALE until a healthy " +
                  s"refresh — see ${marker}): ${e.getMessage}")
            }
          }
        }
        // the reference's disposition taxonomy for ADMITTED messages
        // (`main.py:711-735`): deterministic guard/analysis failures →
        // reject without requeue (dead-letter, stream continues); anything
        // transient → rethrow, Spark replays the batch from the checkpoint
        // (nack/requeue). Without this, one degenerate granule crash-loops
        // the micro-batch and wedges the whole queue behind it.
        //
        // (The joint attempt's store append is one atomic write job, so a
        // guard error during it commits nothing — everything this catch
        // sees is PRE-commit and safe to dead-letter. The one post-commit
        // stage, the climatology refresh, handles its own deterministic
        // failures inside runBatch so they never reach this catch and
        // misattribute an already-stored message.)
        try runBatch(byMsg.flatMap(_._2).distinct)
        catch {
          case e if Disposition.nonRetryable(e) =>
            if (byMsg.sizeIs <= 1)
              byMsg.foreach { case (name, _) => Disposition.deadLetter(queueDir, name, e, hconf) }
            else {
              // identify the poison messages WITHOUT committing: run each
              // message's product to completion (count over the physical
              // plan — deterministic guards fire during compute, nothing
              // writes), then re-run the survivors JOINTLY. Committing
              // per-message would be wrong: two messages carrying
              // granules for the SAME day would each dynamic-overwrite
              // that day's partition (last writer wins, both acked —
              // silent loss); the joint re-run merges them like the
              // normal path. A transient error while probing propagates
              // → Spark replays the batch (nack), as usual.
              val probed = byMsg.map { case (name, paths) =>
                val err =
                  try {
                    graft.CacheScope.withScope {
                      buildProduct(paths).queryExecution.toRdd.count()
                    }
                    None
                  } catch { case e2 if Disposition.nonRetryable(e2) => Some(e2) }
                (name, paths, err)
              }
              probed.foreach {
                case (name, _, Some(e2)) => Disposition.deadLetter(queueDir, name, e2, hconf)
                case _                   => ()
              }
              val ok = probed.collect { case (name, paths, None) => (name, paths) }
              try runBatch(ok.flatMap(_._2).distinct)
              catch {
                case e3 if Disposition.nonRetryable(e3) =>
                  // combination-only deterministic failure (each message
                  // passed alone): dead-letter the group with the shared
                  // reason rather than crash-loop the queue — the redrive
                  // path reprocesses them once the operator fixes the conf
                  ok.foreach { case (name, _) =>
                    Disposition.deadLetter(queueDir, name, e3, hconf)
                  }
              }
            }
        }
        // the batch completed (committed or dead-lettered; a transient
        // rethrow above skips this) — retire the delivery counters so the
        // breaker dir holds only in-flight names
        Disposition.clearDeliveries(checkpoint, attempts.map(_._1), hconf)
        // opt-in acked retention on a batch cadence: time-since-ack based
        // (the ack walk stamps the archive mtime), so only terminally
        // committed messages ever age past a day-scale cutoff. Best
        // effort — a prune hiccup must not fail a committed batch.
        pruneAckedDays.foreach { days =>
          if (batchId % math.max(1, pruneEveryBatches) == 0)
            try {
              val n = Disposition.pruneAcked(queueDir, days, hconf)
              if (n > 0)
                println(s"graft.streaming: pruned $n acked message(s) older than $days day(s)")
            } catch {
              case scala.util.control.NonFatal(e) =>
                println(s"graft.streaming: acked-prune failed (non-fatal): ${e.getMessage}")
            }
        }
      }
      .start()
  }
}
