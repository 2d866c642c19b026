package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization (SURVEY §2.9): a streaming
  * counterpart of the batch time-gap sessions (`Sessionize.regions`), via
  * `KeyValueGroupedDataset.flatMapGroupsWithState` — one state cell per key
  * holding the open session; sessions close when the inactivity gap is
  * exceeded by a newer event or by processing-time timeout.
  *
  * The reference's queue loop holds no cross-message state (each message is
  * a complete day); this operator generalizes that to true event streams
  * (the `events` table shape) while keeping state O(1) per key — the only
  * state is the open session's aggregates, never its events.
  */
object StatefulSessions {

  final case class Event(user_id: Long, ts: Timestamp, value: Double)
  final case class OpenSession(start: Long, end: Long, n: Long, sum: Double)
  final case class ClosedSession(
      user_id: Long,
      session_start: Timestamp,
      session_end: Timestamp,
      n_events: Long,
      total_value: Double)

  /** Sessionize an event stream per user with `gapSeconds` inactivity
    * closing. Emits a row per CLOSED session (append-mode compatible). */
  def sessionize(
      events: Dataset[Event],
      gapSeconds: Long,
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout): Dataset[ClosedSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, timeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(ClosedSession(uid, new Timestamp(s.start), new Timestamp(s.end), s.n, s.sum))
          } else {
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var open   = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { e =>
              val t = e.ts.getTime
              open match {
                // truncate both ends to whole seconds before differencing —
                // the batch time-gap sessions (q08's Sessionize.regions)
                // order by unix_timestamp() (second-truncated) values, and
                // the two must agree on sub-second boundary events
                case Some(s) if t / 1000 - s.end / 1000 <= gapSeconds =>
                  open = Some(s.copy(end = t, n = s.n + 1, sum = s.sum + e.value))
                case Some(s) =>
                  closed += ClosedSession(uid, new Timestamp(s.start), new Timestamp(s.end), s.n, s.sum)
                  open = Some(OpenSession(t, t, 1, e.value))
                case None =>
                  open = Some(OpenSession(t, t, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              if (timeout == GroupStateTimeout.ProcessingTimeTimeout) {
                state.setTimeoutDuration(gapSeconds * 1000)
              }
            }
            closed.result().iterator
          }
      }
  }
}
