package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful streaming sessionization over the events table — the custom-
  * state Structured Streaming surface (`mapGroupsWithState` family): events
  * grouped by user; a session closes when no event arrives within the gap;
  * closed sessions are emitted downstream.
  *
  * The batch twin is the `sessionize` driver query (lag/window over ts) —
  * the spec runs both on the same input and checks they agree.
  */
object Sessionize {

  final case class Event(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, events: Int)
  final case class ClosedSession(
      user_id: Long, start_s: Long, end_s: Long, n_events: Int)

  /** Streaming: event-time sessions with a processing-time close-out. */
  def sessions(
      events: DataFrame,
      gapSeconds: Long = 1800
  )(implicit spark: SparkSession): Dataset[ClosedSession] = {
    import spark.implicits._
    events
      .select(col("user_id").cast("long"),
        col("ts").cast("timestamp").as("ts"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], ClosedSession](
        OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout()) {
        case (userId, it, state: GroupState[List[SessionState]]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.getOrElse(Nil).map(s =>
              ClosedSession(userId, s.start, s.last, s.events))
            state.remove()
            out.iterator
          } else {
            // fold this batch's events (sorted by ts) into open sessions
            val sorted = it.toSeq.sortBy(_.ts.getTime)
            var open = state.getOption.getOrElse(Nil)
            val closed = List.newBuilder[ClosedSession]
            sorted.foreach { e =>
              val t = e.ts.getTime / 1000
              open match {
                case s :: rest if t - s.last <= gapSeconds =>
                  open = s.copy(last = t, events = s.events + 1) :: rest
                case s :: rest =>
                  closed += ClosedSession(userId, s.start, s.last, s.events)
                  open = SessionState(t, t, 1) :: rest
                case Nil =>
                  open = SessionState(t, t, 1) :: Nil
              }
            }
            state.update(open)
            state.setTimeoutDuration(s"${gapSeconds} seconds")
            closed.result().iterator
          }
      }
  }
}
