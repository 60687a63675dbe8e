package graft.streaming

import org.apache.spark.sql.{Dataset, KeyValueGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Gap-based sessionization of the events stream with custom state —
  * the `flatMapGroupsWithState` surface of the engine.
  *
  * A session is a maximal run of a user's events with no gap larger than
  * [[gapMicros]]. The batch form (graft.queries.Events.sessionize) computes
  * the same sessions with window functions and is DuckDB-verified; the
  * streaming form here maintains per-user open-session state and emits a
  * session when the event-time watermark passes its close. On bounded input
  * every session the watermark has passed must match the batch result
  * exactly (tested in StreamingSpec).
  */
object Sessionize {

  val gapMicros: Long = 30L * 60 * 1000000L // 30 minutes

  /** event_time duplicates tus as a timestamp: the watermark column
    * must survive into the grouped Dataset for EventTimeTimeout to work.
    */
  final case class Event(
      user_id: Long, tus: Long, value: Double, event_time: java.sql.Timestamp)

  /** Session sums accumulate in 1e-4 fixed point (`floor(v*10000+0.5)` per
    * event), the same basis as the batch twin — a running double sum's last
    * bits would depend on micro-batch boundaries and the hash gate would
    * flap; integer sums cannot.
    */
  final case class OpenSession(startUs: Long, endUs: Long, n: Long, sumFixed: Long) {
    /** The event time (ms) the watermark must STRICTLY pass to close it. */
    def closeMs: Long = endUs / 1000L + gapMicros / 1000L
    def toSession(userId: Long): Session = Session(userId, startUs, endUs, n, sumFixed)
  }
  final case class Session(
      user_id: Long, start_us: Long, end_us: Long, n: Long, sum_fixed: Long)

  private def fixed(v: Double): Long = math.floor(v * 10000 + 0.5).toLong

  /** THE session transition, shared verbatim by both state APIs
    * ([[updateState]] on flatMapGroupsWithState, [[SessionizeTws]] on
    * transformWithState — one function, as FunnelStream.step serves the
    * funnel twins): absorb a non-empty batch of a user's events in time
    * order into the open session, closing it whenever a gap exceeds
    * gapMicros; returns the new open tail and the sessions closed on the
    * way.
    */
  def step(
      userId: Long,
      open: Option[OpenSession],
      events: Seq[Event]): (OpenSession, Vector[Session]) = {
    val closed = Vector.newBuilder[Session]
    var cur = open.orNull
    for (e <- events.sortBy(_.tus)) {
      if (cur == null) cur = OpenSession(e.tus, e.tus, 1, fixed(e.value))
      else if (e.tus - cur.endUs > gapMicros) {
        closed += cur.toSession(userId)
        cur = OpenSession(e.tus, e.tus, 1, fixed(e.value))
      } else cur = OpenSession(cur.startUs, math.max(cur.endUs, e.tus),
        cur.n + 1, cur.sumFixed + fixed(e.value))
    }
    (cur, closed.result())
  }

  /** flatMapGroupsWithState adapter over [[step]]: keep the open tail in
    * state with an event-time timeout at its close.
    */
  def updateState(
      userId: Long,
      events: Iterator[Event],
      state: GroupState[OpenSession]): Iterator[Session] = {
    val batch = events.toSeq
    if (batch.isEmpty) {
      // Timeout fired: the watermark passed the open session's close.
      if (state.hasTimedOut && state.exists) {
        val s = state.get
        state.remove()
        return Iterator(s.toSession(userId))
      }
      return Iterator.empty
    }
    val (cur, closed) = step(userId, state.getOption, batch)
    state.update(cur)
    state.setTimeoutTimestamp(cur.closeMs)
    closed.iterator
  }

  /** The keyed session input both twins consume: the events file stream
    * (graft.queries.Events.eventsStream, which pins the read confs and
    * normalizes `ts` to micros `tus`) with a 0 s watermark on `event_time`.
    */
  private[streaming] def sessionEvents(
      spark: SparkSession, dir: String): KeyValueGroupedDataset[Long, Event] = {
    import spark.implicits._
    graft.queries.Events.eventsStream(spark, dir)
      .select(col("user_id"), col("tus"), col("value"),
        timestamp_micros(col("tus")).as("event_time"))
      .withWatermark("event_time", "0 seconds")
      .as[Event]
      .groupByKey(_.user_id)
  }

  /** Streaming sessionization over the events parquet (bounded input used
    * as a file-source stream). Returns the closed-sessions Dataset; callers
    * run the query (see StreamingSpec).
    */
  def sessions(spark: SparkSession, dir: String): Dataset[Session] = {
    import spark.implicits._
    sessionEvents(spark, dir)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateState)
  }
}
