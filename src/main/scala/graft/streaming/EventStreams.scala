package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Typed event row for the stateful operators. */
case class Ev(user_id: Long, ts: Timestamp)

/** Emitted session: closed (or batch-final) gap-bounded activity span. */
case class Session(user_id: Long, session_start: Timestamp,
    session_end: Timestamp, n_events: Long)

/** Per-user session accumulator carried in Spark state between batches. */
case class SessionState(start: Long, last: Long, n: Long)

/** Event-time stream aggregation surface (the scale-up streaming layer the
  * reference's roadmap implies — SURVEY.md §2.10 "reserved for the 100 TB
  * roadmap"): watermarked tumbling-window aggregates and the typed view of
  * the events table. The same plans run batch (q30) and streaming (spec
  * coverage) — Structured Streaming's unified Dataset contract.
  */
object EventStreams {

  /** Watermarked tumbling-window counts+sums per event type. In streaming
    * mode late data beyond `watermark` is dropped and windows finalize
    * incrementally; in batch mode the watermark is a no-op and this is
    * exactly the q30 plan.
    */
  def windowedStats(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("n"), col("total_value"))

  /** Watermarked SLIDING-window stats: each event lands in
    * windowLen/slide overlapping buckets (q62 is the batch-oracled form).
    */
  def slidingStats(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("bucket"), col("event_type"), col("n"))

  /** Stream-static enrichment join: each micro-batch joins against the
    * (batch) dimension table — the streaming form of the reference's
    * lookup merges (SURVEY.md J4). Broadcast keeps it shuffle-free per
    * batch; the dimension is re-read each batch, so slowly-changing dims
    * stay current without restarting the query.
    */
  def enrich(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup on event_id: watermarked `dropDuplicates` —
    * state is bounded by the watermark horizon (an unbounded dedup set
    * would OOM a 100 TB stream; the watermark lets Spark evict ids older
    * than the lateness bound).
    */
  def dedupStream(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stateful gap-based sessionization — the streaming form of q43's batch
    * sessionize, via `flatMapGroupsWithState` with event-time timeout:
    * per-user state holds the open session; an event within `gapSeconds`
    * extends it, a later event closes it (emitting the finished session)
    * and opens a new one; the event-time timeout flushes idle sessions
    * once the watermark passes start+gap. State per key is O(1) — this
    * scales to any user cardinality the state store can shard.
    */
  def sessionizeStream(events: Dataset[Ev], gapSeconds: Long = 1800,
      watermark: String = "10 minutes"): Dataset[Session] = {
    implicit val sessEnc: Encoder[Session] = Encoders.product[Session]
    implicit val stateEnc: Encoder[SessionState] = Encoders.product[SessionState]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong
    def flush(userId: Long, st: SessionState): Session =
      Session(userId, new Timestamp(st.start * 1000L),
        new Timestamp(st.last * 1000L), st.n)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (evs.isEmpty && state.hasTimedOut) {
            // watermark passed the gap horizon: close the idle session
            val out = state.getOption.map(flush(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            // Gap-merge over SEGMENTS: each incoming event is a 1-event
            // span, the open session (if any) is an n-event span. Sorting
            // by start and merging spans within gapSeconds reproduces the
            // batch gap semantics (q43) for every arrival order — in
            // particular, multiple late events that predate the open
            // session but fall within gapSeconds of one another merge into
            // ONE session instead of flushing as singletons. The newest
            // span stays open in state; everything before it closes.
            val segs = (evs.map { e =>
              val t = e.ts.getTime / 1000L; SessionState(t, t, 1)
            }.toSeq ++ state.getOption.toSeq).sortBy(s => (s.start, s.last))
            var closed = List.empty[Session]
            var cur: SessionState = null
            segs.foreach { sgm =>
              if (cur == null) cur = sgm
              else if (sgm.start - cur.last <= gapSeconds)
                cur = SessionState(cur.start,
                  math.max(cur.last, sgm.last), cur.n + sgm.n)
              else { closed ::= flush(userId, cur); cur = sgm }
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp((cur.last + gapSeconds) * 1000L)
            }
            closed.reverseIterator
          }
      }
  }
}
