package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events-shaped stream
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference is batch-only (SURVEY §2.11), but the engine targets
  * streaming ingestion at scale, so the batch event queries in
  * RelationalQueries have streaming twins here: `readStream` → transform →
  * `writeStream`, with event-time watermarks bounding state. Every
  * transform below accepts either a batch or a streaming DataFrame — the
  * logical plan is identical; only the sink differs.
  */
object EventStreams {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionUpdate(
      user_id: Long, n_events: Long, session_start: Timestamp,
      session_end: Timestamp, closed: Boolean)

  /** Open-session state carried between triggers. */
  final case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** Gap-based sessionization with EVENT-TIME timeout —
    * `flatMapGroupsWithState(EventTimeTimeout)` emitting a session row the
    * moment the watermark passes sessionEnd + gap, so state expiry is
    * driven by the data clock, not the wall clock (the production-correct
    * form: a stalled source cannot prematurely close sessions, a burst of
    * late-but-in-watermark events still lands in its session).
    *
    * Per user the state is ONE open session (start, end, n, total); events
    * within `gap` of the session end extend it, a larger gap closes it and
    * emits it immediately. Closed sessions are emitted exactly once.
    * Requires a watermark on `ts` upstream. In batch mode Spark hands each
    * key all its events at once with no timeouts, so the operator
    * degenerates to exact batch sessionization with the trailing session
    * emitted too (hasTimedOut is never true, state is discarded at the
    * end — the `finalizeOpen` flag covers the batch case).
    */
  def sessionizeEventTime(
      spark: SparkSession,
      events: Dataset[Event],
      gapMinutes: Long = 30,
      watermarkDelay: String = "30 minutes",
      finalizeOpen: Boolean = false): Dataset[SessionUpdate] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionUpdate](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          def emit(s: SessionState, closed: Boolean) = SessionUpdate(
            userId, s.n, new Timestamp(s.start), new Timestamp(s.end), closed)
          if (state.hasTimedOut) {
            // watermark passed end+gap: no in-gap event can still arrive
            val out = emit(state.get, closed = true)
            state.remove()
            Iterator.single(out)
          } else {
            val sorted = batch.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption
            val closedOut = Seq.newBuilder[SessionUpdate]
            sorted.foreach { e =>
              val t = e.ts.getTime
              open match {
                case Some(s) if t - s.end <= gapMs =>
                  open = Some(SessionState(s.start, math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) =>
                  closedOut += emit(s, closed = true)
                  open = Some(SessionState(t, t, 1, e.value))
                case None =>
                  open = Some(SessionState(t, t, 1, e.value))
              }
            }
            open match {
              case Some(s) if finalizeOpen => // batch mode: emit the tail too
                closedOut += emit(s, closed = false)
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.end + gapMs)
              case None => ()
            }
            closedOut.result().iterator
          }
      }
  }

  /** Stream-stream interval join: each purchase attributed to every click
    * by the same user in the preceding `horizonMinutes` (event time). The
    * canonical two-stream join shape: BOTH sides watermarked and the join
    * condition time-bounded in BOTH directions, so each side's buffered
    * state is a sliding window (watermark + horizon deep), not the full
    * history — without the range bound Spark must hold one side forever.
    * On a batch DataFrame `withWatermark` is a no-op and the same plan is
    * an ordinary interval join (the oracled q_events_attribution twin).
    */
  def attributionJoin(
      events: DataFrame,
      horizonMinutes: Long = 60,
      watermarkDelay: String = "30 minutes"): DataFrame =
    attributionJoinImpl(events, horizonMinutes, watermarkDelay, "inner")

  /** LEFT-OUTER stream-stream interval join — the funnel-DROPOUT face of
    * [[attributionJoin]]: every click emits, converted ones with their
    * purchases, unconverted ones with NULLs — but only once the watermark
    * has passed click_ts + horizon, i.e. once no future purchase can
    * still match (Spark holds the click in state until then; the
    * time-range bound keeps that state a sliding window, exactly as in
    * the inner face). On a batch frame the same plan is an ordinary
    * left-outer interval join — the oracled q_events_attribution_outer
    * twin; EventStreamsSpec drives the STREAMING face through a
    * watermark advance and pins the null emission.
    */
  def attributionJoinOuter(
      events: DataFrame,
      horizonMinutes: Long = 60,
      watermarkDelay: String = "30 minutes"): DataFrame =
    attributionJoinImpl(events, horizonMinutes, watermarkDelay, "leftOuter")

  private def attributionJoinImpl(
      events: DataFrame,
      horizonMinutes: Long,
      watermarkDelay: String,
      joinType: String): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", watermarkDelay)
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <
            col("click_ts") + expr(s"INTERVAL $horizonMinutes MINUTES"),
        joinType)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** Stream–static enrich: decorate each event with a slowly-changing
    * reference dimension via a broadcast left-outer join — the standard
    * firehose-decoration shape. Stateless (no watermark, no streaming
    * state): the dimension ships to executors once per trigger and the
    * stream side never shuffles, so a 100 TB/day stream enriches at scan
    * parallelism. Works identically on a batch frame (the oracled
    * q_events_enrich twin).
    *
    * Broadcast discipline (BroadcastGatingSpec doctrine): the hint is
    * GATED on the dimension's estimated plan size — a forced broadcast of
    * a dim that grew past executor memory is an OOM, not a slow join.
    * Over the cap the planner decides instead (still broadcast if its own
    * threshold allows; otherwise a per-micro-batch shuffled join — slower
    * but correct).
    */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String,
      maxBroadcastBytes: Long = 256L * 1024 * 1024): DataFrame = {
    val est = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    val side = if (est <= maxBroadcastBytes) broadcast(dim) else dim
    events.join(side, Seq(key), "left_outer")
  }
}
