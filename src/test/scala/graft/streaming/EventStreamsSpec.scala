package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import EventStreams.Event

class EventStreamsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  implicit private lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private val batch = Seq(
    Event(1, ts(0), 100, "click", 1.0),
    Event(2, ts(5), 100, "click", 2.0),
    Event(3, ts(10), 200, "view", 3.0),
    Event(4, ts(50), 100, "click", 4.0)) // > 30 min gap from event 2

  test("enrichStream decorates a stream with a static dim and agrees with batch") {
    val dim = Seq((100L, "gold"), (300L, "silver")).toDF("user_id", "tier")
    val stream = MemoryStream[Event]
    stream.addData(batch: _*)
    val q = EventStreams.enrichStream(stream.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select("event_id", "tier").as[(Long, Option[String])].collect().toSet
      val expected = EventStreams.enrichStream(batch.toDF(), dim, "user_id")
        .select("event_id", "tier").as[(Long, Option[String])].collect().toSet
      assert(got === expected)
      // user 100 matched, user 200 carried through unmatched (left outer)
      assert(got.contains((1L, Some("gold"))) && got.contains((3L, None)))
    } finally q.stop()
  }

  test("enrichStream drops the broadcast hint when the dim exceeds the size cap") {
    val dim = Seq((100L, "gold")).toDF("user_id", "tier")
    def hints(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    val gated = EventStreams.enrichStream(batch.toDF(), dim, "user_id",
      maxBroadcastBytes = 1L)
    assert(hints(gated).isEmpty, "oversized dim must not be force-broadcast")
    val hinted = EventStreams.enrichStream(batch.toDF(), dim, "user_id")
    assert(hints(hinted).nonEmpty, "small dim should carry the hint")
    // both paths produce the same rows
    assert(gated.select("event_id", "tier").collect().toSet ===
      hinted.select("event_id", "tier").collect().toSet)
  }

  test("sessionizeEventTime: watermark-driven timeouts emit every session exactly once") {
    def ts2(hour: Int, minute: Int): Timestamp =
      Timestamp.valueOf(f"2026-01-01 $hour%02d:$minute%02d:00")
    val stream = MemoryStream[Event]
    val sessions = EventStreams.sessionizeEventTime(spark, stream.toDS(),
      gapMinutes = 30, watermarkDelay = "10 minutes")
    val q = sessions.writeStream.format("memory").queryName("et_sess")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData(batch.take(3): _*) // 10:00,10:05 (u100), 10:10 (u200)
      q.processAllAvailable()
      stream.addData(batch.drop(3): _*) // 10:50 (u100) closes u100's first
      q.processAllAvailable()
      // sentinel events roll the watermark past every end+gap so the
      // event-time timeouts fire for the still-open sessions
      stream.addData(Event(98, ts2(12, 0), 999, "click", 0.0))
      q.processAllAvailable()
      stream.addData(Event(99, ts2(13, 0), 999, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("et_sess")
        .filter($"user_id" =!= 999)
        .select("user_id", "n_events", "closed")
        .as[(Long, Long, Boolean)].collect().toSeq
      assert(rows.forall(_._3), s"only closed sessions may be emitted: $rows")
      val perUser = rows.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      assert(perUser(100L) === Seq(1L, 2L)) // {10:00,10:05} and {10:50}
      assert(perUser(200L) === Seq(1L))
    } finally q.stop()
  }

  test("sessionizeEventTime batch mode agrees with the lag-based batch sessionization") {
    val streamStyle = EventStreams.sessionizeEventTime(spark, batch.toDS(),
        gapMinutes = 30, finalizeOpen = true)
      .groupByKey(_.user_id).count().collect().toMap
    // q_events_sessions' 30-minute lag rule on the same rows
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val lagStyle = batch.toDF()
      .withColumn("prev", lag($"ts", 1).over(w))
      .withColumn("new_s", when($"prev".isNull ||
        unix_millis($"ts") - unix_millis($"prev") > 1800000L, 1L).otherwise(0L))
      .groupBy($"user_id").agg(sum($"new_s").as("n"))
      .as[(Long, Long)].collect().toMap
    assert(streamStyle === lagStyle)
  }

  test("attributionJoin: streaming and batch interval joins agree; horizon bounds matches") {
    // purchases at +10 and +70 min after user 100's first click: the first
    // attributes to clicks at 10:00 and 10:05, the second only to 10:50
    val data = Seq(
      Event(1, ts(0), 100, "click", 0.0),
      Event(2, ts(5), 100, "click", 0.0),
      Event(3, ts(10), 100, "purchase", 9.99),
      Event(4, ts(50), 100, "click", 0.0),
      Event(5, ts(10), 200, "purchase", 5.0), // no click for user 200
      Event(6, Timestamp.valueOf("2026-01-01 11:01:00"), 100, "purchase", 1.0)
      ) // 11:01: the 10:00 click is out of the 60-min horizon
    val expect = Set((1L, 3L), (2L, 3L), (2L, 6L), (4L, 6L))
    val batchOut = EventStreams.attributionJoin(data.toDF())
      .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
    assert(batchOut === expect)
    val stream = MemoryStream[Event]
    stream.addData(data: _*)
    val q = EventStreams.attributionJoin(stream.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      val streamOut = spark.table("attr_out")
        .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
      assert(streamOut === expect)
    } finally q.stop()
  }

  test("attributionJoinOuter: unconverted clicks emit NULLs after the watermark passes") {
    // user 300 clicks and never purchases — the dropout row. The outer
    // null may only emit once the watermark proves no purchase can still
    // match (click_ts + 60 min horizon + 30 min delay), so heartbeats in
    // LATER BATCHES advance it; same-batch data alone must NOT emit it.
    val data = Seq(
      Event(1, ts(0), 100, "click", 0.0),
      Event(3, ts(10), 100, "purchase", 9.99),
      Event(7, ts(0), 300, "click", 0.0))
    val batchOut = EventStreams.attributionJoinOuter(data.toDF())
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(batchOut === Set((1L, 3L), (7L, -1L)))
    val stream = MemoryStream[Event]
    stream.addData(data: _*)
    val q = EventStreams.attributionJoinOuter(stream.toDF())
      .writeStream.format("memory").queryName("attr_outer_out")
      .outputMode(OutputMode.Append).start()
    try {
      q.processAllAvailable()
      def got = spark.table("attr_outer_out")
        .select("click_id", "purchase_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(!got.contains((7L, -1L)),
        "dropout emitted before the watermark could prove no match")
      // heartbeats must SURVIVE the type filters to reach the watermark
      // nodes (a filtered-out event advances nothing): one click + one
      // purchase per batch, on disjoint users so they match no one. Two
      // batches: advance the watermark, then flush the evicted state.
      // The 12:00 click heartbeat itself stays in state (its horizon
      // never expires) — absent from the output, as asserted.
      stream.addData(
        Event(98, Timestamp.valueOf("2026-01-01 12:00:00"), 998, "click", 0.0),
        Event(99, Timestamp.valueOf("2026-01-01 12:00:00"), 999, "purchase", 1.0))
      q.processAllAvailable()
      stream.addData(
        Event(96, Timestamp.valueOf("2026-01-01 12:30:00"), 998, "click", 0.0),
        Event(97, Timestamp.valueOf("2026-01-01 12:30:00"), 999, "purchase", 1.0))
      q.processAllAvailable()
      assert(got === Set((1L, 3L), (7L, -1L)))
    } finally q.stop()
  }
}
