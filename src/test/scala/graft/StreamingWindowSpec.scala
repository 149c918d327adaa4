package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Windows

/** Streaming event-time windows + watermark (SURVEY.md §2.9 T5/T6):
  * append-mode finalization and late-data dropping, driven by a
  * MemoryStream acting as a manual event-time clock. */
// file-level: a spec-nested case class has no stable outer scope for
// Catalyst's deserializer (`Seq(...).toDF` fails in ResolveNewInstance)
private[graft] case class AtEv(user_id: Long, event_id: Long, ts: Timestamp)
private[graft] case class EnEv(event_id: Long, user_id: Long, ts: Timestamp,
    event_type: String, value: Double)
private[graft] case class SwEv(ts: Timestamp, event_type: String,
    value: Double, user_id: Long)

class StreamingWindowSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(m: Int, s: Int = 0): Timestamp =
    Timestamp.valueOf(f"2026-01-01 00:$m%02d:$s%02d")

  private def startQuery(df: org.apache.spark.sql.DataFrame, name: String)
      : StreamingQuery =
    df.writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Append()).start()

  test("tumbling windows finalize at the watermark; late events dropped") {
    val in = MemoryStream[SwEv](spark)
    val q = startQuery(
      Windows.tumbling(in.toDF(), width = "10 minutes",
        watermark = Some("10 minutes")),
      "tumbling_sink")
    try {
      // batch 1: two events in [00:00,00:10), one in [00:20,00:30);
      // watermark advances to 00:25-10min = 00:15 → first window closes
      in.addData(SwEv(ts(5), "a", 1.0, 1L), SwEv(ts(7), "a", 2.0, 1L),
        SwEv(ts(25), "b", 5.0, 1L))
      q.processAllAvailable()
      val afterB1 = spark.table("tumbling_sink")
        .select("w_start", "event_type", "n", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(afterB1 === Set((ts(0), "a", 2L, 3.0)))

      // batch 2: an event at 00:03 is LATE (watermark 00:15) → dropped;
      // 00:45 advances the watermark to 00:35 → [00:20,00:30) closes
      in.addData(SwEv(ts(3), "a", 100.0, 1L), SwEv(ts(45), "c", 7.0, 1L))
      q.processAllAvailable()
      val afterB2 = spark.table("tumbling_sink")
        .select("w_start", "event_type", "n", "sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      // the late event neither re-opens [00:00,00:10) nor changes its agg
      assert(afterB2 === Set((ts(0), "a", 2L, 3.0), (ts(20), "b", 1L, 5.0)))
    } finally q.stop()
  }

  test("sliding windows: each event lands in width/slide windows, watermark finalizes") {
    val in = MemoryStream[SwEv](spark)
    val q = startQuery(
      Windows.sliding(in.toDF(), width = "10 minutes",
        slide = "5 minutes", watermark = Some("10 minutes")),
      "sliding_sink")
    try {
      // the 00:07 event belongs to [00:00,00:10) AND [00:05,00:15);
      // 00:40 advances the watermark to 00:30 → both finalize, while
      // the 00:40 event's own windows stay open
      in.addData(SwEv(ts(7), "a", 1.0, 1L), SwEv(ts(40), "b", 5.0, 1L))
      q.processAllAvailable()
      val rows = spark.table("sliding_sink")
        .select("w_start", "event_type", "n")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(rows === Set((ts(0), "a", 1L), (ts(5), "a", 1L)))
    } finally q.stop()
  }

  test("session windows merge events within the gap and close on watermark") {
    val in = MemoryStream[SwEv](spark)
    val q = startQuery(
      Windows.sessions(in.toDF(), gap = "10 minutes",
        watermark = Some("5 minutes")),
      "session_sink")
    try {
      // user 1: events at 00:00, 00:05, 00:12 chain into ONE session
      // (each gap < 10 min); user 2: single event at 00:02
      in.addData(SwEv(ts(0), "a", 1.0, 1L), SwEv(ts(5), "a", 2.0, 1L),
        SwEv(ts(12), "a", 4.0, 1L), SwEv(ts(2), "a", 8.0, 2L))
      q.processAllAvailable()
      // advance watermark past every session end (00:22): 00:50-5min
      in.addData(SwEv(ts(50), "a", 0.5, 9L))
      q.processAllAvailable()
      val out = spark.table("session_sink")
        .select("user_id", "w_start", "w_end", "n", "sum_value")
        .as[(Long, Timestamp, Timestamp, Long, Double)].collect()
        .filter(_._1 != 9L).toSet
      assert(out === Set(
        (1L, ts(0), ts(22), 3L, 7.0), // one merged session, end=last+gap
        (2L, ts(2), ts(12), 1L, 8.0)))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch twin; late side dropped") {
    val views = MemoryStream[AtEv](spark)
    val purchases = MemoryStream[AtEv](spark)
    val joined = graft.streaming.StreamJoins.attribution(
      views.toDF(), purchases.toDF(),
      horizon = "30 minutes", watermark = Some("10 minutes"))
    val q = startQuery(joined, "attrib_sink")
    try {
      // u1: views at 00:00/00:05, purchase 00:20 → both match (≤30 min);
      // u2: view 00:02, purchase 00:50 → outside horizon, no pair
      views.addData(AtEv(1, 10, ts(0)), AtEv(1, 11, ts(5)),
        AtEv(2, 12, ts(2)))
      purchases.addData(AtEv(1, 20, ts(20)), AtEv(2, 21, ts(50)))
      q.processAllAvailable()
      def pairs = spark.table("attrib_sink")
        .select("user_id", "purchase_id", "view_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(pairs === Set((1L, 20L, 10L), (1L, 20L, 11L)))

      // advance both watermarks far past 00:30 (the user-9 pair joins:
      // same user, zero gap — that is correct, not noise) …
      views.addData(AtEv(9, 90, ts(59)))
      purchases.addData(AtEv(9, 91, ts(59)))
      q.processAllAvailable()
      // … then a LATE view at 00:18 (inside purchase 20's horizon but
      // behind the watermark) must be dropped, not retro-joined
      views.addData(AtEv(1, 13, ts(18)))
      q.processAllAvailable()
      assert(pairs === Set((1L, 20L, 10L), (1L, 20L, 11L), (9L, 91L, 90L)),
        "late candidate must not retro-join a closed window")

      // batch twin over the NON-late rows = the streaming answer
      val bViews = Seq(AtEv(1, 10, ts(0)), AtEv(1, 11, ts(5)),
        AtEv(2, 12, ts(2)), AtEv(9, 90, ts(59))).toDF()
      val bPurch = Seq(AtEv(1, 20, ts(20)), AtEv(2, 21, ts(50)),
        AtEv(9, 91, ts(59))).toDF()
      val batch = graft.streaming.StreamJoins
        .attribution(bViews, bPurch, horizon = "30 minutes")
        .select("user_id", "purchase_id", "view_id")
        .as[(Long, Long, Long)].collect().toSet
      val streamed = spark.table("attrib_sink")
        .select("user_id", "purchase_id", "view_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed === batch,
        "identical builder must agree across execution modes")
    } finally q.stop()
  }

  test("left-outer interval join: unmatched conversions emit nulls after watermark") {
    val views = MemoryStream[AtEv](spark)
    val purchases = MemoryStream[AtEv](spark)
    val joined = graft.streaming.StreamJoins.attribution(
      views.toDF(), purchases.toDF(),
      horizon = "30 minutes", watermark = Some("10 minutes"),
      joinType = "left_outer")
    val q = startQuery(joined, "attrib_outer_sink")
    try {
      // u1 purchase has a matching view; u2's purchase at 00:50 has
      // none within its 30-min horizon
      views.addData(AtEv(1, 10, ts(0)), AtEv(2, 12, ts(2)))
      purchases.addData(AtEv(1, 20, ts(20)), AtEv(2, 21, ts(50)))
      q.processAllAvailable()
      def rows = spark.table("attrib_outer_sink")
        .select("user_id", "purchase_id", "view_id")
        .as[(Long, Long, Option[Long])].collect().toSet
      // the null-extended row must be WITHHELD while a matching view
      // could still arrive (watermark hasn't passed 00:50+horizon)
      assert(rows === Set((1L, 20L, Some(10L))),
        "outer row emitted before its window provably closed")

      // advance both watermarks far past every horizon → the unmatched
      // conversion emits exactly once, with null candidate fields
      views.addData(AtEv(9, 90, ts(59, 59)))
      purchases.addData(AtEv(9, 91, ts(59, 58)))
      q.processAllAvailable()
      views.addData(AtEv(8, 80, Timestamp.valueOf("2026-01-01 03:00:00")))
      purchases.addData(AtEv(8, 81,
        Timestamp.valueOf("2026-01-01 03:00:00")))
      q.processAllAvailable()
      assert(rows.contains((2L, 21L, None)),
        "unmatched conversion must surface with null view after watermark")
      // exactly once — count on the raw sink rows, not the set
      val outerEmissions = spark.table("attrib_outer_sink")
        .select("user_id", "purchase_id", "view_id")
        .as[(Long, Long, Option[Long])].collect()
        .count(_ == ((2L, 21L, None)))
      assert(outerEmissions === 1)
    } finally q.stop()
  }

  test("stream-static enrichment matches batch twin; dim misses pass through") {
    val in = MemoryStream[EnEv](spark)
    val dim = Seq((1L, "BUILDING", 7), (2L, "MACHINERY", 3))
      .toDF("c_custkey", "c_mktsegment", "c_nationkey")
    val q = startQuery(
      graft.streaming.StreamJoins.enrich(in.toDF(), dim), "enrich_sink")
    try {
      // user 9 has no dim row — LEFT join must pass it through with
      // nulls, not drop it
      in.addData(EnEv(10, 1, ts(0), "view", 1.0),
        EnEv(11, 2, ts(1), "purchase", 2.0),
        EnEv(12, 9, ts(2), "view", 3.0))
      q.processAllAvailable()
      // second micro-batch: the static side joins again (no state, the
      // dim is re-planned into every batch)
      in.addData(EnEv(13, 1, ts(3), "click", 4.0))
      q.processAllAvailable()
      val streamed = spark.table("enrich_sink")
        .select("event_id", "segment", "nationkey")
        .as[(Long, Option[String], Option[Int])].collect().toSet
      assert(streamed === Set(
        (10L, Some("BUILDING"), Some(7)),
        (11L, Some("MACHINERY"), Some(3)),
        (12L, None, None),
        (13L, Some("BUILDING"), Some(7))))

      // identical builder, batch mode, same inputs → same answer
      val bEvents = Seq(EnEv(10, 1, ts(0), "view", 1.0),
        EnEv(11, 2, ts(1), "purchase", 2.0),
        EnEv(12, 9, ts(2), "view", 3.0),
        EnEv(13, 1, ts(3), "click", 4.0)).toDF()
      val batch = graft.streaming.StreamJoins.enrich(bEvents, dim)
        .select("event_id", "segment", "nationkey")
        .as[(Long, Option[String], Option[Int])].collect().toSet
      assert(streamed === batch)
    } finally q.stop()
  }
}
