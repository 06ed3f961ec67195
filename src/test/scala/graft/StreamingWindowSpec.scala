package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming event-time windowed aggregation with watermark: late data
  * beyond the watermark is dropped; closed windows emit in append mode.
  */
class StreamingWindowSpec extends SparkSpec {

  test("dedup state is watermark-bounded: expired titles re-emit (documented deviation)") {
    // The reference dedups against an append-only log FOREVER
    // (filter_.py:90-102, unbounded state). The streaming engine bounds
    // state by watermark (SURVEY §7.3 risk 3): a title recurring AFTER
    // its state expired is emitted again. This test pins that deviation.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(String, Timestamp)]
    val dd = in.toDF().toDF("title", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("title")
    val q = dd.writeStream.format("memory").queryName("ddwm")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      in.addData(("User:A", t("2026-08-12 10:00:00")))
      q.processAllAvailable()
      in.addData(("User:A", t("2026-08-12 10:05:00"))) // dup inside horizon -> dropped
      q.processAllAvailable()
      in.addData(("zzz", t("2026-08-12 12:00:00")))    // advance watermark, expire state
      q.processAllAvailable()
      in.addData(("User:A", t("2026-08-12 12:01:00"))) // recurs after expiry -> re-emitted
      q.processAllAvailable()
      val emitted = spark.table("ddwm").as[(String, Timestamp)].collect()
        .count(_._1 == "User:A")
      assert(emitted === 2)
    } finally q.stop()
  }

  test("tumbling window agg emits closed windows; watermark drops late rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("total"))
      .select(col("window.start").as("h"), col("n"), col("total"))
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      in.addData((t("2026-08-12 10:05:00"), 1L), (t("2026-08-12 10:50:00"), 2L))
      q.processAllAvailable()
      // advance event time far past hour 10 -> watermark closes that window
      in.addData((t("2026-08-12 12:30:00"), 5L))
      q.processAllAvailable()
      // this row is behind the watermark (12:20) -> must be DROPPED
      in.addData((t("2026-08-12 10:59:00"), 100L))
      q.processAllAvailable()
      in.addData((t("2026-08-12 14:00:00"), 7L))
      q.processAllAvailable()
      val rows = spark.table("winagg").as[(Timestamp, Long, Long)].collect()
        .map { case (h, n, tot) => (h.toString, n, tot) }.toSet
      // hour-10 window emitted once, WITHOUT the late 100
      assert(rows.contains(("2026-08-12 10:00:00.0", 2L, 3L)))
      assert(!rows.exists(_._3 == 103L))
    } finally q.stop()
  }

  test("streaming hopping windows equal the q47 batch construction on shared data") {
    // the streaming twin of q47_hopping_window: identical window(ts,
    // 10m, 5m) spec, events split across micro-batches, closed windows
    // must carry EXACTLY the batch aggregate (every event in exactly
    // two windows; epoch-aligned starts)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long)]
    // streaming forbids DISTINCT aggregates, so the parity metric
    // beside the count is a user-id SUM checksum (order-free exact);
    // the batch q47 keeps its count_distinct — this pins the WINDOW
    // assignment, not the distinct machinery
    val agg = in.toDF().toDF("ts", "user_id")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("user_id")).as("u_sum"))
      .select(col("window.start").as("ws"), col("n_events"), col("u_sum"))
    val q = agg.writeStream.format("memory").queryName("hopwin")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def t(s: String) = Timestamp.valueOf(s)
    val data = Seq(
      (t("2026-08-12 10:02:00"), 1L), (t("2026-08-12 10:04:00"), 2L),
      (t("2026-08-12 10:07:00"), 1L), (t("2026-08-12 10:12:00"), 3L))
    try {
      in.addData(data.take(2): _*)
      q.processAllAvailable()
      in.addData(data.drop(2): _*)
      q.processAllAvailable()
      in.addData((t("2026-08-12 12:00:00"), 9L)) // close everything before 11:50
      q.processAllAvailable()
      val streamed = spark.table("hopwin").as[(Timestamp, Long, Long)].collect()
        .map { case (ws, n, u) => (ws.toString, n, u) }
        .filter(_._1 < "2026-08-12 11") // the closer event's own windows stay open
        .toSet
      val batch = (data :+ (t("2026-08-12 12:00:00"), 9L)).toDF("ts", "user_id")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"), sum(col("user_id")).as("u"))
        .select(col("window.start").as("ws"), col("n"), col("u"))
        .as[(Timestamp, Long, Long)].collect()
        .map { case (ws, n, u) => (ws.toString, n, u) }
        .filter(_._1 < "2026-08-12 11").toSet
      assert(streamed === batch,
        s"stream/batch hopping windows diverged:\n$streamed\nvs\n$batch")
      // every pre-close event appears in exactly two windows
      assert(batch.toSeq.map(_._2).sum === 2L * data.length)
    } finally q.stop()
  }

  test("streaming session windows merge across batches and close at the watermark") {
    // the streaming twin of q30_session_window: events arriving in
    // different micro-batches MERGE into one open session (state
    // store); the session emits once its end falls behind the
    // watermark. Boundary probe: an EXACT-30-minute gap still merges
    // (ts == previous end is inclusive — this test is what pinned the
    // q30 oracle's strictly-> break condition), while 30min+1s starts
    // a new session.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Timestamp)]
    val agg = in.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s"),
        col("session_window.end").as("e"), col("n"))
    val q = agg.writeStream.format("memory").queryName("sesswin")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    def t(s: String) = Timestamp.valueOf(s)
    try {
      in.addData((1L, t("2026-08-12 10:00:00")))
      q.processAllAvailable()
      // second batch, 10 min later: must MERGE into the open session
      in.addData((1L, t("2026-08-12 10:10:00")))
      q.processAllAvailable()
      // exactly 30 min after the last event (== the open session's
      // end): MERGES — the inclusive boundary
      in.addData((1L, t("2026-08-12 10:40:00")))
      q.processAllAvailable()
      // 30 min + 1 s after 10:40: strictly past the end -> NEW session
      in.addData((1L, t("2026-08-12 11:10:01")))
      q.processAllAvailable()
      // advance the watermark far enough to close everything
      in.addData((2L, t("2026-08-12 13:00:00")), (2L, t("2026-08-12 14:00:00")))
      q.processAllAvailable()
      val u1 = spark.table("sesswin").as[(Long, Timestamp, Timestamp, Long)]
        .collect().filter(_._1 == 1L)
        .map { case (_, s, e, n) => (s.toString, e.toString, n) }.toSet
      assert(u1 === Set(
        ("2026-08-12 10:00:00.0", "2026-08-12 11:10:00.0", 3L),
        ("2026-08-12 11:10:01.0", "2026-08-12 11:40:01.0", 1L)),
        s"got $u1")
    } finally q.stop()
  }

  test("StreamDemo event-analytics smoke line is pinned verbatim") {
    // the pinned contract: funnel stages per user (full funnel /
    // stalled-at-signup / purchase-without-signup), the k=2 running
    // leaderboard after 3 batches (scores 900 > 800), and the session
    // set (user 10's batches MERGED into one 2-event session; user
    // 11's 85-min gap split into two)
    assert(eventAnalyticsDemo() ===
      "STREAM_DEMO funnel_stages=3,1,0 topk=101,103 sessions=10:2,11:1,11:1")
  }

  /** Deterministic 3-batch run of the streaming event-analytics ops —
    * per-user funnel progression, running per-type top-k, and session
    * windows that merge ACROSS micro-batches — summarized in the
    * `STREAM_DEMO ...` line the last case pins.
    */
  private def eventAnalyticsDemo(): String = {
    import graft.streaming.StatefulOps
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    def us(s: String) = ts(s).getTime * 1000L

    // funnel: user 1 completes all 3 stages across batches, user 2
    // stalls after signup, user 3 purchases without signup (stage 0)
    val fin = MemoryStream[StatefulOps.FunnelEvent]
    val fq = StatefulOps.funnelStages(fin.toDS())
      .writeStream.format("memory").queryName("demo_funnel")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    // top-k: per-type running leaderboard, k=2, scores in cents
    val tin = MemoryStream[StatefulOps.ScoredEvent]
    val tq = StatefulOps.runningTopK(tin.toDS(), k = 2)
      .writeStream.format("memory").queryName("demo_topk")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    // session windows: user 10's two batches merge into ONE session
    // (10-min gap < the 30-min rule); user 11's second burst starts a
    // new one; a late user-12 tick advances the watermark to close all
    val sin = MemoryStream[(Long, Timestamp)]
    val sq = sin.toDF().toDF("user_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s"),
        col("session_window.end").as("e"), col("n"))
      .writeStream.format("memory").queryName("demo_sessions")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // batch 1
      fin.addData(
        StatefulOps.FunnelEvent(1L, us("2026-08-12 10:00:00"), "signup"),
        StatefulOps.FunnelEvent(2L, us("2026-08-12 10:00:00"), "signup"),
        StatefulOps.FunnelEvent(3L, us("2026-08-12 10:00:00"), "purchase"))
      tin.addData(
        StatefulOps.ScoredEvent("view", 500L, 100L, 1L),
        StatefulOps.ScoredEvent("view", 900L, 101L, 2L))
      sin.addData((10L, ts("2026-08-12 10:00:00")), (11L, ts("2026-08-12 10:05:00")))
      Seq(fq, tq, sq).foreach(_.processAllAvailable())
      // batch 2
      fin.addData(StatefulOps.FunnelEvent(1L, us("2026-08-12 10:05:00"), "purchase"))
      tin.addData(StatefulOps.ScoredEvent("view", 700L, 102L, 3L))
      sin.addData((10L, ts("2026-08-12 10:10:00")), (11L, ts("2026-08-12 11:30:00")))
      Seq(fq, tq, sq).foreach(_.processAllAvailable())
      // batch 3 (+ a far-future tick to push the session watermark)
      fin.addData(StatefulOps.FunnelEvent(1L, us("2026-08-12 10:06:00"), "click"))
      tin.addData(StatefulOps.ScoredEvent("view", 800L, 103L, 4L))
      sin.addData((12L, ts("2026-08-12 15:00:00")))
      Seq(fq, tq, sq).foreach(_.processAllAvailable())

      // latest funnel state per user (Update mode re-emits on change)
      val stages = spark.table("demo_funnel")
        .groupBy(col("user_id"))
        .agg(max(when(col("c_us").isNotNull, 3)
          .when(col("p_us").isNotNull, 2)
          .when(col("s_us").isNotNull, 1).otherwise(0)).as("stage"))
        .orderBy(col("user_id"))
        .select(col("stage")).as[Int].collect().mkString(",")
      val top = spark.table("demo_topk")
        .filter(col("batches") === 3L).orderBy(col("rk"))
        .select(col("event_id")).as[Long].collect().mkString(",")
      val sessions = spark.table("demo_sessions")
        .orderBy(col("user_id"), col("s"))
        .select(col("user_id"), col("n")).as[(Long, Long)].collect()
        .map { case (u, n) => s"$u:$n" }.mkString(",")
      s"STREAM_DEMO funnel_stages=$stages topk=$top sessions=$sessions"
    } finally Seq(fq, tq, sq).foreach(_.stop())
  }
}
