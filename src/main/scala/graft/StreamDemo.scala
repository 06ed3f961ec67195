package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.schema.ChangeSchema
import graft.streaming.{RcSinks, RcStreaming}

/** Executable example: SSE source -> Change parse -> full streaming
  * pipeline -> K1-K4 sink fan-out, end to end. Mirrors running the
  * reference as `python scanner.py example` against a recorded stream.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(8)
    import spark.implicits._

    // A recorded SSE stream: 6 events, two on the same title.
    val sse = Files.createTempFile("rc", ".sse")
    def ev(id: Long, title: String, user: String, rev: Long, bot: Boolean = false) =
      s"""data: {"comment":"c","wiki":"enwiki","type":"edit","server_name":"en.wikipedia.org","server_script_path":"/w","namespace":2,"title":"$title","bot":$bot,"server_url":"https://en.wikipedia.org","length":{"old":1,"new":2},"meta":{"domain":"en.wikipedia.org","partition":0,"uri":"https://en.wikipedia.org/wiki/$title","offset":$id,"topic":"rc","request_id":"r","schema_uri":"s","dt":"2026-08-12T09:15:0${id % 10}Z","id":"m$id"},"user":"$user","timestamp":1786612500,"patrolled":false,"id":$id,"minor":false,"revision":{"old":${rev - 1},"new":$rev}}"""
    Files.writeString(sse, Seq(
      ev(1, "User:A", "alice", 101), ev(2, "User:A", "alice", 102),
      ev(3, "User:B", "bob", 103), ev(4, "User:C", "cara", 104),
      ev(5, "User:D", "dan", 105), ev(6, "User:E", "eve", 106, bot = true)
    ).mkString("\n"))

    val users = Seq(("alice", 10L), ("bob", 500L), ("cara", 1L), ("dan", 2L), ("eve", 3L))
      .toDF("user", "editcount")
    val revisions = Seq((101L, "has a userbox inside"), (102L, "userbox too"),
      (103L, "userbox again"), (105L, "plain text"), (106L, "userbox"))
      .toDF("revid", "text")

    val changes = spark.readStream.format("sse").option("path", sse.toString).load()
      .select(from_json(col("value"), ChangeSchema.change).as("c")).select("c.*")

    val spec = RcStreaming.FilterSpec(
      streamfilter = Map("type" -> Seq("edit", "create"), "bot" -> Seq(false),
        "namespace" -> Seq(2)),
      maxEdits = Some(100L), skipRepeats = true,
      regexes = Seq("(?i)\\buserbox(e[ns])?\\b"))

    val outDir = Files.createTempDirectory("rc_out").toString
    val sinks = RcSinks(outDir, logLevel = 3, filterName = "example", echoConsole = true)
    val q = RcStreaming.pipeline(changes, users, revisions, spec)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => sinks.writeBatch(b, id))
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    println("== revid log (K2):")
    spark.read.text(s"$outDir/revids").show(false)
    println("== flag log (K3):")
    spark.read.parquet(s"$outDir/flaglog")
      .select("filter", "change.title", "change.user", "log.folder", "log.file").show(false)
    println("== content files (K4), partitioned by event_date:")
    spark.read.parquet(s"$outDir/changes").show(false)

    // ---- streaming event analytics, end to end -----------------------
    // The stateful ops the batch q23/q31/q30 family twins: per-user
    // funnel progression, running per-type top-k, and session windows
    // that merge ACROSS micro-batches — driven here over a 3-batch
    // deterministic event feed, summarized in one pinned line.
    eventAnalyticsDemo(spark)
    spark.stop()
  }

  /** Deterministic 3-batch run of the streaming event-analytics ops;
    * prints and RETURNS the `STREAM_DEMO ...` summary line (the line
    * is the smoke contract, like CorpusDemo's `CORPUS_DEMO` line, and
    * StreamingWindowSpec pins it verbatim).
    */
  def eventAnalyticsDemo(spark: SparkSession): String = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StatefulOps
    import java.sql.Timestamp
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
      val line = s"STREAM_DEMO funnel_stages=$stages topk=$top sessions=$sessions"
      println(line)
      line
    } finally Seq(fq, tq, sq).foreach(_.stop())
  }
}
