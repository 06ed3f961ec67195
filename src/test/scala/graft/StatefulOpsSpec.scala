package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StatefulOps

/** Custom stateful op: state must accumulate across micro-batches. */
class StatefulOpsSpec extends SparkSpec {

  /** transformWithState needs the RocksDB state store provider. */
  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("running sample quantiles equal batch q48 after SHUFFLED multi-batch arrival") {
    // the bounded sample is a deterministic SET (the 64 smallest
    // coins), so stream state must converge to the batch cut for ANY
    // arrival order — the mergeability claim q48's scaladoc makes,
    // exercised by feeding the corpus md5-shuffled in three waves
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, sf0001)
      .select(col("event_type"),
        graft.operators.TextOps.portableHash32(
          concat(lit("qs|"), col("event_id").cast("string"))).as("coin"),
        round(col("value") * 100).cast("long").as("vc"),
        md5(col("event_id").cast("string")).as("shuf"))
      .as[(String, Long, Long, String)].collect()
      .sortBy(_._4).map(r => (r._1, r._2, r._3))
    val in = MemoryStream[(String, Long, Long)]
    val q = StatefulOps.runningSampleQuantiles(in.toDS())
      .writeStream.format("memory").queryName("runq")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      rows.grouped(math.max(rows.length / 3, 1)).foreach { wave =>
        in.addData(wave.toIndexedSeq)
        q.processAllAvailable()
      }
      // latest snapshot per type (Update mode -> max batches wins)
      val got = spark.table("runq")
        .as[(String, Long, Double, Double, Long)].collect()
        .groupBy(_._1).map { case (_, rs) => rs.maxBy(_._5) }
        .map(r => (r._1, r._2, r._3, r._4)).toSet
      val want = SparkEntry.queries("q48_sketch_quantiles")(spark, sf0001)
        .as[(String, Long, Double, Double)].collect().toSet
      assert(got === want,
        s"shuffled-arrival stream diverged from the batch sample:\n$got\nvs\n$want")
    } finally q.stop()
  }

  test("politeness gate: per-host budget per batch, overflow deferred in priority order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatefulOps.{FrontierUrl, GateDecision}
    withRocksDb {
      val in = MemoryStream[FrontierUrl]
      // a drain window far past the test's horizon: no timer fires, so
      // a host's window advances only when the host sees input
      val q = StatefulOps.politenessGateTws(in.toDS(), budget = 2,
          drain = java.time.Duration.ofHours(1))
        .writeStream.format("memory").queryName("gate")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      // processAllAvailable() never returns once timers are registered
      // (see the timer gate cases): wait for each batch's emissions
      def rows() = spark.table("gate").as[GateDecision].collect()
      def awaitRows(n: Int): Unit = {
        val deadline = System.currentTimeMillis + 120000
        while (rows().length < n && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        assert(rows().length === n, s"expected $n emissions: ${rows().toSeq}")
      }
      try {
        // batch 0: five URLs for one host + one for another
        in.addData(
          FrontierUrl("a.com", "a/1", 5), FrontierUrl("a.com", "a/2", 4),
          FrontierUrl("a.com", "a/3", 3), FrontierUrl("a.com", "a/4", 2),
          FrontierUrl("a.com", "a/5", 1), FrontierUrl("b.com", "b/1", 9))
        awaitRows(3)
        // batch 1: a low-priority tick for a.com lets the deferred
        // queue advance
        in.addData(FrontierUrl("b.com", "b/2", 1), FrontierUrl("a.com", "a/6", 0))
        awaitRows(6)
        in.addData(FrontierUrl("c.com", "c/1", 1),
          // a late high-priority URL jumps the remaining deferred queue
          FrontierUrl("a.com", "a/9", 99))
        awaitRows(9)
        val got = rows()
          .groupBy(_.host).map { case (h, rs) =>
            h -> rs.sortBy(r => (r.emitted_batch, r.url)).map(r => (r.url, r.emitted_batch)).toSeq }
        // a.com: top-2 by priority in its batch 0, next 2 in batch 1,
        // then the late a/9 outranks deferred a/5 in batch 2 (a/6 stays
        // deferred past the test's horizon)
        assert(got("a.com") === Seq(("a/1", 0L), ("a/2", 0L),
          ("a/3", 1L), ("a/4", 1L), ("a/5", 2L), ("a/9", 2L)))
        assert(got("b.com") === Seq(("b/1", 0L), ("b/2", 1L)))
        assert(got("c.com") === Seq(("c/1", 0L)))
      } finally q.stop()
    }
  }

  test("running top-k leaderboard: streaming snapshots match the batch TopK over the same rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatefulOps.{ScoredEvent, TopSnapshot}
    val in = MemoryStream[ScoredEvent]
    val q = graft.streaming.StatefulOps.runningTopK(in.toDS(), k = 2)
      .writeStream.format("memory").queryName("lead")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    val b1 = Seq(ScoredEvent("a", 10, 1, 100), ScoredEvent("a", 30, 2, 200),
      ScoredEvent("a", 20, 3, 300), ScoredEvent("b", 5, 4, 400))
    val b2 = Seq(ScoredEvent("a", 25, 5, 500), ScoredEvent("b", 7, 6, 600),
      // a score tie with event 2: lower event_id must win the rank
      ScoredEvent("a", 30, 0, 700))
    try {
      in.addData(b1: _*)
      q.processAllAvailable()
      in.addData(b2: _*)
      q.processAllAvailable()
      val last = spark.table("lead").as[TopSnapshot].collect()
        .groupBy(_.event_type).map { case (t, rows) =>
          val mb = rows.map(_.batches).max
          t -> rows.filter(_.batches == mb).sortBy(_.rk)
            .map(r => (r.rk, r.event_id, r.cents)).toSeq
        }
      // batch truth over ALL rows: a -> (30,#0), (30,#2); b -> 7, 5
      assert(last("a") === Seq((1L, 0L, 30L), (2L, 2L, 30L)))
      assert(last("b") === Seq((1L, 6L, 7L), (2L, 4L, 5L)))
      // and the streaming result IS the batch aggregator's answer
      val agg = new graft.functions.SketchAgg.TopK(2)
      val direct = (b1 ++ b2).filter(_.event_type == "a")
        .foldLeft(agg.zero)((b, e) =>
          agg.reduce(b, graft.functions.SketchAgg.TopKRow(e.cents, e.event_id, e.user_id)))
      assert(agg.finish(direct).map(r => (r.id, r.score)) === Seq((0L, 30L), (2L, 30L)))
    } finally q.stop()
  }

  test("leaderboard state survives a query restart from the checkpoint") {
    // durability for the top-k state: run over a file source with a
    // checkpoint, STOP, land more data, restart on the same checkpoint
    // — a pre-restart leader must still outrank post-restart arrivals
    import spark.implicits._
    import graft.streaming.StatefulOps.{ScoredEvent, TopSnapshot}
    val root = java.nio.file.Files.createTempDirectory("leadckpt").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    Seq(ScoredEvent("a", 100, 1, 10), ScoredEvent("a", 50, 2, 20))
      .toDS().write.parquet(inDir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[ScoredEvent]].schema)
        .parquet(inDir).as[ScoredEvent]
      val q = graft.streaming.StatefulOps.runningTopK(stream, k = 2)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[TopSnapshot], _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    runOnce()
    // event 3 beats the pre-restart runner-up but not the leader
    Seq(ScoredEvent("a", 80, 3, 30)).toDS()
      .write.mode("append").parquet(inDir)
    runOnce()
    val last = spark.read.parquet(outDir).as[TopSnapshot].collect()
    val mb = last.map(_.batches).max
    val top = last.filter(_.batches == mb).sortBy(_.rk)
      .map(r => (r.rk, r.event_id, r.cents)).toSeq
    assert(top === Seq((1L, 1L, 100L), (2L, 3L, 80L)),
      s"pre-restart leader must survive the checkpoint: $top")
  }

  test("running EWMA advances the q32 fixed-point recurrence per batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatefulOps.EwmaSnapshot
    val in = MemoryStream[(String, Long)]
    val q = graft.streaming.StatefulOps.runningEwma(in.toDS())
      .writeStream.format("memory").queryName("ewma")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      in.addData(("a", 40L), ("a", 60L), ("b", 8L)) // a: c=100 -> e=100
      q.processAllAvailable()
      in.addData(("a", 60L))                        // a: (60 + 300)/4 = 90
      q.processAllAvailable()
      in.addData(("a", 10L), ("b", 4L))             // a: (10 + 270)/4 = 70
      q.processAllAvailable()
      val last = spark.table("ewma").as[EwmaSnapshot].collect()
        .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.batches) }
      assert(last("a") === EwmaSnapshot("a", 10L, 70L, 3L))
      // b saw batches 1 and 3 only: fMGWS skips data-less groups, so
      // its recurrence advances per OBSERVED batch: e = (4 + 24)/4 = 7
      assert(last("b") === EwmaSnapshot("b", 4L, 7L, 2L))
    } finally q.stop()
  }

  test("timer gate drains a deferred URL with NO new event for its host") {
    // the case an fMGWS gate cannot express: under NoTimeout a
    // data-less group is never invoked, so a quiet host's deferred
    // queue starves. The gate arms a processing-time timer per
    // deferral; when the budget window rolls over, the host drains on
    // the timer even though every subsequent batch carries only OTHER
    // hosts' traffic.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatefulOps.{FrontierUrl, GateDecision}
    withRocksDb {
      val in = MemoryStream[FrontierUrl]
      val q = graft.streaming.StatefulOps.politenessGateTws(in.toDS(), budget = 2,
          drain = java.time.Duration.ofMillis(300))
        .writeStream.format("memory").queryName("timergate")
        .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
      try {
        // ONE batch of input, then nothing ever again for any host. NOTE
        // processAllAvailable() is unusable here BY DESIGN: registered
        // timers make every execution require a follow-up batch, so the
        // engine never latches noNewData — poll the sink instead.
        in.addData(FrontierUrl("a.com", "a/1", 5), FrontierUrl("a.com", "a/2", 4),
          FrontierUrl("a.com", "a/3", 3))
        val deadline = System.currentTimeMillis + 120000
        def rows() = spark.table("timergate").as[GateDecision].collect()
        while (rows().length < 3 && System.currentTimeMillis < deadline)
          Thread.sleep(200)
        val got = rows().map(r => r.url -> r.emitted_batch).toMap
        assert(got.keySet === Set("a/1", "a/2", "a/3"),
          s"deferred a/3 must drain on the timer with no further input: $got")
        // the budget window proves a/3 was DEFERRED first (window 0
        // emitted the top-2 by priority; the timer's window 1 released
        // it) — not just emitted late by scheduling noise
        assert(got("a/1") === 0L && got("a/2") === 0L && got("a/3") === 1L,
          s"expected a/3 in the timer's window 1: $got")
      } finally q.stop()
    }
  }

  test("timer gate: deferred URLs and their drain timer survive a restart") {
    // durability of the TIMER, not just the state: defer a URL, stop
    // the query, restart on the same checkpoint with NO new input —
    // the recovered processing-time timer must fire and drain it.
    import spark.implicits._
    import graft.streaming.StatefulOps.{FrontierUrl, GateDecision}
    val root = java.nio.file.Files.createTempDirectory("gateckpt").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    Seq(FrontierUrl("a.com", "a/1", 5), FrontierUrl("a.com", "a/2", 4),
      FrontierUrl("a.com", "a/3", 3)).toDS().write.parquet(inDir)
    def start() = graft.streaming.StatefulOps.politenessGateTws(
        spark.readStream
          .schema(implicitly[org.apache.spark.sql.Encoder[FrontierUrl]].schema)
          .parquet(inDir).as[FrontierUrl],
        budget = 2, drain = java.time.Duration.ofMillis(300))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[GateDecision], _: Long) =>
        b.write.mode("append").parquet(outDir); ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    def urls(): Set[String] =
      try spark.read.parquet(outDir).as[GateDecision].collect().map(_.url).toSet
      catch { case _: Exception => Set.empty }
    withRocksDb {
      val q1 = start()
      val d1 = System.currentTimeMillis + 120000
      // stop as soon as the budgeted two are out — ideally BEFORE the
      // drain fires, but even if a/3 drains pre-stop the restart path
      // below still proves recovery (the assert only needs the drain)
      while (urls().size < 2 && System.currentTimeMillis < d1) Thread.sleep(100)
      q1.stop()
      val preRestart = urls()
      val q2 = start() // same checkpoint, NO new files
      val d2 = System.currentTimeMillis + 120000
      while (!urls().contains("a/3") && System.currentTimeMillis < d2)
        Thread.sleep(200)
      q2.stop()
      assert(urls() === Set("a/1", "a/2", "a/3"),
        s"deferred URL must drain after restart (pre-restart: $preRestart, got: ${urls()})")
    }
  }

  test("funnel state survives a query restart from the checkpoint") {
    // durability, not just parity: run the funnel over a file source
    // with a checkpoint, STOP the query, land more data, start a NEW
    // query on the same checkpoint — the per-user state (earliest
    // signup) must carry across the restart, so a purchase arriving
    // after the restart still anchors to the pre-restart signup
    import spark.implicits._
    import graft.streaming.StatefulOps.{FunnelEvent, FunnelState}
    val root = java.nio.file.Files.createTempDirectory("funnelckpt").toString
    val inDir = s"$root/in"; val outDir = s"$root/out"; val ckpt = s"$root/ckpt"
    Seq(FunnelEvent(1L, 1000L, "signup"), FunnelEvent(2L, 1500L, "click"))
      .toDS().write.parquet(inDir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[FunnelEvent]].schema)
        .parquet(inDir).as[FunnelEvent]
      val q = graft.streaming.StatefulOps.funnelStages(stream)
        .writeStream
        // fMGWS runs in Update mode; parquet wants Append — fan out
        // through foreachBatch (the RcSinks convention)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[FunnelState], _: Long) =>
          b.write.mode("append").parquet(outDir); ()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      ()
    }
    runOnce() // batch 1: user 1 reaches stage 1
    // land a purchase AFTER user 1's signup, then restart
    Seq(FunnelEvent(1L, 2000L, "purchase"), FunnelEvent(1L, 3000L, "click"))
      .toDS().write.mode("append").parquet(inDir)
    runOnce() // new query, same checkpoint
    val states = spark.read.parquet(outDir)
      .as[FunnelState].collect().filter(_.user_id == 1L)
    val last = states.maxBy(_.stage)
    assert(last.stage === 3,
      s"state lost across restart: ${states.toSeq}")
    assert(last.s_us === Some(1000L) && last.p_us === Some(2000L) &&
      last.c_us === Some(3000L))
  }

  test("streaming funnel stages match the batch q23_funnel counts (3-batch replay)") {
    // the real sf0.001 events, time-ordered and split into three
    // micro-batches — under the in-order replay contract the final
    // per-user stage counts must equal the batch query's three
    // distinct-counts exactly
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StatefulOps.{FunnelEvent, FunnelState}
    val rows = Tables.events(spark, sf0001)
      .selectExpr("user_id", "unix_micros(ts) AS ts_us", "event_type")
      .as[FunnelEvent].collect().sortBy(_.ts_us)
    val thirds = rows.grouped((rows.length + 2) / 3).toSeq
    val in = MemoryStream[FunnelEvent]
    val q = graft.streaming.StatefulOps.funnelStages(in.toDS())
      .writeStream.format("memory").queryName("funnel_stages")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // mid-stream check: after batch 1 no user may be AHEAD of its
      // final stage (the machine is monotone)
      in.addData(thirds.head.toSeq)
      q.processAllAvailable()
      val mid = spark.table("funnel_stages").as[FunnelState].collect()
        .groupBy(_.user_id).map { case (_, ss) => ss.last }
      thirds.drop(1).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
      val fin = spark.table("funnel_stages").as[FunnelState].collect()
        .groupBy(_.user_id).map { case (u, ss) =>
          u -> ss.maxBy(s => (s.stage, s.c_us.orElse(s.p_us).orElse(s.s_us))) }
      mid.foreach(s => assert(s.stage <= fin(s.user_id).stage,
        s"user ${s.user_id} regressed"))
      val Array((uS, uP, uC)) = SparkEntry.queries("q23_funnel")(spark, sf0001)
        .as[(Long, Long, Long)].collect()
      val stages = fin.values.map(_.stage).toSeq
      assert(stages.count(_ >= 1).toLong === uS)
      assert(stages.count(_ >= 2).toLong === uP)
      assert(stages.count(_ >= 3).toLong === uC)
    } finally q.stop()
  }
}
