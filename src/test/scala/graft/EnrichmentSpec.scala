package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import graft.enrichment.{LiveEnrichment, StubApiServer}
import graft.schema.ChangeSchema
import graft.streaming.{RcSinks, RcStreaming}

/** Live enrichment against a local stub of the MediaWiki API
  * (`scanner.py:178-218`): request batching, cross-batch LRU caching,
  * race routing, and equivalence with the static dim-join twin.
  */
class EnrichmentSpec extends SparkSpec {
  import spark.implicits._

  private def changeJson(id: Long, title: String, user: String, rev: Long): String =
    s"""{"comment":"c","wiki":"enwiki","type":"edit","server_name":"en.wikipedia.org",
       |"server_script_path":"/w","namespace":2,"title":"$title","bot":false,
       |"server_url":"https://en.wikipedia.org","length":{"old":1,"new":2},
       |"meta":{"domain":"en.wikipedia.org","partition":0,"uri":"https://x/$title",
       |"offset":$id,"topic":"rc","request_id":"r","schema_uri":"s","dt":"2026-08-12T09:15:00Z","id":"m$id"},
       |"user":"$user","timestamp":1786612500,"patrolled":false,"id":$id,
       |"minor":false,"revision":{"old":${rev - 1},"new":$rev}}""".stripMargin.replaceAll("\n", "")

  test("editcount lookups are batched 50 users per request") {
    val users = (1 to 120).map(i => s"batchuser$i")
    val srv = new StubApiServer(users.map(_ -> 7L).toMap, Map.empty)
    try {
      val dim = LiveEnrichment.editCountDim(users.toDF("user"), srv.url)
      val got = dim.as[(String, Long)].collect().toMap
      assert(got.size === 120 && got.values.forall(_ === 7L))
      assert(srv.requests.get() === 3L, // ceil(120/50), NOT 120
        s"expected 3 batched requests, saw ${srv.requests.get()}")
    } finally srv.close()
  }

  test("LRU cache short-circuits keys seen in earlier batches") {
    val users = (1 to 20).map(i => s"cacheuser$i")
    val srv = new StubApiServer(users.map(_ -> 3L).toMap, Map.empty)
    try {
      LiveEnrichment.editCountDim(users.toDF("user"), srv.url).count()
      val after1 = srv.requests.get()
      val again = LiveEnrichment.editCountDim(users.toDF("user"), srv.url)
      assert(again.count() === 20)
      assert(srv.requests.get() === after1, "second batch must be served from cache")
    } finally srv.close()
  }

  test("live pipeline == static dim-join twin; failures dead-letter as race") {
    val inDir = Files.createTempDirectory("live").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), Seq(
      changeJson(1, "User:A", "liveal", 9101),  // match
      changeJson(2, "User:B", "livebo", 9102),  // no regex hit
      changeJson(3, "User:C", "livegone", 9103), // unknown user -> race
      changeJson(4, "User:D", "livedel", 9104)  // deleted revision -> race
    ).mkString("\n"))
    val editCounts = Map("liveal" -> 10L, "livebo" -> 2L, "livedel" -> 1L)
    val texts = Map(9101L -> "a userbox here", 9102L -> "plain text")
    val srv = new StubApiServer(editCounts, texts)
    try {
      val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
        skipRepeats = false, regexes = Seq("userbox"))
      val batch = spark.read.schema(ChangeSchema.change).json(inDir)
      val live = RcStreaming.livePipeline(batch, srv.url, spec, emitDeadLetter = true)
      val static0 = RcStreaming.pipeline(batch,
        editCounts.toSeq.toDF("user", "editcount"),
        texts.toSeq.toDF("revid", "text"), spec, emitDeadLetter = true)
      val l = live.select("id", "matched", "dead_letter")
        .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
      val s = static0.select("id", "matched", "dead_letter")
        .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
      assert(l === s)
      assert(l.filter(_._3).map(_._1) === Seq(3L, 4L)) // both races dead-lettered
      assert(l.filter(r => !r._3).map(_._1) === Seq(1L)) // only the match survives
    } finally srv.close()
  }

  test("repeat dedup with dead letters fetches each enrichment key once") {
    val inDir = Files.createTempDirectory("liveonce").toString
    // One user, three titles edited twice each, one deleted revision (race).
    val events = Seq(
      changeJson(31, "User:P", "onceuser", 9301),
      changeJson(32, "User:P", "onceuser", 9302), // repeat of a flagged title
      changeJson(33, "User:Q", "onceuser", 9303),
      changeJson(34, "User:Q", "onceuser", 9304), // no regex hit
      changeJson(35, "User:R", "onceuser", 9305), // deleted revision -> race
      changeJson(36, "User:R", "onceuser", 9306))
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), events.mkString("\n"))
    val editCounts = Map("onceuser" -> 4L)
    val texts = Map(9301L -> "userbox one", 9302L -> "userbox two",
      9303L -> "userbox three", 9304L -> "plain", 9306L -> "userbox six")
    val srv = new StubApiServer(editCounts, texts)
    try {
      val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
        skipRepeats = true, regexes = Seq("userbox"))
      val batch = spark.read.schema(ChangeSchema.change).json(inDir)
      val live = RcStreaming.livePipeline(batch, srv.url, spec, emitDeadLetter = true)
      val l = live.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("matched"),
        r.getAs[Boolean]("dead_letter"))).sortBy(_._1).toSeq

      object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
      import org.apache.spark.sql.execution.LocalTableScanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val plan = live.queryExecution.executedPlan
      // both dims are local relations built from the driver's fetches
      val dims = plans.collectWithSubqueries(plan) { case l: LocalTableScanExec =>
        l.output.map(_.name).mkString(",") }
      assert(dims.sorted === Seq("revid,text", "user,editcount"), plan.toString)
      // one partition end to end: neither D1's window nor anything else shuffles
      assert(plans.collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }.isEmpty,
        plan.toString)
      assert(srv.requests.get() === 6L + 1L, // 6 distinct revids + ceil(1 user / 50)
        s"saw ${srv.requests.get()} requests")

      val static0 = RcStreaming.pipeline(batch,
        editCounts.toSeq.toDF("user", "editcount"),
        texts.toSeq.toDF("revid", "text"), spec, emitDeadLetter = true)
      val s = static0.select("id", "matched", "dead_letter")
        .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
      assert(l === s)
      assert(l === Seq((31L, "userbox", false), (33L, "userbox", false),
        (35L, "", true), (36L, "userbox", false)))
    } finally srv.close()
  }

  test("a batch's users share one list=users request, each revision one parse") {
    val inDir = Files.createTempDirectory("liveround").toString
    // 4 users over 5 events and 5 revisions, in 3 input partitions
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), (1 to 5).map(i =>
      changeJson(50L + i, s"User:F$i", s"rounduser${i % 4}", 9500L + i)).mkString("\n"))
    val srv = new StubApiServer((0 to 3).map(i => s"rounduser$i" -> 1L).toMap,
      (9501L to 9505L).map(_ -> "userbox").toMap)
    try {
      val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
        skipRepeats = false, regexes = Seq("userbox"))
      val batch = spark.read.schema(ChangeSchema.change).json(inDir).repartition(3)
      val live = RcStreaming.livePipeline(batch, srv.url, spec, emitDeadLetter = true)
      assert(live.count() === 5L)
      assert(srv.requests.get() === 1L + 5L, s"saw ${srv.requests.get()} requests")
    } finally srv.close()
  }

  test("property: livePipeline == pipeline with the same maps as static dims") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    val sites = Seq("aa.example.org", "bb.example.org", "cc.example.org") // cc: no endpoint
    // (title, user, revid, site) indices: titles repeat, user 3 has no edit
    // count, revisions 5 and 6 have no text
    val genEvent = for {
      t <- Gen.choose(0, 3); u <- Gen.choose(0, 3)
      r <- Gen.choose(0, 6); s <- Gen.choose(0, 2)
    } yield (t, u, r, s)
    val genCase = for {
      n <- Gen.choose(1, 14)
      events <- Gen.listOfN(n, genEvent)
      parts <- Gen.choose(1, 4)
      empty <- Gen.oneOf("none", "users", "texts") // a dim with no rows
      perSite <- Gen.oneOf(false, true)
      skipRepeats <- Gen.oneOf(false, true)
      emit <- Gen.oneOf(false, true)
      maxEdits <- Gen.option(Gen.choose(1L, 6L))
    } yield (events, parts, empty, perSite, skipRepeats, emit, maxEdits)
    val round = new java.util.concurrent.atomic.AtomicInteger(0)
    val prop = Prop.forAll(genCase) {
      case (events, parts, empty, perSite, skipRepeats, emit, maxEdits) =>
        // fresh keys per case: a stub's port (and so its LRU) can be reused
        val k = round.incrementAndGet()
        def user(u: Int) = s"prop${k}u$u"
        def rev(r: Int) = 100000L * k + r
        def maps(site: Int) = (
          if (empty == "users") Map.empty[String, Long]
          else (0 to 2).map(u => user(u) -> (u + 2L * site)).toMap,
          if (empty == "texts") Map.empty[Long, String]
          else (0 to 4).map(r => rev(r) ->
            (if ((r + site) % 2 == 0) s"userbox $r" else "plain")).toMap)
        val json = events.zipWithIndex.map { case ((t, u, r, s), i) =>
          changeJson(i + 1L, s"User:P$t", user(u), rev(r))
            .replace("en.wikipedia.org", if (perSite) sites(s) else "en.wikipedia.org")
        }
        val batch = spark.read.schema(ChangeSchema.change)
          .json(spark.createDataset(json).repartition(parts))
        val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), maxEdits,
          skipRepeats = skipRepeats, regexes = Seq("userbox"))
        val servers = (0 to 1).map { site => val (e, t) = maps(site); new StubApiServer(e, t) }
        try {
          val (live, users, revisions) =
            if (perSite) (
              RcStreaming.livePipelineBySite(batch,
                Map(sites(0) -> servers(0).url, sites(1) -> servers(1).url), spec, emit),
              (0 to 1).flatMap(s => maps(s)._1.map { case (u, n) => (sites(s), u, n) })
                .toDF("server_name", "user", "editcount"),
              (0 to 1).flatMap(s => maps(s)._2.map { case (r, t) => (sites(s), r, t) })
                .toDF("server_name", "revid", "text"))
            else (
              RcStreaming.livePipeline(batch, servers(0).url, spec, emit),
              maps(0)._1.toSeq.toDF("user", "editcount"),
              maps(0)._2.toSeq.toDF("revid", "text"))
          val static0 = RcStreaming.pipeline(batch, users, revisions, spec, emit)
          def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
          rows(live) == rows(static0)
        } finally servers.foreach(_.close())
    }
    val r = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(16), prop)
    assert(r.passed, r.status.toString)
  }

  test("an API that accepts and never answers dead-letters as race, bounded in time") {
    val inDir = Files.createTempDirectory("livehung").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"),
      changeJson(41, "User:H", "hunguser", 9401))
    // accepts every connection and never writes a byte
    val hung = new java.net.ServerSocket(0, 50, java.net.InetAddress.getLoopbackAddress)
    val held = new java.util.concurrent.ConcurrentLinkedQueue[java.net.Socket]()
    val acceptor = new Thread(() =>
      try { while (true) held.add(hung.accept()) } catch { case _: java.io.IOException => () })
    acceptor.setDaemon(true)
    acceptor.start()
    val url = s"http://127.0.0.1:${hung.getLocalPort}/w/api.php"
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
      skipRepeats = false, regexes = Seq("userbox"))
    val batch = spark.read.schema(ChangeSchema.change).json(inDir)
    val run = scala.concurrent.Future {
      RcStreaming.livePipeline(batch, url, spec, emitDeadLetter = true)
        .select("id", "dead_letter").as[(Long, Boolean)].collect().toSeq
    }(scala.concurrent.ExecutionContext.global)
    try {
      // the guard: without a request timeout the lookups block forever
      val rows = scala.concurrent.Await.result(run,
        scala.concurrent.duration.Duration(60, "seconds"))
      assert(rows === Seq((41L, true)))
      assert(!held.isEmpty, "the lookups must have reached the hung API")
    } finally {
      hung.close()
      held.forEach(_.close())
    }
  }

  test("per-site routing: each event's lookups hit its own wiki's API") {
    def siteJson(id: Long, site: String, user: String, rev: Long): String =
      changeJson(id, s"User:X$id", user, rev)
        .replace("en.wikipedia.org", site)
    val inDir = Files.createTempDirectory("multisite").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), Seq(
      siteJson(21, "aa.example.org", "shareduser", 500),
      siteJson(22, "bb.example.org", "shareduser", 500), // same user+rev, other wiki
      siteJson(23, "cc.example.org", "orphan", 501)      // site with NO endpoint
    ).mkString("\n"))
    // The SAME username and the SAME revision id exist on both wikis
    // with different data — only per-site routing can tell them apart.
    val srvA = new StubApiServer(Map("shareduser" -> 1L), Map(500L -> "userbox alpha"))
    val srvB = new StubApiServer(Map("shareduser" -> 2L), Map(500L -> "plain beta"))
    try {
      val apis = Map("aa.example.org" -> srvA.url, "bb.example.org" -> srvB.url)
      val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
        skipRepeats = false, regexes = Seq("userbox"))
      val batch = spark.read.schema(ChangeSchema.change).json(inDir)
      val live = RcStreaming.livePipelineBySite(batch, apis, spec, emitDeadLetter = true)
      val rows = live.select("id", "matched", "text", "dead_letter")
        .as[(Long, String, Option[String], Boolean)].collect().sortBy(_._1).toSeq
      // event 21 got wiki A's text (match); 22 got wiki B's text (a
      // cross-routed lookup would have matched "userbox alpha" — the
      // match gate drops its no-hit row instead); 23's site has no
      // endpoint -> race dead-letter
      assert(rows === Seq(
        (21L, "userbox", Some("userbox alpha"), false),
        (23L, "", None, true)))
      // both endpoints were actually consulted (no cross-site fan-out)
      assert(srvA.requests.get() > 0 && srvB.requests.get() > 0)
      // twin-equivalence with static per-site dims on the same input
      import spark.implicits._
      val staticUsers = Seq(
        ("aa.example.org", "shareduser", 1L),
        ("bb.example.org", "shareduser", 2L)).toDF("server_name", "user", "editcount")
      val staticRevs = Seq(
        ("aa.example.org", 500L, "userbox alpha"),
        ("bb.example.org", 500L, "plain beta")).toDF("server_name", "revid", "text")
      val static0 = RcStreaming.pipeline(batch, staticUsers, staticRevs, spec,
        emitDeadLetter = true)
      val s = static0.select("id", "matched", "text", "dead_letter")
        .as[(Long, String, Option[String], Boolean)].collect().sortBy(_._1).toSeq
      val l = live.select("id", "matched", "text", "dead_letter")
        .as[(Long, String, Option[String], Boolean)].collect().sortBy(_._1).toSeq
      assert(l === s)
    } finally { srvA.close(); srvB.close() }
  }

  test("streaming foreachBatch live job runs end to end") {
    val inDir = Files.createTempDirectory("livestream").toString
    val outDir = Files.createTempDirectory("liveout").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), Seq(
      changeJson(11, "User:S", "streamer", 9201),
      changeJson(12, "User:T", "streamer", 9202)).mkString("\n"))
    val srv = new StubApiServer(Map("streamer" -> 5L),
      Map(9201L -> "userbox content", 9202L -> "nothing"))
    try {
      val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
        skipRepeats = false, regexes = Seq("userbox"))
      val sinks = RcSinks(outDir, logLevel = 2, filterName = "live")
      val q = spark.readStream.schema(ChangeSchema.change).json(inDir)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
          sinks.writeBatch(RcStreaming.livePipeline(b, srv.url, spec), id))
        .option("checkpointLocation", s"$outDir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val flagged = spark.read.parquet(s"$outDir/flaglog")
      assert(flagged.select("change.title").as[String].collect().toSeq === Seq("User:S"))
    } finally srv.close()
  }
}
