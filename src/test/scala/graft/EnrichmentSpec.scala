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
      val dim = LiveEnrichment.editCountDim(
        users.toDF("user"), srv.url, partitions = 1)
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
      LiveEnrichment.editCountDim(users.toDF("user"), srv.url, partitions = 1).count()
      val after1 = srv.requests.get()
      val again = LiveEnrichment.editCountDim(users.toDF("user"), srv.url, partitions = 1)
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
    // One user (the editcount dim spreads its users over 4 partitions, so
    // only a single user keeps its request count at ceil(users / 50)),
    // three titles edited twice each, one deleted revision (race).
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
      import org.apache.spark.sql.execution.{DeserializeToObjectExec, MapPartitionsExec}
      val plan = live.queryExecution.executedPlan
      // each dim's fetch is one MapPartitions over its distinct keys: the
      // users dim reads strings, the text dim revision ids
      val fetches = plans.collectWithSubqueries(plan) { case m: MapPartitionsExec =>
        m.child.collectFirst { case d: DeserializeToObjectExec =>
          d.child.output.map(_.dataType.simpleString).mkString(",") }
      }
      assert(fetches.sortBy(_.toString) === Seq(Some("bigint"), Some("string")), plan.toString)
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
