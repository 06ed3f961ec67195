package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.schema.ChangeSchema
import graft.streaming.{RcSinks, RcStreaming}

/** Verbose (-v) skip-reason parity (`scanner.py:130-138, 78-81`): every
  * skipped event surfaces with reason 'editcount' | 'repeat' | 'race'
  * and the exact reference message; flagged output matches the
  * non-verbose pipeline; batch and streaming twins agree.
  */
class VerboseSpec extends SparkSpec {
  import spark.implicits._

  private def changeJson(id: Long, title: String, user: String, rev: Long,
      dt: String = "2026-08-12T09:15:00Z"): String =
    s"""{"comment":"c","wiki":"enwiki","type":"edit","server_name":"en.wikipedia.org",
       |"server_script_path":"/w","namespace":2,"title":"$title","bot":false,
       |"server_url":"https://en.wikipedia.org","length":{"old":1,"new":2},
       |"meta":{"domain":"en.wikipedia.org","partition":0,"uri":"https://x/$title",
       |"offset":$id,"topic":"rc","request_id":"r","schema_uri":"s","dt":"$dt","id":"m$id"},
       |"user":"$user","timestamp":1786612500,"patrolled":false,"id":$id,
       |"minor":false,"revision":{"old":${rev - 1},"new":$rev}}""".stripMargin.replaceAll("\n", "")

  // id 1: flags "User:A"        id 2: repeat of User:A (matched earlier)
  // id 3: over max editcount    id 4: missing revision text -> race
  // id 5: evaluated, no hits    id 6: unknown user -> editcount race
  // id 7: repeat of User:A that would NOT match now (repeat beats regex)
  private def writeFixture(dir: String): Unit =
    Files.writeString(java.nio.file.Path.of(s"$dir/b.json"), Seq(
      changeJson(1, "User:A", "alice", 101, dt = "2026-08-12T09:01:00Z"),
      changeJson(2, "User:A", "alice", 102, dt = "2026-08-12T09:02:00Z"),
      changeJson(3, "User:B", "bob", 103, dt = "2026-08-12T09:03:00Z"),
      changeJson(4, "User:C", "cara", 104, dt = "2026-08-12T09:04:00Z"),
      changeJson(5, "User:D", "dan", 105, dt = "2026-08-12T09:05:00Z"),
      changeJson(6, "User:E", "zara", 106, dt = "2026-08-12T09:06:00Z"),
      changeJson(7, "User:A", "alice", 107, dt = "2026-08-12T09:07:00Z")
    ).mkString("\n"))

  private val users = Seq(("alice", 10L), ("bob", 500L), ("cara", 1L), ("dan", 2L))
    .toDF("user", "editcount")
  private val revisions = Seq((101L, "has a userbox inside"), (102L, "userbox too"),
    (103L, "userbox again"), (105L, "plain text"), (106L, "userbox"),
    (107L, "nothing to see")).toDF("revid", "text")
  private val spec = RcStreaming.FilterSpec(
    streamfilter = Map("type" -> Seq("edit")),
    maxEdits = Some(100L), skipRepeats = true,
    regexes = Seq("(?i)\\buserbox(e[ns])?\\b"))

  private def expectReasons(rows: Array[(Long, Option[String], Option[String])]): Unit = {
    val byId = rows.map(r => r._1 -> r).toMap
    assert(byId(1L)._2 === None)                    // flagged
    assert(byId(2L)._2 === Some("repeat"))
    assert(byId(2L)._3 === Some("Skipping.  Page already in flagged changes log."))
    assert(byId(3L)._2 === Some("editcount"))
    assert(byId(3L)._3 === Some("Skipping.  Edit count was 500 > 100."))
    assert(byId(4L)._2 === Some("race"))
    assert(byId(4L)._3.get.startsWith("A race condition occurred, likely due to a page being deleted"))
    assert(byId(5L)._2 === None)                    // evaluated, no hits
    assert(byId(6L)._2 === Some("race"))            // editcount lookup failed
    assert(byId(7L)._2 === Some("repeat"))          // repeat beats would-not-match
  }

  test("batch verbose pipeline resolves all three reasons with exact messages") {
    val inDir = Files.createTempDirectory("verbb").toString
    writeFixture(inDir)
    val batch = spark.read.schema(ChangeSchema.change).json(inDir)
    val got = RcStreaming.pipelineVerbose(batch, users, revisions, spec)
      .select("id", "reason", "skip_message")
      .as[(Long, Option[String], Option[String])].collect()
    assert(got.length === 7)
    expectReasons(got)
  }

  test("streaming verbose twin agrees with batch, end to end through sinks") {
    val inDir = Files.createTempDirectory("verbs").toString
    val outDir = Files.createTempDirectory("verbout").toString
    writeFixture(inDir)
    val changes = spark.readStream.schema(ChangeSchema.change).json(inDir)
    val out = RcStreaming.pipelineVerbose(changes, users, revisions, spec)
    val sinks = RcSinks(outDir, logLevel = 2, filterName = "example")
    val q = out.writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
        sinks.writeVerboseBatch(b, id))
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val skipped = spark.read.parquet(s"$outDir/skipped")
      .select("id", "reason", "skip_message")
      .as[(Long, String, String)].collect()
    assert(skipped.map(_._1).sorted.toSeq === Seq(2L, 3L, 4L, 6L, 7L))
    assert(skipped.find(_._1 == 3L).get._2 === "editcount")
    assert(skipped.find(_._1 == 3L).get._3 === "Skipping.  Edit count was 500 > 100.")
    assert(skipped.count(_._2 == "race") === 2)
    assert(skipped.count(_._2 == "repeat") === 2)
    // flagged events reach K3 with the FULL change record
    val flagged = spark.read.parquet(s"$outDir/flaglog")
    assert(flagged.select("change.title").as[String].collect().toSeq === Seq("User:A"))
    assert(flagged.select("change.meta.domain").as[String].head() === "en.wikipedia.org")
  }

  test("repeat state survives a checkpointed restart") {
    val inDir = Files.createTempDirectory("verbr").toString
    val outDir = Files.createTempDirectory("verbrout").toString
    // run 1: User:A flagged
    Files.writeString(java.nio.file.Path.of(s"$inDir/a.json"),
      changeJson(1, "User:A", "alice", 101, dt = "2026-08-12T09:01:00Z"))
    val sinks = RcSinks(outDir, logLevel = 2, filterName = "example")
    def runOnce(): Unit = {
      val q = RcStreaming.pipelineVerbose(
          spark.readStream.schema(ChangeSchema.change).json(inDir),
          users, revisions, spec)
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) =>
          sinks.writeVerboseBatch(b, id))
        .option("checkpointLocation", s"$outDir/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    runOnce()
    // "process restart": a NEW query from the same checkpoint sees a
    // second matching edit to the flagged title -> must be a repeat,
    // which only works if the per-title state store was recovered
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"),
      changeJson(2, "User:A", "alice", 102, dt = "2026-08-12T09:02:00Z"))
    runOnce()
    import spark.implicits._
    val skipped = spark.read.parquet(s"$outDir/skipped")
      .select("id", "reason").as[(Long, String)].collect().toMap
    assert(skipped === Map(2L -> "repeat"))
  }

  test("non-verbose pipeline and verbose pipeline flag the same events") {
    def flaggedBoth(batch: DataFrame, users: DataFrame, revisions: DataFrame): Seq[Long] = {
      val flaggedVerbose = RcStreaming.pipelineVerbose(batch, users, revisions, spec)
        .filter("reason IS NULL AND size(matched) > 0")
        .select("id").as[Long].collect().sorted.toSeq
      val flaggedPlain = RcStreaming.pipeline(batch, users, revisions, spec)
        .select("id").as[Long].collect().sorted.toSeq
      assert(flaggedVerbose === flaggedPlain)
      flaggedPlain
    }
    val inDir = Files.createTempDirectory("verbx").toString
    writeFixture(inDir)
    flaggedBoth(spark.read.schema(ChangeSchema.change).json(inDir), users, revisions)

    // Per-site dims: the same user and the same revid exist on two wikis
    // and only wiki A's text matches, so each event must be resolved
    // against its own wiki's text.
    val siteDir = Files.createTempDirectory("verbsite").toString
    Files.writeString(java.nio.file.Path.of(s"$siteDir/b.json"), Seq(
      changeJson(11, "User:SA", "shared", 500).replace("en.wikipedia.org", "aa.example.org"),
      changeJson(12, "User:SB", "shared", 500).replace("en.wikipedia.org", "bb.example.org")
    ).mkString("\n"))
    val siteBatch = spark.read.schema(ChangeSchema.change).json(siteDir)
    val siteUsers = Seq(("aa.example.org", "shared", 5L), ("bb.example.org", "shared", 6L))
      .toDF("server_name", "user", "editcount")
    val siteRevs = Seq(("aa.example.org", 500L, "userbox alpha"),
      ("bb.example.org", 500L, "plain beta")).toDF("server_name", "revid", "text")
    assert(flaggedBoth(siteBatch, siteUsers, siteRevs) === Seq(11L))
    val texts = RcStreaming.pipelineVerbose(siteBatch, siteUsers, siteRevs, spec)
      .select("id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(texts === Seq((11L, "userbox alpha"), (12L, "plain beta")))
  }
}
