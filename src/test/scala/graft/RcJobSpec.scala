package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{RcJob, RcSinks, RcStreaming}

/** End-to-end job assembly: registry resolution with the reference's
  * exact error strings, multi-topic source union, pipeline, sinks.
  */
class RcJobSpec extends SparkSpec {

  test("arg resolution mirrors scanner.py:34-51") {
    assert(RcJob.resolveArgs(Seq()) ===
      Left("Error: No filter specified from `config.filters`."))
    assert(RcJob.resolveArgs(Seq("nope")) ===
      Left("Error: nope is not a valid key in `config.filters`."))
    val Right((spec, name, verbose)) = RcJob.resolveArgs(Seq("example", "-v"))
    assert(name === "example")
    assert(verbose)
    assert(spec.sites === Seq("en.wikipedia.org"))
    assert(spec.effectiveStreamfilter("server_name") === Seq("en.wikipedia.org"))
  }

  test("multi-topic union job runs end to end from two SSE files") {
    import spark.implicits._
    val sseDir = Files.createTempDirectory("topics").toString
    def ev(id: Long, typ: String, title: String) =
      s"""data: {"comment":"c","wiki":"enwiki","type":"$typ","server_name":"en.wikipedia.org","server_script_path":"/w","namespace":2,"title":"$title","bot":false,"server_url":"u","length":{"old":1,"new":2},"meta":{"domain":"d","partition":0,"uri":"u/$title","offset":$id,"topic":"t","request_id":"r","schema_uri":"s","dt":"2026-08-12T09:15:00Z","id":"m$id"},"user":"u$id","timestamp":1,"patrolled":false,"id":$id,"minor":false,"revision":{"old":${id * 100 - 1},"new":${id * 100}}}"""
    // frames must be newline-terminated: an unterminated tail line is an
    // in-flight write by the source's contract and is not yet an event
    Files.writeString(java.nio.file.Path.of(s"$sseDir/recentchange.sse"),
      ev(1, "edit", "User:RC") + "\n")
    Files.writeString(java.nio.file.Path.of(s"$sseDir/revision-create.sse"),
      ev(2, "create", "User:RV") + "\n")

    val spec = RcJob.filterlist("example").copy(skipRepeats = false)
    val users = Seq(("u1", 5L), ("u2", 7L)).toDF("user", "editcount")
    val revisions = Seq((100L, "has a userbox"), (200L, "userboxes too"))
      .toDF("revid", "text")
    val outDir = Files.createTempDirectory("jobout").toString
    val sinks = RcSinks(outDir, logLevel = 1, filterName = "example")
    val q = RcStreaming.pipeline(RcJob.source(spark, sseDir, spec), users, revisions, spec)
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => sinks.writeBatch(b, id))
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val revids = spark.read.text(s"$outDir/revids")
      .select("value").as[String].collect().sorted.toSeq
    assert(revids === Seq("100", "200")) // one match from EACH topic
  }

  test("run() wires -v to the verbose pipeline and plain args to the standard one") {
    import spark.implicits._
    val sseDir = Files.createTempDirectory("runtopics").toString
    def ev(id: Long, title: String) =
      s"""data: {"comment":"c","wiki":"enwiki","type":"edit","server_name":"en.wikipedia.org","server_script_path":"/w","namespace":2,"title":"$title","bot":false,"server_url":"u","length":{"old":1,"new":2},"meta":{"domain":"d","partition":0,"uri":"u/$title","offset":$id,"topic":"t","request_id":"r","schema_uri":"s","dt":"2026-08-12T09:15:00Z","id":"m$id"},"user":"u$id","timestamp":1,"patrolled":false,"id":$id,"minor":false,"revision":{"old":${id * 100 - 1},"new":${id * 100}}}""" + "\n"
    Files.writeString(java.nio.file.Path.of(s"$sseDir/recentchange.sse"),
      ev(1, "User:Hit") + ev(2, "User:Miss"))
    Files.writeString(java.nio.file.Path.of(s"$sseDir/revision-create.sse"), "")
    val users = Seq(("u1", 5L)).toDF("user", "editcount") // u2 unknown -> race
    val revisions = Seq((100L, "a userbox"), (200L, "plain")).toDF("revid", "text")

    assert(RcJob.run(spark, Seq(), sseDir, users, revisions, "/tmp/x", 2).isLeft)

    val vOut = Files.createTempDirectory("runv").toString
    val Right(qv) = RcJob.run(spark, Seq("example", "-v"), sseDir, users, revisions, vOut, 2)
    qv.awaitTermination(120000)
    val skipped = spark.read.parquet(s"$vOut/skipped")
      .select("id", "reason").as[(Long, String)].collect().toMap
    assert(skipped === Map(2L -> "race")) // unknown user surfaced with reason
    assert(spark.read.parquet(s"$vOut/flaglog")
      .select("change.title").as[String].collect().toSeq === Seq("User:Hit"))

    val pOut = Files.createTempDirectory("runp").toString
    val Right(qp) = RcJob.run(spark, Seq("example"), sseDir, users, revisions, pOut, 2)
    qp.awaitTermination(120000)
    assert(spark.read.parquet(s"$pOut/flaglog")
      .select("change.title").as[String].collect().toSeq === Seq("User:Hit"))
    assert(!Files.exists(java.nio.file.Path.of(s"$pOut/skipped")))
  }
}
