package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel
import org.scalacheck.{Gen, Prop, Test => ScTest}
import graft.operators.RcOps
import graft.schema.ChangeSchema
import graft.streaming.{RcSinks, RcStreaming}

/** Streaming-semantics tests (SURVEY.md §5.4): the Change pipeline as a
  * real Structured Streaming query over a JSON file source, fanned out
  * through the K1-K4 sinks; first-occurrence dedup; E1 null-text skip.
  */
class StreamingSpec extends SparkSpec {

  private def changeJson(id: Long, title: String, user: String, rev: Long,
      ns: Int = 2, bot: Boolean = false, typ: String = "edit",
      dt: String = "2026-08-12T09:15:00Z"): String =
    s"""{"comment":"c","wiki":"enwiki","type":"$typ","server_name":"en.wikipedia.org",
       |"server_script_path":"/w","namespace":$ns,"title":"$title","bot":$bot,
       |"server_url":"https://en.wikipedia.org","length":{"old":1,"new":2},
       |"meta":{"domain":"en.wikipedia.org","partition":0,"uri":"https://x/$title",
       |"offset":$id,"topic":"rc","request_id":"r","schema_uri":"s","dt":"$dt","id":"m$id"},
       |"user":"$user","timestamp":1786612500,"patrolled":false,"id":$id,
       |"minor":false,"revision":{"old":${rev - 1},"new":$rev}}""".stripMargin.replaceAll("\n", "")

  test("streaming pipeline: F1+J1+F2+D1+J2+R1 end-to-end with sink fan-out") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changes").toString
    val outDir = Files.createTempDirectory("sinks").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/batch0.json"), Seq(
      changeJson(1, "User:A", "alice", 101), // match: text has userbox
      changeJson(2, "User:A", "alice", 102), // dup title -> dropped by D1
      changeJson(3, "User:B", "bob", 103),   // bob over edit-count max -> F2 drop
      changeJson(4, "User:C", "cara", 104),  // revision 104 missing -> E1 skip
      changeJson(5, "User:D", "dan", 105),   // no regex match
      changeJson(6, "User:E", "eve", 106, bot = true) // F1 drop (bot)
    ).mkString("\n"))

    val users = Seq(("alice", 10L), ("bob", 500L), ("cara", 1L), ("dan", 2L), ("eve", 3L))
      .toDF("user", "editcount")
    val revisions = Seq((101L, "has a userbox inside"), (102L, "userbox too"),
      (103L, "userbox again"), (105L, "plain text"), (106L, "userbox"))
      .toDF("revid", "text")

    val changes = spark.readStream.schema(ChangeSchema.change).json(inDir)
    val spec = RcStreaming.FilterSpec(
      streamfilter = Map("type" -> Seq("edit", "create"), "bot" -> Seq(false),
        "namespace" -> Seq(2)),
      maxEdits = Some(100L), skipRepeats = true,
      regexes = Seq("(?i)\\buserbox(e[ns])?\\b"))
    val out = RcStreaming.pipeline(changes, users, revisions, spec)

    val sinks = RcSinks(outDir, logLevel = 3, filterName = "example")
    val q = out.writeStream
      .foreachBatch((b: org.apache.spark.sql.DataFrame, id: Long) => sinks.writeBatch(b, id))
      .option("checkpointLocation", s"$outDir/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // Only change id=1 survives every gate.
    val revids = spark.read.text(s"$outDir/revids")
      .select("value").as[String].collect().toSeq
    assert(revids === Seq("101"))
    val flaglog = spark.read.parquet(s"$outDir/flaglog")
    assert(flaglog.count() === 1)
    val row = flaglog.select("filter", "change.title", "log.folder", "log.file").head()
    assert(row.getString(0) === "example")
    assert(row.getString(1) === "User:A")
    assert(row.getString(2) === "changes/2026-08-12")
    assert(row.getString(3) === "alice_101")
    // K4: date-partitioned content files
    val content = spark.read.parquet(s"$outDir/changes")
    assert(content.select("event_date").as[java.sql.Date].head().toString === "2026-08-12")
  }

  test("D1 dedups against MATCHED titles only (filter_.py:90-102 semantics)") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changesdm").toString
    // same title: first a NON-matching edit, then a matching one —
    // the reference's flag log contains only matches, so the second
    // edit must still be flagged.
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), Seq(
      changeJson(1, "User:X", "alice", 201, dt = "2026-08-12T09:00:00Z"),
      changeJson(2, "User:X", "alice", 202, dt = "2026-08-12T09:01:00Z"),
      changeJson(3, "User:X", "alice", 203, dt = "2026-08-12T09:02:00Z")
    ).mkString("\n"))
    val users = Seq(("alice", 10L)).toDF("user", "editcount")
    val revisions = Seq((201L, "plain text"), (202L, "has a userbox"),
      (203L, "userbox again")).toDF("revid", "text")
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
      skipRepeats = true, regexes = Seq("userbox"))
    val got = RcStreaming.pipeline(
      spark.read.schema(ChangeSchema.change).json(inDir), users, revisions, spec)
    // rev 201: no match (not a "repeat"); rev 202: FIRST match -> kept;
    // rev 203: repeat of a flagged title -> deduped.
    assert(got.select("revid").as[Long].collect().toSeq === Seq(202L))
  }

  test("failed edit-count lookup is a race-skip, not a silent 3VL drop") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changesec").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), Seq(
      changeJson(1, "User:A", "alice", 101),
      changeJson(2, "User:B", "ghost", 102) // not in users dim
    ).mkString("\n"))
    val users = Seq(("alice", 10L)).toDF("user", "editcount")
    val revisions = Seq((101L, "a userbox"), (102L, "userbox too")).toDF("revid", "text")
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), Some(100L),
      skipRepeats = false, regexes = Seq("userbox"))
    val batch = spark.read.schema(ChangeSchema.change).json(inDir)
    // without dead-letter: ghost silently skipped, alice flagged
    val got = RcStreaming.pipeline(batch, users, revisions, spec)
    assert(got.select("user").as[String].collect().toSeq === Seq("alice"))
    // with dead-letter: the failed lookup is observable
    val dl = RcStreaming.pipeline(batch, users, revisions, spec, emitDeadLetter = true)
    assert(dl.filter(col("dead_letter")).select("user").as[String].collect().toSeq === Seq("ghost"))
  }

  test("sink replay is idempotent: rewriting a batch id does not duplicate") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changesrp").toString
    val outDir = Files.createTempDirectory("sinksrp").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"),
      changeJson(1, "User:A", "alice", 101))
    val users = Seq(("alice", 10L)).toDF("user", "editcount")
    val revisions = Seq((101L, "a userbox")).toDF("revid", "text")
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
      skipRepeats = false, regexes = Seq("userbox"))
    val out = RcStreaming.pipeline(
      spark.read.schema(ChangeSchema.change).json(inDir), users, revisions, spec)
    val sinks = RcSinks(outDir, logLevel = 2, filterName = "example")
    sinks.writeBatch(out, 7L)
    sinks.writeBatch(out, 7L) // at-least-once replay of the SAME batch
    assert(spark.read.text(s"$outDir/revids").select("value").count() === 1)
    assert(spark.read.parquet(s"$outDir/flaglog").count() === 1)
  }

  test("K4 exact parity: one file per match with the 4-section body") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changespe").toString
    val outDir = Files.createTempDirectory("sinkspe").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"),
      changeJson(1, "User:A", "alice", 101))
    val users = Seq(("alice", 10L)).toDF("user", "editcount")
    val revisions = Seq((101L, "a userbox here")).toDF("revid", "text")
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
      skipRepeats = false, regexes = Seq("userbox"))
    val out = RcStreaming.pipeline(
      spark.read.schema(ChangeSchema.change).json(inDir), users, revisions, spec)
    RcSinks(outDir, logLevel = 3, filterName = "example").writePerEventFiles(out)
    val f = java.nio.file.Path.of(s"$outDir/changes_files/2026-08-12/alice_101")
    assert(Files.exists(f))
    val content = Files.readString(f)
    val sections = content.split("\n\n", -1)
    assert(sections.length === 4)
    assert(sections(0) === "example")
    assert(sections(1).startsWith("***MATCH*** with regex"))
    assert(sections(2).contains("\"title\":\"User:A\"")) // row payload as JSON
    assert(sections(3) === "a userbox here")             // wikitext
  }

  test("E1 dead-letter route: missing enrichment lands in the side sink") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changesdl").toString
    val outDir = Files.createTempDirectory("sinksdl").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), Seq(
      changeJson(1, "User:A", "alice", 101),  // match
      changeJson(4, "User:C", "cara", 104)    // revision 104 missing -> dead letter
    ).mkString("\n"))
    val users = Seq(("alice", 10L), ("cara", 1L)).toDF("user", "editcount")
    val revisions = Seq((101L, "a userbox here")).toDF("revid", "text")
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
      skipRepeats = false, regexes = Seq("userbox"))
    val batch = spark.read.schema(ChangeSchema.change).json(inDir)
    val out = RcStreaming.pipeline(batch, users, revisions, spec, emitDeadLetter = true)
    RcSinks(outDir, logLevel = 2, filterName = "example").writeBatch(out, 0L)
    val dead = spark.read.parquet(s"$outDir/dead_letter")
    assert(dead.select("title").as[String].collect().toSeq === Seq("User:C"))
    val flagged = spark.read.parquet(s"$outDir/flaglog")
    assert(flagged.select("change.title").as[String].collect().toSeq === Seq("User:A"))
  }

  test("malformed stream rows are dropped, not fatal (declared-schema parse)") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changesbad").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"), Seq(
      changeJson(1, "User:A", "alice", 101),
      """{"this is not a change": tru""", // truncated garbage
      changeJson(2, "User:B", "bob", 102)
    ).mkString("\n"))
    val users = Seq(("alice", 10L), ("bob", 2L)).toDF("user", "editcount")
    val revisions = Seq((101L, "a userbox"), (102L, "another userbox")).toDF("revid", "text")
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
      skipRepeats = false, regexes = Seq("userbox"))
    // PERMISSIVE (default) parse nulls out the bad row; the streamfilter
    // then drops it (null type fails the equality) — pipeline completes.
    val batch = spark.read.schema(ChangeSchema.change).json(inDir)
    val got = RcStreaming.pipeline(batch, users, revisions, spec)
    assert(got.select("user").as[String].collect().sorted.toSeq === Seq("alice", "bob"))
  }

  test("typed surface: Dataset[Change] binds the declared schema") {
    val inDir = Files.createTempDirectory("changest").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"),
      changeJson(7, "User:T", "tess", 201))
    val ds = graft.schema.Change.asDataset(
      spark.read.schema(ChangeSchema.change).json(inDir))
    val c = ds.head()
    assert(c.title === "User:T" && c.revision.new_rev.contains(201L)
      && c.meta.domain === "en.wikipedia.org")
  }

  test("batch/stream unification: same pipeline runs on a batch DataFrame") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changesb").toString
    Files.writeString(java.nio.file.Path.of(s"$inDir/b.json"),
      changeJson(1, "User:A", "alice", 101))
    val users = Seq(("alice", 10L)).toDF("user", "editcount")
    val revisions = Seq((101L, "a userbox here")).toDF("revid", "text")
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
      skipRepeats = false, regexes = Seq("userbox"))
    val batch = spark.read.schema(ChangeSchema.change).json(inDir)
    val got = RcStreaming.pipeline(batch, users, revisions, spec)
    assert(got.count() === 1)
    assert(got.select("matched").as[String].head() === "userbox")
  }

  // ---- D1 batch twin: one row_number pass vs the two-branch union -----

  // `pz` has no edit count (race), `pb` is over maxEdits; revisions
  // 9407-9408 have no text (race); 9401-9403 match.
  private val propUsers = Seq(("pa", 5L), ("pb", 50L))
  private val propTexts = Seq((9401L, "userbox a"), (9402L, "a userbox"),
    (9403L, "userboxes b"), (9404L, "plain"), (9405L, "userbox c"), (9406L, "none"))
  private val propSpec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), Some(20L),
    skipRepeats = true, regexes = Seq("(?i)\\buserbox(e[ns])?\\b"))

  /** (id, title, user, revid, minute), ids unique, titles repeated or
    * null, minutes tied.
    */
  private val genEvents: Gen[Seq[(Long, Option[String], String, Long, Int)]] = for {
    n <- Gen.choose(1, 24)
    rows <- Gen.listOfN(n, for {
      title <- Gen.oneOf(Some("User:A"), Some("User:B"), Some("User:C"), None)
      user <- Gen.oneOf("pa", "pb", "pz")
      rev <- Gen.choose(9401L, 9408L)
      minute <- Gen.choose(0, 2)
    } yield (title, user, rev, minute))
  } yield rows.zipWithIndex.map { case ((t, u, r, m), i) => (i + 1L, t, u, r, m) }

  /** One JSON file in (event_time, id) order, so the streaming dedup's
    * first-seen row is also the earliest.
    */
  private def writeEvents(events: Seq[(Long, Option[String], String, Long, Int)]): String = {
    val dir = Files.createTempDirectory("changesprop").toString
    val lines = events.sortBy(e => (e._5, e._1)).map { case (id, title, user, rev, m) =>
      changeJson(id, title.getOrElse("NULLTITLE"), user, rev, dt = s"2026-08-12T09:0$m:00Z")
        .replace("\"title\":\"NULLTITLE\"", "\"title\":null")
    }
    Files.writeString(Path.of(s"$dir/b.json"), lines.mkString("\n"))
    dir
  }

  /** The pre-rewrite batch D1, kept as the reference: first live row per
    * title, dead letters unioned back.
    */
  private def unionDedup(batch: DataFrame, users: DataFrame, revisions: DataFrame,
      emitDeadLetter: Boolean): DataFrame = {
    val all = RcStreaming.pipeline(batch, users, revisions,
      propSpec.copy(skipRepeats = false), emitDeadLetter = true)
    val live = RcOps.firstPerKey(all.filter(!col("dead_letter")), Seq("title"), "event_time", "id")
    if (emitDeadLetter) live.unionByName(all.filter(col("dead_letter")))
    else live.drop("dead_letter")
  }

  private def sortedRows(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("property: one-pass D1 == the union formulation == the streaming path") {
    import spark.implicits._
    val users = propUsers.toDF("user", "editcount")
    val revisions = propTexts.toDF("revid", "text")
    val prop = Prop.forAll(genEvents) { events =>
      val dir = writeEvents(events)
      val batch = spark.read.schema(ChangeSchema.change).json(dir)
      Seq(true, false).forall { emit =>
        val got = sortedRows(RcStreaming.pipeline(batch, users, revisions, propSpec,
          emitDeadLetter = emit).collect().toSeq)
        val reference = sortedRows(unionDedup(batch, users, revisions, emit).collect().toSeq)
        val streamed = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
        val q = RcStreaming.pipeline(spark.readStream.schema(ChangeSchema.change).json(dir),
            users, revisions, propSpec, emitDeadLetter = emit)
          .writeStream
          .foreachBatch((b: DataFrame, _: Long) => b.collect().foreach(streamed.add))
          .option("checkpointLocation", Files.createTempDirectory("ckptprop").toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
        got == reference && got == sortedRows(streamed.asScala.toSeq)
      }
    }
    val r = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(r.passed, r.status.toString)
  }

  // ---- Sink fan-out ----------------------------------------------------

  private def fanOutThreadsAlive: Boolean = Thread.getAllStackTraces.keySet.asScala
    .exists(t => t.getName.startsWith("rc-sinks-fanout") && t.isAlive)

  private def sinkRows(dir: String, sink: String): Seq[String] =
    sortedRows((if (sink == "revids") spark.read.text(dir) else spark.read.parquet(dir))
      .collect().toSeq)

  test("sink fan-out: a failing sink's error is rethrown, its replay equals a sequential write") {
    import spark.implicits._
    val inDir = Files.createTempDirectory("changesfo").toString
    Files.writeString(Path.of(s"$inDir/b.json"), Seq(
      changeJson(1, "User:A", "alice", 101),
      changeJson(2, "User:B", "bob", 102, dt = "2026-08-13T10:00:00Z"),
      changeJson(3, "User:C", "cara", 103)   // revision 103 missing -> dead letter
    ).mkString("\n"))
    val users = Seq(("alice", 10L), ("bob", 2L), ("cara", 1L)).toDF("user", "editcount")
    val revisions = Seq((101L, "a userbox"), (102L, "userbox too")).toDF("revid", "text")
    val spec = RcStreaming.FilterSpec(Map("type" -> Seq("edit")), None,
      skipRepeats = false, regexes = Seq("userbox"))
    val out = RcStreaming.pipeline(spark.read.schema(ChangeSchema.change).json(inDir),
      users, revisions, spec, emitDeadLetter = true)
    val outDir = Files.createTempDirectory("sinksfo")
    val sinks = RcSinks(outDir.toString, logLevel = 3, filterName = "example")

    // K3's target is a regular file: only that sink can fail
    val obstacle = Files.writeString(outDir.resolve("flaglog"), "not a directory")
    val err = intercept[Exception](sinks.writeBatch(out, 3L))
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => String.valueOf(e.getMessage).contains(s"$outDir/flaglog")), err)
    val deadline = System.nanoTime() + 10000000000L
    while (fanOutThreadsAlive && System.nanoTime() < deadline) Thread.sleep(10)
    assert(!fanOutThreadsAlive, "a fan-out thread outlived writeBatch")

    // replay with the obstacle gone, under a job group
    Files.delete(obstacle)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("rc-fanout-replay", "replay of batch 3")
    try sinks.writeBatch(out, 3L)
    finally {
      sc.clearJobGroup()
      bridge.drainListenerBus(sc, 10000L)
      sc.removeSparkListener(listener)
    }
    // the materialization plus one job per sink, all in the caller's group
    assert(groups.size >= 5 && groups.asScala.forall(_ == "rc-fanout-replay"), groups)

    val seqDir = Files.createTempDirectory("sinksseq").toString
    RcSinks(seqDir, logLevel = 3, filterName = "example").sinkWrites(out, 3L).foreach(_())
    Seq("dead_letter", "revids", "flaglog", "changes").foreach { sink =>
      val got = sinkRows(s"$outDir/$sink/batch_id=3", sink)
      assert(got.nonEmpty && got === sinkRows(s"$seqDir/$sink/batch_id=3", sink), sink)
    }
  }

  test("sink fan-out is sized to the batch, never past its partitions") {
    val batch = spark.range(0, 400, 1, 4).select(col("id").as("revid"),
      concat(lit("match "), col("id")).as("message"),
      to_date(lit("2026-08-12")).as("event_date"),
      concat(lit("u_"), col("id")).as("filename"))
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    def filesPerSink(advisory: Option[Long]): Seq[Long] = {
      val dir = Files.createTempDirectory("sinkssz")
      advisory.foreach(b => spark.conf.set(key, b.toString))
      try RcSinks(dir.toString, logLevel = 3, filterName = "example").writeBatch(batch, 0L)
      finally spark.conf.unset(key)
      Seq("revids", "flaglog", "changes").map(s => Files.walk(dir.resolve(s)).iterator.asScala
        .count(_.getFileName.toString.startsWith("part-")).toLong)
    }
    assert(filesPerSink(None) === Seq(1L, 1L, 1L)) // 400 rows << 64 MB
    batch.persist()
    val bytes = try bridge.materializedCacheBytes(batch) finally batch.unpersist(blocking = true)
    assert(filesPerSink(Some((bytes + 1) / 2)) === Seq(2L, 2L, 2L))
    assert(filesPerSink(Some(1L)) === Seq(4L, 4L, 4L)) // capped at the 4 input partitions
  }

  test("sink fan-out keeps a cache its caller made and drops only its own") {
    val batch = spark.range(0, 40, 1, 2).select(col("id").as("revid"),
      concat(lit("match "), col("id")).as("message"),
      to_date(lit("2026-08-12")).as("event_date"),
      concat(lit("u_"), col("id")).as("filename"))
    val sinks = RcSinks(Files.createTempDirectory("sinkscache").toString, logLevel = 3,
      filterName = "example")
    sinks.writeBatch(batch, 0L)
    assert(batch.storageLevel === StorageLevel.NONE, "the fan-out's own cache must go")
    batch.persist()
    try {
      batch.count()
      val before = batch.storageLevel
      sinks.writeBatch(batch, 1L)
      assert(before !== StorageLevel.NONE)
      assert(batch.storageLevel === before, "writeBatch dropped its caller's cache")
    } finally batch.unpersist(blocking = true)
  }
}
