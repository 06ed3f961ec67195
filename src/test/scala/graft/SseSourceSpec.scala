package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.schema.ChangeSchema

/** Custom V2 SSE source: micro-batch delivery, offset continuity, and
  * checkpoint resume (reference E2 restart, `scanner.py:82-88`, becomes
  * exactly-once offset recovery).
  */
class SseSourceSpec extends SparkSpec {

  private def sseFrame(id: Long): String =
    s"""event: message
       |id: [{"topic":"rc","partition":0,"offset":$id}]
       |data: {"type":"edit","title":"T$id","id":$id}
       |""".stripMargin

  test("sse source replays SSE-framed events as micro-batches") {
    import spark.implicits._
    val f = Files.createTempFile("events", ".sse")
    Files.writeString(f, (1L to 5L).map(sseFrame).mkString("\n"))
    val out = Files.createTempDirectory("sseout").toString

    val q = spark.readStream.format("sse").option("path", f.toString).load()
      .writeStream.format("memory").queryName("sse_t1")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val rows = spark.sql("SELECT value, offset FROM sse_t1 ORDER BY offset")
      .as[(String, Long)].collect()
    assert(rows.length === 5)
    assert(rows.map(_._2).toSeq === (0L to 4L))
    // payload is valid JSON parseable with the declared Change subset
    val parsed = spark.sql("SELECT value FROM sse_t1")
      .select(from_json(col("value"), ChangeSchema.change).as("c"))
      .select("c.title").as[String].collect().toSet
    assert(parsed === (1 to 5).map(i => s"T$i").toSet)
  }

  test("empty-payload `data: ` frames count as events (SSE spec)") {
    val f = Files.createTempFile("emptydata", ".sse")
    // frame 2 is a legal SSE frame with an empty payload — skipping it
    // would shift every later offset
    Files.writeString(f,
      "data: {\"id\":1}\n\ndata: \n\ndata: {\"id\":3}\n\n")
    assert(graft.sources.SseSource.countEvents(f.toString) === 3L)
    val (it, closer) = graft.sources.SseSource.eventIterator(f.toString)
    val events = try it.toVector finally closer.close()
    assert(events === Vector("{\"id\":1}", "", "{\"id\":3}"))
  }

  test("checkpoint resume: appended events are picked up, no replay") {
    import spark.implicits._
    val f = Files.createTempFile("events2", ".sse")
    Files.writeString(f, (1L to 3L).map(sseFrame).mkString("\n"))
    val out = Files.createTempDirectory("sseout2").toString
    val sink = Files.createTempDirectory("ssesink2").toString

    def runOnce(): Unit = {
      val q = spark.readStream.format("sse").option("path", f.toString).load()
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    runOnce()
    assert(spark.read.parquet(sink).count() === 3)
    // connection "drops"; three more events arrive; restart resumes at 3
    Files.writeString(f, "\n" + (4L to 6L).map(sseFrame).mkString("\n"),
      java.nio.file.StandardOpenOption.APPEND)
    runOnce()
    val offsets = spark.read.parquet(sink).select("offset").as[Long].collect().sorted
    assert(offsets.toSeq === (0L to 5L)) // each offset exactly once
  }

  test("source-registered filters drop events before they become rows") {
    import spark.implicits._
    val f = Files.createTempFile("events3", ".sse")
    val frames = Seq(
      """{"type":"edit","title":"keep1","id":1}""",
      """{"type":"log","title":"drop1","id":2}""",
      """{"type":"edit","title":"keep2","id":3}""",
      """{"type":"new","title":"drop2","id":4}""").zipWithIndex
      .map { case (j, i) => s"event: message\ndata: $j\n" }.mkString("\n")
    Files.writeString(f, frames)
    val out = Files.createTempDirectory("sseout3").toString

    // The filter is an option ON THE SOURCE (reference filter_.py:107
    // registers filters on the stream client): no downstream .filter(),
    // no from_json — whatever reaches the sink was filtered at the source.
    val q = spark.readStream.format("sse")
      .option("path", f.toString).option("filter.type", "edit")
      .load()
      .writeStream.format("memory").queryName("sse_t3")
      .option("checkpointLocation", s"$out/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val rows = spark.sql("SELECT value, offset FROM sse_t3 ORDER BY offset")
      .as[(String, Long)].collect()
    assert(rows.map(_._1).forall(_.contains("\"type\":\"edit\"")))
    // offsets keep RAW indices (checkpoints are filter-independent)
    assert(rows.map(_._2).toSeq === Seq(0L, 2L))
  }

  test("latestOffset scans only appended bytes, never the whole file again") {
    val f = Files.createTempFile("events4", ".sse")
    Files.writeString(f, (1L to 100L).map(sseFrame).mkString("\n"))
    val size1 = Files.size(f)
    val st = new graft.sources.SseScanState(f.toString)
    assert(st.refresh() === 100L)
    val read1 = st.bytesRead
    assert(read1 <= size1)
    // no growth -> no IO at all
    assert(st.refresh() === 100L)
    assert(st.bytesRead === read1)
    // append 10 more -> only the new bytes are read
    Files.writeString(f, "\n" + (101L to 110L).map(sseFrame).mkString("\n"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(st.refresh() === 110L)
    assert(st.bytesRead - read1 <= Files.size(f) - size1,
      s"re-scanned old bytes: ${st.bytesRead - read1} > ${Files.size(f) - size1}")
  }

  test("property: incremental scan count == full rescan over random appends") {
    import org.scalacheck.{Gen, Prop, Test => ScTest}
    // Random sequences of line-aligned appends (data frames, comments,
    // id lines, blanks): the incremental state must agree with a cold
    // full count after EVERY append.
    val genChunk: Gen[String] = Gen.listOf(Gen.oneOf(
      Gen.choose(1, 9999).map(i => s"data: {\"id\":$i}\n"),
      Gen.const(": comment line\n"),
      Gen.choose(1, 99).map(i => s"id: $i\n"),
      Gen.const("\n"))).map(_.mkString)
    val prop = Prop.forAll(Gen.listOfN(5, genChunk)) { chunks =>
      val f = Files.createTempFile("proprescan", ".sse")
      try {
        val st = new graft.sources.SseScanState(f.toString)
        chunks.forall { c =>
          Files.writeString(f, c, java.nio.file.StandardOpenOption.APPEND)
          st.refresh() == graft.sources.SseSource.countEvents(f.toString)
        }
      } finally Files.delete(f)
    }
    val r = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(r.passed, r.status.toString)
  }

  test("sampled byte index lets readers seek instead of streaming the prefix") {
    val f = Files.createTempFile("events5", ".sse")
    Files.writeString(f, (1L to 50L).map(sseFrame).mkString("\n"))
    val st = new graft.sources.SseScanState(f.toString, sampleStride = 10L)
    st.refresh()
    val (sampleEvent, sampleByte) = st.floorSample(37L)
    assert(sampleEvent === 30L && sampleByte > 0L)
    // a reader seeded at the sample sees event 30 first — payloads line up
    val it = new graft.sources.SseSource.FrameIterator(f.toString, sampleByte)
    try {
      val (payload, _, _) = it.next()
      assert(payload.contains("\"id\":31")) // frame #31 = raw index 30
    } finally it.close()
  }

  test("a micro-batch seeks to the exact byte of its start offset") {
    import graft.sources.{SseMicroBatchStream, SseOffset, SsePartition, SseSource}
    val f = Files.createTempFile("events6", ".sse")
    Files.writeString(f, (1L to 50L).map(sseFrame).mkString("\n"))
    val stream = new SseMicroBatchStream(f.toString, Map.empty)
    assert(stream.latestOffset() === SseOffset(50L))
    Files.writeString(f, "\n" + (51L to 60L).map(sseFrame).mkString("\n"),
      java.nio.file.StandardOpenOption.APPEND)
    assert(stream.latestOffset() === SseOffset(60L))
    val Array(p: SsePartition) = stream.planInputPartitions(SseOffset(50L), SseOffset(60L))
    // no stride sample lies near event 50: only the recorded point does
    assert(p.sampleEvent === 50L)
    val it = new SseSource.FrameIterator(f.toString, p.sampleByte)
    try assert(it.next()._1.contains("\"id\":51")) // frame #51 = raw index 50
    finally it.close()
  }

  test("committed batches drop their seek points: the index stops growing") {
    import graft.sources.{SseMicroBatchStream, SseOffset}
    val f = Files.createTempFile("events7", ".sse")
    Files.writeString(f, "")
    val stream = new SseMicroBatchStream(f.toString, Map.empty)
    var start = stream.latestOffset()
    val sizes = (1 to 30).map { i =>
      Files.writeString(f, sseFrame(i) + "\n", java.nio.file.StandardOpenOption.APPEND)
      val end = stream.latestOffset()
      stream.planInputPartitions(start, end)
      stream.commit(end)
      start = end
      stream.state.indexSize
    }
    // one stride sample (event 0) + the point of the next batch's start
    assert(sizes.forall(_ == 2), sizes.toString)
  }

  test("unparseable payloads dropped by a source filter are counted") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    object plans extends AdaptiveSparkPlanHelper
    def dropped(plan: SparkPlan): Long = plans.collect(plan) {
      case s: DataSourceV2ScanExecBase => s.metrics("unparseableDropped").value
    }.sum
    val f = Files.createTempFile("events8", ".sse")
    Files.writeString(f, Seq("""{"type":"edit","id":1}""", """{"type":"edit",""",
      """{"type":"log","id":3}""", """{"type":"edit","id":4}""")
      .map(j => s"data: $j\n").mkString("\n"))
    // batch path
    val batch = spark.read.format("sse").option("path", f.toString)
      .option("filter.type", "edit").load()
    assert(batch.collect().map(_.getLong(1)).toSeq === Seq(0L, 3L))
    assert(dropped(batch.queryExecution.executedPlan) === 1L)
    // micro-batch path: the one batch's scan node
    val q = spark.readStream.format("sse").option("path", f.toString)
      .option("filter.type", "edit").load()
      .writeStream.format("memory").queryName("sse_t8")
      .option("checkpointLocation", Files.createTempDirectory("sseout8").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("sse_t8").count() === 2L)
    val last = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
    assert(dropped(last.executedPlan) === 1L)
  }
}
