package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import graft.sources.SseHttpRelay

/** Live HTTP SSE transport: stub endpoint -> relay -> buffer file ->
  * V2 source. Covers steady streaming, and reconnect-with-Last-Event-ID
  * after forced connection drops (reference E2 without replay or loss).
  */
class SseHttpTransportSpec extends SparkSpec {
  import spark.implicits._

  private def payload(i: Long) = s"""{"type":"edit","title":"H$i","id":$i}"""

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  test("relay streams HTTP SSE frames into the buffer the source tails") {
    val srv = new StubSseServer()
    val buf = Files.createTempFile("httpsse", ".sse").toString
    val relay = new SseHttpRelay(srv.url, buf)
    try {
      (1L to 5L).foreach(i => srv.publish(payload(i)))
      assert(awaitTrue(15000)(graft.sources.SseSource.countEvents(buf) == 5L),
        "relay did not persist all 5 frames")

      val out = Files.createTempDirectory("httpout").toString
      val q = spark.readStream.format("sse").option("path", buf).load()
        .writeStream.format("memory").queryName("http_sse")
        .option("checkpointLocation", s"$out/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      val rows = spark.sql("SELECT value, offset FROM http_sse ORDER BY offset")
        .as[(String, Long)].collect()
      assert(rows.length === 5)
      assert(rows.map(_._2).toSeq === (0L to 4L))
      assert(rows.map(_._1).toSeq === (1L to 5L).map(payload))
    } finally { relay.close(); srv.close() }
  }

  test("relay PROCESS restart resumes from the buffer tail: no duplicate frames") {
    val srv = new StubSseServer()
    val buf = Files.createTempFile("httpsse3", ".sse").toString
    val relay1 = new SseHttpRelay(srv.url, buf)
    try {
      (1L to 4L).foreach(i => srv.publish(payload(i)))
      assert(awaitTrue(15000)(graft.sources.SseSource.countEvents(buf) == 4L))
    } finally relay1.close()
    try {
      // the seed must come from the PERSISTED buffer, not relay1 memory
      assert(SseHttpRelay.lastPersistedId(buf) === "3") // stub ids are 0-based
      val relay2 = new SseHttpRelay(srv.url, buf)
      try {
        (5L to 6L).foreach(i => srv.publish(payload(i)))
        assert(awaitTrue(15000)(graft.sources.SseSource.countEvents(buf) == 6L),
          s"got ${graft.sources.SseSource.countEvents(buf)} events — a restart " +
            "without Last-Event-ID would replay 1..4 and append duplicates")
        val (it, closer) = graft.sources.SseSource.eventIterator(buf)
        val events = try it.toVector finally closer.close()
        assert(events === (1L to 6L).map(payload).toVector)
      } finally relay2.close()
    } finally srv.close()
  }

  test("resume seed commits exactly when the source counts: data-newline, not blank line") {
    // The source's FrameIterator counts an event once its `data:` line is
    // newline-terminated; the resume seed must use the same condition.
    val buf = Files.createTempFile("httpsse4", ".sse")
    // Crash persisted the data line but not the frame-ending blank line:
    // the source HAS counted event 7, so the seed must be 7 — seeding 6
    // would re-fetch 7 and append a duplicate frame.
    Files.writeString(buf,
      "id: 6\ndata: {\"id\":6}\n\nid: 7\ndata: {\"id\":7}\n")
    assert(graft.sources.SseSource.countEvents(buf.toString) === 2L)
    assert(SseHttpRelay.lastPersistedId(buf.toString) === "7")
    // Crash mid-data-line (no trailing newline): the source has NOT
    // counted event 8, so the seed must stay 7 — seeding 8 would skip it.
    Files.writeString(buf,
      "id: 6\ndata: {\"id\":6}\n\nid: 7\ndata: {\"id\":7}\n\nid: 8\ndata: {\"id\"")
    assert(graft.sources.SseSource.countEvents(buf.toString) === 2L)
    assert(SseHttpRelay.lastPersistedId(buf.toString) === "7")
    // id line landed but data line never started: same — not counted.
    Files.writeString(buf, "id: 6\ndata: {\"id\":6}\n\nid: 7\n")
    assert(graft.sources.SseSource.countEvents(buf.toString) === 1L)
    assert(SseHttpRelay.lastPersistedId(buf.toString) === "6")
  }

  test("relay truncates a crashed partial tail before resuming: no merged events") {
    val srv = new StubSseServer()
    val buf = Files.createTempFile("httpsse5", ".sse")
    srv.publish(payload(1)) // stub frame id 0
    // crashed predecessor: one complete frame + an unterminated partial
    // data line that must NOT merge with the first resumed append
    Files.writeString(buf, "id: 0\ndata: " + payload(1) + "\n\nid: 1\ndata: {\"tr")
    val relay = new SseHttpRelay(srv.url, buf.toString)
    try {
      (2L to 3L).foreach(i => srv.publish(payload(i))) // stub ids 1, 2
      assert(awaitTrue(15000)(graft.sources.SseSource.countEvents(buf.toString) == 3L),
        s"got ${graft.sources.SseSource.countEvents(buf.toString)} events")
      val (it, closer) = graft.sources.SseSource.eventIterator(buf.toString)
      val events = try it.toVector finally closer.close()
      assert(events === (1L to 3L).map(payload).toVector,
        "a partial tail merged into a resumed frame would corrupt the payload")
    } finally { relay.close(); srv.close() }
  }

  test("soak: hundreds of forced disconnects under sustained publish — zero dup, zero loss") {
    // the zero-egress analog of the reference's long-lived EventStreams
    // feed (filter_.py:104-108): the server tears the connection down
    // every 3 events while the publisher keeps a sustained rate, so the
    // relay lives in a reconnect storm (~400 Last-Event-ID resume
    // cycles) instead of the short 3-4 cycle bursts the tests above
    // exercise. Accounting is exact: the buffer must hold EVERY
    // published payload exactly once, in publish order — any resume-id
    // drift shows up as a duplicate (seed too old) or a gap (seed too
    // new), and either breaks the sequence equality.
    val total = 1200
    val srv = new StubSseServer(disconnectEvery = 3)
    val buf = Files.createTempFile("httpssesoak", ".sse").toString
    val relay = new SseHttpRelay(srv.url, buf, reconnectMs = 2)
    val t0 = System.nanoTime()
    try {
      var published = 0
      while (published < total) {
        // sustained-rate publishing coupled to drain progress: never
        // more than ~100 frames ahead of the persisted tail, so the
        // storm runs for the whole publish window (all-upfront publish
        // would let one lucky long connection drain half the stream)
        val batch = math.min(100, total - published)
        (published + 1 to published + batch).foreach(i => srv.publish(payload(i.toLong)))
        published += batch
        assert(awaitTrue(30000)(
          graft.sources.SseSource.countEvents(buf) >= published - 100L),
          s"drain stalled at ${graft.sources.SseSource.countEvents(buf)} " +
            s"with $published published, ${relay.reconnects.get()} reconnects")
      }
      assert(awaitTrue(60000)(graft.sources.SseSource.countEvents(buf) == total.toLong),
        s"expected $total events, got ${graft.sources.SseSource.countEvents(buf)} " +
          s"after ${relay.reconnects.get()} reconnects")
      val secs = (System.nanoTime() - t0) / 1e9
      // storm actually happened: ~total/3 server-side teardowns
      assert(srv.connections.get() >= 300,
        s"only ${srv.connections.get()} connections — disconnect storm did not run")
      assert(relay.reconnects.get() >= 300,
        s"only ${relay.reconnects.get()} relay reconnects")
      // exactly-once, in-order — the full zero-dup/zero-loss ledger
      val (it, closer) = graft.sources.SseSource.eventIterator(buf)
      val events = try it.toVector finally closer.close()
      assert(events === (1L to total.toLong).map(payload).toVector,
        "sequence mismatch: resume-id drift duplicated or dropped a frame")
      // throughput floor: the relay must sustain real rate THROUGH the
      // storm (conservative bar; measured ~10-50x this on an idle box)
      assert(total / secs >= 40.0,
        f"soak throughput ${total / secs}%.1f ev/s under the 40 ev/s floor ($secs%.1f s)")
    } finally { relay.close(); srv.close() }
  }

  test("connection drops resume via Last-Event-ID: no replay, no loss") {
    // server kills the stream after every 2 events -> the relay must
    // reconnect repeatedly and resume exactly after its last frame
    val srv = new StubSseServer(disconnectEvery = 2)
    val buf = Files.createTempFile("httpsse2", ".sse").toString
    val relay = new SseHttpRelay(srv.url, buf, reconnectMs = 50)
    try {
      (1L to 7L).foreach(i => srv.publish(payload(i)))
      assert(awaitTrue(20000)(graft.sources.SseSource.countEvents(buf) == 7L),
        s"expected 7 events, got ${graft.sources.SseSource.countEvents(buf)}")
      assert(srv.connections.get() >= 4, "server should have seen reconnects")
      assert(relay.reconnects.get() >= 3)
      // exactly once in the buffer, in order
      val (it, closer) = graft.sources.SseSource.eventIterator(buf)
      val events = try it.toVector finally closer.close()
      assert(events === (1L to 7L).map(payload).toVector)
    } finally { relay.close(); srv.close() }
  }
}
