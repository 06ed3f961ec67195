package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.enrichment.LiveEnrichment
import graft.operators.RcOps
import graft.schema.ChangeSchema
import graft.sources.SseHttpRelay
import graft.streaming.{RcSinks, RcStreaming}

/** stream_tail_live: an open-loop live tail. One publisher thread sends
  * the seeded events to the benchmark's SSE endpoint at a fixed rate; the
  * program's `SseHttpRelay` appends them to the buffer that `SseSource`
  * tails with `ProcessingTime(0)`; each micro-batch runs
  * `RcStreaming.livePipeline` against the benchmark's API stand-in, then
  * `RcSinks.writeBatch`. An event's latency runs from its scheduled
  * publish time to the end of its batch's sink writes (run.py does that
  * arithmetic from the per-batch offset ranges recorded here).
  */
object TailLive {
  import Streams._

  /** Offered load (events/s) and the stand-in's per-request service time. */
  val Rate = 200.0
  val ServiceMs = 20
  /** Seconds published before the measured window opens. */
  val WarmS = 6.0
  /** Untimed primer: this many static batches of this many events. */
  val PrimeBatches = 2
  val PrimeEvents = 100

  final case class BatchRec(id: Long, lo: Long, hi: Long, n: Long, startNs: Long,
      endNs: Long)

  final case class Session(sched0Ns: Long, published: Int, maxLatenessMs: Double,
      setupS: Double, batches: Seq[BatchRec], relayReconnects: Long,
      failedBatches: Seq[Long], exactlyOnce: Boolean, flagged: Long, dead: Long,
      api: ApiStandIn, pubWallMs: Array[Long])

  def run(ctx: Main.Ctx): Unit = {
    import ctx._
    val payloads = Files.readAllLines(Paths.get(s"$dataDir/changes.jsonl")).asScala.toIndexedSeq
    val (users, revisions) = dims(spark, dataDir)
    val editCounts = users.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val texts = revisions.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val workers = math.min(Runtime.getRuntime.availableProcessors(), 4)
    val total = ((WarmS + seconds) * Rate).toInt
    require(payloads.size >= total, s"need $total events, have ${payloads.size}")

    def once(tag: String, traced: Boolean): Session =
      session(ctx, s"$workDir/tail/$tag", payloads.take(total), editCounts, texts,
        users, revisions, workers, traced)

    // untimed primer: the live pipeline over a few static batches of the
    // first events, so the measured stream does not start JIT/codegen-cold
    val tPrime = System.nanoTime()
    val primeApi = new ApiStandIn(editCounts, texts, ServiceMs, workers)
    val primeSinks = RcSinks(s"$workDir/tail/prime", LogLevel, "example")
    val source = spark.read.format("sse").option("path", s"$dataDir/changes.sse").load()
    try (0 until PrimeBatches).foreach { i =>
      val batch = source.filter(col("offset").between(i * PrimeEvents, (i + 1) * PrimeEvents - 1))
      writeUnit(spark, "tail-prime",
        RcStreaming.livePipeline(parse(batch), primeApi.url, Spec, emitDeadLetter = true),
        primeSinks, i.toLong)
    } finally primeApi.close()
    val primeS = (System.nanoTime() - tPrime) / 1e9
    Main.phase("primer done")
    val plain = { val s = once("s0", traced = false); s.copy(setupS = s.setupS + primeS) }
    val sessions = if (!trace) Seq(plain) else {
      val probe = new Probe(spark).register()
      Trace.enabled = true
      val s = try once("s1", traced = true) finally { Trace.enabled = false }
      batchLayers(ctx, probe, "tail-s1-", 1)
      probe.unregister()
      tracedLayers(ctx, s, probe)
      Seq(plain, s)
    }
    out("rate") = Rate
    out("warm_s") = WarmS
    out("window_s") = seconds
    out("service_ms") = ServiceMs
    out("sessions") = sessions.zipWithIndex.map { case (s, i) =>
      Map("traced" -> (i == 1), "sched0_ns" -> s.sched0Ns, "published" -> s.published,
        "setup_s" -> s.setupS, "max_lateness_ms" -> s.maxLatenessMs,
        "exactly_once" -> s.exactlyOnce, "failed_batches" -> s.failedBatches,
        "flagged_rows" -> s.flagged, "dead_letter_rows" -> s.dead,
        "batches" -> s.batches.map(b => Seq(b.id, b.lo, b.hi, b.n, b.startNs, b.endNs)))
    }
    out("attempted") = sessions.map(_.batches.size).sum
    out("failed") = sessions.map(s => s.failedBatches.size + (if (s.exactlyOnce) 0 else 1)).sum
  }

  private def session(ctx: Main.Ctx, dir: String, payloads: IndexedSeq[String],
      editCounts: Map[String, Long], texts: Map[Long, String], users: DataFrame,
      revisions: DataFrame, workers: Int, traced: Boolean): Session = {
    val spark = ctx.spark
    val tSetup = System.nanoTime()
    Files.createDirectories(Paths.get(dir))
    val buffer = s"$dir/buffer.sse"
    Files.write(Paths.get(buffer), Array.emptyByteArray)
    val api = new ApiStandIn(editCounts, texts, ServiceMs, workers)
    val sse = new SseEndpoint(workers)
    val relay = new SseHttpRelay(sse.url, buffer)
    val sinks = RcSinks(s"$dir/out", LogLevel, "example")
    // batch end times from the foreachBatch body; offset ranges from the
    // query's progress events, so the body runs only what a user's would
    val ends = new ConcurrentHashMap[Long, (Long, Long)]()
    val ranges = new ConcurrentHashMap[Long, (Long, Long)]()
    val tag = dir.substring(dir.lastIndexOf('/') + 1)
    @volatile var queryId: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.id == queryId && p.numInputRows > 0) {
          def off(v: String) = Option(v).flatMap(_.trim.toLongOption).getOrElse(0L)
          ranges.put(p.batchId, (off(p.sources(0).startOffset), off(p.sources(0).endOffset)))
        }
      }
    }
    spark.streams.addListener(listener)
    val q = spark.readStream.format("sse").option("path", buffer).load()
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val unit = s"tail-$tag-b$id"
        val t0 = System.nanoTime()
        Probe.withUnit(spark, unit) {
          Trace.span("streaming", "batch", unit) {
            val changes = parse(b)
            if (!traced)
              writeUnit(spark, unit,
                RcStreaming.livePipeline(changes, api.url, Spec, emitDeadLetter = true),
                sinks, id)
            else {
              // the composition livePipeline performs, with the dims
              // fetched (and timed) on their own
              val surviving = RcOps.streamFilter(changes, Spec.effectiveStreamfilter)
              val (u, t) = Trace.span("enrichment", "dims", unit) {
                val u = LiveEnrichment.editCountDim(surviving, api.url).cache()
                val t = LiveEnrichment.textDim(surviving, api.url).cache()
                u.count(); t.count()
                (u, t)
              }
              writeUnit(spark, unit,
                RcStreaming.pipeline(changes, u, t, Spec, emitDeadLetter = true), sinks, id)
              u.unpersist(); t.unpersist()
            }
          }
        }
        ends.put(id, (t0, System.nanoTime()))
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.ProcessingTime(0L))
      .start()
    queryId = q.id

    // open-loop publisher: event i is due at sched0 + i / Rate
    val pubWallMs = new Array[Long](payloads.size)
    @volatile var lateNs = 0L
    val sched0 = System.nanoTime() + 50000000L
    val publisher = new Thread(() => {
      var i = 0
      while (i < payloads.size) {
        val due = sched0 + (i * 1e9 / Rate).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        sse.publish(payloads(i))
        pubWallMs(i) = System.currentTimeMillis()
        lateNs = math.max(lateNs, System.nanoTime() - due)
        i += 1
      }
    }, "perfbench-publisher")
    publisher.start()
    publisher.join()
    // wait until the relay has landed every event, then drain the stream
    val deadline = System.nanoTime() + 60000000000L
    while (graft.sources.SseSource.countEvents(buffer) < payloads.size && q.isActive &&
      System.nanoTime() < deadline) Thread.sleep(20)
    if (q.isActive) q.processAllAvailable()
    Main.phase("stream drained")
    q.stop()
    relay.close()
    sse.close()
    api.close()
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext, 30000L)
    spark.streams.removeListener(listener)
    q.exception.foreach(e => throw e)

    val recs = ranges.asScala.toSeq.flatMap { case (id, (lo, end)) =>
      Option(ends.get(id)).map { case (t0, t1) => BatchRec(id, lo, end - 1, end - lo, t0, t1) }
    }.sortBy(_.lo)
    val exactlyOnce = recs.nonEmpty && recs.head.lo == 0L && recs.size == ranges.size &&
      recs.zip(recs.tail).forall { case (a, b) => b.lo == a.hi + 1 } &&
      recs.last.hi == payloads.size - 1L
    // set-up ends when the first batch with events has gone through the sinks
    val setupS = recs.headOption.map(b => (b.endNs - tSetup) / 1e9).getOrElse(0.0)

    // each batch's sinks equal the static-dim twin over its offset range,
    // computed as one batch pipeline over the whole buffer: every event
    // carries its batch id, and its title is suffixed with it, so the
    // pipeline's per-title dedup stays within a batch as in the stream
    val batchOf = recs.foldLeft(lit(null).cast("long")) { (acc, b) =>
      when(col("offset").between(b.lo, b.hi), lit(b.id)).otherwise(acc) }
    val events = spark.read.format("sse").option("path", buffer).load()
      .select(from_json(col("value"), ChangeSchema.change).as("c"), batchOf.as("batch_id"))
      .select("c.*", "batch_id")
      .withColumn("title", concat(col("title"), lit("#"), col("batch_id")))
    val twin = expected(RcStreaming.pipeline(events, users, revisions, Spec,
      emitDeadLetter = true).withColumn("batch_id", col("change.batch_id")))
    val written = sunk(spark, s"$dir/out")
    Main.phase("session checked")
    val ids = recs.map(_.id)
    val failed = (ids ++ written.keys.filterNot(ids.contains))
      .filter(id => twin.get(id) != written.get(id))
    val flagged = written.values.map(_._2.size.toLong).sum
    val dead = written.values.map(_._3.size.toLong).sum
    Session(sched0, payloads.size, lateNs / 1e6, setupS, recs, relay.reconnects.get,
      failed, exactlyOnce, flagged, dead, api, pubWallMs)
  }

  /** Relay, enrichment and jvm readouts of the traced session. */
  private def tracedLayers(ctx: Main.Ctx, s: Session, probe: Probe): Unit = {
    val L = ctx.layers
    val prog = probe.progress.asScala.toSeq.filter(_.latestOffset >= 0)
    val sortedPub = s.pubWallMs.filter(_ > 0).sorted
    def publishedBy(ms: Long): Long = {
      val i = java.util.Arrays.binarySearch(sortedPub, ms)
      (if (i >= 0) i + 1 else -i - 1).toLong
    }
    L("sources.relay_lag_events_p50") =
      Probe.median(prog.map(p => (publishedBy(p.triggerStartMs +
        p.durationMs.getOrElse("latestOffset", 0L)) - p.latestOffset).toDouble))
    L("sources.relay_reconnects") = s.relayReconnects.toDouble
    val a = s.api
    L("enrichment.requests") = a.requests.get.toDouble
    L("enrichment.keys_per_request") =
      if (a.requests.get == 0) 0.0 else a.keys.get.toDouble / a.requests.get
    L("enrichment.refetch_ratio") =
      if (a.keys.get == 0) 0.0 else a.refetches.get.toDouble / a.keys.get
    L("enrichment.max_in_flight") = a.maxInFlight.get.toDouble
    L("enrichment.server_busy_ms") = a.busyNs.get / 1e6
    L("enrichment.dim_ms") = Probe.median(Trace.all.filter(_.name == "dims")
      .map(sp => (sp.endNs - sp.startNs) / 1e6))
    L("enrichment.race_rows") = s.dead.toDouble
    L("streaming.flagged_rows") = s.flagged.toDouble
    L("streaming.dead_letter_rows") = s.dead.toDouble
  }
}
