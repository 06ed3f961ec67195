package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{RcSinks, RcStreaming}

/** stream_backlog: drain a seeded SSE backlog with `RcStreaming.pipeline`
  * and the static dims into `RcSinks.writeBatch` at LOG_LEVEL 3, with
  * `Trigger.AvailableNow`. One untimed warm-up drain, then timed drains
  * (each with a fresh checkpoint and output dir) until the measured time
  * is used up. Every drain's sinks are checked against the batch twin.
  */
object Backlog {
  import Streams._

  final case class Drain(round: Int, setupS: Double, drainS: Double,
      traced: Boolean, dir: String)

  def drain(spark: SparkSession, dataDir: String, dir: String, round: Int,
      traced: Boolean): Drain = {
    val t0 = System.nanoTime()
    val (users, revisions) = dims(spark, dataDir)
    val sinks = RcSinks(s"$dir/out", LogLevel, "example")
    val source = parse(spark.readStream.format("sse")
      .option("path", s"$dataDir/changes.sse").load())
    val q = RcStreaming.pipeline(source, users, revisions, Spec, emitDeadLetter = true)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val unit = s"backlog-r$round-b$id"
        Probe.withUnit(spark, unit) {
          Trace.span("streaming", "batch", unit)(writeUnit(spark, unit, b, sinks, id))
        }
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    val t1 = System.nanoTime()
    q.awaitTermination()
    val t2 = System.nanoTime()
    q.exception.foreach(e => throw e)
    users.unpersist(); revisions.unpersist()
    Drain(round, (t1 - t0) / 1e9, (t2 - t1) / 1e9, traced, s"$dir/out")
  }

  def run(ctx: Main.Ctx): Unit = {
    import ctx._
    val events = graft.sources.SseSource.countEvents(s"$dataDir/changes.sse")
    val probe = new Probe(spark)
    val drains = ArrayBuffer(drain(spark, dataDir, s"$workDir/backlog/r0", 0, traced = false))
    Main.phase("warm-up drain done")
    val t0 = System.nanoTime()
    var round = 1
    // timed drains: at least 3 (trace: alternate untraced/traced, 2 each)
    while (round <= (if (trace) 4 else 3) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && round % 2 == 0
      if (traced) { probe.register(); Trace.enabled = true }
      drains += drain(spark, dataDir, s"$workDir/backlog/r$round", round, traced)
      if (traced) { Trace.enabled = false; probe.unregister() }
      round += 1
    }
    Main.phase(s"${drains.size - 1} timed drains done")
    // output check: every drain's sinks equal the batch twin's
    val (users, revisions) = dims(spark, dataDir)
    val twin = expected(RcStreaming.pipeline(
      parse(spark.read.format("sse").option("path", s"$dataDir/changes.sse").load()),
      users, revisions, Spec, emitDeadLetter = true).withColumn("batch_id", lit(0L)))
    val bad = drains.filter(d => sunk(spark, d.dir) != twin).map(_.round)
    Main.phase("check done")
    out("events") = events
    out("drains") = drains.map(d => Map("round" -> d.round, "setup_s" -> d.setupS,
      "drain_s" -> d.drainS, "traced" -> d.traced, "warmup" -> (d.round == 0)))
    out("attempted") = drains.size
    out("failed") = bad.size
    out("failed_rounds") = bad
    val (_, flagged, dead) = twin.getOrElse(0L, (Nil, Nil, Nil))
    out("flagged_rows") = flagged.size
    out("dead_letter_rows") = dead.size
    if (trace) {
      batchLayers(ctx, probe, "backlog-r", drains.count(_.traced))
      layers("streaming.flagged_rows") = flagged.size.toDouble
      layers("streaming.dead_letter_rows") = dead.size.toDouble
      // the same backlog drained again on one core, for the speedup
      val multi = Probe.median(drains.filter(_.round > 0).map(_.drainS).toSeq)
      spark.stop()
      val one = Main.session(1, workDir)
      try {
        val d = drain(one, dataDir, s"$workDir/backlog/one-core", -1, traced = false)
        layers("streaming.speedup_vs_1core") = d.drainS / multi
      } finally one.stop()
    }
  }
}
