package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-unit counters from Spark's public listeners. A unit is one query
  * or one micro-batch: the harness sets the `perfbench.unit` local
  * property on the thread that runs it, and every job, stage and task is
  * charged to the unit its job was started under.
  */
final class UnitStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var gcMs = 0L; var scanPartitions = 0L
}

/** One `QueryExecutionListener` record: a finished action, keyed by the
  * output path it wrote (empty for non-write actions).
  */
final case class ExecRecord(path: String, ms: Double, analysisMs: Long,
    optimizationMs: Long, planningMs: Long, exchanges: Int, files: Long,
    bytes: Long)

/** One `StreamingQueryListener` progress record. */
final case class BatchProgress(batchId: Long, triggerStartMs: Long,
    inputRows: Long, sourceEvents: Long, durationMs: Map[String, Long],
    latestOffset: Long, stateRows: Long, stateMemoryBytes: Long,
    stateCommitMs: Long)

final class Probe(spark: SparkSession) extends AdaptiveSparkPlanHelper {
  val units = new ConcurrentHashMap[String, UnitStats]()
  private val stageUnit = new ConcurrentHashMap[Int, String]()
  val execs = new java.util.concurrent.ConcurrentLinkedQueue[ExecRecord]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()

  private def stats(unit: String): UnitStats =
    units.computeIfAbsent(unit, _ => new UnitStats)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val unit = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Probe.UnitKey))).getOrElse("")
      e.stageInfos.foreach(s => stageUnit.put(s.stageId, unit))
      val u = stats(unit)
      u.synchronized(u.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val u = stats(stageUnit.getOrDefault(info.stageId, ""))
      val scan = info.rddInfos.filter(_.name.contains("DataSourceRDD")).map(_.numPartitions)
      u.synchronized {
        u.stages += 1
        u.scanPartitions = (u.scanPartitions +: scan.map(_.toLong)).max
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val u = stats(stageUnit.getOrDefault(e.stageId, ""))
      val m = e.taskMetrics
      u.synchronized {
        u.tasks += 1
        if (m != null) {
          u.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          u.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          u.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          u.inputBytes += m.inputMetrics.bytesRead
          u.gcMs += m.jvmGCTime
        }
      }
    }
  }

  private def commandNodes(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case x => x } ++
      p.collect { case c: org.apache.spark.sql.execution.CommandResultExec =>
        collectWithSubqueries(c.commandPhysicalPlan) { case x => x } }.flatten

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
      val nodes = try commandNodes(qe.executedPlan) catch { case _: Throwable => Nil }
      val writes = nodes.collect { case w: DataWritingCommandExec => w }
      val path = writes.map(_.cmd).collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }.getOrElse("")
      def metric(k: String) = writes.flatMap(_.cmd.metrics.get(k)).map(_.value).sum
      val exchanges = nodes.count(_.isInstanceOf[ShuffleExchangeLike])
      execs.add(ExecRecord(path, durationNs / 1e6, phase("analysis"),
        phase("optimization"), phase("planning"), exchanges,
        metric("numFiles"), metric("numOutputBytes")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      def offset(f: org.apache.spark.sql.streaming.SourceProgress => String) =
        p.sources.headOption.flatMap(s => Option(f(s))).flatMap(_.trim.toLongOption)
          .getOrElse(-1L)
      progress.add(BatchProgress(p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        offset(_.endOffset) - math.max(0L, offset(_.startOffset)),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        offset(_.latestOffset),
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum))
    }
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def register(): this.type = {
    spark.sparkContext.addSparkListener(sparkListener)
    classic.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
    this
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    classic.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit =
    org.apache.spark.sql.graft.bridge.drainListenerBus(spark.sparkContext, 30000L)

  def unitsMatching(p: String => Boolean): Seq[UnitStats] =
    units.asScala.collect { case (k, v) if p(k) => v }.toSeq

  def execsUnder(fragment: String): Seq[ExecRecord] =
    execs.asScala.toSeq.filter(_.path.contains(fragment))
}

object Probe {
  val UnitKey = "perfbench.unit"

  def withUnit[T](spark: SparkSession, unit: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(UnitKey)
    sc.setLocalProperty(UnitKey, unit)
    try body finally sc.setLocalProperty(UnitKey, prev)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
