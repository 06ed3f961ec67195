package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.ChangeSchema
import graft.streaming.{RcJob, RcSinks, RcStreaming}

/** Shared pieces of the two stream workloads. */
object Streams {
  /** The `example` filter of the program's registry, unchanged. */
  val Spec: RcStreaming.FilterSpec = RcJob.filterlist("example")
  val LogLevel = 3

  def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value"), ChangeSchema.change).as("c")).select("c.*")

  /** Static (user, editcount) and (revid, text) dims, cached. */
  def dims(spark: SparkSession, dataDir: String): (DataFrame, DataFrame) = {
    val users = spark.read.parquet(s"$dataDir/users.parquet").cache()
    val revisions = spark.read.parquet(s"$dataDir/revisions.parquet").cache()
    users.count(); revisions.count()
    (users, revisions)
  }

  /** Per batch id: (flagged revids, flagged ids, dead-letter ids), each
    * sorted.
    */
  type Sunk = Map[Long, (Seq[Long], Seq[Long], Seq[Long])]

  /** From rows of (batch_id, kind, value), kind 0/1/2 as the triple above. */
  private def byBatch(rows: Seq[Row]): Sunk =
    rows.groupBy(_.getLong(0)).map { case (id, rs) =>
      def kind(k: Int) = rs.filter(_.getInt(1) == k).map(_.getLong(2)).sorted
      id -> (kind(0), kind(1), kind(2))
    }

  /** What the sinks under `dir` hold, by batch: revids from the revid log
    * (K2), flagged change ids from the flag log (K3), and the dead-letter
    * ids.
    */
  def sunk(spark: SparkSession, dir: String): Sunk = {
    def read(sink: String, kind: Int, value: Column) =
      if (!Files.exists(Paths.get(s"$dir/$sink"))) Nil
      else {
        val df = if (sink == "revids") spark.read.text(s"$dir/$sink")
          else spark.read.parquet(s"$dir/$sink")
        df.select(col("batch_id").cast("long"), lit(kind), value.cast("long")).collect().toSeq
      }
    byBatch(read("revids", 0, col("value")) ++ read("flaglog", 1, col("change.id")) ++
      read("dead_letter", 2, col("id")))
  }

  /** The same from a pipeline output that carries a `batch_id` column. */
  def expected(out: DataFrame): Sunk = {
    val live = out.filter(!col("dead_letter"))
    byBatch(Seq(live.select(col("batch_id"), lit(0), col("revid")),
      live.select(col("batch_id"), lit(1), col("id")),
      out.filter(col("dead_letter")).select(col("batch_id"), lit(2), col("id")))
      .reduce(_ union _).collect().toSeq)
  }

  /** foreachBatch body: materialize the pipeline output, then hand it to
    * the program's sink fan-out.
    */
  def writeUnit(spark: SparkSession, unit: String, out: DataFrame,
      sinks: RcSinks, batchId: Long): Unit = {
    Trace.span("streaming", "pipeline", unit) { out.persist(); out.count() }
    Trace.span("streaming", "writeBatch", unit) { sinks.writeBatch(out, batchId) }
    out.unpersist()
  }

  private val SinkPath = "^(.*)/(revids|flaglog|changes|dead_letter)/batch_id=(\\d+).*$".r

  /** Per-batch streaming readouts shared by both stream workloads. */
  def batchLayers(ctx: Main.Ctx, probe: Probe, unitPrefix: String, sessions: Int): Unit = {
    import Probe.{median, quantile}
    probe.drain()
    val prog = { import scala.jdk.CollectionConverters._; probe.progress.asScala.toSeq }
      .filter(_.inputRows > 0)
    def dur(k: String) = median(prog.map(_.durationMs.getOrElse(k, 0L).toDouble))
    val units = probe.unitsMatching(_.startsWith(unitPrefix))
    val L = ctx.layers
    L("sources.latest_offset_ms") = dur("latestOffset")
    L("sources.scan_partitions") = median(units.map(_.scanPartitions.toDouble))
    L("streaming.batches") = units.size.toDouble / sessions
    L("streaming.rows_per_batch_p50") = median(prog.map(_.sourceEvents.toDouble))
    L("streaming.query_planning_ms") = dur("queryPlanning")
    L("streaming.wal_commit_ms") = dur("walCommit")
    L("streaming.commit_offsets_ms") = dur("commitOffsets")
    L("streaming.add_batch_ms") = dur("addBatch")
    L("streaming.jobs_per_batch") = median(units.map(_.jobs.toDouble))
    L("streaming.tasks_per_batch") = median(units.map(_.tasks.toDouble))
    L("streaming.state_rows") = prog.map(_.stateRows.toDouble).maxOption.getOrElse(0.0)
    L("streaming.state_memory_bytes") =
      prog.map(_.stateMemoryBytes.toDouble).maxOption.getOrElse(0.0)
    L("streaming.state_commit_ms") = median(prog.map(_.stateCommitMs.toDouble))
    val spans = Trace.all.filter(_.unit.startsWith(unitPrefix))
    def spanMs(name: String) = median(spans.filter(_.name == name)
      .groupBy(_.unit).values.map(_.map(s => (s.endNs - s.startNs) / 1e6).sum).toSeq)
    L("streaming.pipeline_ms") = spanMs("pipeline")
    L("streaming.sinks.write_batch_ms") = spanMs("writeBatch")
    // sink writes keyed by (output base, batch): one entry per batch instance
    val sinkWrites = probe.execsUnder("/batch_id=").flatMap(e => e.path match {
      case SinkPath(base, sink, b) => Some((s"$base#$b", sink, e))
      case _ => None
    })
    val perBatch = sinkWrites.groupBy(_._1).values.toSeq
    Seq("revids", "flaglog", "changes", "dead_letter").foreach { s =>
      L(s"streaming.sinks.${s}_ms") =
        median(perBatch.map(_.filter(_._2 == s).map(_._3.ms).sum))
    }
    L("streaming.sinks.files_written") = median(perBatch.map(_.map(_._3.files).sum.toDouble))
    L("streaming.sinks.bytes_written") = median(perBatch.map(_.map(_._3.bytes).sum.toDouble))
    L("streaming.batch_ms_p90") = quantile(spans.filter(_.name == "batch")
      .map(s => (s.endNs - s.startNs) / 1e6), 0.9)
  }
}
