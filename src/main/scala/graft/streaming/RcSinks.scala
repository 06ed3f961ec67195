package graft.streaming

import java.util.concurrent.{ExecutionException, Executors, TimeUnit}

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.storage.StorageLevel

/** The reference's four sinks (`scanner.py:143-175,221-249`,
  * `flaglog.py:37-66`) as a foreachBatch fan-out. One upstream
  * micro-batch is persisted and materialized once, sized to its data,
  * and written to all enabled sinks at the same time — the streaming
  * analog of the reference's per-event sequential writes, minus the
  * O(log) read-modify-rewrite (Spark appends are atomic per batch;
  * consumers see equivalent content).
  *
  * logLevel semantics (`examples/config.py:9`, `scanner.py:91-117`):
  * 0 console only, 1 +revid log, 2 +flag log (null folder/file),
  * 3 +date-partitioned content files (real folder/file).
  */
final case class RcSinks(baseDir: String, logLevel: Int, filterName: String,
    echoConsole: Boolean = false) {
  require(logLevel >= 0 && logLevel <= 3,
    s"LOG_LEVEL must be in [0,3], got $logLevel") // scanner.py:70-71

  /** foreachBatch body; also callable with a batch DataFrame directly.
    * If the frame carries a `dead_letter` column (pipeline built with
    * emitDeadLetter), those rows go to `$baseDir/dead_letter` and only
    * live rows reach K1-K4.
    *
    * The frame is persisted (unless its caller already did; a caller's
    * cache stays) and filled once, then coalesced to
    * ceil(cached bytes / `spark.sql.adaptive.advisoryPartitionSizeInBytes`)
    * partitions — AQE's own sizing rule, which AQE does not apply to a
    * cached plan's output, so a micro-batch of a few hundred rows writes
    * one file per sink instead of one per upstream partition (coalesce
    * never raises the count). The dead-letter, K2, K3 and K4 writes then
    * run at the same time on a per-call pool whose threads carry the
    * caller's Spark local properties (job group, so a stopped query
    * cancels them; scheduler pool; SQL execution root). Every write is
    * awaited; the first failure in sink order is rethrown, with the
    * others attached as suppressed.
    *
    * Replay-safe: foreachBatch is at-least-once, so every file sink
    * writes into a deterministic `batch_id=N` subdirectory with
    * overwrite mode — re-executing a micro-batch after a mid-fan-out
    * failure rewrites the same paths instead of appending duplicates
    * (exactly-once output without a transactional table format).
    * Consumers read the parent directory; `batch_id` surfaces as a
    * partition column.
    */
  def writeBatch(full: DataFrame, batchId: Long): Unit =
    RcSinks.fanOut(full) { sized =>
      if (echoConsole)                                       // K1 scanner.py:143-152
        live(sized).select(F.col("message")).show(20, truncate = false)
      sinkWrites(sized, batchId)
    }

  /** Dead-lettered events never reach K1-K4 (the reference skips them
    * before any sink, scanner.py:77-81 vs 143-175).
    */
  private def live(full: DataFrame): DataFrame =
    if (full.columns.contains("dead_letter"))
      full.filter(!F.col("dead_letter")).drop("dead_letter")
    else full

  /** The ORIGINAL full Change record when the pipeline threads it
    * through (ChangeSchema.flagLogEntry / utils.py:42); the projected row
    * for ad-hoc frames.
    */
  private def changeRecord(batch: DataFrame): Column =
    if (batch.columns.contains("change")) F.col("change")
    else F.struct(batch.columns.toIndexedSeq.map(F.col): _*)

  /** The enabled file sinks of one batch, each a write of its own
    * `batch_id=N` directory; [[writeBatch]] runs them concurrently.
    */
  private[graft] def sinkWrites(full: DataFrame, batchId: Long): Seq[() => Unit] = {
    val batch = live(full)
    val deadLetter = Option.when(full.columns.contains("dead_letter")) { () =>
      full.filter(F.col("dead_letter"))
        .write.mode("overwrite").parquet(s"$baseDir/dead_letter/batch_id=$batchId")
    }
    val revids = Option.when(logLevel >= 1) { () =>
      batch.select(F.col("revid").cast("string"))
        .write.mode("overwrite")
        .text(s"$baseDir/revids/batch_id=$batchId")            // K2 scanner.py:221-232
    }
    val flaglog = Option.when(logLevel >= 2) { () =>
      batch.select(
          F.lit(filterName).as("filter"),
          changeRecord(batch).as("change"),
          F.struct(                                            // nulls at level 2, scanner.py:162-165
            (if (logLevel == 3) F.concat(F.lit("changes/"), F.col("event_date").cast("string"))
             else F.lit(null).cast("string")).as("folder"),
            (if (logLevel == 3) F.col("filename") else F.lit(null).cast("string")).as("file"))
            .as("log"))
        .write.mode("overwrite")
        .parquet(s"$baseDir/flaglog/batch_id=$batchId")        // K3 flaglog.py:37-66
    }
    val changes = Option.when(logLevel == 3) { () =>
      batch.select(F.col("event_date"), F.col("filename"), F.col("message"))
        .write.mode("overwrite").partitionBy("event_date")
        .parquet(s"$baseDir/changes/batch_id=$batchId")        // K4 scanner.py:235-249
    }
    Seq(deadLetter, revids, flaglog, changes).flatten
  }

  /** Exact-parity K4: ONE FILE PER MATCH (`scanner.py:235-249`), body =
    * `{filtername}\n\n{message}\n\n{row}\n\n{wikitext}` under the
    * event-date folder (`scanner.py:154-158,166-171`). Executed
    * per-partition on the executors — each task writes its own events'
    * files, no driver fan-in. (The parquet K4 above is what a Spark
    * consumer wants; this writer is for byte-level compatibility with
    * the reference's on-disk layout.)
    */
  def writePerEventFiles(full: DataFrame): Unit = {
    val dir = s"$baseDir/changes_files"
    val fname = filterName
    val batch = live(full)
    // body row section = the full Change record (scanner.py:171 writes
    // f"...{change}..." — the input dict, not the output projection)
    batch.select(F.col("event_date").cast("string"), F.col("filename"),
        F.col("message"), F.to_json(changeRecord(batch)), F.col("text"))
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        rows.foreach { r =>
          val folder = java.nio.file.Paths.get(dir, r.getString(0))
          java.nio.file.Files.createDirectories(folder)
          val content = s"$fname\n\n${r.getString(2)}\n\n${r.getString(3)}\n\n${r.getString(4)}"
          java.nio.file.Files.writeString(folder.resolve(r.getString(1)), content)
        }
      }
  }

  /** Verbose (-v) fan-out over `RcStreaming.pipelineVerbose` output:
    * skipped events (reason != null) land in `$baseDir/skipped` with
    * their reason + exact reference skip message (`scanner.py:130-138`);
    * flagged events flow to the normal K1-K4 sinks; evaluated-no-hit
    * events surface only on the console echo (the reference's verb
    * line, `scanner.py:143-146`). Same persist, sizing and concurrent
    * fan-out as [[writeBatch]], with the skipped sink as one more write.
    */
  def writeVerboseBatch(full: DataFrame, batchId: Long): Unit =
    RcSinks.fanOut(full) { sized =>
      if (echoConsole)
        sized.filter(F.col("reason").isNull)
          .select(F.concat(F.col("user"), F.lit(" "),
            graft.operators.RcOps.verb(F.col("change_type")), // edit->edited, create->created
            F.lit(" \""), F.col("title"), F.lit("\"")).as("line"))
          .show(20, truncate = false)
      val skipped = () => sized.filter(F.col("reason").isNotNull)
        .select(F.col("id"), F.col("title"), F.col("user"),
          F.col("event_date"), F.col("reason"), F.col("skip_message"))
        .write.mode("overwrite").parquet(s"$baseDir/skipped/batch_id=$batchId")
      val flagged = sized
        .filter(F.col("reason").isNull && F.size(F.col("matched")) > 0)
        .withColumn("matched", F.concat_ws(",", F.col("matched")))
        .withColumn("change", // declared-schema rehydration for K3/K4
          F.from_json(F.col("change_json"), graft.schema.ChangeSchema.change))
        .drop("pre_reason", "reason", "skip_message", "event_us", "editcount",
          "change_type", "change_json")
      skipped +: sinkWrites(flagged, batchId)
    }
}

object RcSinks {
  /** Persists `full` unless the caller already did, fills its cache
    * once, coalesces it to ceil(cached bytes / advisory partition size)
    * partitions and runs the writes `plan` builds on that frame
    * concurrently. Only a cache made here is dropped here.
    */
  private def fanOut(full: DataFrame)(plan: DataFrame => Seq[() => Unit]): Unit = {
    val owned = full.storageLevel == StorageLevel.NONE
    if (owned) full.persist()
    try {
      val spark = full.sparkSession
      val bytes = bridge.materializedCacheBytes(full)
      val target = bridge.advisoryPartitionBytes(spark)
      val parts = ((bytes + target - 1) / target).max(1L).min(Int.MaxValue.toLong)
      runAll(spark, plan(full.coalesce(parts.toInt)))
    } finally if (owned) full.unpersist()
  }

  /** Runs `writes` at the same time on a pool made for this call, each
    * under the caller's Spark local properties; waits for all of them,
    * then rethrows the first failure in `writes` order.
    */
  private def runAll(spark: SparkSession, writes: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(math.max(1, writes.size), (r: Runnable) => {
      val t = new Thread(r, "rc-sinks-fanout")
      t.setDaemon(true)
      t
    })
    try {
      val done = writes.map(w => bridge.captured(spark, pool)(w()))
      val failures = done.flatMap { f =>
        try { f.get(); None } catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }
}
