package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-files compaction — the unglamorous operator every large-scale
  * ingest pipeline needs: streaming micro-batches and per-partition
  * appends leave thousands of KB-sized parquet files whose per-file
  * open/footer cost eventually dominates scans.
  *
  * Bin-packs a directory to ~`targetBytes` output files: measures real
  * input bytes via a RECURSIVE filesystem walk (partitioned layouts
  * count their subdirectory files, matching what `spark.read.parquet`
  * will actually read), rewrites with that many partitions, then swaps
  * directories.
  *
  * Crash safety: plain filesystems have no atomic directory swap, so the
  * swap is ordered to never lose data and to be mechanically
  * recoverable: (1) the rewrite lands in `dir__compacting` and is
  * VERIFIED readable (row count matches the source) before anything
  * moves; (2) `dir` -> `dir__old`; (3) `dir__compacting` -> `dir`;
  * (4) `dir__old` is deleted only after the live directory verifies
  * readable again. A crash inside the (2)-(3) window leaves `dir`
  * missing but both `dir__old` and `dir__compacting` intact —
  * [[recover]] restores the original. (A production deployment on a
  * transactional table format gets this for free; this is the raw-dir
  * equivalent.)
  */
object Compaction {

  case class Stats(filesBefore: Long, filesAfter: Long, bytes: Long)

  private def parquetFiles(fs: FileSystem, path: Path): Seq[(Path, Long)] = {
    val it = fs.listFiles(path, true) // recursive: partition subdirs count
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Path, Long)]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) buf += ((f.getPath, f.getLen))
    }
    buf.toSeq
  }

  def compact(spark: SparkSession, dir: String,
      targetBytes: Long = 128L * 1024 * 1024): Stats = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = parquetFiles(fs, path)
    val bytes = files.map(_._2).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val expectedRows = spark.read.parquet(dir).count()

    val tmp = new Path(dir + "__compacting")
    spark.read.parquet(dir).repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    // verify BEFORE touching the live directory
    require(spark.read.parquet(tmp.toString).count() == expectedRows,
      s"compaction rewrite row count mismatch for $dir — aborting, source untouched")

    lazy val after = parquetFiles(fs, path) // listed after the swap
    swapStaged(spark, dir, tmp.toString)(
      after.nonEmpty && spark.read.parquet(dir).count() == expectedRows)
    Stats(files.length.toLong, after.length.toLong, bytes)
  }

  /** Move the verified `staged` directory into `live`: (1) drop a stale
    * `live__old` backup, (2) `live` -> `live__old`, (3) `staged` ->
    * `live`, (4) delete the backup only once `verified` (evaluated on
    * the swapped-in directory) holds, else keep it and fail. Hadoop
    * reports a failed rename by returning false, and `verified` checks
    * readability, not identity (old and new data can both pass it), so
    * both renames are checked: if (2) fails nothing moved; if (3) fails
    * the original is renamed back in-process instead of waiting for
    * [[recover]].
    */
  private[operators] def swapStaged(spark: SparkSession, live: String, staged: String)(
      verified: => Boolean): Unit = {
    val path = new Path(live)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(live + "__old")
    fs.delete(bak, true) // stale backup from an earlier crash
    require(fs.rename(path, bak),
      s"could not move $live aside — swap aborted, live data untouched")
    if (!fs.rename(new Path(staged), path)) {
      val restored = fs.rename(bak, path)
      throw new IllegalStateException(
        s"could not move staged $staged into place for $live — " +
          (if (restored) "original restored" else s"RESTORE FAILED, original at $bak"))
    }
    require(verified, s"post-swap verification failed for $live — backup kept at $bak")
    fs.delete(bak, true)
  }

  /** Restore after a crash mid-swap: if `dir` is missing but `dir__old`
    * exists, the original data is intact — move it back. Returns true if
    * a recovery was performed.
    */
  def recover(spark: SparkSession, dir: String): Boolean = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bak = new Path(dir + "__old")
    if (!fs.exists(path) && fs.exists(bak)) { fs.rename(bak, path); true }
    else false
  }
}
