package graft

import java.io.{File, FileNotFoundException}
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions._
import graft.operators.Compaction

/** The local filesystem under the `failmv` scheme, except that renaming
  * a `*__compacting` directory fails the way Hadoop reports it: by
  * returning false. Statuses are plain [[FileStatus]]es because the
  * local ones load their permissions through a `file:` URI.
  */
class FailingRenameFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failmv:///")
  override def rename(src: Path, dst: Path): Boolean =
    !src.getName.endsWith("__compacting") && super.rename(src, dst)
  private def status(f: File): FileStatus =
    new FileStatus(f.length, f.isDirectory, 1, 32L << 20, f.lastModified,
      makeQualified(new Path(f.getAbsolutePath)))
  private def existing(p: Path): File = {
    val f = pathToFile(p)
    if (!f.exists) throw new FileNotFoundException(p.toString)
    f
  }
  override def getFileStatus(p: Path): FileStatus = status(existing(p))
  override def listStatus(p: Path): Array[FileStatus] = {
    val f = existing(p)
    if (f.isDirectory) f.listFiles.map(status) else Array(status(f))
  }
}

/** Pipeline maintenance: small-files compaction and crash recovery. */
class MaintenanceSpec extends SparkSpec {

  test("compaction bin-packs many small files without changing data") {
    val dir = Files.createTempDirectory("smallfiles").toString + "/t"
    val df = Tables.documents(spark, sf0001)
    df.repartition(64).write.parquet(dir) // 64 tiny files
    val before = spark.read.parquet(dir).orderBy("doc_id").collect()
    val stats = Compaction.compact(spark, dir, targetBytes = 10L * 1024 * 1024)
    assert(stats.filesBefore === 64)
    assert(stats.filesAfter === 1) // ~100 KB of data fits one 10 MB bin
    val after = spark.read.parquet(dir).orderBy("doc_id").collect()
    assert(before.sameElements(after))
  }

  test("compaction counts partitioned subdirectory files and preserves them") {
    val dir = Files.createTempDirectory("partfiles").toString + "/t"
    Tables.documents(spark, sf0001)
      .withColumn("bucket", col("doc_id") % 4)
      .repartition(8).write.partitionBy("bucket").parquet(dir)
    val before = spark.read.parquet(dir).orderBy("doc_id")
      .drop("bucket").collect()
    val stats = Compaction.compact(spark, dir, targetBytes = 10L * 1024 * 1024)
    assert(stats.filesBefore >= 4, "stats must see files inside partition dirs")
    assert(stats.bytes > 0)
    val after = spark.read.parquet(dir).orderBy("doc_id").drop("bucket").collect()
    assert(before.sameElements(after))
  }

  test("compaction restores the live directory when the staged rename fails") {
    spark.sparkContext.hadoopConfiguration.set("fs.failmv.impl", classOf[FailingRenameFs].getName)
    val local = Files.createTempDirectory("failmv").toString + "/t"
    Tables.documents(spark, sf0001).repartition(8).write.parquet(local)
    val before = spark.read.parquet(local).orderBy("doc_id").collect()
    val err = intercept[IllegalStateException] {
      Compaction.compact(spark, s"failmv://$local", targetBytes = 10L * 1024 * 1024)
    }
    assert(err.getMessage.contains("t__compacting") &&
      err.getMessage.contains("original restored"), err.getMessage)
    assert(!new File(local + "__old").exists)
    assert(spark.read.parquet(local).orderBy("doc_id").collect().sameElements(before))
  }

  test("recover restores the original directory after a crash mid-swap") {
    val dir = Files.createTempDirectory("crash").toString + "/t"
    val df = Tables.documents(spark, sf0001).limit(10)
    df.write.parquet(dir)
    // simulate the crash window: live dir renamed away, swap not done
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    assert(Compaction.recover(spark, dir))
    assert(spark.read.parquet(dir).count() === 10)
    assert(!Compaction.recover(spark, dir)) // no-op when healthy
  }
}
