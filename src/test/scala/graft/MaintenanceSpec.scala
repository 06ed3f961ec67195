package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.Compaction

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
