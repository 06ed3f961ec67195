package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.sources.SseSource

/** DSv2 BATCH path of the SSE source (`spark.read.format("sse")` — the
  * backfill/replay read): Catalyst offset predicates push into the scan
  * as an exact event range (visible as PushedFilters), column pruning
  * reaches the reader, and the pushed range splits into parallel
  * partitions over the sample index.
  */
class SseBatchSpec extends SparkSpec {
  import spark.implicits._

  private def sseFrame(id: Long): String =
    s"""event: message
       |id: [{"topic":"rc","partition":0,"offset":$id}]
       |data: {"type":"${if (id % 2 == 0) "edit" else "new"}","title":"T$id","id":$id}
       |""".stripMargin

  private def buffer(n: Long): String = {
    val f = Files.createTempFile("batch", ".sse")
    Files.writeString(f, (1L to n).map(sseFrame).mkString("\n"))
    f.toString
  }

  test("batch read returns every event with continuous offsets") {
    val path = buffer(20)
    val df = spark.read.format("sse").option("path", path).load()
    val rows = df.orderBy("offset").as[(String, Long)].collect()
    assert(rows.length === 20)
    assert(rows.map(_._2).toSeq === (0L until 20L))
    assert(rows.head._1.contains("\"title\":\"T1\""))
  }

  test("offset predicates are pushed into the scan and applied exactly") {
    val path = buffer(30)
    val df = spark.read.format("sse").option("path", path).load()
      .filter(col("offset") >= 7 && col("offset") < 12)
    // the scan description renders the FUSED pushed range — proof the
    // predicates reached the source (V2ScanRelationPushDown logs them as
    // Pushed Filters with an empty post-scan residue)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("events=[7, 12)"),
      s"expected pushed offset range in scan description:\n$plan")
    assert(df.orderBy("offset").select("offset").as[Long].collect().toSeq
      === (7L until 12L))
    // equality pushes as a one-event range
    val one = spark.read.format("sse").option("path", path).load()
      .filter(col("offset") === 3)
    assert(one.select("value").as[String].collect().toSeq
      === Seq(one.select("value").as[String].collect().head))
    assert(one.count() === 1)
  }

  test("column pruning reaches the reader (offset-only projection)") {
    val path = buffer(10)
    val df = spark.read.format("sse").option("path", path).load()
      .select("offset")
    // the pruned schema flows through SseScan.readSchema -> partition
    assert(df.queryExecution.executedPlan.toString.contains("offset"))
    assert(df.as[Long].collect().sorted.toSeq === (0L until 10L))
  }

  test("pushed range splits into parallel partitions") {
    val path = buffer(40)
    val df = spark.read.format("sse").option("path", path).load()
    assert(df.rdd.getNumPartitions > 1)
    assert(df.rdd.getNumPartitions <= SseSource.BatchPartitions)
    assert(df.count() === 40)
    // a narrow pushed range never plans more partitions than events
    val narrow = spark.read.format("sse").option("path", path).load()
      .filter(col("offset") >= 38)
    assert(narrow.count() === 2)
    assert(narrow.rdd.getNumPartitions <= 2)
  }

  test("source-registered filter.<field> composes with pushed offsets") {
    val path = buffer(20)
    val df = spark.read.format("sse").option("path", path)
      .option("filter.type", "edit").load()
      .filter(col("offset") < 10)
    // ids 1..20 at offsets 0..19; type=edit for even ids = odd offsets
    assert(df.select("offset").as[Long].collect().sorted.toSeq
      === Seq(1L, 3L, 5L, 7L, 9L))
  }

  test("empty pushed range yields an empty result, not a scan") {
    val path = buffer(5)
    val df = spark.read.format("sse").option("path", path).load()
      .filter(col("offset") >= 100)
    assert(df.count() === 0)
  }

  test("batch and streaming reads of the same buffer agree") {
    val path = buffer(12)
    val batch = spark.read.format("sse").option("path", path).load()
      .orderBy("offset").as[(String, Long)].collect().toSeq
    val (it, closer) = graft.sources.SseSource.eventIterator(path)
    val direct = try it.toVector finally closer.close()
    assert(batch.map(_._1) === direct)
  }
}
