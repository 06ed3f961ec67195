package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number, sum}

/** How `Tables.loadPath` plans a path by its predicted scan splits: a
  * table that scans as one split of at most AQE's minimum coalesced
  * partition size is one partition (`coalesce(1)`, `SinglePartition`),
  * so aggregates, windows, global sorts and sort-merge joins over it
  * plan no exchange; several files, or one file over the byte bound,
  * keep the plain scan and every exchange; and `fanOutForCpu` still
  * fans a one-partition load out to default parallelism.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq.tabulate(1000)(i => (i.toLong, i % 7L, (i * 31 % 101).toLong))

  /** `rows` as (k, g, v[, payload]) written as `files` parquet files;
    * `payloadBytes` > 0 adds an incompressible binary column of that
    * many bytes per row.
    */
  private def write(files: Int, payloadBytes: Int = 0): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-spec-").toString
    val rnd = new scala.util.Random(7)
    val df = if (payloadBytes == 0) rows.toDF("k", "g", "v")
      else rows.map { case (k, g, v) => (k, g, v, Array.fill(payloadBytes)(rnd.nextInt().toByte)) }
        .toDF("k", "g", "v", "payload")
    val parted = if (files == 1) df.coalesce(1) else df.repartition(files)
    parted.write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.parquetFileCount(spark, s"$dir/t.parquet") === files.toLong)
    dir
  }

  /** The four shapes that need a clustered or ordered input. */
  private def shapes(dir: String): Seq[(String, DataFrame)] = {
    val t = Tables.load(spark, dir, "t")
    val u = Tables.load(spark, dir, "t").select(col("k"), (col("v") + 1).as("w"))
    Seq(
      "group-by" -> t.groupBy("g").agg(sum("v").as("s")),
      "window" -> t.withColumn("r",
        row_number().over(Window.partitionBy("g").orderBy("k"))),
      "orderBy" -> t.orderBy(col("v"), col("k")),
      "sort-merge join" -> t.join(u.hint("merge"), Seq("k")))
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def exchanges(p: String): Int = p.linesIterator.count(l =>
    l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))

  test("a one-split table under the byte bound plans no hash or range exchange") {
    val dir = write(files = 1)
    shapes(dir).foreach { case (shape, df) =>
      val p = plan(df)
      assert(exchanges(p) === 0, s"$shape over a one-split table planned an exchange:\n$p")
    }
    val j = plan(shapes(dir).last._2)
    assert(j.contains("SortMergeJoin"), s"the merge hint must still plan a sort-merge join:\n$j")
    // the single-partition plans answer as the plain scan does
    val plain = spark.read.parquet(s"$dir/t.parquet")
    assert(shapes(dir).head._2.orderBy("g").collect().toSeq ===
      plain.groupBy("g").agg(sum("v").as("s")).orderBy("g").collect().toSeq)
    assert(shapes(dir)(2)._2.collect().toSeq === plain.orderBy(col("v"), col("k")).collect().toSeq)
  }

  test("several files, or one file over the byte bound, keep their exchanges") {
    val multi = write(files = 3)
    val big = write(files = 1, payloadBytes = 1500)
    assert(Tables.parquetDataBytes(spark, s"$big/t.parquet") >
      spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE),
      "the payload table must exceed AQE's minimum coalesced partition size")
    for ((label, dir) <- Seq("three files" -> multi, "one file over 1 MB" -> big)) {
      val planned = shapes(dir).map { case (shape, df) => shape -> plan(df) }
      planned.foreach { case (shape, p) =>
        assert(exchanges(p) >= 1, s"$shape over $label lost its exchange:\n$p")
      }
      assert(planned(2)._2.contains("Exchange rangepartitioning"),
        s"orderBy over $label must range-partition:\n${planned(2)._2}")
      assert(exchanges(planned(3)._2) === 2,
        s"sort-merge join over $label must shuffle both sides:\n${planned(3)._2}")
    }
  }

  test("fanOutForCpu over a one-partition load still plans its round-robin repartition") {
    val dir = write(files = 1)
    val fanned = Tables.fanOutForCpu(spark, Tables.load(spark, dir, "t"), dir, "t")
    val p = plan(fanned)
    val target = spark.sparkContext.defaultParallelism
    assert(p.contains(s"RoundRobinPartitioning($target)"),
      s"the fan-out must replace the coalesce with its repartition:\n$p")
    assert(!p.contains("Coalesce"), s"the coalesce must collapse into the fan-out:\n$p")
    assert(fanned.rdd.getNumPartitions === target)
  }
}
