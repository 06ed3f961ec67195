package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** Dev tool: time individual queries by name (args), min of `reps`
  * (env SPARK_GRAFT_REPS, default 2), same session shape as Bench.
  * Each rep is split into build (DataFrame construction), plan
  * (analysis + optimization + physical planning, forced through
  * `executedPlan`) and exec (the `count()` action, which also plans
  * its own aggregate over the frame); the line shows the split of the
  * fastest rep and `exchanges=N`, the shuffle exchanges (subqueries
  * included) of that rep's executed plan. Not part of the engine
  * surface — iteration harness only.
  */
object QBench extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      // match Bench's suite-sized codegen cache so isolated numbers
      // are comparable to in-run rows
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }
    Seq("documents", "embeddings", "events", "lineitem", "orders").foreach { t =>
      try Tables.load(spark, sfDir, t).cache().count()
      catch { case _: Throwable => () }
    }
    names.foreach { n =>
      val runs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = df.count()
        val t3 = System.nanoTime()
        val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeLike => e }.size
        (Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9), rows, exchanges)
      }
      val (Seq(build, plan, exec), _, exchanges) = runs.minBy(_._1.sum)
      println(f"$n%-28s min=${build + plan + exec}%8.3f s  all=${runs.map(r => f"${r._1.sum}%.3f").mkString(",")}  " +
        f"build=$build%.3f plan=$plan%.3f exec=$exec%.3f  rows=${runs.head._2}  exchanges=$exchanges")
    }
    spark.stop()
  }
}
