package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.graft.bridge

/** Dev tool: time individual queries by name (args), min of `reps`
  * (env SPARK_GRAFT_REPS, default 2), same session confs as Bench
  * (log level WARN).
  * Each rep is split into build (DataFrame construction), plan
  * (analysis + optimization + physical planning, forced through
  * `executedPlan`) and exec (the `count()` action, which also plans
  * its own aggregate over the frame); the line shows the split of the
  * fastest rep, `exchanges=N`, the shuffle exchanges (subqueries
  * included) of that rep's executed plan, and `jobs=N`, the Spark jobs
  * that rep started across build, plan and exec (one listener, read
  * after the listener bus drains). Not part of the engine surface —
  * iteration harness only.
  */
object QBench extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val spark = SparkEntry.localSession(cpus.toInt, 8, suiteCodegenCache = true, "WARN")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def drained(): Int = { bridge.drainListenerBus(spark.sparkContext, 10000); jobs.get }
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
        val j0 = drained()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        val rows = df.count()
        val t3 = System.nanoTime()
        val exchanges = collectWithSubqueries(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeLike => e }.size
        (Seq(t1 - t0, t2 - t1, t3 - t2).map(_ / 1e9), rows, exchanges, drained() - j0)
      }
      val (Seq(build, plan, exec), _, exchanges, started) = runs.minBy(_._1.sum)
      println(f"$n%-28s min=${build + plan + exec}%8.3f s  all=${runs.map(r => f"${r._1.sum}%.3f").mkString(",")}  " +
        f"build=$build%.3f plan=$plan%.3f exec=$exec%.3f  rows=${runs.head._2}  exchanges=$exchanges  jobs=$started")
    }
    spark.stop()
  }
}
