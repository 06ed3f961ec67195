package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** query_suite: the named queries (`SparkEntry.queries`), run one at a
  * time by one client. Each result is written to the `noop` sink, so every
  * output column is computed (a `count()` would let Catalyst prune them).
  * One untimed warm pass fills codegen, the frame memo and the query
  * stores; its time is the workload's set-up. After the timed passes, an
  * untimed pass writes every result as parquet, and run.py checks those
  * files against the DuckDB oracle SQL (`SparkEntry.oracleSql`). Base
  * tables are not cached.
  */
object QuerySuite {
  /** Every `Stride`-th query in name order: a fixed slice that touches
    * every family and fits the run's time budget.
    */
  val Stride = 10

  def selected: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect {
      case (n, i) if i % Stride == 0 => n
    }

  /** Runs one query to completion: written to the `noop` sink, which
    * computes every output column and row without file I/O, or as parquet
    * under `dir` for the output check.
    */
  private def runOne(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dataDir: String, dir: Option[String], unit: String): Either[String, Double] = {
    val t0 = System.nanoTime()
    try {
      Probe.withUnit(spark, unit) {
        Trace.span("queries", "query", unit) {
          val w = Trace.span("queries", "build", unit)(fn(spark, dataDir)).write.mode("overwrite")
          Trace.span("queries", "exec", unit)(dir match {
            case Some(d) => w.parquet(d)
            case None => w.format("noop").save()
          })
        }
      }
      Right((System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
    }
  }

  def run(ctx: Main.Ctx): Unit = {
    import ctx._
    val names = selected
    val queries = SparkEntry.queries
    Files.writeString(Paths.get(s"$workDir/oracle_sql.json"),
      Json.value(names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap))
    val errors = mutable.LinkedHashMap.empty[String, String]
    val warm = mutable.LinkedHashMap.empty[String, Double]
    val tw = System.nanoTime()
    names.foreach { n =>
      runOne(spark, queries(n), dataDir, None, s"warm-$n") match {
        case Right(s) => warm(n) = s
        case Left(e) => errors(n) = e
      }
    }
    val warmS = (System.nanoTime() - tw) / 1e9
    Main.phase("warm pass done")
    val times = mutable.LinkedHashMap(names.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val probe = new Probe(spark)
    val t0 = System.nanoTime()
    var pass = 1
    // timed passes until the time is used up; trace: odd passes plain,
    // even passes traced, at least one of each
    while (pass <= (if (trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < seconds) {
      val traced = trace && pass % 2 == 0
      if (traced) { probe.register(); Trace.enabled = true }
      names.foreach { n =>
        runOne(spark, queries(n), dataDir, None, s"q$pass-$n") match {
          case Right(s) => if (!traced) times(n) += s
          case Left(e) => errors(n) = e
        }
      }
      if (traced) { Trace.enabled = false; probe.unregister() }
      pass += 1
    }
    Main.phase(s"${pass - 1} timed passes done")
    // untimed pass that keeps the results, for the oracle check
    names.foreach { n =>
      runOne(spark, queries(n), dataDir, Some(s"$workDir/suite/check/$n"), s"check-$n")
        .left.foreach(errors(n) = _)
    }
    out("queries") = names
    out("times_s") = times
    out("errors") = errors
    out("warm_pass_s") = warmS
    out("warm_s") = warm
    out("check_dir") = s"$workDir/suite/check"
    out("oracle_sql") = s"$workDir/oracle_sql.json"
    if (trace) {
      import Probe.median
      val L = layers
      // counters and the pass time are reported per traced (even) pass
      val tracedPasses = (pass - 1) / 2
      val spans = Trace.all
      def spanMed(name: String) =
        median(spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6))
      L("queries.build_ms") = spanMed("build")
      L("queries.exec_ms") = spanMed("exec")
      val execs = probe.execs.asScala.toSeq
      L("queries.analysis_ms") = median(execs.map(_.analysisMs.toDouble))
      L("queries.optimization_ms") = median(execs.map(_.optimizationMs.toDouble))
      L("queries.planning_ms") = median(execs.map(_.planningMs.toDouble))
      L("queries.exchanges") = execs.map(_.exchanges).sum.toDouble / tracedPasses
      val us = probe.unitsMatching(_.startsWith("q"))
      def total(f: UnitStats => Long) = us.map(f).sum.toDouble / tracedPasses
      L("queries.jobs") = total(_.jobs)
      L("queries.stages") = total(_.stages)
      L("queries.tasks") = total(_.tasks)
      L("queries.shuffle_read_bytes") = total(_.shuffleRead)
      L("queries.shuffle_write_bytes") = total(_.shuffleWrite)
      L("queries.spill_bytes") = total(_.spill)
      L("queries.input_bytes") = total(_.inputBytes)
      L("queries.gc_ms") = total(_.gcMs)
      L("queries.warm_pass_s") = warmS
      out("traced_pass_s") =
        spans.filter(_.name == "query").map(s => (s.endNs - s.startNs) / 1e9).sum / tracedPasses
    }
  }
}
