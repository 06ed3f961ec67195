package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point, started by run.py:
  *
  *   Main <workload> <dataDir> <workDir> <outJson> <seconds> <trace 0|1> <cores>
  *
  * Runs one workload against the program's public API and writes its raw
  * measurements (times, counters, check results) to `outJson`; run.py
  * turns them into the reported metrics.
  */
object Main {
  final case class Ctx(spark: SparkSession, dataDir: String, workDir: String,
      seconds: Double, trace: Boolean, cores: Int) {
    val out: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
    /** Per-layer readouts of the traced run. */
    val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  private val t0 = System.nanoTime()

  /** Progress line on stderr, seconds since JVM start of the harness. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Single-thread CPU calibration: ms for a fixed 100M-step xorshift
    * loop, taken at the start and end of a run so a loaded machine shows.
    */
  def calibMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val ms = (System.nanoTime() - t0) / 1e6
    if (x == 42L) System.err.println("")
    ms
  }

  def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, outJson, secs, trace, cores) = args
    System.setProperty("sun.net.httpserver.nodelay", "true")
    Files.createDirectories(Paths.get(workDir))
    val calib0 = calibMs()
    val load0 = loadAvg()
    val spark = session(cores.toInt, workDir)
    val ctx = Ctx(spark, dataDir, workDir, secs.toDouble, trace == "1", cores.toInt)
    phase("session up")
    val gc0 = gcMs()
    heapPools.foreach(_.resetPeakUsage())
    val ok =
      try {
        workload match {
          case "stream_backlog" => Backlog.run(ctx)
          case "stream_tail_live" => TailLive.run(ctx)
          case "query_suite" => QuerySuite.run(ctx)
          case other => throw new IllegalArgumentException(s"unknown workload $other")
        }
        true
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.out("error") = s"${e.getClass.getName}: ${e.getMessage}"
          false
      }
    ctx.layers("jvm.gc_ms") = (gcMs() - gc0).toDouble
    ctx.layers("jvm.heap_peak_mb") = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    if (ctx.trace) {
      val spans = s"$workDir/spans.json"
      Trace.write(spans)
      ctx.out("spans_file") = spans
      Trace.selfMsByLayer.foreach { case (l, ms) => ctx.layers(s"trace.self_ms.$l") = ms }
    }
    ctx.out("ok") = ok
    ctx.out("cores") = ctx.cores
    ctx.out("load_avg") = Seq(load0, loadAvg())
    ctx.out("calib_ms") = Seq(calib0, calibMs())
    ctx.out("layers") = ctx.layers
    spark.stop()
    Files.writeString(Paths.get(outJson), Json.value(ctx.out))
    if (!ok) System.exit(1)
  }
}
