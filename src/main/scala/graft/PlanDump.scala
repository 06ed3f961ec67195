package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan of each named query
  * against one table directory — the source of the `plans/`
  * before/after dumps. Usage: `runMain graft.PlanDump <sfDir> <query>...`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <query>...")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args.tail) {
      println(s"########## $n")
      SparkEntry.queries(n)(spark, args.head).explain("formatted")
    }
    spark.stop()
  }
}
