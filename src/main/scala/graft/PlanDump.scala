package graft

/** Dev tool: print the formatted physical plan of each named query
  * against one table directory — the source of the `plans/`
  * before/after dumps. Usage: `runMain graft.PlanDump <sfDir> <query>...`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanDump <sfDir> <query>...")
    val spark = SparkEntry.localSession(8)
    for (n <- args.tail) {
      println(s"########## $n")
      SparkEntry.queries(n)(spark, args.head).explain("formatted")
    }
    spark.stop()
  }
}
