package graft

object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.localSession(8)
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, false)
    spark.stop()
  }
}
