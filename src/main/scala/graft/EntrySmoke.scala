package graft
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.harness()
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, false)
    spark.stop()
  }
}
