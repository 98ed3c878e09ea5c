package graft

/** t1 smoke analog: run the flagship entry() exactly as the driver does
  * and print the row count. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session("WARN")
    val df = SparkEntry.entry(spark)
    df.show(5, truncate = false)
    println(s"entry rows: ${df.count()}")
    spark.stop()
  }
}
