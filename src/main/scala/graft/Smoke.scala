package graft

/** Dev smoke runner mirroring the driver's t1 check: SparkEntry.entry at
  * sf0.001 must return >0 rows. Prints the count and the first rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows = ${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
