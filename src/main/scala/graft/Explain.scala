package graft

/** Dev plan inspector: prints the formatted physical plan for one or more
  * catalog queries — the iterate-on-the-plan loop of SURVEY.md §4.
  *
  * Usage: runMain graft.Explain <sfDir> <queryName> [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.local(4)
    val names = if (args.length > 1) args.tail.toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
