package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (dev only)]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val intended = SparkEntry.queries.keys.toSeq.sorted
      .filter(name => only.forall(_.contains(name)))
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    intended.foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) =
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
            .take(500)
      }
      // the dump is written — drop this query's per-call operator caches
      // so 200+ gates don't pile pinned blocks into one session
      graft.operators.OperatorCaches.releaseAll(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // the oracle map is ALWAYS written in full, filter or not: a filtered
    // re-run into a previously-full outDir must not shrink the checked
    // set (a 1-entry oracle over a 146-dump dir would read as all-green
    // while checking almost nothing); the checkers skip-with-notice any
    // oracle entry whose dump is absent instead
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the INTENDED query list (post-filter): lets the checkers tell a
    // deliberately-filtered run (skip those entries) from a query that
    // CRASHED and wrote no dump (hard failure — previously the two were
    // indistinguishable and a crashed query read as green)
    Files.writeString(Paths.get(s"$outDir/intended_queries.json"),
      intended.map(q).mkString("[", ",", "]"))
    // crashed queries as a first-class round artifact: name → exception.
    // A gate that fails at analysis must show up as an `err` row in the
    // correctness diff, never as silent absence (the r8 failure mode:
    // 7 crashed gates simply had no row and read as "not run").
    Files.writeString(Paths.get(s"$outDir/errors.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
