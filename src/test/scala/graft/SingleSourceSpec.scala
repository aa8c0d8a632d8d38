package graft

/** Session config and SQL-function registration each have one home in
  * `src/main`: [[Sessions]] builds every session and the [[Functions]]
  * table (read by [[GraftExtensions]]) registers every function. A second
  * builder or registration path fails here before its config drifts. */
class SingleSourceSpec extends org.scalatest.funsuite.AnyFunSuite {

  private lazy val sources: Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File("src/main/scala")).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getName -> src.mkString finally src.close()
    }
  }

  private def filesWith(needle: String): Set[String] =
    sources.collect { case (name, text) if text.contains(needle) => name }
      .toSet

  test("src/main scan sees the sources") {
    assert(sources.size > 100)
  }

  test("SparkSession.builder appears only in Sessions.scala") {
    assert(filesWith("SparkSession.builder") == Set("Sessions.scala"))
  }

  test("functions register only from Functions.scala and " +
      "GraftExtensions.scala") {
    assert((filesWith("registerFunction") ++ filesWith("injectFunction"))
      == Set("Functions.scala", "GraftExtensions.scala"))
  }

  test("no per-object register method remains") {
    assert(filesWith("def register(spark").isEmpty)
  }
}
