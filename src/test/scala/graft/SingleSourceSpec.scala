package graft

/** Session config, SQL-function registration and the persisted-index
  * lifecycle each have one home in `src/main`: [[Sessions]] builds every
  * session, the [[Functions]] table (read by [[GraftExtensions]])
  * registers every function, and [[graft.operators.PersistedIndex]] owns
  * the ledger, batch-dir fold and vacuum of every index kind. A second
  * builder, registration path or lifecycle copy fails here before it
  * drifts. */
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

  test("ledger, fold and vacuum helpers are called only from " +
      "PersistedIndex.scala, the fold and their own files") {
    for ((needle, allowed) <- Seq(
        "TombstoneLedger.reset" -> "PersistedIndex.scala",
        "TombstoneLedger.files" -> "PersistedIndex.scala",
        "IndexBatches.foldAndPurge" -> "PersistedIndex.scala",
        "SelectiveVacuum(" -> "IndexBatches.scala")) {
      val own = needle.takeWhile(c => c != '.' && c != '(') + ".scala"
      assert(filesWith(needle).subsetOf(Set(allowed, own)),
        s"$needle outside ${Set(allowed, own)}: ${filesWith(needle)}")
    }
  }

  test("the six index kinds write no partitioned dataset and derive no " +
      "slices themselves: both live in IndexBatches and PersistedIndex") {
    val kinds = Set("Similarity.scala", "IvfPq.scala", "SketchIndex.scala",
      "MaxSim.scala", "Bm25.scala", "PhraseSearch.scala")
    val texts = sources.filter { case (name, _) => kinds(name) }
    assert(texts.map(_._1).toSet == kinds)
    val writerPartitionBy = """(?<!Window\.)partitionBy\(""".r
    for ((name, text) <- texts) {
      assert(writerPartitionBy.findFirstIn(text).isEmpty,
        s"$name partitions a dataset write itself")
      assert(!text.contains("defaultParallelism /"),
        s"$name derives a write's slices itself")
    }
  }

  test("the index lifecycle is defined only in PersistedIndex.scala") {
    for (needle <- Seq("def vacuumIndex", "def compactIndexBatches",
        "def deleteFromIndex", "var vacuumAfterSnapshotHook"))
      assert(filesWith(needle) == Set("PersistedIndex.scala"),
        s"$needle outside the trait: ${filesWith(needle)}")
  }
}
