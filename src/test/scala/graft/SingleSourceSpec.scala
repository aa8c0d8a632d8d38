package graft

/** Session config, SQL-function registration and the persisted-index
  * lifecycle each have one home in `src/main`: [[Sessions]] builds every
  * session, the [[Functions]] table (read by [[GraftExtensions]])
  * registers every function, and [[graft.operators.PersistedIndex]] owns
  * the ledger, batch-dir fold and vacuum of every index kind,
  * [[graft.operators.OperatorCaches]] registers every pass-scoped pin and
  * [[graft.queries.SessionMemo]] holds every cross-gate memo, and
  * [[graft.sources.Formats]] publishes every staged rewrite (stage name,
  * swap, refresh). A second builder, registration path, lifecycle copy,
  * cache seam or publish step fails here before it drifts. */
class SingleSourceSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def read(dir: String): Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(new java.io.File(dir)).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getName -> src.mkString finally src.close()
    }
  }

  private lazy val sources = read("src/main/scala")

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

  test("pins go through OperatorCaches and cross-gate memos through " +
      "SessionMemo: no per-object registry, release or memo remains") {
    for (needle <- Seq("extends TrackedCaches", "def releaseCaches",
        "def evictCaches", "class SessionMemo"))
      assert(filesWith(needle).isEmpty,
        s"$needle in ${filesWith(needle)}")
    val memos = read("src/main/scala/graft/queries").collect {
      case (name, text) if text.contains("getOrElseUpdate(") => name
    }.toSet
    assert(memos.subsetOf(Set("SessionMemo.scala", "IndexFixtures.scala")),
      s"a memo map outside SessionMemo: $memos")
  }

  test("every staged rewrite publishes through Formats: no swap call or " +
      "stage-dir name outside Formats.scala") {
    for (needle <- Seq("swapInto(", ".staging\"", ".compact\"",
        ".vacuum\"", ".vacuumempty\"", ".recenter\"", "\".cc\"",
        "\".drift\"", "\".merge\""))
      assert(filesWith(needle).subsetOf(Set("Formats.scala")),
        s"$needle outside Formats.scala: ${filesWith(needle)}")
  }
}
