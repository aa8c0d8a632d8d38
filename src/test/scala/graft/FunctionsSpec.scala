package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, SimpleFunctionRegistry}
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** The [[Functions]] table is the one registration source: the extension
  * path installs exactly it, and [[Functions.ensure]] installs it once,
  * idempotently, even under concurrent callers. */
class FunctionsSpec extends SparkSpec {

  private val names = Functions.all.map(_.name)

  /** One well-typed argument list per function; path arguments are
    * never read at analysis time. */
  private val sampleArgs = Map(
    "simhash64" -> "array('a', 'b')",
    "rolling_hash64" -> "'abc'",
    "word_shingles" -> "'a b c', 2",
    "minhash_sig" -> "array('a b'), 4",
    "minhash_union" -> "array('1', '2')",
    "hash_embed" -> "array('a'), 8",
    "hyperplane_sig64" -> "array(1.0D, 2.0D)",
    "vec_mean" -> "array(1.0D, 2.0D)",
    "zorder62" -> "1L, 2L",
    "hilbert62" -> "1L, 2L",
    "lang_id" -> "'hello'",
    "quality_score" -> "'hello'",
    "hashed_logit" -> "'hello', '/nonexistent/w.txt'",
    "nfc_norm" -> "'x'",
    "nfkc_norm" -> "'x'",
    "strip_accents" -> "'x'",
    "strip_invisible" -> "'x'",
    "winnow_fingerprints" -> "'abcdef', 3, 2",
    "winnow_fingerprint_pos" -> "'abcdef', 3, 2",
    "multi_match_count" -> "'x', '/nonexistent/p.txt'",
    "bpe_token_count" -> "'x', '/nonexistent/m.txt'",
    "bpe_encode" -> "'x', '/nonexistent/m.txt', '/nonexistent/v.txt'",
    "bpe_encode_ls" -> "'x', '/nonexistent/m.txt', '/nonexistent/v.txt'",
    "max_match_encode" -> "'x', '/nonexistent/v.txt'",
    "max_match_count" -> "'x', '/nonexistent/v.txt'",
    "unigram_encode" -> "'x', '/nonexistent/v.txt'",
    "unigram_cost" -> "'x', '/nonexistent/v.txt'")

  private def lookups(s: SparkSession): Seq[Option[ExpressionInfo]] =
    Functions.all.map(f => s.sessionState.functionRegistry.lookupFunction(f.id))

  test("GraftExtensions injects exactly the Functions table") {
    assert(names.distinct.size == names.size)
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    // registerFunctions is package-private to org.apache.spark.sql
    val registry = classOf[SparkSessionExtensions]
      .getMethod("registerFunctions", classOf[FunctionRegistry])
      .invoke(ext, new SimpleFunctionRegistry)
      .asInstanceOf[FunctionRegistry]
    assert(registry.listFunction().map(_.funcName).sorted == names.sorted)
  }

  test("ensure installs every function in a fresh session, each buildable " +
      "from SQL") {
    val s = spark.newSession()
    Functions.ensure(s)
    Functions.all.zip(lookups(s)).foreach { case (f, info) =>
      assert(info.exists(_ eq f.info), s"${f.name} resolves to $info")
    }
    assert(sampleArgs.keySet == names.toSet)
    sampleArgs.foreach { case (name, args) =>
      assert(s.sql(s"SELECT $name($args) AS v").schema.fieldNames
        .sameElements(Array("v")), name)
    }
  }

  test("repeated and concurrent ensure leave every function the same " +
      "instance") {
    val s = spark.newSession()
    Functions.ensure(s)
    val first = lookups(s)
    Functions.ensure(s)
    assert(lookups(s).zip(first).forall { case (a, b) => a.get eq b.get })

    val t = spark.newSession()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      val runs = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = { start.await(); Functions.ensure(t) }
      }))
      start.countDown()
      runs.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(lookups(t).zip(first).forall { case (a, b) => a.get eq b.get })

    // check-before-add: an entry already present is never replaced
    val u = spark.newSession()
    val f = Functions.all.head
    val foreign = new ExpressionInfo("example.Foreign", f.name)
    u.sessionState.functionRegistry.registerFunction(f.id, foreign, f.builder)
    Functions.ensure(u)
    assert(u.sessionState.functionRegistry.lookupFunction(f.id).get eq foreign)
  }
}
