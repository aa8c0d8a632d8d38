package graft.expressions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MaxMatchSpec extends SparkSpec {

  import spark.implicits._

  private def vocabFile(pieces: Seq[String]): String = {
    val f = Files.createTempFile("graft_maxmatch", ".txt")
    Files.writeString(f, pieces.mkString("\n") + "\n")
    f.toString
  }

  private def encode(texts: Seq[String], path: String): Seq[Seq[Int]] = {
    graft.Functions.ensure(spark)
    texts.toDF("t")
      .select(expr(s"max_match_encode(t, '$path')").as("ids"))
      .as[Seq[Int]].collect().toSeq
  }

  test("greedy longest match wins over shorter in-vocab prefixes") {
    val path = vocabFile(Seq("a", "ab", "abc", "b", "bc"))
    // "abcab": abc (longest at 0) + ab — never a+b+c+a+b
    assert(encode(Seq("abcab"), path) == Seq(Seq(2, 1)))
    // "abba": ab + b + a (no "ba"/"bb" in vocab)
    assert(encode(Seq("abba"), path) == Seq(Seq(1, 3, 0)))
    // "abcbc": abc + bc
    assert(encode(Seq("abcbc"), path) == Seq(Seq(2, 4)))
  }

  test("unknown spans emit -1 per char and never stall") {
    val path = vocabFile(Seq("a", "ab"))
    assert(encode(Seq("axb"), path) == Seq(Seq(0, -1, -1)))
    assert(encode(Seq("zzz"), path) == Seq(Seq(-1, -1, -1)))
    assert(encode(Seq(""), path) == Seq(Seq()))
    // count agrees with encode length, null propagates
    graft.Functions.ensure(spark)
    val got = Seq(Some("axb"), None).toDF("t")
      .select(expr(s"max_match_count(t, '$path')").as("n"))
      .collect().map(r => if (r.isNullAt(0)) -99 else r.getInt(0))
    assert(got.toSeq == Seq(3, -99))
  }

  test("differs from BPE where merge order disagrees with longest match") {
    // MaxMatch takes "abc" whole; BPE with ranks (b+c first) yields a+bc:
    // the two families genuinely disagree on the same vocab surface
    val mm = vocabFile(Seq("a", "bc", "abc"))
    assert(encode(Seq("abc"), mm) == Seq(Seq(2)))
    val merges = Files.createTempFile("graft_mm_merges", ".txt")
    Files.writeString(merges, "b c\n")
    graft.Functions.ensure(spark)
    val bpe = Seq("abc").toDF("t")
      .select(expr(s"bpe_token_count(t, '${merges.toString}')").as("n"))
      .as[Int].head()
    assert(bpe == 2) // a + bc
  }

  test("expression stays codegen'd and scan-local") {
    val path = vocabFile(Seq("a", "ab"))
    graft.Functions.ensure(spark)
    // a real scan, not a literal Seq — the latter constant-folds into a
    // LocalTableScan and no codegen span exists to assert on
    val df = graft.engine.Tables.t(spark, sf001, "documents")
      .select(expr(s"max_match_encode(text, '$path')").as("ids"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"max_match_encode fell out of codegen:\n$plan")
    assert(!plan.contains("Exchange"), s"tokenization must not shuffle:\n$plan")
  }
}
