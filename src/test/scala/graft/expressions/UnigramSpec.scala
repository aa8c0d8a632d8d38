package graft.expressions

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class UnigramSpec extends SparkSpec {

  import spark.implicits._

  private def vocabFile(pieces: Seq[(String, Long)]): String = {
    val f = Files.createTempFile("graft_unigram", ".txt")
    Files.writeString(f,
      pieces.map { case (p, c) => s"$p\t$c" }.mkString("\n") + "\n")
    f.toString
  }

  private def encode(texts: Seq[String], path: String): Seq[Seq[Int]] = {
    graft.Functions.ensure(spark)
    texts.toDF("t")
      .select(expr(s"unigram_encode(t, '$path')").as("ids"))
      .as[Seq[Int]].collect().toSeq
  }

  test("viterbi global minimum beats the greedy longest match") {
    // MaxMatch on "abc" grabs "abc"; the unigram costs make ab+c cheaper
    // (10+5 < 100) — the DP must look past the longest first piece
    val path = vocabFile(Seq("ab" -> 10L, "abc" -> 100L, "c" -> 5L))
    assert(encode(Seq("abc"), path) == Seq(Seq(0, 2)))
    // but when the whole piece IS cheapest (96+5 > 100), it wins
    val path2 = vocabFile(Seq("ab" -> 96L, "abc" -> 100L, "c" -> 5L))
    assert(encode(Seq("abc"), path2) == Seq(Seq(1)))
  }

  test("exact cost ties prefer fewer tokens; cost sums exactly") {
    val path = vocabFile(Seq("a" -> 5L, "b" -> 5L, "ab" -> 10L))
    // [ab]=10 (1 token) vs [a,b]=10 (2 tokens): fewer tokens wins
    assert(encode(Seq("ab"), path) == Seq(Seq(2)))
    graft.Functions.ensure(spark)
    val costs = Seq("ab", "aab", "xy").toDF("t")
      .select(expr(s"unigram_cost(t, '$path')").as("c"))
      .as[Long].collect().toSeq
    assert(costs(0) == 10L)
    assert(costs(1) == 15L) // a + ab
    assert(costs(2) == 2 * UnigramUtil.UnkCost)
  }

  test("unknown chars segment as -1 without derailing the rest") {
    val path = vocabFile(Seq("ab" -> 10L, "a" -> 7L))
    assert(encode(Seq("abzab"), path) == Seq(Seq(0, -1, 0)))
    assert(encode(Seq(""), path) == Seq(Seq()))
  }

  test("learnVocab (Viterbi-EM) finds the planted pieces, deterministic") {
    val sample = Seq("thethethe", "andandand", "theand", "andthe")
    val v1 = Unigram.learnVocab(sample, vocabSize = 12, maxPieceLen = 3)
    val v2 = Unigram.learnVocab(sample, vocabSize = 12, maxPieceLen = 3)
    assert(v1 == v2, "EM must be bit-deterministic")
    val pieces = v1.map(_._1).toSet
    assert(pieces.contains("the") && pieces.contains("and"),
      s"planted pieces not learned: $pieces")
    // the learned vocab actually drives the expression: 6 chars → 2 pieces
    val path = vocabFile(v1)
    assert(encode(Seq("theand"), path).head.length == 2)
  }

  test("expression stays codegen'd and scan-local") {
    val path = vocabFile(Seq("a" -> 5L))
    graft.Functions.ensure(spark)
    val df = graft.engine.Tables.t(spark, sf001, "documents")
      .select(expr(s"unigram_cost(text, '$path')").as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"unigram_cost fell out of codegen:\n$plan")
    assert(!plan.contains("Exchange"), s"tokenization must not shuffle:\n$plan")
  }
}
