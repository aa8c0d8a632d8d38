package graft.expressions

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.functions.TextFunctions

/** Pins the codegen'd lang_id / quality_score expressions to the
  * higher-order-function formulations they replaced (and that the DuckDB
  * oracles replay): same tokens, same stopword inventories, same IEEE op
  * order, same rounding — byte for byte, including on the real corpus. */
class TextScoreSpec extends SparkSpec {

  import spark.implicits._

  test("lang_id and quality_score match the HOF formulations on the corpus") {
    graft.Functions.ensure(spark)
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
    val both = docs
      .select(col("doc_id"),
        TextFunctions.langId(col("text")).as("hof_lang"),
        TextFunctions.qualityScore(col("text")).as("hof_q"),
        col("text"))
      .selectExpr("doc_id", "hof_lang", "hof_q",
        "lang_id(text) AS fast_lang", "quality_score(text) AS fast_q")
      .as[(Long, String, Double, String, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, hl, hq, fl, fq) =>
      assert(hl == fl, s"lang mismatch for doc $id: $hl vs $fl")
      assert(hq == fq, s"quality mismatch for doc $id: $hq vs $fq")
    }
  }

  test("edge shapes: empty, whitespace-only, ties, multi-language") {
    graft.Functions.ensure(spark)
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "\t\n mixed \t whitespace "),
      (4L, "the la der le zh"),          // cross-language stopwords
      (5L, "el la de que y en un"),      // spanish
      (6L, "xyzzy plugh qwerty"),        // no stopwords -> und
      (7L, "the the the the"))
      .toDF("id", "text")
    val both = docs
      .select(col("id"),
        TextFunctions.langId(col("text")).as("hof_lang"),
        TextFunctions.qualityScore(col("text")).as("hof_q"),
        col("text"))
      .selectExpr("id", "hof_lang", "hof_q",
        "lang_id(text) AS fast_lang", "quality_score(text) AS fast_q")
      .as[(Long, String, Double, String, Double)].collect()
    both.foreach { case (id, hl, hq, fl, fq) =>
      assert(hl == fl, s"lang mismatch for doc $id: $hl vs $fl")
      assert(hq == fq, s"quality mismatch for doc $id: $hq vs $fq")
    }
    val langs = both.map(r => r._1 -> r._4).toMap
    assert(langs(6L) == "und")
    assert(langs(7L) == "en")
  }
}
