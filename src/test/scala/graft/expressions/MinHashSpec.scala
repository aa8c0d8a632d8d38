package graft.expressions

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.functions.TextFunctions

/** Pins the codegen'd MinHash expressions to the higher-order-function
  * formulation they replaced (and that the DuckDB oracle replays): same
  * shingles, same md5-min signatures, byte for byte. */
class MinHashSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog today"),
    (2L, "the quick  brown\tfox jumps over the lazy dog today"), // ws noise
    (3L, "short text"),                                          // < k tokens
    (4L, ""),                                                    // empty
    (5L, "repeat repeat repeat repeat repeat repeat repeat"),    // dup shingles
    (6L, "Unrelated content entirely different words here okay"))

  private def df = docs.toDF("id", "text")

  test("word_shingles matches the HOF shingles formulation exactly") {
    graft.Functions.ensure(spark)
    val both = df.selectExpr("id", "text", "word_shingles(text, 5) AS fast")
      .join(df.select(col("id"),
        TextFunctions.shingles(col("text"), 5).as("hof")), "id")
      .select("id", "fast", "hof")
      .as[(Long, Seq[String], Seq[String])].collect()
    assert(both.length == docs.length)
    both.foreach { case (id, fast, hof) =>
      assert(fast == hof, s"shingle mismatch for doc $id")
    }
  }

  test("minhash_sig matches the HOF md5-min signature exactly") {
    graft.Functions.ensure(spark)
    val both = df
      .select(col("id"), TextFunctions.shingles(col("text"), 5).as("sh"))
      .select(col("id"),
        TextFunctions.minhashSignature(col("sh"), 8).as("hof"))
      .join(df.selectExpr("id",
        "minhash_sig(word_shingles(text, 5), 8) AS fast"), "id")
      .select("id", "fast", "hof")
      .as[(Long, Seq[String], Seq[String])].collect()
    assert(both.length == docs.length)
    both.foreach { case (id, fast, hof) =>
      assert(fast == hof, s"signature mismatch for doc $id")
    }
  }

  test("signatures are stable identifiers: equal docs, equal sigs") {
    graft.Functions.ensure(spark)
    val sigs = df.selectExpr("id",
        "minhash_sig(word_shingles(text, 5), 8) AS sig")
      .as[(Long, Seq[String])].collect().toMap
    assert(sigs(1L) == sigs(2L)) // whitespace-only difference
    assert(sigs(1L) != sigs(6L))
    assert(sigs.values.forall(_.length == 8))
  }
}
