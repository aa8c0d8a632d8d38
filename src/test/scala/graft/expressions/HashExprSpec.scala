package graft.expressions

import org.apache.spark.sql.functions.expr

import graft.SparkSpec

class RollingHashSpec extends SparkSpec {

  import spark.implicits._

  private val M = (1L << 61) - 1

  private def rh(s: String): Long = {
    graft.Functions.ensure(spark)
    Seq(s).toDF("s").selectExpr("rolling_hash64(s)").head.getLong(0)
  }

  test("polynomial structure: h(s + c) = h(s)*257 + c (mod 2^61-1)") {
    val base = rh("hello")
    val extended = rh("hello!")
    val expected = (BigInt(base) * 257 + '!'.toInt).mod(BigInt(M)).toLong
    assert(extended == expected)
  }

  test("deterministic, content-sensitive, in range") {
    assert(rh("abc") == rh("abc"))
    assert(rh("abc") != rh("acb")) // order matters (unlike set hashes)
    assert(rh("") == 0L)
    val h = rh("some longer document text with multiple words")
    assert(h >= 0 && h < M)
  }

  test("matches a direct BigInt reference implementation") {
    val s = "The quick brown fox"
    val ref = s.getBytes("UTF-8").foldLeft(BigInt(0)) { (h, b) =>
      (h * 257 + (b & 0xff)).mod(BigInt(M))
    }.toLong
    assert(rh(s) == ref)
  }
}

class SimHash64ExprSpec extends SparkSpec {

  import spark.implicits._

  test("simhash64 is usable from SQL after registration and is codegen'd") {
    graft.Functions.ensure(spark)
    val out = Seq(Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("x", "y"))
      .toDF("toks").selectExpr("simhash64(toks) AS sig")
      .as[Long].collect()
    assert(out(0) == out(1))
    assert(out(0) != out(2))
  }

  test("null array → null signature") {
    graft.Functions.ensure(spark)
    val out = Seq(Option.empty[Seq[String]]).toDF("toks")
      .selectExpr("simhash64(toks)").head
    assert(out.isNullAt(0))
  }
}

class MinHashUnionSpec extends SparkSpec {

  import spark.implicits._

  test("aggregate equals per-position min across many partitions") {
    graft.Functions.ensure(spark)
    val rows = (1 to 200).map { i =>
      ("g" + (i % 3), Seq(f"$i%03d-a", f"${300 - i}%03d-b", null))
    }
    val df = rows.toDF("g", "sig").repartition(7) // force partial merges
    val got = df.groupBy("g").agg(expr("minhash_union(sig)").as("u"))
      .as[(String, Seq[String])].collect().toMap
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      g -> (0 until 3).map { i =>
        val vals = rs.map(_._2(i)).filter(_ != null)
        if (vals.isEmpty) null else vals.min
      }
    }
    assert(got.view.mapValues(_.toSeq).toMap ==
      expected.view.mapValues(_.toSeq).toMap)
  }

  test("all-null positions stay null; null input rows are skipped") {
    graft.Functions.ensure(spark)
    val df = Seq(
      ("g", Some(Seq[String]("b", null))),
      ("g", Some(Seq[String]("a", null))),
      ("g", Option.empty[Seq[String]])
    ).toDF("g", "sig")
    val got = df.groupBy("g").agg(expr("minhash_union(sig)").as("u"))
      .as[(String, Seq[String])].collect().head._2
    assert(got == Seq("a", null))
  }

  test("serialization round-trips the partial buffer exactly") {
    val agg = MinHashUnion(
      org.apache.spark.sql.catalyst.expressions.Literal(1))
    val buf = Array("00af", null, "zz", "")
    assert(agg.deserialize(agg.serialize(buf)).toSeq == buf.toSeq)
    assert(agg.deserialize(agg.serialize(Array.empty)).isEmpty)
  }
}

class ZOrder62Spec extends SparkSpec {

  import spark.implicits._

  /** Bit-by-bit reference: x's bit i at position 2i, y's at 2i+1. */
  private def ref(x: Long, y: Long): Long = {
    var out = 0L
    var i = 0
    while (i < 31) {
      out |= ((x >> i) & 1L) << (2 * i)
      out |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    out
  }

  test("interleave matches the bit-by-bit reference on random inputs") {
    val rnd = new scala.util.Random(42)
    val cases = Seq((0L, 0L), (3L, 0L), (0L, 3L), (0x7fffffffL, 0x7fffffffL)) ++
      Seq.fill(200)((rnd.nextLong().abs & 0x7fffffffL,
        rnd.nextLong().abs & 0x7fffffffL))
    cases.foreach { case (x, y) =>
      assert(ZOrderUtil.interleave62(x, y) == ref(x, y), s"($x, $y)")
    }
  }

  test("result is non-negative (valid plain sort key) and SQL-callable") {
    graft.Functions.ensure(spark)
    val out = Seq((0x7fffffffL, 0x7fffffffL), (1L, 2L))
      .toDF("x", "y").selectExpr("zorder62(x, y) AS z").as[Long].collect()
    assert(out.forall(_ >= 0))
    assert(out(1) == (1L | (ZOrderUtil.spread31(2L) << 1)))
  }

  test("locality: quadrant order follows the Z curve") {
    // (x<2^30, y<2^30) quadrant keys sort before any key with y >= 2^30
    val lowQuad = ZOrderUtil.interleave62(0x3fffffffL, 0x3fffffffL)
    val highY = ZOrderUtil.interleave62(0L, 0x40000000L)
    assert(lowQuad < highY)
  }
}

class HashEmbedSpec extends SparkSpec {

  import spark.implicits._
  import org.apache.spark.sql.functions.col

  private def embed(toks: Seq[String], d: Int): Seq[Double] = {
    graft.Functions.ensure(spark)
    Seq(toks).toDF("toks").selectExpr(s"hash_embed(toks, $d)")
      .as[Seq[Double]].head
  }

  test("scatter arithmetic: token multiplicity adds, dims fixed, " +
      "exact integers, matches a direct reference") {
    val a = embed(Seq("cat", "dog"), 16)
    assert(a.length == 16)
    assert(a.map(math.abs).sum == 2.0, "two tokens scatter ±1 each")
    assert(a.forall(v => v == math.rint(v)), "counts must be integers")
    // multiplicity: the same token twice doubles its contribution
    val twice = embed(Seq("cat", "cat"), 16)
    val once = embed(Seq("cat"), 16)
    assert(twice == once.map(_ * 2))
    // order-insensitive (a bag, not a sequence)
    assert(embed(Seq("dog", "cat"), 16) == a)
    // direct reference via Spark's own murmur primitive
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.unsafe.hash.Murmur3_x86_32
    def h(s: String, seed: Int) = {
      val u = UTF8String.fromString(s)
      Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
        u.numBytes(), seed)
    }
    val ref = new Array[Double](16)
    for (t <- Seq("cat", "dog")) {
      val idx = (java.lang.Integer.toUnsignedLong(
        h(t, 0x9747b28c)) % 16).toInt
      ref(idx) += (if ((h(t, 0x85ebca6b) & 1) == 1) 1.0 else -1.0)
    }
    assert(a == ref.toSeq)
  }

  test("bridges text into the vector stack: near-identical documents " +
      "embed near-identically and retrieve each other via hammingTopK") {
    graft.Functions.ensure(spark)
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
      .limit(50)
      .selectExpr("doc_id AS vec_id",
        "hash_embed(split(trim(lower(text)), '\\\\s+'), 64) AS embedding")
    // plant exact copies: hamming 0, cosine 1 — must retrieve at rank 1
    val planted = docs.where(col("vec_id") < 3)
      .selectExpr("vec_id + 100000 AS vec_id", "embedding")
    val top = graft.operators.Similarity.hammingTopK(
        docs.union(planted), docs.where(col("vec_id") < 3), k = 3,
        shortlist = 20)
      .where(col("rank") === 1)
      .select("query_id", "cand_id").as[(Long, Long)].collect().toMap
    for (q <- 0L to 2L)
      assert(top(q) == q + 100000,
        s"query $q: its exact hash-embed copy not at rank 1")
  }

  test("wrong argument shapes fail loudly") {
    graft.Functions.ensure(spark)
    intercept[Exception] {
      Seq(Seq("a")).toDF("toks").selectExpr("hash_embed(toks)").collect()
    }
    intercept[Exception] {
      Seq(Seq("a")).toDF("toks")
        .selectExpr("hash_embed(toks, 0)").collect()
    }
    intercept[Exception] {
      Seq("notarray").toDF("s").selectExpr("hash_embed(s, 16)").collect()
    }
  }
}
