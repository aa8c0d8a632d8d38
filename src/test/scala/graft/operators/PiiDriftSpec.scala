package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.PiiFunctions

class PiiFunctionsSpec extends SparkSpec {

  import spark.implicits._

  test("luhnValid agrees with the ISO 7812 reference on known numbers") {
    // 4532015112830366 / 79927398713 (the textbook example) are valid;
    // single-digit perturbations are not; all-zeros is trivially valid
    val cases = Seq(
      ("4532015112830366", true), ("79927398713", true),
      ("4532015112830367", false), ("79927398710", false),
      ("1234567812345670", true), ("0000000000000000", true))
    val got = cases.map(_._1).toDF("d")
      .select(col("d"), PiiFunctions.luhnValid(col("d")).as("v"))
      .as[(String, Boolean)].collect().toMap
    for ((num, expect) <- cases)
      assert(got(num) == expect, s"luhn($num) = ${got(num)}, want $expect")
  }

  test("detect counts each category once and only where planted") {
    val docs = Seq(
      (1L, "plain text with nothing in it"),
      (2L, "mail a@b.org and b@c.net twice"),
      (3L, "call +1 415 555 0137 now"),
      (4L, "host 10.0.0.7 but not 256.1.1.1 or 1.2.3"),
      (5L, "card 4532015112830366 ok"),     // Luhn-valid
      (6L, "card 4532015112830367 bad"),    // card-shaped, invalid
      (7L, "short 123456789012 run")        // 12 digits: not card-shaped
    ).toDF("doc_id", "text")
    val out = PiiFunctions.detect(docs, "doc_id", "text")
      .as[(Long, Int, Int, Int, Int, Int, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 0, 0, 0, 0, 0, false)))
    assert(out(2L) == ((2L, 2, 0, 0, 0, 0, true)))
    assert(out(3L) == ((3L, 0, 1, 0, 0, 0, true)))
    // 256.1.1.1 must NOT match (octet > 255), nor the 3-octet 1.2.3
    assert(out(4L) == ((4L, 0, 0, 1, 0, 0, true)))
    assert(out(5L) == ((5L, 0, 0, 0, 1, 1, true)))
    // card-shaped but Luhn-invalid: counted as card_like, NOT as valid,
    // and does not flag the document on its own
    assert(out(6L) == ((6L, 0, 0, 0, 1, 0, false)))
    assert(out(7L) == ((7L, 0, 0, 0, 0, 0, false)))
  }

  test("kAnonymity keeps NULL quasi-identifier rows visible in the " +
      "audit (null-safe join)") {
    // 3 rows share (NULL, "x") — a k=3-OK group only if NULLs group and
    // JOIN; 1 lone (NULL, NULL) row must surface as k_ok=false, and the
    // pre-fix plain equi-join dropped all four rows from the audit
    val df = Seq(
      (1L, Option.empty[String], Some("x")),
      (2L, Option.empty[String], Some("x")),
      (3L, Option.empty[String], Some("x")),
      (4L, Option.empty[String], Option.empty[String]),
      (5L, Some("a"), Some("x")),
      (6L, Some("a"), Some("x"))).toDF("id", "q1", "q2")
    val out = Curation.kAnonymity(df, Seq("q1", "q2"), 3)
      .select("id", "group_n", "k_ok")
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, n, ok) => id -> ((n, ok)) }.toMap
    assert(out.size == 6, s"audit must keep every input row, got $out")
    assert(out(1L) == ((3L, true)) && out(2L) == ((3L, true)) &&
      out(3L) == ((3L, true)))
    assert(out(4L) == ((1L, false)), "all-NULL row must fail, not vanish")
    assert(out(5L) == ((2L, false)) && out(6L) == ((2L, false)))
  }

  test("paretoFrontier: skyline with ties, duplicates, and x-groups") {
    val df = Seq(
      (1L, 0, 9),  // frontier (max y)
      (2L, 1, 5),  // dominated by (2,5): x strictly less, y equal
      (3L, 2, 5),  // frontier
      (4L, 3, 3),  // frontier (duplicate point — both kept)
      (5L, 3, 3),  // frontier (duplicate point — both kept)
      (6L, 3, 1),  // dominated within x-group by (3,3)
      (7L, 4, 1),  // frontier
      (8L, 1, 1)   // dominated by many
    ).toDF("id", "x", "y")
    val got = Curation.paretoFrontier(df, "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L, 3L, 4L, 5L, 7L), s"got: $got")
  }

  test("paretoFrontier: null coordinates drop, single point survives") {
    val df = Seq(
      (1L, Some(5), Some(5)),
      (2L, None, Some(9)),
      (3L, Some(9), None)).toDF("id", "x", "y")
    val got = Curation.paretoFrontier(df, "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L), s"got: $got")
  }

  test("waterfill: level binds big domains, small ones keep everything") {
    // weights 1, 5, 10; budget 9 → f(4) = 1+4+4 = 9 → θ* = 4
    val df = Seq(("a", 1L), ("b", 5L), ("c", 10L)).toDF("dom", "w0")
    val got = Curation.waterfill(df, "dom", "w0", budget = 9L)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map("a" -> ((1L, 1L)), "b" -> ((5L, 4L)),
      "c" -> ((10L, 4L))), s"got: $got")
  }

  test("waterfill: budget above total keeps every domain whole") {
    val df = Seq(("a", 3L), ("b", 7L)).toDF("dom", "w0")
    val got = Curation.waterfill(df, "dom", "w0", budget = 100L)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got == Map("a" -> 3L, "b" -> 7L), s"got: $got")
  }

  test("topPercentPerDomain keeps the same fraction of each domain") {
    val df = (1 to 10).map(i => ("x", i.toLong, i * 10)) ++
      (1 to 5).map(i => ("y", 100L + i, i))
    val got = Curation.topPercentPerDomain(df.toDF("dom", "id", "score"),
        "dom", 40, Seq(col("score").desc, col("id").asc))
      .select("id").as[Long].collect().toSet
    // x: top 4 of 10 by score → ids 7,8,9,10; y: top 2 of 5 → 104,105
    assert(got == Set(7L, 8L, 9L, 10L, 104L, 105L), s"got: $got")
  }

  test("pii detection plans scan-local (no exchange, codegen'd)") {
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
    val plan = PiiFunctions.detect(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"pii detect must not shuffle:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("UDF"),
      s"pii detect routed through a UDF:\n$plan")
  }
}

class MultiMatchSpec extends SparkSpec {

  import spark.implicits._

  private def phraseFile(name: String, phrases: Seq[String]): String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), name)
    java.nio.file.Files.write(p, phrases.mkString("\n").getBytes("UTF-8"))
    p.toString
  }

  /** Brute-force reference: overlapping occurrences of every phrase. */
  private def brute(text: String, phrases: Seq[String]): Long =
    phrases.map { p =>
      (0 to text.length - p.length)
        .count(i => text.regionMatches(i, p, 0, p.length)).toLong
    }.sum

  test("multi_match_count equals brute force incl. overlaps and suffixes") {
    graft.Functions.ensure(spark)
    val phrases = Seq("aba", "ba", "a", "abab")
    val path = phraseFile("graft_mm_spec.txt", phrases)
    val texts = Seq("ababa", "aaaa", "", "xyz", "abababab", "ba",
      "the batch ababa dup")
    val got = texts.toDF("t")
      .select(graft.expressions.MultiMatch.countCol(col("t"), path))
      .as[Long].collect().toSeq
    val want = texts.map(brute(_, phrases))
    assert(got == want, s"AC $got != brute $want")
    // "ababa": a@1,3,5 + ba@2,4 + aba@1,3 + abab@1 = 3+2+2+1 = 8
    assert(want.head == 8L)
    // null text propagates null, not 0
    assert(texts.take(1).toDF("t")
      .select(graft.expressions.MultiMatch.countCol(
        org.apache.spark.sql.functions.lit(null).cast("string"), path))
      .collect().head.isNullAt(0))
  }

  test("multi_match_count stays inside whole-stage codegen") {
    graft.Functions.ensure(spark)
    val path = phraseFile("graft_mm_spec2.txt", Seq("the", "batch"))
    val df = graft.engine.Tables.t(spark, sf001, "documents")
      .select(graft.expressions.MultiMatch.countCol(lower(col("text")),
        path).as("n"))
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"multi_match_count fell out of codegen:\n$plan")
    assert(!plan.contains("Exchange"), s"multi_match must not shuffle:\n$plan")
  }
}

class DriftMonitorSpec extends SparkSpec {

  import spark.implicits._

  private def docs(rows: (Long, String, Boolean)*) =
    rows.toSeq.toDF("id", "text", "in_a")

  test("identical slices have zero divergence and zero drift") {
    val d = docs(
      (1L, "alpha beta gamma", true), (2L, "alpha beta gamma", false),
      (3L, "beta beta alpha", true), (4L, "beta beta alpha", false))
    val js = DriftMonitor.jsDivergence(d, "text", col("in_a"))
      .select("js_micro").as[Long].head()
    assert(js == 0L, s"identical slices must give JS 0, got $js micro")
    val top = DriftMonitor.topDrift(d, "text", col("in_a"), 10)
      .select("drift_x").as[Long].collect()
    assert(top.forall(_ == 0L), "identical slices must have zero drift_x")
  }

  test("disjoint vocabularies approach ln 2; drifted token ranks first") {
    val d = docs(
      (1L, "aa aa aa aa", true), (2L, "bb bb bb bb", false))
    val js = DriftMonitor.jsDivergence(d, "text", col("in_a"))
      .select("js_micro").as[Long].head()
    // ln 2 = 0.693147… nats = 693147 micro-nats; per-token rounding can
    // move the sum by at most vocab/2 micro
    assert(math.abs(js - 693147L) <= 1,
      s"disjoint slices must give ~ln2, got $js micro")
    val d2 = docs(
      (1L, "same same drift drift drift", true),
      (2L, "same same still", false))
    val top = DriftMonitor.topDrift(d2, "text", col("in_a"), 1)
      .select("token").as[String].head()
    assert(top == "drift", s"expected 'drift' to rank first, got $top")
  }

  test("PSI: identical slices score ~0, a shifted slice scores higher " +
      "than a mildly drifted one, merged counts read the same as one pass") {
    val same = docs(
      (1L, "alpha beta gamma", true), (2L, "alpha beta gamma", false))
    val psi0 = DriftMonitor.psiFromCounts(
        DriftMonitor.tokenCounts(same, "text", col("in_a")))
      .select("psi_micro").as[Long].head()
    assert(psi0 == 0L, s"identical slices must give PSI 0, got $psi0")
    def psiOf(d: org.apache.spark.sql.DataFrame) =
      DriftMonitor.psiFromCounts(
          DriftMonitor.tokenCounts(d, "text", col("in_a")))
        .select("psi_micro").as[Long].head()
    val mild = psiOf(docs(
      (1L, "aa aa aa bb", true), (2L, "aa aa bb bb", false)))
    val wild = psiOf(docs(
      (1L, "aa aa aa aa", true), (2L, "bb bb bb bb", false)))
    assert(mild > 0L && wild > mild,
      s"PSI must order drift severity: mild=$mild wild=$wild")
    // incremental contract: counts merged from two batches read the same
    val d = graft.engine.Tables.t(spark, sf001, "documents").limit(100)
    val pred = col("lang") === "en"
    val full = DriftMonitor.psiFromCounts(
      DriftMonitor.tokenCounts(d, "text", pred)).collect().toSeq
    val merged = DriftMonitor.psiFromCounts(DriftMonitor.mergeCounts(
      DriftMonitor.tokenCounts(d.where(col("doc_id") % 2 === 0), "text", pred),
      DriftMonitor.tokenCounts(d.where(col("doc_id") % 2 === 1), "text", pred)
    )).collect().toSeq
    assert(full == merged, "PSI off merged counts diverged from one pass")
  }

  test("jsDivergence is partitioning-invariant (integer quantization)") {
    val base = graft.engine.Tables.t(spark, sf001, "documents").limit(80)
    val a = DriftMonitor.jsDivergence(base.repartition(1), "text",
      col("lang") === "en").collect().toSeq
    val b = DriftMonitor.jsDivergence(base.repartition(7), "text",
      col("lang") === "en").collect().toSeq
    assert(a == b)
  }

  test("mergeCounts folds batches in any order to the full-pass readout") {
    val docs = graft.engine.Tables.t(spark, sf001, "documents").limit(90)
    val pred = col("lang") === "en"
    val parts = (0 to 2).map(r => DriftMonitor.tokenCounts(
      docs.where(pmod(col("doc_id"), lit(3)) === r),
      "text", pred))
    val leftFold = DriftMonitor.jsFromCounts(DriftMonitor.mergeCounts(
      DriftMonitor.mergeCounts(parts(0), parts(1)), parts(2)))
      .collect().toSeq
    val rightFold = DriftMonitor.jsFromCounts(DriftMonitor.mergeCounts(
      parts(2), DriftMonitor.mergeCounts(parts(1), parts(0))))
      .collect().toSeq
    val full = DriftMonitor.jsDivergence(docs, "text", pred)
      .collect().toSeq
    assert(leftFold == full, "left fold differs from the one-pass readout")
    assert(rightFold == full, "fold order changed the readout")
  }

  test("empty slice fails loudly instead of emitting NaN") {
    val d = docs((1L, "only one side", true))
    val e = intercept[IllegalArgumentException] {
      DriftMonitor.jsDivergence(d, "text", col("in_a")).collect()
    }
    assert(e.getMessage.contains("both slices"))
  }
}
