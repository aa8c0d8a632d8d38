package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.{Expressions, Scd2}
import graft.operators.GlobalRank

/** Property-based tests (SURVEY.md §5.2 #3) — ScalaCheck generators feed a
  * single batched DataFrame per property (one Spark job per law, not per
  * sample).
  */
class PropertiesSpec extends SparkSpec {

  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(42L)).get

  private val strGen = Gen.oneOf(
    Gen.alphaNumStr.map(_.take(12)),
    Gen.const(""),
    Gen.oneOf("None", "NaN", "it's", "a b c"))

  test("md5 surrogate keys: deterministic and null-propagating (H41/B14)") {
    val rows = sample(Gen.zip(Gen.option(strGen), Gen.option(Gen.chooseNum(0, 500))), 200)
    val df = rows.toDF("nm", "dur")
    val out = df.select(col("nm"), col("dur"),
      Expressions.surrogateKey(col("nm"), col("dur")).as("k1"),
      Expressions.surrogateKey(col("nm"), col("dur")).as("k2")).collect()
    out.foreach { r =>
      assert(r.isNullAt(2) == (r.isNullAt(0) || r.isNullAt(1)),
        s"null propagation broken for $r")
      assert(r.isNullAt(2) || r.getString(2) == r.getString(3))
      if (!r.isNullAt(2))
        assert(r.getString(2).matches("[0-9a-f]{32}"))
    }
  }

  test("union-dedup is idempotent and commutative (G38)") {
    val rows = sample(Gen.zip(Gen.chooseNum(0, 20), strGen), 150)
    val df = rows.toDF("a", "b")
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).toSet
    val once = df.union(df).distinct()
    assert(canon(once) == canon(df.distinct()))
    val other = sample(Gen.zip(Gen.chooseNum(0, 20), strGen), 77).toDF("a", "b")
    assert(canon(df.union(other).distinct()) ==
      canon(other.union(df).distinct()))
  }

  test("reconcile is a projection fixpoint: reconcile∘reconcile = reconcile (J63)") {
    val rows = sample(Gen.zip(strGen, Gen.chooseNum(-100, 100)), 100)
    val df = rows.toDF("a", "n")
    val declared = StructType(Seq(
      StructField("a", StringType), StructField("n", StringType),
      StructField("missing", DoubleType)))
    val once = Scd2.reconcile(df, declared)
    val twice = Scd2.reconcile(once, declared)
    assert(once.collect().map(_.toSeq).toSeq ==
      twice.collect().map(_.toSeq).toSeq)
  }

  test("GlobalRank is a bijection onto 1..N and respects the order (E35)") {
    val rows = sample(Gen.zip(Gen.chooseNum(0, 50), Gen.chooseNum(0L, 1L << 40)), 300)
      .zipWithIndex.map { case ((v, noise), i) => (i.toLong, v, noise) }
    val df = rows.toDF("id", "v", "noise").repartition(5)
    val ranked = GlobalRank.withRowNumber(df, "r",
        Seq(desc("v"), asc("id")))
      .select("id", "v", "r").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(ranked.map(_._3).sorted.toSeq == (1L to rows.size).toSeq)
    val byRank = ranked.sortBy(_._3)
    byRank.sliding(2).foreach {
      case Array((id1, v1, _), (id2, v2, _)) =>
        assert(v1 > v2 || (v1 == v2 && id1 < id2),
          s"order violated: ($id1,$v1) before ($id2,$v2)")
      case _ =>
    }
  }

  test("bucketed range join equals the naive inequality join (random data)") {
    import graft.operators.RangeJoin
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def ts(offSec: Long) = new java.sql.Timestamp(base + offSec * 1000L)
    // points and intervals over a 6-hour span; interval lengths 0-40 min
    // straddle the 15-min bucket width from below AND above
    val pts = sample(Gen.chooseNum(0L, 21600L), 300).zipWithIndex
      .map { case (o, i) => (i.toLong, ts(o)) }
    val ivs = sample(Gen.zip(Gen.chooseNum(0L, 21600L),
      Gen.chooseNum(0L, 2400L)), 120).zipWithIndex
      .map { case ((s0, len), i) => (i.toLong, ts(s0), ts(s0 + len)) }
    val points = pts.toDF("pid", "pts")
    val intervals = ivs.toDF("iid", "istart", "iend")
    val naive = points.join(intervals,
        col("pts") >= col("istart") && col("pts") < col("iend"))
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val bucketed = RangeJoin.bucketed(points, "pts", intervals,
        "istart", "iend", 900L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(bucketed == naive,
      s"missing=${(naive -- bucketed).take(5)} extra=${(bucketed -- naive).take(5)}")
  }

  test("sessionize matches a single-threaded reference on random traces") {
    import graft.operators.Sessionize
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val rows = sample(Gen.zip(Gen.chooseNum(1L, 5L),
      Gen.chooseNum(0L, 86400L)), 400).zipWithIndex
      .map { case ((u, off), i) =>
        (u, i.toLong, new java.sql.Timestamp(base + off * 1000L)) }
    val gap = 1800L
    val df = rows.toDF("user_id", "event_id", "ts")
    val got = Sessionize.assign(df, Seq("user_id"), "ts", gap,
        Seq(col("event_id")))
      .select("user_id", "event_id", "session_id")
      .as[(Long, Long, Long)].collect()
      .map { case (u, e, s) => (u, e) -> s }.toMap
    // reference: per user, sort by (ts, event_id), split when gap exceeded
    rows.groupBy(_._1).foreach { case (u, evs) =>
      val ordered = evs.sortBy(e => (e._3.getTime, e._2))
      var sid = -1L
      var last = Long.MinValue
      ordered.foreach { case (_, eid, t) =>
        val sec = t.getTime / 1000L
        if (last == Long.MinValue || sec - last > gap) sid += 1
        last = sec
        assert(got((u, eid)) == sid, s"user $u event $eid")
      }
    }
  }

  test("hash split is stable under repartitioning and re-evaluation") {
    val ids = sample(Gen.chooseNum(0L, 1000000L), 300).distinct
    val bucket = expr(
      "instr('0123456789abcdef', substring(md5(CAST(id AS STRING)), 1, 1)) - 1")
    def assigns(parts: Int) = ids.toDF("id").repartition(parts)
      .select(col("id"), bucket.as("b")).as[(Long, Int)].collect().toMap
    assert(assigns(1) == assigns(13))
  }

  test("hashU24 lands in [0, 2^24) and is stable for arbitrary ids") {
    import graft.operators.Sampling
    val ids = sample(Gen.chooseNum(Long.MinValue, Long.MaxValue), 300)
    val out = ids.toDF("id")
      .select(col("id"), Sampling.hashU24(col("id")).as("u"),
        Sampling.hashU24(col("id")).as("u2"))
      .as[(Long, Long, Long)].collect()
    out.foreach { case (id, u, u2) =>
      assert(u >= 0 && u < (1L << 24), s"u24 out of range for $id: $u")
      assert(u == u2, s"u24 not stable for $id")
    }
  }

  test("temperature rates are probabilities and masses are conserved") {
    import graft.operators.Sampling
    val rows = sample(Gen.zip(Gen.oneOf("a", "b", "c", "d"),
      Gen.chooseNum(1, 5000)), 400)
    val df = rows.zipWithIndex
      .map { case ((g, m), i) => (i.toLong, g, m.toLong) }
      .toDF("id", "grp", "mass")
    for (t <- Seq(1.0, 2.0, 5.0); budget <- Seq(100L, 10000L, 10000000L)) {
      val rates = Sampling.temperatureRates(df, "grp", "mass", t, budget)
        .as[(String, Long, Double)].collect()
      val masses = rows.groupBy(_._1).view
        .mapValues(_.map(_._2.toLong).sum).toMap
      rates.foreach { case (g, mass, r) =>
        assert(r >= 0.0 && r <= 1.0, s"rate out of [0,1] for $g at T=$t: $r")
        assert(mass == masses(g), s"mass not conserved for $g")
      }
      // the expected sampled mass never exceeds the budget (up to the cap)
      val expected = rates.map { case (_, m, r) => m * r }.sum
      assert(expected <= budget * 1.001 + rates.map(_._2).sum * 1e-6 ||
        rates.forall(_._3 == 1.0),
        s"expected mass $expected exceeds budget $budget at T=$t")
    }
  }

  test("SCD2 merge preserves the pk row multiset across open rows (J57-J62)") {
    val pks = sample(Gen.chooseNum(0, 30), 60).distinct
    val snapA = pks.map(k => (s"k$k", s"v$k")).toDF("pk", "attr")
    val changed = pks.filter(_ % 3 == 0)
    val snapB = pks.filter(_ % 5 != 0)
      .map(k => (s"k$k", if (k % 3 == 0) s"w$k" else s"v$k")).toDF("pk", "attr")
    val merged = Scd2.merge(Scd2.stamp(snapA, "2024-01-01 00:00:00"), snapB,
      Seq("pk"), Seq("attr"), "2024-02-01 00:00:00")
    val open = merged.filter(col(Scd2.ValidTo) === Scd2.OpenEnd)
      .select("pk").as[String].collect().toSet
    // open rows = exactly snapshot B's pks
    assert(open == pks.filter(_ % 5 != 0).map(k => s"k$k").toSet)
    // every changed pk present in B carries exactly 2 versions
    val counts = merged.groupBy("pk").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    changed.filter(_ % 5 != 0).foreach { k =>
      assert(counts(s"k$k") == 2L, s"k$k should have 2 versions")
    }
  }

  test("ImageCodec encode→parse round-trips arbitrary dimensions") {
    import graft.multimodal.ImageCodec
    val dims = sample(Gen.zip(Gen.chooseNum(1, 100000),
      Gen.chooseNum(1, 100000), Gen.chooseNum(0, 64)), 200)
    dims.foreach { case (w, h, pad) =>
      assert(ImageCodec.parse(ImageCodec.buildPng(w, h, pad))
        .contains(ImageCodec.ImageMeta("png", w, h)), s"png $w x $h")
      assert(ImageCodec.parse(ImageCodec.buildBmp(w, h, pad))
        .contains(ImageCodec.ImageMeta("bmp", w, h)), s"bmp $w x $h")
      // top-down BMP: negative stored height, positive parsed magnitude
      assert(ImageCodec.parseBmp(ImageCodec.buildBmp(w, -h, pad))
        .contains(ImageCodec.ImageMeta("bmp", w, h)), s"bmp $w x -$h")
      // JPEG dims are uint16 — clamp the generator range, same round-trip
      val (jw, jh) = (math.min(w, 0xffff), math.min(h, 0xffff))
      assert(ImageCodec.parse(ImageCodec.buildJpeg(jw, jh, pad))
        .contains(ImageCodec.ImageMeta("jpeg", jw, jh)), s"jpeg $jw x $jh")
    }
  }

  test("BPE count bounds: 1 ≤ tokens(word) ≤ codepoints; text = Σ words") {
    import graft.expressions.{Bpe, BpeUtil}
    val words = sample(Gen.alphaLowerStr
      .map(s => if (s.isEmpty) "x" else s.take(10)), 120)
    val merges = Bpe.learnMerges(words, 50)
    val f = java.nio.file.Files.createTempFile("graft_prop_merges", ".txt")
    java.nio.file.Files.writeString(f,
      merges.map { case (a, b) => s"$a $b" }.mkString("\n") + "\n")
    val path = org.apache.spark.unsafe.types.UTF8String.fromString(f.toString)
    def cnt(s: String) =
      BpeUtil.count(org.apache.spark.unsafe.types.UTF8String.fromString(s), path)
    words.foreach { w =>
      val c = cnt(w)
      assert(c >= 1 && c <= w.codePointCount(0, w.length),
        s"count $c out of bounds for '$w'")
      assert(c == cnt(w), s"nondeterministic count for '$w'")
    }
    val text = words.mkString(" ")
    assert(cnt(text) == words.map(cnt).sum,
      "text count must equal the sum of word counts (whitespace split)")
  }

  test("winnowed fingerprints match a brute-force reference on random text") {
    import graft.expressions.WinnowUtil
    import org.apache.spark.unsafe.types.UTF8String
    val M = BigInt((1L << 61) - 1)
    def brute(s: String, k: Int, w: Int): Seq[Long] = {
      val cps = s.codePoints().toArray
      if (cps.isEmpty) return Seq.empty
      def horner(a: Array[Int]): Long =
        a.foldLeft(BigInt(0))((h, c) => (h * 257 + c) mod M).toLong
      if (cps.length < k) return Seq(horner(cps))
      val hs = cps.sliding(k).map(horner).toArray
      val mins =
        if (hs.length <= w) Seq(hs.min)
        else hs.sliding(w).map(_.min).toSeq
      mins.distinct.sorted
    }
    val texts = sample(Gen.listOfN(40,
      Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString), 80) ++
      Seq("", "ab", "abcabcabcabc")
    texts.foreach { t =>
      val got = WinnowUtil.fingerprints(UTF8String.fromString(t), 5, 4)
        .toLongArray().toSeq
      assert(got == brute(t, 5, 4), s"winnow mismatch on '$t'")
    }
  }

  test("vec_mean equals the scalar mean per dimension, any partitioning") {
    graft.Functions.ensure(spark)
    val rows = sample(Gen.listOfN(4, Gen.chooseNum(-100, 100)), 90)
      .zipWithIndex.map { case (v, i) => (i % 5, v.map(_.toFloat)) }
    val df = rows.toDF("g", "v")
    def means(d: org.apache.spark.sql.DataFrame): Map[(Int, Int), Double] =
      d.groupBy("g").agg(expr("vec_mean(v)").as("m"))
        .select(col("g"), posexplode(col("m")))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          (math.rint(r.getDouble(2) * 1e9) / 1e9)).toMap
    val expected = rows.groupBy(_._1).flatMap { case (g, vs) =>
      (0 until 4).map(j => (g, j) ->
        (math.rint(vs.map(_._2(j).toDouble).sum / vs.size * 1e9) / 1e9))
    }
    assert(means(df) == expected)
    assert(means(df.repartition(11)) == expected,
      "vec_mean diverged under repartitioning beyond 1e-9")
  }

  test("deterministicShuffle is a partition-invariant permutation") {
    import graft.operators.Sampling
    val ids = sample(Gen.chooseNum(0L, 100000L), 300).distinct
    val df = ids.toDF("id")
    val a = Sampling.deterministicShuffle(df, "id", "epoch1")
    val pos = a.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.toSeq == (1L to ids.length).toSeq,
      "positions must be exactly 1..N")
    val b = Sampling.deterministicShuffle(df.repartition(13), "id", "epoch1")
    def m(d: org.apache.spark.sql.DataFrame) = d.select("id", "shuffle_pos")
      .as[(Long, Long)].collect().toMap
    assert(m(a) == m(b), "shuffle order changed under repartitioning")
    // a different epoch seed yields a different order (overwhelmingly)
    val c = Sampling.deterministicShuffle(df, "id", "epoch2")
    assert(m(a) != m(c), "distinct seeds should give distinct orders")
  }

  test("audioFingerprint is partitioning-invariant and decode-stable") {
    import graft.multimodal.Multimodal
    val docs = sample(Gen.chooseNum(0L, 5000L), 60).distinct.toDF("doc_id")
    val pcm = Multimodal.syntheticNearDupPcm(docs)
    def fps(df: org.apache.spark.sql.DataFrame) =
      Multimodal.audioFingerprint(df).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = fps(pcm)
    val b = fps(pcm.repartition(13))
    assert(a == b, "fingerprints changed under repartitioning")
    assert(a.nonEmpty)
  }

  test("videoNearDups: containment gate is threshold-monotone") {
    import graft.multimodal.Multimodal
    val docs = sample(Gen.chooseNum(0L, 3000L), 40).distinct.toDF("doc_id")
    val hashes = Multimodal.gifFrameContentHashes(
      Multimodal.syntheticNearDupAnimations(docs))
    def pairs(pct: Int) = Multimodal.videoNearDups(hashes, pct)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val loose = pairs(40)
    val strict = pairs(90)
    assert(strict.subsetOf(loose),
      "raising the containment threshold must only remove pairs")
  }

  test("paretoFrontier is an anti-chain that dominates every dropped row") {
    import graft.operators.Curation
    val pts = sample(Gen.zip(Gen.chooseNum(0, 40), Gen.chooseNum(0, 40)),
      250).zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val df = pts.toDF("id", "x", "y")
    val front = Curation.paretoFrontier(df, "x", "y")
      .select("id", "x", "y").as[(Long, Int, Int)].collect()
    def dominates(a: (Int, Int), b: (Int, Int)) =
      a._1 >= b._1 && a._2 >= b._2 && (a._1 > b._1 || a._2 > b._2)
    // no frontier point dominates another (anti-chain)
    for (a <- front; b <- front)
      assert(!dominates((a._2, a._3), (b._2, b._3)),
        s"frontier point $a dominates frontier point $b")
    // every dropped point is dominated by some frontier point
    val kept = front.map(_._1).toSet
    for ((id, x, y) <- pts if !kept.contains(id))
      assert(front.exists(f => dominates((f._2, f._3), (x, y))),
        s"dropped point ($id, $x, $y) is dominated by nothing")
  }

  test("rocAuc: bounded in [0,1] and label-flip antisymmetric") {
    import graft.operators.Eval
    val rows = sample(Gen.zip(Gen.oneOf(true, false),
      Gen.chooseNum(0L, 30L)), 400)
    // guarantee both classes exist
    val df = (rows :+ ((true, 5L)) :+ ((false, 7L))).toDF("label", "score")
    val auc = Eval.rocAuc(df, "label", "score").collect().head.getDouble(3)
    assert(auc >= 0.0 && auc <= 1.0, s"auc out of range: $auc")
    val flipped = df.select((!col("label")).as("label"), col("score"))
    val auc2 = Eval.rocAuc(flipped, "label", "score")
      .collect().head.getDouble(3)
    // flip symmetry: auc + auc(flipped) == 1 (exact for the rank-sum
    // identity with average-rank ties; 4-dp rounding adds <= 1e-4)
    assert(math.abs(auc + auc2 - 1.0) <= 1.0001e-4,
      s"flip symmetry violated: $auc + $auc2")
  }

  test("waterfill: feasible, capped, and maximal at theta* + 1") {
    import graft.operators.Curation
    val ws = sample(Gen.chooseNum(0L, 500L), 40).zipWithIndex
      .map { case (w, i) => (s"d$i", w + 1) } // positive weights
    val total = ws.map(_._2).sum
    for (budget <- Seq(total / 7, total / 2, total + 10)) {
      val out = Curation.waterfill(ws.toDF("dom", "w0"), "dom", "w0",
          budget).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val allocSum = out.map(_._3).sum
      assert(allocSum <= budget, s"overspent: $allocSum > $budget")
      out.foreach { case (d, w, a) =>
        assert(a <= w && a >= 0, s"alloc out of range for $d: $a vs $w")
      }
      // maximality: raising the level by 1 must break the budget
      // (unless every domain is already kept whole)
      val theta = out.collect { case (_, w, a) if a < w => a }
        .sorted.lastOption
      theta.foreach { th =>
        val atPlus1 = out.map { case (_, w, _) => math.min(w, th + 1) }.sum
        assert(atPlus1 > budget,
          s"theta* $th not maximal: level ${th + 1} still fits")
      }
    }
  }
}
