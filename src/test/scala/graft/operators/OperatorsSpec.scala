package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class GlobalRankSpec extends SparkSpec {

  import spark.implicits._

  test("matches single-partition row_number on a total order") {
    val df = (1 to 500).map(i => (i, (i * 37) % 211)).toDF("id", "v")
      .repartition(7)
    val expected = df.withColumn("r",
        row_number().over(Window.orderBy(desc("v"), asc("id"))))
      .select("id", "r").as[(Int, Int)].collect().toMap
    val got = GlobalRank.withRowNumber(df, "r", Seq(desc("v"), asc("id")))
      .select(col("id"), col("r").cast("int"))
      .as[(Int, Int)].collect().toMap
    assert(got == expected)
  }
}

class DedupSpec extends SparkSpec {

  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "THE  quick Brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox jumps over the lazy cat again and again"),
    (4L, "completely different content about spark query engines at scale"),
    (5L, "totally unrelated words describing benchmark harness design now")
  ).toDF("doc_id", "text")

  test("exactDuplicates finds normalized duplicates only") {
    val dups = Dedup.exactDuplicates(docs, "doc_id", "text").collect()
    assert(dups.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 1L)))
  }

  test("minhashLshPairs surfaces near-duplicates, skips unrelated docs") {
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, m = 8, bands = 4, threshold = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhashPairs: identical docs hamming 0; candidates respect the cap") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val h12 = pairs.find(p => p._1 == 1L && p._2 == 2L)
    assert(h12.isDefined && h12.get._3 == 0) // same tokens after lowercase
    assert(pairs.forall(_._3 <= 12))
  }

  test("simhashPairs recall is exact at every radius (pigeonhole banding)") {
    graft.Functions.ensure(spark)
    val sigs = docs.selectExpr("doc_id",
        "simhash64(split(trim(lower(text)), '\\\\s+')) AS sig")
      .as[(Long, Long)].collect()
    def brute(h: Int) = (for {
      (i, si) <- sigs; (j, sj) <- sigs
      if i < j && java.lang.Long.bitCount(si ^ sj) <= h
    } yield (i, j)).toSet
    for (h <- Seq(0, 3, 6, 12, 25, 63)) {
      val got = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = h)
        .select("id1", "id2").as[(Long, Long)].collect().toSet
      assert(got == brute(h), s"recall mismatch at maxHamming=$h")
    }
  }

  test("simhash distance orders near-dup below unrelated") {
    graft.Functions.ensure(spark)
    import org.apache.spark.sql.functions.expr
    val sigs = docs.selectExpr("doc_id",
        "simhash64(split(trim(lower(text)), '\\\\s+')) AS sig")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(2L)) == 0)   // normalization-identical
    assert(hamming(sigs(1L), sigs(3L)) <
      hamming(sigs(1L), sigs(4L)))             // one word vs disjoint text
  }

  test("dedup operators accept exotic column names (quoted identifiers)") {
    val odd = docs.withColumnRenamed("doc_id", "doc id")
      .withColumnRenamed("text", "body-text")
    val pairs = Dedup.minhashLshPairs(odd, "doc id", "body-text",
        k = 3, m = 8, bands = 4, threshold = 0.3)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("jaccard is exact on known sets") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    assert(df.select(Dedup.jaccard(col("x"), col("y"))).head.getDouble(0)
      == 0.5)
  }

  test("hot-bucket cap bounds the quadratic boilerplate blowup") {
    // 400 docs sharing one verbatim boilerplate text: uncapped, the single
    // LSH bucket yields 400*399/2 = 79 800 candidate pairs — the join-output
    // blowup no shuffle splitting can fix. The cap keeps the 20 lowest ids
    // per (band, key): every band keeps the SAME 20, so candidates collapse
    // to C(20,2) = 190, while near-dups in honest buckets are untouched.
    val boiler = (100L until 500L).map(i => (i,
      "standard legal disclaimer boilerplate text repeated verbatim here"))
    val corpus = docs.union(boiler.toDF("doc_id", "text"))
    val capped = Dedup.minhashLshPairs(corpus, "doc_id", "text",
        k = 3, m = 8, bands = 4, threshold = 0.3, maxBucket = 20)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val boilerPairs = capped.count { case (i, j) => i >= 100L && j >= 100L }
    assert(boilerPairs == 190, s"expected C(20,2) capped pairs, got $boilerPairs")
    assert(capped.contains((1L, 2L)), "honest near-dup pair lost to the cap")
  }

  test("substringDupPairs finds shared passages inside different documents") {
    // winnowing guarantee: a shared verbatim run of ≥ k+w-1 chars yields
    // at least one identical fingerprint in both docs — here a 40-char
    // passage embedded in otherwise unrelated text (document-level
    // shingle Jaccard between these is tiny)
    val passage = "the quick brown fox jumps over the lazy"
    val corpus = Seq(
      (1L, s"completely unrelated preamble text here $passage and then some other tail"),
      (2L, s"$passage surrounded by a different story about watermarks and state"),
      (3L, "no shared content at all in this one, just filler words repeated"))
      .toDF("doc_id", "text")
    val pairs = Dedup.substringDupPairs(corpus, "doc_id", "text",
        k = 12, w = 8, minShared = 1)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"shared passage missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc paired: $pairs")
  }

  test("substringDupSpans locates the shared passage on both sides") {
    val passage = "the quick brown fox jumps over the lazy"
    val prefix = "preamble words here "
    val corpus = Seq(
      (1L, s"$prefix$passage and then a long unrelated tail of text"),
      (2L, s"$passage surrounded by a different story entirely here"))
      .toDF("doc_id", "text")
    val spans = Dedup.substringDupSpans(corpus, "doc_id", "text",
        k = 12, w = 8, minShared = 1)
      .collect()
    assert(spans.length == 1)
    val r = spans.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // doc 1's matches start at/after the preamble; doc 2's start at 0-ish
    assert(r.getInt(3) >= prefix.length - 11,
      s"a_min_pos ${r.getInt(3)} outside the shared passage")
    assert(r.getInt(4) < prefix.length + passage.length,
      s"a_max_pos ${r.getInt(4)} beyond the shared passage")
    assert(r.getInt(6) < passage.length,
      s"b_max_pos ${r.getInt(6)} beyond the passage on the copy side")
  }

  test("removeMatchedSpans cuts each duplicated passage separately, " +
      "keeping the unique middle") {
    // doc 2 copies TWO passages from doc 1, separated by unique text —
    // the single-min-max form would excise the middle along with them
    val p1 = "alpha beta gamma delta epsilon zeta eta theta"
    val p2 = "one two three four five six seven eight nine ten"
    val middle = " THIS UNIQUE MIDDLE MUST SURVIVE THE SURGERY "
    val corpus = Seq(
      (1L, s"$p1 and some more source text follows here $p2"),
      (2L, s"$p1$middle$p2"))
      .toDF("doc_id", "text")
    val posns = Dedup.substringDupPositions(corpus, "doc_id", "text",
      k = 12, w = 8, minShared = 1)
    // positions land on doc 2 (higher id) in two clusters
    val ps = posns.as[(Long, Int)].collect()
    assert(ps.forall(_._1 == 2L), s"positions on wrong side: ${ps.toSeq}")
    val cleaned = Dedup.removeMatchedSpans(corpus, "doc_id", "text",
        posns, k = 12, w = 8)
      .collect()
    assert(cleaned.length == 1)
    val r = cleaned.head
    assert(r.getLong(0) == 2L)
    assert(r.getInt(1) == 2, s"expected 2 islands, got ${r.getInt(1)}")
    val clean = r.getString(2)
    assert(clean.contains("UNIQUE MIDDLE MUST SURVIVE"),
      s"unique middle lost: '$clean'")
    assert(!clean.contains("gamma delta epsilon") &&
      !clean.contains("four five six"),
      s"duplicated passage survived the cut: '$clean'")
  }

  test("base+delta pair decomposition matches the combined self-join " +
      "for spans AND positions") {
    // base corpus with an internal dup pair; delta docs above the base
    // id space copy base passages AND each other (so all three pair
    // classes — base×base, base×delta, delta×delta — are exercised)
    val passage = "the quick brown fox jumps over the lazy dog again"
    val other = "one two three four five six seven eight nine ten"
    val base = Seq(
      (1L, s"preamble words here $passage and then a long tail of text"),
      (2L, s"$passage surrounded by a different story entirely here"),
      (3L, s"unrelated filler $other closing words follow here now"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (100001L, s"copied opener $passage with delta-side tail"),
      (100002L, s"copied opener $passage with delta-side tail plus more"),
      (100003L, s"also grabs $other from the third base document"))
      .toDF("doc_id", "text")
    val combinedFps = Dedup.winnowPosFingerprints(base.union(delta),
      "doc_id", "text", k = 12, w = 8)
    val cappedBase = Dedup.capPosFps(
      Dedup.winnowPosFingerprints(base, "doc_id", "text", k = 12, w = 8))
    val cappedDelta = Dedup.capPosFps(
      Dedup.winnowPosFingerprints(delta, "doc_id", "text", k = 12, w = 8))
    val deltaRows = Dedup.spanPairRowsDelta(cappedBase, cappedDelta)
    val baseRows = Dedup.spanPairRows(cappedBase)

    val spansCombined = Dedup.substringDupSpansFromFps(combinedFps)
      .collect().map(_.toSeq).sortBy(_.toString)
    val spansDecomp = Dedup.spansFromPairRows(baseRows)
      .union(Dedup.spansFromPairRows(deltaRows))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(spansDecomp.toSeq == spansCombined.toSeq,
      s"spans diverge:\n${spansDecomp.toSeq}\n${spansCombined.toSeq}")
    assert(spansCombined.exists(r => r.head == 1L),  // base×base present
      s"fixture lost its base-internal pair: ${spansCombined.toSeq}")
    assert(spansCombined.exists(r => r.head.asInstanceOf[Long] < 100000L
        && r(1).asInstanceOf[Long] >= 100000L),      // base×delta present
      s"fixture lost its cross pair: ${spansCombined.toSeq}")
    assert(spansCombined.exists(r => r.head == 100001L), // delta×delta
      s"fixture lost its delta-internal pair: ${spansCombined.toSeq}")

    val posCombined = Dedup.substringDupPositionsFromFps(combinedFps)
      .collect().map(_.toSeq).sortBy(_.toString)
    val posDecomp = Dedup.positionsFromPairRows(baseRows)
      .union(Dedup.positionsFromPairRows(deltaRows))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(posDecomp.toSeq == posCombined.toSeq,
      s"positions diverge:\n${posDecomp.toSeq}\n${posCombined.toSeq}")

    // the semi-join form over a precomputed qualification frame is the
    // same operator: window-counted and spans-qualified positions agree
    val posSemi = Dedup.positionsForQualifiedPairs(baseRows,
        Dedup.spansFromPairRows(baseRows))
      .union(Dedup.positionsForQualifiedPairs(deltaRows,
        Dedup.spansFromPairRows(deltaRows)))
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(posSemi.toSeq == posDecomp.toSeq,
      s"semi-join positions diverge:\n${posSemi.toSeq}\n${posDecomp.toSeq}")
  }

  test("dedupCorpusSegments keeps each segment once, first owner wins") {
    // 2-word segments: doc 1 = [a b][c d], doc 2 = [c d][e f] (shares
    // "c d"), doc 3 = all-duplicate content of doc 1
    val corpus = Seq(
      (1L, "a b c d"), (2L, "c d e f"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupCorpusSegments(corpus, "doc_id", "text",
        segWords = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val md5 = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((2L, 2L, 4L, md5("a b c d"))), s"doc1: ${got(1L)}")
    assert(got(2L) == ((2L, 1L, 2L, md5("e f"))), s"doc2: ${got(2L)}")
    assert(got(3L) == ((2L, 0L, 0L, md5(""))), s"doc3: ${got(3L)}")
  }

  test("releaseCaches unpins every tracked dedup intermediate") {
    // a corpus no earlier test used — CacheManager dedups identical plans,
    // so re-running a previously-cached pass would pin nothing new
    val fresh = docs.select((col("doc_id") + 9000).as("doc_id"), col("text"))
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.minhashLshPairs(fresh, "doc_id", "text",
      k = 3, m = 8, bands = 4, threshold = 0.3).count()
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "expected the LSH pass to pin intermediates")
    Dedup.releaseCaches(spark)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "releaseCaches left dedup intermediates pinned")
  }

  test("incremental LSH matches a new batch against the corpus index only") {
    // index over the 5-doc corpus; batch = a perturbed copy of doc 1 plus
    // an unrelated doc — the copy must pair with its corpus original, the
    // corpus's own near-dup pair (1,2) must NOT appear (never index×index)
    val index = Dedup.signatureIndex(docs, "doc_id", "text", k = 3, m = 8)
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again extra"),
      (101L, "entirely novel text about streaming watermarks and state stores")
    ).toDF("doc_id", "text")
    val pairs = Dedup.incrementalLshPairs(index, batch, "doc_id", "text",
        k = 3, m = 8, bands = 4, threshold = 0.3)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((100L, 1L)), s"perturbed copy not matched: $pairs")
    assert(pairs.forall(_._1 >= 100L),
      s"emitted a corpus-side pair — index joined itself: $pairs")
    assert(!pairs.exists(_._1 == 101L), s"unrelated doc matched: $pairs")
  }

  test("AQE skew-split fires on a skewed bucket join (executed evidence)") {
    // The LSH bucket join's skew risk is a hot (band, key): this replays
    // that join shape — a self-join on a key where one value holds ~3000
    // rows and the rest are uniform — with thresholds scaled down to the
    // test's data volume, and asserts the final adaptive plan actually
    // split the skewed partition.
    val prev = Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val banded = (1L to 3000L).map(i => (i, "hot"))
        .++((1L to 500L).map(i => (3000L + i, s"k${i % 200}")))
        .toDF("id", "key").repartition(8)
      val a = banded.alias("a")
      val b = banded.alias("b")
      val joined = a.join(b,
          col("a.key") === col("b.key") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
      // execute THIS QueryExecution without hauling ~4.5M join rows to
      // the driver: toRdd shares the adaptive plan instance, and an RDD
      // count materializes rows on executors only
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.toLowerCase.contains("skew"),
        s"AQE did not mark the join skewed:\n$plan")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("connected components: chains close transitively, clusters stay apart") {
    // chain 1-2-3-4-5 (diameter 4) + disjoint pair 10-11 + singleton edge 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (11L, 10L),
      (20L, 21L)).toDF("id1", "id2").repartition(5)
    val got = ConnectedComponents.canonicalize(edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).forall(got(_) == 1L))
    assert(got(10L) == 10L && got(11L) == 10L)
    assert(got(20L) == 20L && got(21L) == 20L)
    assert(got.size == 9)
  }

  test("driver-local fast path matches the distributed closure on " +
      "every small shape, including deep chains") {
    // pure ER shape (stars + bridges) AND a radius-3 chain: the bounded
    // union-find must agree with BOTH distributed operators exactly
    val edges = Seq((5L, 50L), (5L, 51L), (6L, 50L), // l-r-l bridge
      (9L, 90L), (12L, 91L), (12L, 92L), (13L, 92L),
      (4L, 55L), (3L, 4L), (2L, 3L), (1L, 2L), (7L, 8L)).toDF("id1", "id2")
    val fast = ConnectedComponents.canonicalize(edges)
      .as[(Long, Long)].collect().toMap
    val loop = ConnectedComponents.canonicalize(edges, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    val deep = ConnectedComponents
      .canonicalizeDeep(edges, localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(fast == loop, s"$fast vs $loop")
    assert(fast == deep, s"$fast vs $deep")
    assert(fast(51L) == 5L && fast(6L) == 5L && fast(13L) == 12L)
    assert((1L to 4L).forall(fast(_) == 1L) && fast(55L) == 1L &&
      fast(8L) == 7L)
  }

  test("connected components fails loudly when maxIter is too small") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id1", "id2")
    intercept[IllegalArgumentException] {
      // localThreshold = 0 forces the distributed loop — the bounded
      // union-find would otherwise solve any small chain exactly
      ConnectedComponents.canonicalize(chain, maxIter = 1,
        localThreshold = 0).collect()
    }
  }

  test("alternating-star components converge on a 100-node chain in " +
      "O(log n) rounds where label propagation aborts") {
    // a 100-hop path: diameter 99 >> canonicalize's maxIter=20 default —
    // the documented adversarial case. canonicalizeDeep must finish
    // within an O(log n) round budget (10 rounds for n=100; log2 = 6.6).
    val chain = (0L until 99L).map(i => (i, i + 1)).toDF("id1", "id2")
      .repartition(7)
    intercept[IllegalArgumentException] {
      ConnectedComponents.canonicalize(chain, localThreshold = 0).collect()
    }
    val got = ConnectedComponents.canonicalizeDeep(chain, maxIter = 10,
        localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 100)
    assert((0L until 100L).forall(got(_) == 0L),
      s"chain not fully collapsed: ${got.toSeq.sortBy(_._1).take(10)}")
  }

  test("alternating-star components agree with label propagation on " +
      "mixed shallow graphs") {
    // clusters + chain + self loop + isolated-pair mix, shuffled ids
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), (11L, 10L),
      (20L, 21L), (30L, 30L), (41L, 40L), (40L, 42L), (42L, 43L))
      .toDF("id1", "id2").repartition(5)
    val viaProp = ConnectedComponents.canonicalize(edges)
      .as[(Long, Long)].collect().toMap
    val viaStar = ConnectedComponents.canonicalizeDeep(edges,
      localThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaProp,
      s"disagreement: star=$viaStar prop=$viaProp")
    assert(viaStar(30L) == 30L) // self loop = isolated node, maps to self
  }
}

class SimilaritySpec extends SparkSpec {

  import graft.engine.Tables.t

  test("hardNegativeTopK drops near-duplicates, ranks the hard band") {
    import spark.implicits._
    // query 1; exact dup (2), hard negative (3: same direction plus a
    // small orthogonal kick), easy negative (4: mostly orthogonal)
    val rows = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(2.0, 0.0, 0.0)),  // cosine 1.0 → excluded
      (3L, Seq(1.0, 0.4, 0.0)),  // cosine ~0.9285 → hard, rank 1
      (4L, Seq(0.1, 1.0, 0.0))). // cosine ~0.0995 → rank 2
      toDF("vec_id", "embedding")
    val got = Similarity.hardNegativeTopK(rows,
        rows.where(col("vec_id") === 1), k = 10)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(got.toSeq == Seq((3L, 1), (4L, 2)), s"got: ${got.toSeq}")
  }

  test("bruteForceTopK scores agree with a driver-side computation") {
    val emb = t(spark, sf001, "embeddings")
    val top = Similarity.bruteForceTopK(emb,
      emb.where(col("vec_id") === 0), k = 3).collect()
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val expected = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) =>
        (id, BigDecimal(cos(vecs(0L), v))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy { case (id, s) => (-s, id) }.take(3)
    assert(top.map(r => (r.getLong(1), r.getDouble(2))).toSeq == expected)
  }

  test("ivfTopK achieves reasonable recall vs brute force") {
    val emb = t(spark, sf001, "embeddings")
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, k = 5)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(emb, queries, k = 5,
        nClusters = 8, nProbe = 4)
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low") // nProbe/nClusters=0.5
  }

  test("embedding near-dup: LSH finds what the exact baseline finds") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
      .select(col("vec_id"),
        graft.functions.VectorFunctions.asDouble(col("embedding")).as("v"))
    // plant exact copies (sketch hamming 0 → banding MUST recall them)
    val planted = emb.where(col("vec_id") < 10)
      .select((col("vec_id") + 1000).as("vec_id"), col("v"))
    val aug = emb.union(planted)
    val exact = Dedup.embeddingNearDupPairs(aug, "vec_id", "v",
        threshold = 0.99, maxDocs = 1000)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDupLsh(aug, "vec_id", "v",
        threshold = 0.99, maxHamming = 10)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert((0L until 10L).forall(i => lsh.contains((i, i + 1000))))
    assert(lsh.subsetOf(exact)) // verify stage keeps LSH ⊆ exact
    assert(exact.size == 10)    // only the planted pairs clear 0.99
  }

  test("persisted IVF index round-trips and matches the direct search") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.writeIndex(emb, dir, nClusters = 8)
    // inverted-file layout is literal: one directory per cluster
    val parts = new java.io.File(s"$dir/assignments").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
    assert(parts.length == 8, s"expected 8 cluster dirs, got ${parts.toSeq}")
    val qs = emb.where(col("vec_id") < 5)
    val direct = Similarity.ivfTopK(emb, qs, k = 10,
        nClusters = 8, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val viaIndex = Similarity.searchIndex(spark, dir, qs, k = 10, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(direct.nonEmpty && direct.sameElements(viaIndex),
      "persisted-index search diverged from the direct IVF search")
  }

  test("hammingTopK: a corpus-covering shortlist reproduces brute-force " +
      "exactly; a tight shortlist stays deterministic and self-excluding") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
    val qs = emb.where(col("vec_id") < 5)
    val n = emb.count().toInt
    // shortlist >= corpus - 1: the hamming stage prunes nothing, so the
    // exact-cosine re-rank must equal bruteForceTopK row-for-row
    val brute = Similarity.bruteForceTopK(emb, qs, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val full = Similarity.hammingTopK(emb, qs, k = 10,
        shortlist = math.min(1000, n))
      .select("query_id", "cand_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(brute.nonEmpty && full.sameElements(brute),
      "corpus-covering hamming shortlist diverged from brute force")
    // tight shortlist: deterministic across invocations, never the
    // query itself, exactly k rows per query
    val a = Similarity.hammingTopK(emb, qs, k = 10, shortlist = 20)
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = Similarity.hammingTopK(emb, qs, k = 10, shortlist = 20)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.sameElements(b), "hammingTopK not deterministic")
    val rows = Similarity.hammingTopK(emb, qs, k = 10, shortlist = 20)
      .as[(Long, Long, Int, Double, Int)].collect()
    assert(rows.forall(r => r._1 != r._2), "query retrieved itself")
    assert(rows.groupBy(_._1).forall(_._2.length == 10))
    intercept[IllegalArgumentException] {
      Similarity.hammingTopK(emb, qs, k = 10, shortlist = 1001)
    }
  }

  test("searchIndex filter: results come from the filtered slice only " +
      "and equal the direct IVF search over the pre-filtered corpus " +
      "with the index's own centroids") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ivf_filter").toString
    Similarity.writeIndex(emb, dir, nClusters = 8)
    val qs = emb.where(col("vec_id") < 5)
    val filtered = Similarity.searchIndex(spark, dir, qs, k = 10,
        nProbe = 3, filter = Some(col("cand_id") % 3 === 1))
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(filtered.nonEmpty && filtered.forall(_._2 % 3 == 1),
      "a candidate outside the filtered slice surfaced")
    // reference: the same probe search over the pre-filtered corpus,
    // quantized by the INDEX's centroids (not a refit)
    val cents = spark.read.parquet(s"$dir/centroids")
    val direct = Similarity.ivfTopK(emb.where(col("vec_id") % 3 === 1),
        qs, k = 10, nProbe = 3, centroids = Some(cents))
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(filtered.sameElements(direct),
      "filtered index search diverged from the pre-filtered direct search")
    // and filter = None stays the unfiltered path
    val unf = Similarity.searchIndex(spark, dir, qs, k = 10, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect()
    assert(unf.exists(_._2 % 3 != 1))
  }

  test("appendToIndex grows the index batch-at-a-time and search sees " +
      "old and new vectors identically") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    // build from the first half, append the second half as a new batch
    val old = emb.where(col("vec_id") % 2 === 0)
    val batch = emb.where(col("vec_id") % 2 === 1)
    Similarity.writeIndex(old, dir, nClusters = 8)
    Similarity.appendToIndex(batch, dir)
    val qs = emb.where(col("vec_id") < 5)
    val viaIndex = Similarity.searchIndex(spark, dir, qs, k = 10, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    // reference: a from-scratch search over the FULL corpus with the SAME
    // centroids (the append contract: assignment against existing
    // centroids, no refit)
    val cents = spark.read.parquet(s"$dir/centroids")
    val direct = Similarity.ivfTopK(emb, qs, k = 10, nProbe = 3,
        centroids = Some(cents))
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(viaIndex.nonEmpty && viaIndex.sameElements(direct),
      "appended index diverged from a full rebuild on the same centroids")
    // appended batch actually landed in the layout
    val total = spark.read.parquet(s"$dir/assignments").count()
    assert(total == emb.count(), s"index holds $total of ${emb.count()}")
  }

  test("tombstoned vectors vanish from search immediately and vacuum " +
      "makes the removal physical") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_del").toString
    Similarity.writeIndex(emb, dir, nClusters = 8)
    val deleted = emb.where(col("vec_id") % 17 === 3)
    val deletedIds = deleted.select("vec_id").as[Long].collect().toSet
    assert(deletedIds.nonEmpty)
    Similarity.deleteFromIndex(deleted.select("vec_id"), dir)
    val qs = emb.where(col("vec_id") < 5)
    def hits() = Similarity.searchIndex(spark, dir, qs, k = 10, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val tombstoned = hits()
    assert(tombstoned.nonEmpty &&
      !tombstoned.exists(r => deletedIds.contains(r._2)),
      "a tombstoned id surfaced in search results")
    // reference: ranking over the surviving candidates under the SAME
    // standing centroids must agree exactly
    val cents = spark.read.parquet(s"$dir/centroids")
    val direct = Similarity.ivfTopK(emb.where(col("vec_id") % 17 =!= 3),
        qs, k = 10, nProbe = 3, centroids = Some(cents))
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(tombstoned.sameElements(direct),
      "ledger anti-join diverged from ranking the surviving candidates")
    // vacuum: physical rewrite, ledger consumed, results unchanged
    val removed = Similarity.vacuumIndex(spark, dir)
    assert(removed == deletedIds.size.toLong,
      s"vacuum removed $removed, expected ${deletedIds.size}")
    val onDisk = spark.read.parquet(s"$dir/assignments")
      .select("cand_id").as[Long].collect().toSet
    assert(deletedIds.forall(!onDisk.contains(_)),
      "vacuum left tombstoned rows in the assignments layout")
    assert(hits().sameElements(tombstoned),
      "search results changed across vacuum")
    assert(Similarity.vacuumIndex(spark, dir) == 0L,
      "a second vacuum with an empty ledger must be a no-op")
  }

  test("vacuum folds batches, carries the compaction marker, and a " +
      "rebuild resets the ledger") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_delmk").toString
    Similarity.writeIndex(emb.where(col("vec_id") % 2 === 0), dir,
      nClusters = 4)
    Similarity.appendBatchDir(emb.where(col("vec_id") % 2 === 1), dir,
      "t", 0L)
    Similarity.compactIndexBatches(spark, dir)
    Similarity.deleteFromIndex(
      emb.where(col("vec_id") % 17 === 3).select("vec_id"), dir)
    val removed = Similarity.vacuumIndex(spark, dir)
    assert(removed > 0)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/assignments/_compacted_batches")),
      "vacuum dropped the compaction high-water marker")
    // post-vacuum search still ranks the survivors correctly
    val qs = emb.where(col("vec_id") < 3)
    val cents = spark.read.parquet(s"$dir/centroids")
    val via = Similarity.searchIndex(spark, dir, qs, k = 5, nProbe = 2)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val direct = Similarity.ivfTopK(emb.where(col("vec_id") % 17 =!= 3),
        qs, k = 5, nProbe = 2, centroids = Some(cents))
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(via.nonEmpty && via.sameElements(direct))
    // a full rebuild resets the deletion ledger
    Similarity.deleteFromIndex(
      emb.where(col("vec_id") === 0L).select("vec_id"), dir)
    Similarity.writeIndex(emb, dir, nClusters = 4)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/tombstones")),
      "writeIndex must reset the tombstone ledger")
    val restored = spark.read.parquet(s"$dir/assignments")
      .select("cand_id").as[Long].collect().toSet
    assert(restored.exists(_ % 17 == 3),
      "post-rebuild layout must hold previously tombstoned ids again")
    assert(Similarity.searchIndex(spark, dir, qs, k = 5, nProbe = 2)
      .count() > 0)
  }

  test("a tombstone landing inside vacuum's race window survives the " +
      "pass and keeps masking its vector") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_race").toString
    Similarity.writeIndex(emb, dir, nClusters = 4)
    Similarity.deleteFromIndex(
      emb.where(col("vec_id") % 17 === 3).select("vec_id"), dir)
    val lateId = emb.where(col("vec_id") % 17 === 5)
      .select("vec_id").as[Long].head()
    // fire a concurrent delete between vacuum's ledger snapshot and its
    // rewrite/cleanup — the window the single-enumeration contract covers
    Similarity.vacuumAfterSnapshotHook = () =>
      Similarity.deleteFromIndex(
        emb.where(col("vec_id") === lateId).select("vec_id"), dir)
    try Similarity.vacuumIndex(spark, dir)
    finally Similarity.vacuumAfterSnapshotHook = () => ()
    // the late tombstone's ledger file survived the pass (not deleted
    // un-applied)...
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tsRoot = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    assert(fs.exists(tsRoot) && {
      val it = fs.listFiles(tsRoot, true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n > 0
    }, "the race-window tombstone was consumed without being applied")
    // ...its vector is still physically on disk (this pass never saw it)...
    assert(spark.read.parquet(s"$dir/assignments")
      .where(col("cand_id") === lateId).count() == 1L,
      "vacuum applied a tombstone it never snapshot")
    // ...but search masks it immediately: querying with the vector's own
    // embedding must not return the vector itself
    val self = Similarity.searchIndex(spark, dir,
        emb.where(col("vec_id") === lateId), k = 1, nProbe = 4)
      .where(col("cand_id") === lateId)
    assert(self.count() == 0L,
      "a live tombstone failed to mask its vector after vacuum")
    // the NEXT vacuum applies exactly the surviving tombstone
    assert(Similarity.vacuumIndex(spark, dir) == 1L)
    assert(spark.read.parquet(s"$dir/assignments")
      .where(col("cand_id") === lateId).count() == 0L)
  }

  test("a full purge leaves a readable empty index, not a bricked one") {
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_purge").toString
    Similarity.writeIndex(emb, dir, nClusters = 4)
    Similarity.deleteFromIndex(emb.select("vec_id"), dir)
    assert(Similarity.vacuumIndex(spark, dir) == emb.count())
    val qs = emb.where(col("vec_id") < 3)
    // empty but readable: search answers zero rows instead of dying on
    // parquet schema inference over a part-file-less directory
    assert(Similarity.searchIndex(spark, dir, qs, k = 5, nProbe = 4)
      .count() == 0L)
    // and the index keeps living: append, search, compact, search
    Similarity.appendBatchDir(emb.where(col("vec_id") < 10), dir, "t", 0L)
    assert(Similarity.searchIndex(spark, dir, qs, k = 5, nProbe = 4)
      .count() > 0L)
    Similarity.compactIndexBatches(spark, dir)
    assert(Similarity.searchIndex(spark, dir, qs, k = 5, nProbe = 4)
      .count() > 0L)
  }

  test("corrupt compaction marker fails loudly instead of resurrecting " +
      "folded batches") {
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_mark").toString
    Similarity.writeIndex(emb.where(col("vec_id") % 2 === 0), dir,
      nClusters = 4)
    Similarity.appendBatchDir(emb.where(col("vec_id") % 2 === 1), dir,
      "t", 0L)
    Similarity.compactIndexBatches(spark, dir)
    val markerPath = new org.apache.hadoop.fs.Path(
      s"$dir/assignments/_compacted_batches")
    val fs = markerPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(markerPath),
      "compaction must write the high-water marker")
    val qs = emb.where(col("vec_id") < 3)
    val clean = Similarity.searchIndex(spark, dir, qs, k = 5).collect()
    // corrupt ONE line (through the Hadoop FS so the crc sidecar stays
    // consistent): the marker is the only duplicate suppression, so the
    // read must throw — silently dropping it would double-count any
    // folded batch whose best-effort delete had failed
    def writeMarker(content: Array[Byte]): Unit = {
      val out = fs.create(markerPath, true)
      try out.write(content) finally out.close()
    }
    val orig = {
      val in = fs.open(markerPath)
      try in.readAllBytes() finally in.close()
    }
    writeMarker((new String(orig, "UTF-8") + "\ngarbage without structure")
      .getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] {
      Similarity.searchIndex(spark, dir, qs, k = 5).collect()
    }
    assert(ex.getMessage.contains("corrupt compaction marker"))
    // restoring the marker restores service, bit-identical results
    writeMarker(orig)
    assert(Similarity.searchIndex(spark, dir, qs, k = 5).collect()
      .sameElements(clean))
  }

  test("recenterIndex refits drifted centroids and equals a fresh rebuild " +
      "over the same vectors") {
    import spark.implicits._
    val emb = t(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ivf_rec").toString
    // build from half the corpus, append the rest against the STALE
    // centroids, then recenter — the drift-maintenance lifecycle
    val old = emb.where(col("vec_id") % 2 === 0)
    val batch = emb.where(col("vec_id") % 2 === 1)
    Similarity.writeIndex(old, dir, nClusters = 8)
    Similarity.appendToIndex(batch, dir)
    val stats = Similarity.recenterIndex(spark, dir, nClusters = 8)
      .as[(Long, Long, Long)].collect().head
    assert(stats._1 == emb.count(), s"drift report counted ${stats._1}")
    assert(stats._2 > 0, "half-corpus fit vs full-corpus fit moved nothing")
    assert(stats._3 == 8)
    // equivalence: the recentered index answers EXACTLY like one built
    // fresh over the full corpus (fit depends only on the vector set)
    val fresh = java.nio.file.Files.createTempDirectory("ivf_ref").toString
    Similarity.writeIndex(emb, fresh, nClusters = 8)
    val qs = emb.where(col("vec_id") < 5)
    val rec = Similarity.searchIndex(spark, dir, qs, k = 10, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val ref = Similarity.searchIndex(spark, fresh, qs, k = 10, nProbe = 3)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(rec.nonEmpty && rec.sameElements(ref),
      "recentered index diverged from a fresh build over the same vectors")
    // crash-safe swap left no staging or .old directories behind
    val leftovers = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.contains("staging") || n.endsWith(".old"))
    assert(leftovers.isEmpty, s"swap leftovers: ${leftovers.toSeq}")
  }

  test("k-means centroids beat the first-N stand-in on clustered data") {
    import spark.implicits._
    // 4 well-separated directions, 50 points each with deterministic
    // jitter; ids 0-49 are ALL cluster 0 — the adversarial layout where
    // "first N vectors as centroids" collapses to near-parallel seeds
    val dims = 8
    def point(c: Int, i: Int): Seq[Float] =
      (0 until dims).map { j =>
        val base = if (j == c * 2) 1.0 else 0.0
        (base + ((i * 31 + j * 7) % 5 - 2) * 0.03).toFloat
      }
    val emb = (for (c <- 0 until 4; i <- 0 until 50)
      yield ((c * 50 + i).toLong, point(c, i))).toDF("vec_id", "embedding")
    val queries = emb.where(col("vec_id") % 50 === 0) // one per cluster
    val exact = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "cand_id")
      .as[(Long, Long)].collect().toSet
    def recallWith(cents: org.apache.spark.sql.DataFrame): Double = {
      val approx = Similarity.ivfTopK(emb, queries, k = 10,
          nClusters = 4, nProbe = 1, centroids = Some(cents))
        .select("query_id", "cand_id")
        .as[(Long, Long)].collect().toSet
      (exact & approx).size.toDouble / exact.size
    }
    val kmeans = recallWith(Similarity.fitCentroids(emb, k = 4))
    val firstN = recallWith(Similarity.firstNCentroids(emb, 4))
    assert(kmeans >= 0.9, s"k-means recall $kmeans below 0.9")
    assert(kmeans > firstN,
      s"k-means recall $kmeans not above first-N recall $firstN")
  }
}

class ProductQuantSpec extends SparkSpec {

  import graft.engine.Tables.t
  import graft.operators.ProductQuant

  test("PQ codes are identical for same-direction vectors and the " +
      "planted copy tops its original's shortlist") {
    val emb = t(spark, sf001, "embeddings")
    val cb = ProductQuant.fitCodebooks(emb, m = 8, ks = 16)
    // a 2x-scaled copy L2-normalizes to the same vector -> same codes
    val base = emb.where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val scaled = base.select((col("vec_id") + 1000).as("vec_id"),
      transform(col("embedding"), x => x * 2.0f).as("embedding"))
    val codes = ProductQuant.encode(base.union(scaled), cb)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    (0L until 5L).foreach { id =>
      assert(codes(id) == codes(id + 1000),
        s"codes differ for scaled copy of $id")
    }
    // ...and ADC+rerank surfaces the copy as the top hit
    val top = ProductQuant.pqTopK(base.union(scaled), base, cb, k = 1,
        rerank = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach { id =>
      assert(top(id) == id + 1000, s"copy of $id not top-1: ${top(id)}")
    }
  }

  test("PQ fit and search are deterministic across runs and partitionings") {
    val emb = t(spark, sf001, "embeddings")
    val qs = emb.where(col("vec_id") < 3)
    def run(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
      ProductQuant.pqTopK(df, qs, ProductQuant.fitCodebooks(df), k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3))).toSeq.sorted
    val a = run(emb)
    val b = run(emb.repartition(13))
    assert(a == b, "PQ results changed across runs/partitionings")
  }

  test("ADC shortlist + exact rerank matches brute force when the " +
      "shortlist covers the corpus") {
    // with rerank >= corpus size the ADC stage cannot prune away a true
    // neighbor, so the exact re-rank must equal bruteForceTopK exactly
    val emb = t(spark, sf001, "embeddings").where(col("vec_id") < 40)
    val qs = emb.where(col("vec_id") < 3)
    val cb = ProductQuant.fitCodebooks(emb)
    val pq = ProductQuant.pqTopK(emb, qs, cb, k = 5, rerank = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val brute = Similarity.bruteForceTopK(emb, qs, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(pq == brute, s"full-shortlist PQ != brute:\n$pq\nvs\n$brute")
  }
}

class FuzzyJoinSpec extends SparkSpec {

  import spark.implicits._

  test("single edits anywhere are matched; both-ends edits are the documented miss") {
    val left = Seq((1L, "The Matrix"), (2L, "Heat"), (3L, "Blade Runner"))
      .toDF("id", "name")
    val right = Seq(
      (10L, "Xhe Matrix"),   // prefix edit → suffix block catches it
      (11L, "The Matrfx"),   // suffix-area edit → prefix block catches it
      (12L, "The Mutrix"),   // middle edit → both blocks catch it
      (13L, "Qhe Matriq"),   // edits at BOTH ends → documented miss
      (14L, "Blade Runner")  // exact (case aside) → dist 0
    ).toDF("id", "name")
    val got = graft.operators.FuzzyJoin.byEditDistance(
        left, right, "id", "name", "id", "name", maxDist = 2, blockLen = 4)
      .select("l_id", "r_id", "dist")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 10L, 1), (1L, 11L, 1), (1L, 12L, 1),
      (3L, 14L, 0)), s"unexpected match set: $got")
  }

  test("short keys (overlapping blocks) still match on a central edit") {
    // 'Heat' vs 'Hest': the edit at position 3 falls inside BOTH the
    // 4-char prefix and suffix blocks (len 4 < 2*blockLen) — the
    // dedicated short×short pass must catch what the blocks cannot
    val l = Seq((1L, "Heat"), (2L, "Blade Runner II")).toDF("id", "name")
    val r = Seq((9L, "Hest"), (8L, "Blade Runner II")).toDF("id", "name")
    val got = graft.operators.FuzzyJoin.byEditDistance(
        l, r, "id", "name", "id", "name", maxDist = 1, blockLen = 4)
      .select("l_id", "r_id", "dist").as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 9L, 1), (2L, 8L, 0)), s"got $got")
  }

  test("maxDist 0 degenerates to exact (case-insensitive) equality") {
    val l = Seq((1L, "ALPHA"), (2L, "beta")).toDF("id", "name")
    val r = Seq((9L, "alpha"), (8L, "betA"), (7L, "gamma")).toDF("id", "name")
    val got = graft.operators.FuzzyJoin.byEditDistance(
        l, r, "id", "name", "id", "name", maxDist = 0)
      .select("l_id", "r_id").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 9L), (2L, 8L)))
  }

  test("no pass is a cross product — short keys equi-join on length buckets") {
    // a short-heavy corpus (every key under 2·blockLen) must still plan
    // as hash/sort-merge joins: the length-bucket block key bounds the
    // short pass, so no CartesianProduct or nested-loop join may appear
    val l = (1 to 50).map(i => (i.toLong, s"sku$i")).toDF("id", "name")
    val r = (1 to 50).map(i => (i.toLong + 100, s"skx$i")).toDF("id", "name")
    val joined = graft.operators.FuzzyJoin.byEditDistance(
      l, r, "id", "name", "id", "name", maxDist = 1, blockLen = 4)
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cross product in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in plan:\n$plan")
    // and recall is unaffected: every skuN ↔ skxN pair is one edit apart
    val got = joined.select("l_id", "r_id")
      .as[(Long, Long)].collect().toSet
    assert((1 to 50).forall(i => got.contains((i.toLong, i.toLong + 100))),
      "length-bucketed short pass lost recall")
  }
}

class PackingSpec extends SparkSpec {

  import spark.implicits._

  test("distributed prefix sum equals the single-partition window") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val df = (1 to 500).map(i => (i.toLong, rnd.nextInt(100).toLong + 1))
      .toDF("id", "w").repartition(9)
    val expected = df.withColumn("cum",
        sum("w").over(Window.orderBy("id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("id", "cum").as[(Long, Long)].collect().toMap
    val got = Packing.packByBudget(df, Seq(col("id")), "w", 1000L)
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("bins are contiguous and respect the greedy budget bound") {
    val df = (1 to 300).map(i => (i.toLong, (i % 37).toLong + 1))
      .toDF("id", "w")
    val packed = Packing.packByBudget(df, Seq(col("id")), "w", 100L)
      .select("id", "w", "bin")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // contiguous: bin ids never decrease along the order
    packed.sliding(2).foreach {
      case Array((_, _, b1), (_, _, b2)) => assert(b1 <= b2)
      case _ =>
    }
    // each bin ≤ budget + one maximal row (greedy contiguous bound)
    val maxW = packed.map(_._2).max
    packed.groupBy(_._3).foreach { case (bin, rows) =>
      assert(rows.map(_._2).sum <= 100L + maxW, s"bin $bin over budget")
    }
    // no gaps in bin numbering
    val bins = packed.map(_._3).distinct.sorted
    assert(bins.sameElements(bins.head to bins.last))
  }

  test("writeShards materializes one directory per bin with " +
      "deterministic contents") {
    val df = (1 to 200).map(i => (i.toLong, (i % 23).toLong + 1))
      .toDF("id", "w").repartition(7)
    def writeAndFingerprint(dir: String): (Set[String], Seq[(Long, String)]) = {
      Packing.writeShards(df, Seq(col("id")), "w", 150L, dir)
      val binDirs = new java.io.File(dir).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      val perBin = spark.read.parquet(dir)
        .groupBy("bin")
        .agg(md5(concat_ws(",", sort_array(collect_list(
          concat_ws(":", col("id"), col("w")))))).as("fp"))
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
      (binDirs, perBin)
    }
    val t1 = java.nio.file.Files.createTempDirectory("shards1").toString
    val t2 = java.nio.file.Files.createTempDirectory("shards2").toString
    val (dirs1, fp1) = writeAndFingerprint(t1)
    val (dirs2, fp2) = writeAndFingerprint(t2)
    // hive-style one directory per bin, covering every bin
    assert(dirs1.nonEmpty && dirs1.forall(_.startsWith("bin=")), dirs1)
    assert(dirs1.map(_.stripPrefix("bin=").toLong) ==
      fp1.map(_._1).toSet)
    // byte-identical shard contents across two writes
    assert(fp1 == fp2, s"shard contents differ:\n$fp1\nvs\n$fp2")
    // every row lands in exactly one shard
    assert(spark.read.parquet(t1).count() == 200)
  }

  test("shard manifest round-trip: valid export validates; corruption " +
      "is localized to the touched bin") {
    val df = (1 to 200).map(i => (i.toLong, (i % 23).toLong + 1))
      .toDF("id", "w").repartition(7)
    val dir = java.nio.file.Files.createTempDirectory("shards-m").toString
    val order = Seq(col("id"))
    val idExpr = col("id").cast("string")
    Packing.writeShardsWithManifest(df, order, idExpr, "w", 150L, dir)
    val ok1 = Packing.validateShards(spark, dir, order, idExpr, "w")
      .as[(Long, Boolean)].collect().toMap
    assert(ok1.nonEmpty && ok1.values.forall(identity),
      s"fresh export must validate: $ok1")
    // corrupt ONE bin: rewrite its shard with a dropped row
    val firstBin = ok1.keys.min
    val binDir = s"$dir/data/bin=$firstBin"
    val rows = spark.read.parquet(binDir)
    val victim = rows.orderBy("id").limit(1)
      .select("id").as[Long].head()
    rows.where(col("id") =!= victim)
      .write.mode("overwrite").parquet("/tmp/graft_corrupt_bin")
    spark.read.parquet("/tmp/graft_corrupt_bin")
      .write.mode("overwrite").parquet(binDir)
    val ok2 = Packing.validateShards(spark, dir, order, idExpr, "w")
      .as[(Long, Boolean)].collect().toMap
    assert(!ok2(firstBin), "dropped row must fail its bin's manifest row")
    assert((ok2 - firstBin).values.forall(identity),
      s"corruption must stay localized: $ok2")
  }

  test("startCum resume: packing in two appends equals packing whole") {
    val rows = (1 to 400).map(i => (i.toLong, (i % 29).toLong + 1))
    val whole = Packing.packByBudget(rows.toDF("id", "w").repartition(5),
        Seq(col("id")), "w", 90L)
      .select("id", "cum", "bin").as[(Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    val (a, b) = rows.splitAt(250)
    val packedA = Packing.packByBudget(a.toDF("id", "w").repartition(3),
      Seq(col("id")), "w", 90L)
    val totalA = packedA.agg(max("cum")).head.getLong(0)
    val packedB = Packing.packByBudget(b.toDF("id", "w").repartition(4),
      Seq(col("id")), "w", 90L, startCum = totalA)
    val resumed = (packedA.select("id", "cum", "bin")
        .unionAll(packedB.select("id", "cum", "bin")))
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(resumed == whole,
      "append with startCum diverged from packing the whole corpus")
  }
}

class ValidateSpec extends SparkSpec {

  import spark.implicits._

  test("report counts violating rows per rule in one pass; null = violation") {
    val df = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "b"), (3L, null),
      (-4L, "a")).toDF("id", "s")
    val got = Validate.report(df, Seq(
        "id_positive" -> (col("id") > 0),
        "s_not_null" -> col("s").isNotNull,
        "s_known" -> col("s").isin("a", "b")))
      .as[(String, Long)].collect().toMap
    // null s fails BOTH s rules (coalesce(pred, false) treats null as fail)
    assert(got == Map("id_positive" -> 1L, "s_not_null" -> 1L,
      "s_known" -> 1L))
  }

  test("bucketChecksums detects a single-row mutation, localized") {
    val base = (1 to 400).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val mutated = (1 to 400)
      .map(i => (i.toLong, if (i == 137) "CORRUPT" else s"v$i"))
      .toDF("id", "v")
    def sums(df: org.apache.spark.sql.DataFrame) =
      Validate.bucketChecksums(df, col("id"), 16,
          Seq(col("id").cast("string"), col("v")))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3))
        .toMap
    val (a, b) = (sums(base), sums(mutated))
    val diff = a.keySet.filter(k => a(k) != b(k))
    assert(diff == Set(137L % 16)) // exactly the mutated row's bucket
    assert(a.values.map(_._1).sum == 400)
  }

  test("uniqueness counts duplicates and null keys") {
    val df = Seq[java.lang.Long](1L, 1L, 1L, 2L, null, null).toDF("k")
    val got = Validate.uniqueness(df, "k_unique", Seq("k"))
      .as[(String, Long)].collect().toSeq
    // 3 copies of 1 → 2 extra rows; 2 null keys → 2 more
    assert(got == Seq(("k_unique", 4L)))
  }
}

class GroupMinhashSpec extends SparkSpec {

  import spark.implicits._

  test("identical groups estimate 1.0; disjoint-vocabulary groups 0.0") {
    val docs = Seq(
      ("a", "alpha beta gamma delta epsilon zeta"),
      ("a", "eta theta iota kappa lambda mu"),
      ("b", "alpha beta gamma delta epsilon zeta"), // same union as 'a'
      ("b", "eta theta iota kappa lambda mu"),
      ("c", "one two three four five six seven")    // disjoint vocabulary
    ).toDF("src", "text")
    val got = Dedup.groupMinhashSimilarity(docs, "src", "text", k = 3, m = 16)
      .as[(String, String, Double)].collect()
      .map { case (g1, g2, j) => (g1, g2) -> j }.toMap
    assert(got(("a", "b")) == 1.0) // identical shingle unions, exact match
    assert(got(("a", "c")) == 0.0 && got(("b", "c")) == 0.0)
  }

  test("member split does not change the group signature (mergeability)") {
    val whole = Seq(("g", "w1 w2 w3 w4 w5 w6 w7 w8 w9")).toDF("src", "text")
    val split = Seq(("h", "w1 w2 w3 w4 w5"), ("h", "w5 w6 w7 w8 w9"))
      .toDF("src", "text")
    // shingle unions differ at the split seam (k=3 windows don't cross
    // documents), so compare via a k=1 sketch where union(tokens) is equal
    val both = whole.union(split)
    val sim = Dedup.groupMinhashSimilarity(both, "src", "text", k = 1, m = 16)
      .as[(String, String, Double)].collect()
    assert(sim.toSeq == Seq(("g", "h", 1.0)))
  }
}

class SessionizeSpec extends SparkSpec {

  import spark.implicits._

  private def ev(user: Long, id: Long, ts: String, v: Double) =
    (user, id, java.sql.Timestamp.valueOf(ts), v)

  test("gap boundary: diff == gap stays, diff > gap splits") {
    val df = Seq(
      ev(1L, 1L, "2024-01-01 00:00:00", 1.0),
      ev(1L, 2L, "2024-01-01 00:10:00", 1.0), // 600s  → same session
      ev(1L, 3L, "2024-01-01 01:10:00", 1.0), // 3600s = gap → same
      ev(1L, 4L, "2024-01-01 02:10:01", 1.0), // 3601s > gap → new
      ev(2L, 5L, "2024-01-01 05:00:00", 1.0)  // other key starts at 0
    ).toDF("user_id", "event_id", "ts", "value")
    val got = Sessionize.assign(df, Seq("user_id"), "ts", 3600L,
        Seq(col("event_id")))
      .select("event_id", "session_id").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 0L))
  }

  test("aggregate emits bounds and totals per session") {
    val df = Seq(
      ev(1L, 1L, "2024-01-01 00:00:00", 2.0),
      ev(1L, 2L, "2024-01-01 00:30:00", 3.0),
      ev(1L, 3L, "2024-01-01 09:00:00", 5.0)
    ).toDF("user_id", "event_id", "ts", "value")
    val got = Sessionize.aggregate(df, Seq("user_id"), "ts", 3600L,
        Seq(col("event_id")), "value")
      .select("session_id", "n_events", "value_sum")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == Set((0L, 2L, 5.0), (1L, 1L, 5.0)))
  }
}

class RangeJoinSpec extends SparkSpec {

  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("containment is [start, end) and bucket-spanning intervals match") {
    val points = Seq(
      (1L, ts("2024-01-01 00:00:00")), // == start       → in
      (2L, ts("2024-01-01 00:14:59")), // inside         → in
      (3L, ts("2024-01-01 00:15:00")), // == end         → out
      (4L, ts("2024-01-01 03:59:59")), // 4th bucket of the long interval
      (5L, ts("2024-01-01 00:20:00"))  // interval starts mid-prior-bucket
    ).toDF("pid", "pts")
    val intervals = Seq(
      (10L, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:15:00")),
      (11L, ts("2024-01-01 03:00:00"), ts("2024-01-01 04:00:00")),
      (12L, ts("2024-01-01 00:14:00"), ts("2024-01-01 00:29:00"))
    ).toDF("iid", "istart", "iend")
    val got = RangeJoin.bucketed(points, "pts", intervals,
        "istart", "iend", 900L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 10L), (4L, 11L),
      (2L, 12L), (3L, 12L), (5L, 12L)))
  }
}

class KeepBestSpec extends SparkSpec {

  import spark.implicits._

  test("longest text wins per transitive cluster; ties fall to lowest id") {
    val members = Seq(
      (1L, "aa"), (2L, "aaa"), (3L, "aaaa"), // chain 1-2-3, 3 longest
      (10L, "bb"), (11L, "bb")               // tie → 10
    ).toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id1", "id2")
    val got = Dedup.keepBest(members, edges, "doc_id",
        Seq(length(col("text")).desc, col("doc_id").asc))
      .select("canonical", "keep_id", "n_members")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 3L, 3L), (10L, 10L, 2L)))
  }
}

class AnalyzeSpec extends SparkSpec {

  import graft.operators.Analyze
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def li = graft.engine.Tables.t(spark, sf001, "lineitem")
    .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))

  test("exact stats: nulls, ndv, min/max per column in one pass") {
    val df = Seq((Some(1L), "a"), (Some(1L), "b"), (None, "b"))
      .toDF("k", "s")
    val got = Analyze.columnStats(df, Seq("k", "s"))
      .as[(String, Long, Long, Long, String, String)].collect().toSeq
    assert(got == Seq(
      ("k", 3L, 1L, 1L, "1", "1"),
      ("s", 3L, 0L, 2L, "a", "b")))
  }

  test("approx-NDV mode (the 100 TB plan: no Expand) lands within HLL error") {
    val cols = Seq("l_orderkey", "l_suppkey", "l_returnflag")
    val exact = Analyze.columnStats(li, cols)
      .select("column", "ndv").as[(String, Long)].collect().toMap
    val approx = Analyze.columnStats(li, cols, exactNdv = false)
      .select("column", "ndv").as[(String, Long)].collect().toMap
    cols.foreach { c =>
      val (e, a) = (exact(c).toDouble, approx(c).toDouble)
      assert(math.abs(a - e) <= math.max(2.0, 0.1 * e),
        s"$c: approx $a vs exact $e")
    }
    // and the rest of the stats are identical across modes
    val ex = Analyze.columnStats(li, cols).drop("ndv").collect().toSeq
    val ap = Analyze.columnStats(li, cols, exactNdv = false).drop("ndv")
      .collect().toSeq
    assert(ex == ap)
  }
}

class CurationSpec extends SparkSpec {

  import graft.operators.Curation
  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("blocklisted domains vanish; survivors keep exactly top-cap by order") {
    val docs = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 20L),
      ("bad", 4L, 99L),
      ("b", 5L, 5L)).toDF("source", "doc_id", "n_chars")
    val kept = Curation.domainCap(docs, "source", cap = 2,
        order = Seq(col("n_chars").desc, col("doc_id").asc),
        blocklist = Seq("bad"))
      .select("source", "doc_id").as[(String, Long)].collect().toSet
    assert(kept == Set(("a", 2L), ("a", 3L), ("b", 5L)))
  }

  test("quality ties fall deterministically to the lowest id") {
    val docs = Seq(("a", 9L, 7L), ("a", 8L, 7L), ("a", 7L, 7L))
      .toDF("source", "doc_id", "n_chars")
    val kept = Curation.domainCap(docs, "source", cap = 2,
        order = Seq(col("n_chars").desc, col("doc_id").asc),
        blocklist = Nil)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(7L, 8L))
  }

  test("cap above the WindowGroupLimit threshold is rejected") {
    val docs = Seq(("a", 1L, 1L)).toDF("source", "doc_id", "n_chars")
    intercept[IllegalArgumentException] {
      Curation.domainCap(docs, "source", cap = 1001,
        order = Seq(col("doc_id").asc), blocklist = Nil)
    }
  }

  private def canon(urls: String*): Seq[String] =
    urls.toDF("u").select(Curation.canonicalUrl(col("u")).as("c"))
      .as[String].collect().toSeq

  test("canonicalUrl: case, default port, trailing slash, fragment alias") {
    assert(canon(
      "http://EXAMPLE.com/a/1/",
      "HTTP://example.com:80/a/1",
      "http://example.com/a/1#section-3").distinct ==
      Seq("http://example.com/a/1"))
  }

  test("canonicalUrl: tracking params dropped, survivors sorted") {
    assert(canon("http://example.com/p?utm_source=x&b=2&fbclid=Y&a=1") ==
      Seq("http://example.com/p?a=1&b=2"))
    // permuted params collide after the sort
    assert(canon("http://example.com/p?b=2&a=1") ==
      canon("http://example.com/p?a=1&b=2"))
  }

  test("canonicalUrl: non-default port kept; bare authority gets '/'") {
    assert(canon("https://example.com:8080/x") ==
      Seq("https://example.com:8080/x"))
    assert(canon("https://Example.com:443") == Seq("https://example.com/"))
    assert(canon("http://example.com") == Seq("http://example.com/"))
  }
}

class Bm25Spec extends SparkSpec {

  import graft.operators.Bm25
  import spark.implicits._

  private val queries = Seq((1L, "cat")).toDF("query_id", "term")

  test("higher tf wins at equal length; longer doc loses at equal tf") {
    val docs = Seq(
      (1L, "cat cat cat dog"),  // tf=3, dl=4
      (2L, "cat cat fish dog"), // tf=2, dl=4
      (3L, "cat pig"),          // tf=1, dl=2
      (4L, "cat pig cow hen"),  // tf=1, dl=4 — longer, same tf as 3
      (5L, "no match here")
    ).toDF("doc_id", "text")
    val got = Bm25.topK(docs, queries, k = 10)
      .orderBy("rank").select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L, 4L), s"got $got")
  }

  test("documents without any query term never surface") {
    val docs = Seq((1L, "cat"), (2L, "dog"), (3L, "bird")).toDF("doc_id", "text")
    val got = Bm25.topK(docs, queries, k = 10).select("doc_id")
      .as[Long].collect().toSeq
    assert(got == Seq(1L))
  }

  test("multi-term queries sum per-term contributions") {
    val docs = Seq(
      (1L, "cat dog"), (2L, "cat cat"), (3L, "dog dog"), (4L, "fish fish")
    ).toDF("doc_id", "text")
    val q2 = Seq((7L, "cat"), (7L, "dog")).toDF("query_id", "term")
    val both = Bm25.topK(docs, q2, k = 10)
      .where($"doc_id" === 1L).select("score").as[Double].collect().head
    val single = Bm25.topK(docs, q2, k = 10)
      .where($"doc_id" === 2L).select("score").as[Double].collect().head
    // doc 1 matches both terms — its summed score beats a same-length
    // doc saturating one term
    assert(both > single)
  }

  test("streamed batch dirs correct statistics like a rebuild; a " +
      "replayed batch rewrites its slot; compaction is dedup-idempotent " +
      "even with a folded dir resurrected as live") {
    val base = Seq(
      (1L, "cat cat dog"), (2L, "cat fish"), (3L, "dog dog dog dog")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "pig cow hen pig cow hen pig cow"), (11L, "cat pig")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_sb")
      .toString
    Bm25.writeIndex(base, dir)
    Bm25.appendBatchDir(batch, dir, "crawl", 0L)
    // at-least-once replay: the SAME (tag, batch) rewrites its slot
    Bm25.appendBatchDir(batch, dir, "crawl", 0L)
    val fresh = Bm25.topK(base.union(batch), queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    def got() = Bm25.searchIndex(spark, dir, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(got().sameElements(fresh),
      "streamed batch diverged from a rebuild (stats or postings)")
    Bm25.compactIndexBatches(spark, dir)
    assert(got().sameElements(fresh), "compaction changed results")
    // the crash window, simulated: a folded batch dir resurrected on
    // disk at/below the marker — dedup + the marker must keep every
    // statistic single-counted
    Bm25.appendBatchDir(batch, dir, "crawl", 0L)
    assert(got().sameElements(fresh),
      "a resurrected folded batch double-counted stats or postings")
    // and a re-run compaction converges instead of re-folding
    Bm25.compactIndexBatches(spark, dir)
    assert(got().sameElements(fresh))
  }

  test("a streamed-then-deleted doc resolves DELETED through one vacuum") {
    val base = Seq((1L, "cat cat dog"), (2L, "cat fish"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_sv")
      .toString
    Bm25.writeIndex(base, dir)
    Bm25.appendBatchDir(Seq((20L, "cat streamed then forgotten"))
      .toDF("doc_id", "text"), dir, "crawl", 0L)
    Bm25.deleteFromIndex(Seq(20L).toDF("doc_id"), dir)
    assert(Bm25.vacuumIndex(spark, dir) > 0L)
    assert(spark.read.parquet(s"$dir/postings")
      .where($"doc_id" === 20L).count() == 0)
    assert(spark.read.parquet(s"$dir/doclens")
      .where($"doc_id" === 20L).count() == 0)
    val fresh = Bm25.topK(base, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    val got = Bm25.searchIndex(spark, dir, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(got.sameElements(fresh),
      "post-vacuum scores diverged from the never-ingested corpus")
  }

  test("appendToIndex corrects n_docs/avgdl/df: post-append search " +
      "equals a fresh index over the grown corpus, scores included") {
    val base = Seq(
      (1L, "cat cat dog"), (2L, "cat fish"), (3L, "dog dog dog dog")
    ).toDF("doc_id", "text")
    // a long cat-free batch: shifts avgdl up and leaves cat's df alone,
    // while a second cat doc shifts cat's idf down — both must land
    val batch = Seq(
      (10L, "pig cow hen pig cow hen pig cow"), (11L, "cat pig")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_app")
      .toString
    Bm25.writeIndex(base, dir)
    Bm25.appendToIndex(batch, dir)
    val got = Bm25.searchIndex(spark, dir, queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    val fresh = Bm25.topK(base.union(batch), queries, k = 10)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(got.nonEmpty && got.sameElements(fresh),
      s"appended-index search diverged: got=${got.toSeq} fresh=${fresh.toSeq}")
  }
}

class FusionSpec extends SparkSpec {

  import spark.implicits._

  test("reciprocal rank fusion: agreement beats a single-list head, " +
      "missing entries contribute nothing, rounded ties break by id") {
    // q1: id 20 sits mid-list in BOTH lists and must outrank each
    // list's unique head; q2: two heads of different lists tie at the
    // same rounded score and order by id
    val a = Seq((1L, 10L, 1), (1L, 20L, 2), (2L, 10L, 1))
      .toDF("query_id", "id", "rank")
    val b = Seq((1L, 20L, 1), (1L, 30L, 2), (2L, 15L, 1))
      .toDF("query_id", "id", "rank")
    val got = Fusion.reciprocalRankFusion(Seq(a, b), k = 10)
      .orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    assert(got.toSeq == Seq(
      (1L, 20L, 0.0325, 1), // 1/62 + 1/61
      (1L, 10L, 0.0164, 2), // 1/61
      (1L, 30L, 0.0161, 3), // 1/62
      (2L, 10L, 0.0164, 1), // tie with 15 at 4 dp; lower id first
      (2L, 15L, 0.0164, 2)),
      s"unexpected fusion: ${got.toSeq}")
  }

  test("fusion k truncates per query") {
    val a = (1 to 5).map(i => (1L, i.toLong, i)).toDF("query_id", "id", "rank")
    assert(Fusion.reciprocalRankFusion(Seq(a), k = 3).count() == 3)
  }
}

class SemanticDedupSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import spark.implicits._

  // two well-separated clusters along axes 0 and 1
  private def centroidFrame = Seq(
    (0, Array(1.0, 0.0, 0.0)), (1, Array(0.0, 1.0, 0.0))
  ).toDF("centroid_id", "centroid_vec")

  test("near-dups prune within a cluster, lowest id wins; chains cascade") {
    val vecs = Seq(
      (1L, Array(1.0, 0.01, 0.0)),   // cluster 0
      (2L, Array(2.0, 0.02, 0.0)),   // exact x2 of id 1 → dropped by 1
      (3L, Array(1.0, 0.011, 0.0)),  // ~1.0 cosine to both → dropped
      (10L, Array(0.0, 1.0, 0.1)),   // cluster 1, kept
      (11L, Array(0.9, 0.5, 0.0))    // cluster 0 but far → kept
    ).toDF("vec_id", "v")
    val got = Dedup.semanticDedup(vecs, "vec_id", "v",
        centroids = centroidFrame, threshold = 0.99)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> false,
      10L -> true, 11L -> true))
  }

  test("identical vectors in DIFFERENT clusters survive — the documented " +
      "SemDeDup approximation (cluster-bounded search, never corpus-wide)") {
    val v = Array(0.7, 0.7, 0.0) // equidistant-ish; tie broken by rounded
    val vecs = Seq((1L, v), (2L, Array(1.0, 0.0, 0.0)),
      (3L, Array(0.0, 1.0, 0.0))).toDF("vec_id", "v")
    val asg = Dedup.semanticDedup(vecs, "vec_id", "v",
        centroids = centroidFrame, threshold = 0.99)
      .select("vec_id", "cid", "keep")
      .as[(Long, Int, Boolean)].collect()
    // ids 2 and 3 live in different clusters; both keep
    val byId = asg.map(r => r._1 -> r).toMap
    assert(byId(2L)._2 != byId(3L)._2)
    assert(asg.forall(_._3))
  }

  test("maxCluster cap is enforced and bounded") {
    val vecs = Seq((1L, Array(1.0, 0.0, 0.0))).toDF("vec_id", "v")
    intercept[IllegalArgumentException] {
      Dedup.semanticDedup(vecs, "vec_id", "v", centroidFrame, 0.99,
        maxCluster = 5000)
    }
  }
}

class ImportanceWeightsSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("target-slice documents outscore source-only documents") {
    val docs = Seq(
      (1L, "alpha beta alpha beta", true),
      (2L, "alpha beta gamma alpha", true),
      (3L, "delta epsilon delta zeta", false),
      (4L, "delta zeta epsilon", false),
      (5L, "alpha beta beta alpha", false) // target-like text, source slice
    ).toDF("doc_id", "text", "tgt")
    val scores = ImportanceWeights.dsirScores(docs, "doc_id", "text",
        targetPred = col("tgt"))
      .select("doc_id", "score", "keep")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // docs made of target-heavy tokens score positive, source-only negative
    assert(scores(1L)._3 && scores(2L)._3, s"target docs not kept: $scores")
    assert(!scores(3L)._3 && !scores(4L)._3, s"source docs kept: $scores")
    // importance is about CONTENT, not slice membership: doc 5 reads like
    // the target and must be pulled in even though it sat in the source
    assert(scores(5L)._3, s"target-like source doc not kept: $scores")
  }

  test("scores are partitioning-invariant (ordered fold)") {
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
      .limit(60)
    val a = ImportanceWeights.dsirScores(docs.repartition(1), "doc_id",
        "text", col("lang") === "en").orderBy("doc_id").collect().toSeq
    val b = ImportanceWeights.dsirScores(docs.repartition(7), "doc_id",
        "text", col("lang") === "en").orderBy("doc_id").collect().toSeq
    assert(a == b)
  }
}

class LengthBucketSpec extends SparkSpec {

  import spark.implicits._

  test("batches group similar lengths; waste arithmetic is exact") {
    // lengths 10,12 (bucket 0 at width 16) and 100,104,120 (buckets 6,7)
    val df = Seq((1L, 10L), (2L, 12L), (3L, 100L), (4L, 104L), (5L, 120L))
      .toDF("id", "len")
    val got = Packing.lengthBucketBatches(df, "id", "len",
        bucketWidth = 16, maxBucket = 7, batchSize = 2)
      .orderBy("bucket", "batch_idx")
      .select("bucket", "batch_idx", "n_rows", "max_len", "padding_waste")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (0L, 0L, 2L, 12L, 2L),   // 2*12 - 22
      (6L, 0L, 2L, 104L, 4L),  // 2*104 - 204
      (7L, 0L, 1L, 120L, 0L))) // singleton pads nothing
  }

  test("every row is batched exactly once and results are partition-stable") {
    val df = (1L to 300L).map(i => (i, (i * 37) % 200 + 1)).toDF("id", "len")
    val a = Packing.lengthBucketBatches(df.repartition(1), "id", "len",
      32, 7, 16)
    val b = Packing.lengthBucketBatches(df.repartition(9), "id", "len",
      32, 7, 16)
    assert(a.orderBy("bucket", "batch_idx").collect().toSeq ==
      b.orderBy("bucket", "batch_idx").collect().toSeq)
    assert(a.agg(org.apache.spark.sql.functions.sum("n_rows")).head.getLong(0)
      == 300L)
  }
}

class Bm25IndexSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import spark.implicits._

  test("persisted-index search is result-identical to scan+prune topK " +
      "and reads only the query terms' partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25").toString
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
    val queries = Seq((1L, "spark"), (1L, "window"), (2L, "customer"))
      .toDF("query_id", "term")
    Bm25.writeIndex(docs, dir)
    val direct = Bm25.topK(docs, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val indexed = Bm25.searchIndex(spark, dir, queries, k = 10)
    assert(indexed.orderBy("query_id", "rank").collect().toSeq == direct)
    // the bucket predicate must prune at the PARTITION level, not post-scan
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("term_bucket"),
      s"no term_bucket partition pruning visible:\n$plan")
    // clustered-write layout contract: the two-key repartition before the
    // dynamic partitionBy bounds files per bucket dir at `slices`
    // (cores / IndexBuckets), instead of upstream-tasks x dirs
    val slices = math.max(1,
      spark.sparkContext.defaultParallelism / Bm25.IndexBuckets)
    val bucketDirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("term_bucket="))
    assert(bucketDirs.nonEmpty, "no term_bucket partition dirs written")
    for (d <- bucketDirs) {
      val parts = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts <= slices,
        s"${d.getName} has $parts part files, layout cap is $slices")
    }
  }

  test("over-cap query term set falls back to the distributed join " +
      "path with identical results (bounded-driver contract)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25b").toString
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
    val queries = Seq((1L, "spark"), (1L, "window"), (2L, "customer"))
      .toDF("query_id", "term")
    Bm25.writeIndex(docs, dir)
    // maxTerms=2 < 3 distinct terms -> the driver-side term enumeration
    // is skipped and the shuffle-join fallback must produce the same rows
    val pruned = Bm25.searchIndex(spark, dir, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val fallback = Bm25.searchIndex(spark, dir, queries, k = 10,
      maxTerms = 2)
    assert(fallback.orderBy("query_id", "rank").collect().toSeq == pruned)
    // ...and the fallback plan must NOT carry the driver-enumerated
    // per-term bucket IN-list (it reads all buckets via the join)
    val plan = fallback.queryExecution.executedPlan.toString
    assert(!plan.contains("term_bucket IN"),
      s"fallback still uses driver-enumerated bucket pruning:\n$plan")
  }

  test("index deletion masks immediately WITH exact statistics " +
      "correction; vacuum is physical and idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25d").toString
    val docs = graft.engine.Tables.t(spark, sf001, "documents")
    val queries = Seq((1L, "spark"), (1L, "window"), (2L, "customer"))
      .toDF("query_id", "term")
    Bm25.writeIndex(docs, dir)
    val deleted = docs.where(col("doc_id") % 7 === 1).select("doc_id")
    Bm25.deleteFromIndex(deleted, dir)
    // scores must equal topK over the FILTERED corpus exactly — n_docs,
    // avgdl, and df all corrected, not just rows dropped
    val expected = Bm25
      .topK(docs.where(col("doc_id") % 7 =!= 1), queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val masked = Bm25.searchIndex(spark, dir, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(masked == expected,
      s"post-delete scores diverge from the live-corpus index:\n" +
        s"$masked\n$expected")
    assert(Bm25.vacuumIndex(spark, dir) > 0L)
    val after = Bm25.searchIndex(spark, dir, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(after == expected, s"post-vacuum diverged:\n$after\n$expected")
    assert(Bm25.vacuumIndex(spark, dir) == 0L)
  }

  test("a tombstone landing inside BM25 vacuum's race window survives") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25r").toString
    val docs = Seq((1L, "spark window table"), (2L, "spark customer row"),
      (3L, "window table vector")).toDF("doc_id", "text")
    val queries = Seq((1L, "spark"), (1L, "window")).toDF("query_id", "term")
    Bm25.writeIndex(docs, dir)
    Bm25.deleteFromIndex(Seq(1L).toDF("doc_id"), dir)
    Bm25.vacuumAfterSnapshotHook =
      () => Bm25.deleteFromIndex(Seq(2L).toDF("doc_id"), dir)
    try Bm25.vacuumIndex(spark, dir)
    finally Bm25.vacuumAfterSnapshotHook = () => ()
    val expected = Bm25
      .topK(docs.where(!col("doc_id").isin(1L, 2L)), queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    val got = Bm25.searchIndex(spark, dir, queries, k = 10)
      .orderBy("query_id", "rank").collect().toSeq
    assert(got == expected, s"late tombstone lost:\n$got\n$expected")
    assert(Bm25.vacuumIndex(spark, dir) > 0L)
  }

  test("a full BM25 purge leaves a readable empty index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25p").toString
    val docs = Seq((1L, "solo spark doc")).toDF("doc_id", "text")
    Bm25.writeIndex(docs, dir)
    Bm25.deleteFromIndex(Seq(1L).toDF("doc_id"), dir)
    Bm25.vacuumIndex(spark, dir)
    assert(Bm25.searchIndex(spark, dir,
      Seq((1L, "spark")).toDF("query_id", "term"), k = 10).count() == 0)
  }
}

/** Bounded-driver contract on the PQ search's query-side collect. */
class PqBoundedSpec extends SparkSpec {

  import org.apache.spark.sql.functions._

  test("pqTopK fails loudly (no driver collect) when the query table " +
      "exceeds maxQ") {
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val cb = ProductQuant.fitCodebooks(emb.where(col("vec_id") < 64))
    val ex = intercept[IllegalArgumentException] {
      ProductQuant.pqTopK(emb.where(col("vec_id") < 64), emb, cb,
        k = 1, rerank = 5, maxQ = 8)
    }
    assert(ex.getMessage.contains("maxQ"), ex.getMessage)
    // at-the-cap query side still runs
    val ok = ProductQuant.pqTopK(emb.where(col("vec_id") < 64),
      emb.where(col("vec_id") < 8), cb, k = 1, rerank = 5, maxQ = 8)
    assert(ok.count() == 8L)
  }
}

/** BPE merge learning on the textbook corpus (Sennrich et al. §3.2's
  * low/lower/newest/widest example, char-level without the </w> marker). */
class BpeTrainSpec extends SparkSpec {

  import spark.implicits._

  test("learnMerges reproduces the classic merge sequence") {
    // freqs: low 5, lower 2, newest 6, widest 3
    val words = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L)).toDF("word", "freq")
    val merges = BpeTrain.learnMerges(words, nMerges = 4)
      .as[(Int, String, String, Long)].collect().toSeq
    // round 1: (e,s) 6+3=9; round 2: (es,t) 9; round 3: (l,o) 7;
    // round 4: (lo,w) 7 — each winner is unique at its round, ties none
    assert(merges == Seq((1, "e", "s", 9L), (2, "es", "t", 9L),
      (3, "l", "o", 7L), (4, "lo", "w", 7L)))
  }

  test("learnMerges counts overlapping pairs and merges greedily left-first") {
    val words = Seq(("aaaa", 1L)).toDF("word", "freq")
    val merges = BpeTrain.learnMerges(words, nMerges = 2)
      .as[(Int, String, String, Long)].collect().toSeq
    // (a,a) occurs at 3 adjacent positions; the greedy replace yields
    // [aa][aa], so round 2 merges (aa,aa) once
    assert(merges == Seq((1, "a", "a", 3L), (2, "aa", "aa", 1L)))
  }

  test("learnMerges fails loudly when the vocabulary is fully merged") {
    val words = Seq(("ab", 1L)).toDF("word", "freq")
    val e = intercept[IllegalArgumentException] {
      BpeTrain.learnMerges(words, nMerges = 3)
    }
    assert(e.getMessage.contains("fully merged"))
  }
}

/** Incremental connected components: batch absorption == full recompute. */
class IncrementalCcSpec extends SparkSpec {

  import spark.implicits._
  import graft.operators.ConnectedComponents

  test("bridging batches cascade merges exactly like a full recompute") {
    // day 1: two separate chains 1-2, 3-4 and a singleton pair 7-8
    val day1 = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("id1", "id2")
    // day 2: bridge the chains (2-3), attach a NEW id to 8 (8-9), and a
    // completely new component (20-21)
    val day2 = Seq((2L, 3L), (8L, 9L), (20L, 21L)).toDF("id1", "id2")
    val inc = ConnectedComponents.incrementalCanonicalize(
        ConnectedComponents.canonicalize(day1), day2)
      .as[(Long, Long)].collect().toMap
    val full = ConnectedComponents.canonicalize(day1.union(day2))
      .as[(Long, Long)].collect().toMap
    assert(inc == full, s"incremental $inc != full $full")
    assert(inc(4L) == 1L && inc(9L) == 7L && inc(21L) == 20L)
  }

  test("a batch that adds nothing new leaves the labeling unchanged") {
    val day1 = Seq((1L, 2L), (3L, 4L)).toDF("id1", "id2")
    val labels = ConnectedComponents.canonicalize(day1)
    val redundant = Seq((1L, 2L), (2L, 1L)).toDF("id1", "id2")
    val inc = ConnectedComponents.incrementalCanonicalize(labels, redundant)
      .as[(Long, Long)].collect().toMap
    assert(inc == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("three-way cascade: one batch edge merges three old components") {
    val day1 = Seq((10L, 11L), (20L, 21L), (30L, 31L)).toDF("id1", "id2")
    val day2 = Seq((11L, 21L), (21L, 31L)).toDF("id1", "id2")
    val inc = ConnectedComponents.incrementalCanonicalize(
        ConnectedComponents.canonicalize(day1), day2)
      .as[(Long, Long)].collect().toMap
    assert(inc.values.toSet == Set(10L) && inc.size == 6)
  }
}

/** Round-8 operator invariants beyond what the hash gates pin. */
class RoundEightOpsSpec extends SparkSpec {

  import spark.implicits._

  test("interleave: every prefix holds each source proportional within " +
      "one emission") {
    val a = (1L to 90L).map(i => (i, "a")).toDF("id", "tag")
    val b = (1L to 30L).map(i => (i + 1000, "b")).toDF("id", "tag")
    val out = Sampling.interleave(Seq(("a", a, 3L), ("b", b, 1L)),
        orderBy = Seq(col("id")))
      .orderBy("pos").select("src").as[String].collect()
    assert(out.length == 120)
    // stride scheduling: in any prefix of length n, source counts are
    // within ONE emission of n·w/ΣW
    for (n <- 1 to out.length) {
      val na = out.take(n).count(_ == "a")
      val expect = n * 3.0 / 4.0
      assert(math.abs(na - expect) <= 1.0 + 1e-9,
        s"prefix $n: $na a's, expected ~$expect")
    }
  }

  test("runningTotal matches a single-partition window running sum, " +
      "signed deltas included") {
    val rows = (1 to 500).map(i =>
      (i.toLong, if (i % 3 == 0) -2L else 1L)).toDF("k", "d")
      .repartition(13)
    val got = Packing.runningTotal(rows, Seq(col("k")), "d")
      .select("k", "cum").as[(Long, Long)].collect().toMap
    var run = 0L
    (1 to 500).foreach { i =>
      run += (if (i % 3 == 0) -2L else 1L)
      assert(got(i.toLong) == run, s"cum mismatch at $i")
    }
  }

  test("bloomJoin equals the plain join on long and string keys") {
    val fact = (1L to 2000L).map(i => (i % 97, s"row$i"))
      .toDF("k", "payload")
    val dim = Seq(3L, 5L, 96L).toDF("k")
    val viaBloom = Sketches.bloomJoin(fact, dim, "k", "k")
      .select("payload").as[String].collect().sorted.toSeq
    val plain = fact.join(dim, "k")
      .select("payload").as[String].collect().sorted.toSeq
    assert(viaBloom == plain && plain.nonEmpty)
    val factS = fact.select(concat(lit("k"), col("k")).as("ks"),
      col("payload"))
    val dimS = dim.select(concat(lit("k"), col("k")).as("ks"))
    val viaBloomS = Sketches.bloomJoin(factS, dimS, "ks", "ks")
      .select("payload").as[String].collect().sorted.toSeq
    assert(viaBloomS == plain)
  }

  test("zoneMapPruning accounting is exact on a hand-computed layout") {
    // 10 files of 10 rows, values 0..99 in order: predicate [25, 40)
    // scans only files 2 [20..29] and 3 [30..39] (20 rows, 15 selected);
    // file 4 [40..49] is zone-skipped because min = hi and hi is
    // EXCLUSIVE — 8 files skipped in all
    val df = (0 until 100).map(v => (v, v)).toDF("v", "id")
    val out = Analyze.zoneMapPruning(df, "v", Seq(col("v")), 10,
        Seq((1, lit(25), lit(40))))
      .as[(Int, Long, Long, Long, Long)].collect().head
    assert(out == ((1, 10L, 8L, 20L, 15L)),
      s"zone accounting off: $out")
  }

  test("kFold: every member of a dup cluster lands in the same fold") {
    val ids = (1L to 300L).toDF("id")
    val pairs = (1L to 100L).map(i => (i, i + 100)).toDF("id1", "id2")
      .union((1L to 100L).map(i => (i + 100, i + 200)).toDF("id1", "id2"))
    val folds = Sampling.kFold(ids, pairs, k = 5)
      .select("id", "fold").as[(Long, Int)].collect().toMap
    (1L to 100L).foreach { i =>
      assert(folds(i) == folds(i + 100) && folds(i) == folds(i + 200),
        s"cluster $i straddles folds")
    }
    assert(folds.values.toSet.size == 5, "fold space not covered")
  }

  test("keySkew: the planted hot key dominates its bucket and counts " +
      "are exact") {
    val df = ((1 to 900).map(_ => "hot") ++ (1 to 300).map(i => s"k$i"))
      .toDF("k")
    val rows = Analyze.keySkew(df, "k", nBuckets = 8)
      .as[(Long, Long, Long, String, Long)].collect()
    assert(rows.map(_._2).sum == 1200L)
    assert(rows.map(_._3).sum == 301L)
    val hot = rows.find(_._4 == "hot").get
    assert(hot._5 == 900L, s"hot key rows: ${hot._5}")
  }
}

/** LSH banding planner: S-curve placement and error monotonicity. */
class LshPlanSpec extends SparkSpec {

  test("the chosen S-curve midpoint tracks the target threshold") {
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val (b, r, err) = Dedup.lshPlan(t, maxSignature = 128)
      // the curve's steepest point is ~(1/b)^(1/r); it should land near t
      val mid = math.pow(1.0 / b, 1.0 / r)
      assert(math.abs(mid - t) < 0.15,
        s"t=$t chose (b=$b, r=$r), curve midpoint $mid")
      assert(err > 0.0 && err < 0.5)
    }
  }

  test("a larger signature budget never increases the error") {
    val errs = Seq(16, 32, 64, 128)
      .map(m => Dedup.lshPlan(0.5, m)._3)
    assert(errs.sliding(2).forall { case Seq(a, b) => b <= a + 1e-12 },
      s"error not monotone in budget: $errs")
  }

  test("recall weighting shifts the curve left (more candidates kept)") {
    val (b1, r1, _) = Dedup.lshPlan(0.6, 64, fnWeight = 1.0)
    val (b5, r5, _) = Dedup.lshPlan(0.6, 64, fnWeight = 5.0)
    val mid1 = math.pow(1.0 / b1, 1.0 / r1)
    val mid5 = math.pow(1.0 / b5, 1.0 / r5)
    assert(mid5 < mid1,
      s"fnWeight=5 should move the midpoint left: $mid5 vs $mid1")
  }

  test("the planned parameters drive minhashLshPairs at full recall on " +
      "planted dups") {
    import spark.implicits._
    val base = (1L to 20L).map(i =>
      (i, s"shared boilerplate prefix tokens here unique tail $i words"))
    val copies = base.take(10).map { case (i, t) => (i + 100, t) }
    val docs = (base ++ copies).toDF("doc_id", "text")
    val (bands, rows, _) = Dedup.lshPlan(0.7, 32, fnWeight = 5.0)
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text",
        k = 3, m = bands * rows, bands = bands, threshold = 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    (1L to 10L).foreach(i => assert(pairs.contains((i, i + 100)),
      s"planted dup $i missed under planned (b=$bands, r=$rows)"))
  }
}

class TextCleanSpec extends SparkSpec {

  import spark.implicits._

  test("dedupLines keeps a repeated line only in its min-id owner, " +
      "preserves order, keeps unique lines") {
    val docs = Seq(
      (3L, "alpha one\nSUBSCRIBE NOW\nbeta two"),
      (1L, "gamma three\nSUBSCRIBE NOW\ndelta four"),
      (2L, "SUBSCRIBE NOW\nepsilon five")).toDF("doc_id", "text")
    val got = TextClean.dedupLines(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 3L, "gamma three\nSUBSCRIBE NOW\ndelta four")))
    assert(got(3L) == ((3L, 2L, "alpha one\nbeta two")),
      "non-owner must lose the boilerplate copy but keep line order")
    assert(got(2L) == ((2L, 1L, "epsilon five")))
  }

  test("filterLines applies word floor and case-insensitive bans; a " +
      "fully-dropped doc still reports, empty text") {
    val docs = Seq(
      (1L, "keep these three words\nno\nLorem Ipsum here today\nok fine then"),
      (2L, "x { y z w")).toDF("doc_id", "text")
    val got = TextClean.filterLines(docs, "doc_id", "text",
        minWords = 3, banned = Seq("lorem ipsum", "{"))
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((4L, 2L, "keep these three words\nok fine then")))
    assert(got(2L) == ((1L, 0L, "")),
      "all-dropped doc must still surface with n_kept = 0")
  }

  test("dedupLines treats the separator as a literal (split AND rejoin)") {
    val docs = Seq((1L, "a b c|dup line here"), (2L, "dup line here|x y z"))
      .toDF("doc_id", "text")
    val got = TextClean.dedupLines(docs, "doc_id", "text", sep = "|")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got(1L) == "a b c|dup line here", s"got ${got(1L)}")
    assert(got(2L) == "x y z", s"got ${got(2L)}")
  }
}

/** Bigram stupid-backoff LM scoring (the CCNet-shape perplexity
  * filter): hand-verified micro-nat costs on a fixture small enough to
  * walk every backoff branch, plus the separation property the filter
  * exists for. */
class BackoffLmSpec extends SparkSpec {

  import org.apache.spark.sql.functions._
  import spark.implicits._

  private def unats(p: Double): Long =
    math.floor(-1e6 * math.log(p) + 0.5).toLong

  test("score walks seen-bigram, backoff-to-unigram, and unseen-token " +
      "branches with exact integer micro-nat costs") {
    val train = Seq(Tuple1(Seq("a", "b", "a"))).toDF("ts")
    val m = BackoffLm.train(train)
    assert(m.nTokens == 3L)
    val docs = Seq(
      (1L, Seq("a", "b", "c")), // seen uni, seen bigram, double backoff
      (2L, Seq("a")),           // single token: unigram only, no 0.4
      (3L, Seq.empty[String])). // zero tokens: dropped, not divided by
      toDF("doc_id", "ts")
    val got = BackoffLm.score(docs, m)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: S(a)=2/3; S(b|a)=c12(a,b)/c1(a)=1/1 (cost 0);
    //        S(c|b) backs off twice: 0.4 * (0.4 / 3)
    val c1 = unats(2.0 / 3) + unats(1.0) + unats(0.4 * 0.4 / 3)
    assert(got(1L) == ((3L, c1, c1 / 3)), s"got ${got(1L)}")
    // doc 2: first token has no context -> NO 0.4 factor on the unigram
    assert(got(2L) == ((1L, unats(2.0 / 3), unats(2.0 / 3))))
    assert(!got.contains(3L), "zero-token doc must be dropped")
  }

  test("bigram denominator is the context count (sum of bigrams), not " +
      "the raw unigram count") {
    // 'a' appears 3 times but only twice as a bigram CONTEXT (the final
    // 'a' ends the doc) -> S(b|a) must be 2/2 = 1, not 2/3
    val m = BackoffLm.train(Seq(Tuple1(Seq("a", "b", "a", "b", "a")))
      .toDF("ts"))
    val got = BackoffLm.score(Seq((1L, Seq("a", "b"))).toDF("doc_id", "ts"), m)
      .as[(Long, Long, Long, Long)].collect().head
    // S(a)=3/5 then S(b|a)=2/2: total = unats(3/5) + 0
    assert(got._3 == unats(3.0 / 5), s"got $got")
  }

  test("held-out documents with unseen vocabulary score strictly worse " +
      "than in-domain text (the property the filter ranks on)") {
    val m = BackoffLm.train(
      Seq(Tuple1(Seq("the", "quick", "fox", "jumps", "the", "quick"))).toDF("ts"))
    val docs = Seq(
      (1L, Seq("the", "quick", "fox")),
      (2L, Seq("zxq", "vvw", "qqj"))).toDF("doc_id", "ts")
    val got = BackoffLm.score(docs, m)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r._4).toMap
    assert(got(2L) > got(1L),
      s"unseen-vocab doc must cost more: $got")
  }
}
