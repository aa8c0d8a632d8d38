package graft.operators

import graft.SparkSpec

/** MaxSim late-interaction scoring: hand-checked sums, self-exclusion,
  * and the token decomposition helper. */
class MaxSimSpec extends SparkSpec {

  import spark.implicits._

  test("maxsim: each query token takes its best doc token; sums add up") {
    // doc 10 carries both axes (one token each), doc 20 only axis x —
    // for a 2-token query (x, y): doc 10 scores 1+1, doc 20 scores 1+0
    val docToks = Seq(
      (10L, Seq(1.0, 0.0)), (10L, Seq(0.0, 1.0)),
      (20L, Seq(1.0, 0.0)), (20L, Seq(1.0, 0.0))
    ).toDF("doc_id", "vec")
    val qToks = Seq(
      (1L, 0, Seq(1.0, 0.0)), (1L, 1, Seq(0.0, 1.0))
    ).toDF("query_id", "tok", "vec")
    val got = MaxSim.maxSimTopK(docToks, qToks, k = 5)
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    assert(got.toSeq == Seq((1L, 10L, 2.0, 1), (1L, 20L, 1.0, 2)),
      s"got ${got.toSeq}")
  }

  test("a query never retrieves its own id") {
    val docToks = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(1.0, 0.0)))
      .toDF("doc_id", "vec")
    val qToks = Seq((1L, 0, Seq(1.0, 0.0))).toDF("query_id", "tok", "vec")
    val got = MaxSim.maxSimTopK(docToks, qToks, k = 5)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(2L))
  }

  test("subvectorTokens splits into m contiguous slices, 0-indexed") {
    val vecs = Seq((7L, (1 to 8).map(_.toDouble))).toDF("vec_id", "v")
    val got = MaxSim.subvectorTokens(vecs, "vec_id", "v", m = 4)
      .as[(Long, Int, Seq[Double])].collect().sortBy(_._2)
    assert(got.toSeq == Seq(
      (7L, 0, Seq(1.0, 2.0)), (7L, 1, Seq(3.0, 4.0)),
      (7L, 2, Seq(5.0, 6.0)), (7L, 3, Seq(7.0, 8.0))))
  }

  test("pruned two-stage: surfaced scores equal the exact scorer's, " +
      "the candidate cap genuinely prunes, recall floor holds") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    val exact = MaxSim.maxSimTopK(docToks, qToks, k = 10)
      .as[(Long, Long, Double, Int)].collect()
    val exactScore = exact.map(r => (r._1, r._2) -> r._3).toMap
    // tight budget: per query at most 8 tokens x 8 best tokens = 64
    // candidate docs of 500 — the prune must be REAL
    val pruned = MaxSim.maxSimTopKPruned(docToks, qToks, k = 10,
        nClusters = 16, nProbe = 4, tokenTopT = 8)
      .as[(Long, Long, Double, Int)].collect()
    assert(pruned.nonEmpty)
    pruned.foreach { r =>
      exactScore.get((r._1, r._2)).foreach { s =>
        assert(s == r._3, s"pruned score diverged for ${(r._1, r._2)}")
      }
    }
    val recall = exact.map(r => (r._1, r._2)).toSet
      .intersect(pruned.map(r => (r._1, r._2)).toSet).size.toDouble /
      exact.length
    assert(recall >= 0.5, s"pruned recall $recall too low at topT=8")
  }

  test("persisted token index round-trips: searchTokenIndex is " +
      "row-identical to the in-memory pruned search, and both scans " +
      "carry their partition prunes") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_idx").toString
    MaxSim.writeTokenIndex(docToks, dir, nClusters = 16)
    val mem = MaxSim.maxSimTopKPruned(docToks, qToks, k = 10,
        nClusters = 16, nProbe = 4, tokenTopT = 16)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val idxDf = MaxSim.searchTokenIndex(spark, dir, qToks, k = 10,
      nProbe = 4, tokenTopT = 16)
    val idx = idxDf
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    assert(mem.nonEmpty && idx.sameElements(mem),
      "persisted token-index search diverged from the in-memory pruned " +
        s"search:\n${idx.toSeq}\n${mem.toSeq}")
    // both layouts exist and are partition-pruned at the scan
    for (ds <- Seq("tokens", "doctokens")) {
      val pfx = if (ds == "tokens") "centroid_id=" else "doc_bucket="
      assert(new java.io.File(s"$dir/$ds").listFiles()
        .exists(_.getName.startsWith(pfx)), s"$ds not partitioned")
    }
    val plan = idxDf.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("doc_bucket"),
      s"candidate fetch must partition-prune on doc_bucket:\n$plan")
  }

  test("token-index deletion: tombstones mask both layouts immediately, " +
      "vacuum preserves results and physically removes both, a " +
      "race-window tombstone survives") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_del").toString
    MaxSim.writeTokenIndex(docToks, dir, nClusters = 16)
    def hits() = MaxSim.searchTokenIndex(spark, dir, qToks,
        k = 10, nProbe = 4, tokenTopT = 16)
      .select("doc_id").as[Long].collect().toSet
    val victim = hits().min
    MaxSim.deleteFromIndex(Seq(victim).toDF("doc_id"), dir)
    val masked = hits()
    assert(!masked.contains(victim), "tombstoned doc still retrieved")
    // race seam: a tombstone landing inside vacuum's window survives
    val second = masked.min
    MaxSim.vacuumAfterSnapshotHook = () =>
      MaxSim.deleteFromIndex(Seq(second).toDF("doc_id"), dir)
    try assert(MaxSim.vacuumIndex(spark, dir) > 0L)
    finally MaxSim.vacuumAfterSnapshotHook = () => ()
    for (ds <- Seq("tokens", "doctokens"))
      assert(spark.read.parquet(s"$dir/$ds")
        .where(col("doc_id") === victim).count() == 0,
        s"$ds still holds the vacuumed doc")
    assert(!hits().contains(second),
      "the race-window tombstone stopped masking")
    assert(MaxSim.vacuumIndex(spark, dir) > 0L,
      "the surviving tombstone was not folded by the next vacuum")
  }

  test("IntegerType doc_id: persisted index search returns the same " +
      "documents as the canonical LongType run (doc_bucket hash must " +
      "not depend on the input id type)") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToksL = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val docToksI = docToksL.withColumn("doc_id", col("doc_id").cast("int"))
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    def run(toks: org.apache.spark.sql.DataFrame) = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_maxsim_int").toString
      MaxSim.writeTokenIndex(toks, dir, nClusters = 16)
      MaxSim.searchTokenIndex(spark, dir, qToks, k = 10,
          nProbe = 4, tokenTopT = 16)
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
        .toSeq
    }
    val viaLong = run(docToksL)
    val viaInt = run(docToksI)
    assert(viaLong.nonEmpty && viaInt == viaLong,
      s"int-typed doc_id diverged:\n$viaInt\n$viaLong")
  }

  test("packed-token-id guard: tok >= 1024 and negative ids raise " +
      "instead of silently corrupting the recovered doc_id") {
    import org.apache.spark.sql.functions._
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val wideTok = Seq((1L, 1024, Seq(1.0, 0.0)), (2L, 0, Seq(0.0, 1.0)))
      .toDF("doc_id", "tok", "vec")
    val negId = Seq((-1L, 0, Seq(1.0, 0.0))).toDF("doc_id", "tok", "vec")
    val q = Seq((9L, 0, Seq(1.0, 0.0))).toDF("query_id", "tok", "vec")
    for (bad <- Seq(wideTok, negId)) {
      val e = intercept[Exception](
        MaxSim.maxSimTopKPruned(bad, q, k = 5, nClusters = 2).count())
      assert(messages(e).exists(_.contains("packed token id")),
        s"wanted the packed-id guard, got ${messages(e)}")
      val dir = java.nio.file.Files
        .createTempDirectory("graft_maxsim_guard").toString
      val w = intercept[Exception](MaxSim.writeTokenIndex(bad, dir, 2))
      assert(messages(w).exists(_.contains("packed token id")),
        s"writeTokenIndex: wanted the packed-id guard, got ${messages(w)}")
    }
  }

  test("appendToTokenIndex: appended near-copies surface at rank 1 for " +
      "their source queries, landing inside the STANDING partition " +
      "layout of both datasets") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_app").toString
    MaxSim.writeTokenIndex(docToks, dir, nClusters = 16)
    val v = graft.functions.VectorFunctions.asDouble(col("embedding"))
    val batch = emb.where(col("vec_id") < 3)
      .select((col("vec_id") + 1000000).as("vec_id"),
        concat(array(element_at(v, 1) + 0.1), slice(v, 2, 63))
          .as("embedding"))
    MaxSim.appendToIndex(
      MaxSim.subvectorTokens(batch, "vec_id", "embedding", 8)
        .withColumnRenamed("vec_id", "doc_id"), dir)
    val top1 = MaxSim.searchTokenIndex(spark, dir, qToks, k = 10,
        nProbe = 6, tokenTopT = 64)
      .where(col("rank") === 1).select("query_id", "doc_id")
      .as[(Long, Long)].collect().toMap
    for (q <- 0L to 2L)
      assert(top1(q) == q + 1000000,
        s"query $q: near-copy not at rank 1 (got ${top1.get(q)})")
    // the append reused the standing partition layout — no stray dirs
    for ((ds, pfx) <- Seq("tokens" -> "centroid_id=",
        "doctokens" -> "doc_bucket="))
      assert(new java.io.File(s"$dir/$ds").listFiles()
        .filter(_.isDirectory).forall(_.getName.startsWith(pfx)),
        s"$ds gained a non-$pfx directory")
  }

  test("recenterTokenIndex after appends ≡ a fresh writeTokenIndex over " +
      "the union token set, search-row-identical (same tid/vector set " +
      "→ same deterministic fit), with doctokens untouched") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val base = emb.where(col("vec_id") >= 3)
    val batch = emb.where(col("vec_id") < 3)
    def toks(df: org.apache.spark.sql.DataFrame) =
      MaxSim.subvectorTokens(df, "vec_id", "embedding", 8)
        .withColumnRenamed("vec_id", "doc_id")
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    val grown = java.nio.file.Files
      .createTempDirectory("graft_maxsim_rec_a").toString
    MaxSim.writeTokenIndex(toks(base), grown, nClusters = 8)
    MaxSim.appendToIndex(toks(batch), grown)
    MaxSim.recenterTokenIndex(spark, grown, nClusters = 8)
    val fresh = java.nio.file.Files
      .createTempDirectory("graft_maxsim_rec_b").toString
    MaxSim.writeTokenIndex(toks(emb), fresh, nClusters = 8)
    def rows(dir: String) =
      MaxSim.searchTokenIndex(spark, dir, qToks, k = 10,
          nProbe = 4, tokenTopT = 16)
        .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
        .toSeq
    val a = rows(grown); val b = rows(fresh)
    assert(a.nonEmpty && a == b,
      s"recentered index diverged from fresh rebuild:\n$a\n$b")
    // doctokens untouched by recenter: still the standing bucket layout
    assert(new java.io.File(s"$grown/doctokens").listFiles()
      .filter(_.isDirectory).forall(_.getName.startsWith("doc_bucket=")))
  }

  test("searchTokenIndex maxQ guards the TOKEN count even when the " +
      "index has fewer centroids than nProbe (fewer probe rows per " +
      "token must not inflate the effective limit)") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_maxq").toString
    // 2 centroids < nProbe=4: each token emits only 2 probe rows, so
    // the old probe-row cap (maxQ*nProbe) would admit 2x maxQ tokens
    MaxSim.writeTokenIndex(docToks, dir, nClusters = 2)
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 1), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id") // 8 query tokens
    val e = intercept[Exception] {
      MaxSim.searchTokenIndex(spark, dir, qToks, k = 3,
        nProbe = 4, tokenTopT = 8, maxQ = 4)
    }
    assert(e.getMessage.contains("exceeds maxQ"),
      s"wrong failure: ${e.getMessage}")
    // and at maxQ = token count the same search succeeds
    assert(MaxSim.searchTokenIndex(spark, dir, qToks, k = 3,
      nProbe = 4, tokenTopT = 8, maxQ = 8).count() > 0)
  }

  test("streaming batch dirs: exactly-once by placement, crash-window " +
      "dedup, compaction ≡ and suppresses replayed folded batches, " +
      "vacuum folds first so a deleted batch-only doc cannot resurface") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_stream").toString
    MaxSim.writeTokenIndex(docToks, dir, nClusters = 16)
    val v = graft.functions.VectorFunctions.asDouble(col("embedding"))
    def nearCopies(offset: Long) = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3)
          .select((col("vec_id") + offset).as("vec_id"),
            concat(array(element_at(v, 1) + 0.1), slice(v, 2, 63))
              .as("embedding")),
        "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    def rows() = MaxSim.searchTokenIndex(spark, dir, qToks, k = 10,
        nProbe = 6, tokenTopT = 64)
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
      .toSeq
    MaxSim.appendBatchDir(nearCopies(1000000L), dir, "crawl", 0L)
    val once = rows()
    for (q <- 0L to 2L)
      assert(once.exists(r => r._1 == q && r._2 == q + 1000000 && r._4 == 1),
        s"query $q: batch-dir near-copy not at rank 1")
    // at-least-once replay: the same (tag, batchId) REWRITES its
    // batch-scoped location — search unchanged
    MaxSim.appendBatchDir(nearCopies(1000000L), dir, "crawl", 0L)
    assert(rows() == once, "replayed micro-batch double-counted")
    // compaction fold: search-identical, live dirs consumed
    MaxSim.compactIndexBatches(spark, dir)
    assert(rows() == once, "compaction changed search results")
    assert(IndexBatches.live(spark, dir, "tokens").isEmpty,
      "batch dirs still live after compaction")
    // a batch replayed AFTER its fold is suppressed by the high-water
    // marker (its rows are already in the base layout)
    MaxSim.appendBatchDir(nearCopies(1000000L), dir, "crawl", 0L)
    assert(IndexBatches.live(spark, dir, "tokens").isEmpty,
      "folded batch id resurrected as live")
    assert(rows() == once, "suppressed replay still changed results")
    // crash-window shape: rows in the base AND a still-live dir (a new
    // tag) collapse to one through the (doc_id, tok) dedup
    MaxSim.appendBatchDir(nearCopies(1000000L), dir, "recrawl", 7L)
    assert(rows() == once, "base∪batch duplicate rows double-counted")
    MaxSim.compactIndexBatches(spark, dir)
    // vacuum folds batches FIRST: a doc living only in a batch dir is
    // physically removed and cannot resurface once its tombstone clears
    MaxSim.appendBatchDir(nearCopies(2000000L), dir, "crawl", 1L)
    MaxSim.deleteFromIndex(Seq(2000000L, 2000001L, 2000002L)
      .toDF("doc_id"), dir)
    assert(MaxSim.vacuumIndex(spark, dir) > 0L)
    assert(rows() == once, "vacuumed batch docs still retrieved")
    for (ds <- Seq("tokens", "doctokens"))
      assert(spark.read.parquet(s"$dir/$ds")
        .where(col("doc_id") >= 2000000L).count() == 0,
        s"$ds still holds vacuumed batch-only docs")
  }

  test("matches brute-force pooled cosine ranking when m = 1") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", m = 1)
      .withColumnRenamed("vec_id", "doc_id")
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 2), "vec_id", "embedding", m = 1)
      .withColumnRenamed("vec_id", "query_id")
    val viaBrute = Similarity.bruteForceTopK(emb,
        emb.where(col("vec_id") < 2), k = 10)
      .select(col("query_id"), col("cand_id").as("doc_id"), col("rank"))
    // with one token per side MaxSim degenerates to plain cosine ranking
    val a = MaxSim.maxSimTopK(docToks, qToks, k = 10)
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Int)].collect().sortBy(r => (r._1, r._3)).toSeq
    val b = viaBrute.as[(Long, Long, Int)].collect()
      .sortBy(r => (r._1, r._3)).toSeq
    assert(a == b, s"m=1 MaxSim diverged from pooled cosine:\n$a\n$b")
  }

  test("a shared probe plan is result-identical to per-search probing, " +
      "before AND after a delete+vacuum (the quantizer never moved)") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 3), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_probeplan").toString
    MaxSim.writeTokenIndex(docToks, dir, nClusters = 16)
    val plan = MaxSim.planTokenProbes(spark, dir, qToks, nProbe = 4)
    def rows(p: Option[MaxSim.TokenProbes]) =
      MaxSim.searchTokenIndex(spark, dir, qToks, k = 10, nProbe = 4,
          tokenTopT = 16, probes = p)
        .as[(Long, Long, Double, Int)].collect()
        .sortBy(r => (r._1, r._4)).toSeq
    assert(rows(Some(plan)) == rows(None),
      "shared probe plan diverged from per-search probing")
    val victim = rows(None).head._2
    MaxSim.deleteFromIndex(Seq(victim).toDF("doc_id"), dir)
    MaxSim.vacuumIndex(spark, dir)
    // the pre-vacuum plan still serves: delete/vacuum never move cells
    val after = rows(Some(plan))
    assert(after == rows(None),
      "stale-after-vacuum probe plan diverged — centroids moved?")
    assert(!after.exists(_._2 == victim), "vacuumed doc retrieved")
  }

  test("vacuum-everything then append keeps BOTH token layouts " +
      "consistent (no mixed flat/partitioned directory)") {
    import org.apache.spark.sql.functions._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
      .where(col("vec_id") < 20)
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_purge").toString
    MaxSim.writeTokenIndex(docToks, dir, nClusters = 4)
    MaxSim.deleteFromIndex(emb.select(col("vec_id").as("doc_id")),
      dir)
    assert(MaxSim.vacuumIndex(spark, dir) > 0L)
    for (ds <- Seq("tokens", "doctokens"))
      assert(spark.read.parquet(s"$dir/$ds").count() == 0L,
        s"purged $ds must still read (schema-carrying leaf)")
    MaxSim.appendToIndex(docToks, dir)
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 2), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    assert(MaxSim.searchTokenIndex(spark, dir, qToks, k = 3,
        nProbe = 2, tokenTopT = 8).count() > 0,
      "post-purge append not searchable")
    for (ds <- Seq("tokens", "doctokens"))
      assert(spark.read.parquet(s"$dir/$ds").count() > 0L,
        s"mixed layout broke the $ds read after append")
  }

  test("a full purge through the FUSED vacuum (live batch dirs + " +
      "everything tombstoned) leaves both layouts readable and " +
      "appendable") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
      .where(col("vec_id") < 20)
    val docToks = MaxSim.subvectorTokens(emb, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "doc_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_maxsim_fp").toString
    MaxSim.writeTokenIndex(docToks, dir, nClusters = 4)
    MaxSim.appendBatchDir(
      MaxSim.subvectorTokens(
          emb.where(col("vec_id") < 3)
            .select((col("vec_id") + 1000000).as("vec_id"),
              col("embedding")),
          "vec_id", "embedding", 8)
        .withColumnRenamed("vec_id", "doc_id"),
      dir, "crawl", 0L)
    // tombstone EVERY doc, base and batch alike → the fused rewrite's
    // keep set is empty and must write the schema-carrying empty layout
    MaxSim.deleteFromIndex(
      emb.select(col("vec_id").as("doc_id"))
        .union(emb.where(col("vec_id") < 3)
          .select((col("vec_id") + 1000000).as("doc_id"))), dir)
    // 20 base + 3 batch docs × 8 tokens each
    assert(MaxSim.vacuumIndex(spark, dir) == 184L)
    for (ds <- Seq("tokens", "doctokens"))
      assert(spark.read.parquet(s"$dir/$ds").count() == 0L,
        s"fused-purged $ds must still read (schema-carrying leaf)")
    MaxSim.appendToIndex(docToks, dir)
    val qToks = MaxSim.subvectorTokens(
        emb.where(col("vec_id") < 2), "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", "query_id")
    assert(MaxSim.searchTokenIndex(spark, dir, qToks, k = 3,
        nProbe = 2, tokenTopT = 8).count() > 0,
      "append after a fused full purge broke the layout")
  }
}
