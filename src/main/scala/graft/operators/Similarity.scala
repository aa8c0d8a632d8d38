package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: brute force is the exactness baseline — O(|Q|·|C|) dot
  * products, fine when |Q| is small and broadcast. The scale path is IVF:
  * a coarse quantizer partitions candidates by nearest centroid (one
  * scan + narrow shuffle on cluster id); queries probe only `nProbe`
  * clusters, cutting the search space by ~nClusters/nProbe. Centroids are
  * a broadcast table in both phases; the candidate side never re-shuffles
  * per query.
  */
object Similarity extends PersistedIndex {

  val kind = "ivf"
  protected val deleteIdCol = "vec_id"
  protected val storedIdCol = "cand_id"

  /** Deterministic Lloyd's k-means coarse quantizer for [[ivfTopK]].
    *
    * Scale shape: the fit runs on a bounded deterministic sample (the
    * `sampleN` rows with the smallest `xxhash64(id)` — a seedless
    * pseudo-random draw that is stable across partitionings). The sample
    * is ONE distributed top-k by hash, collected once — ≤ sampleN·dims
    * doubles (2 MB at defaults) — and Lloyd's runs driver-local on it:
    * training cost is O(sampleN · k · iters) regardless of corpus size,
    * the same train-on-a-sample contract every production coarse
    * quantizer uses, and launching ~k·iters cluster jobs to average a
    * 2 MB sample would be pure scheduling overhead (measured 10× the
    * total fit time). Corpus-scale work — assignment and probing — stays
    * distributed in [[ivfTopK]].
    *
    * Determinism (workflow requirement — no RNG anywhere): init is a
    * farthest-point (k-center greedy) traversal of the sample — seeded at
    * the smallest `xxhash64(id)`, each next centroid is the sample point
    * minimizing its max cosine to the chosen set (id tiebreak) — which
    * spreads the seeds across the data regardless of id layout; all
    * arithmetic is sequential-fold double (no partition-order variance),
    * with re-centered components rounded to 6 decimals and assignment
    * ties broken by lowest centroid id. Empty clusters keep their
    * previous centroid. Cosine metric: centroid scale is irrelevant to
    * cosine ranking, so no normalization step.
    */
  def fitCentroids(candidates: DataFrame, k: Int, iters: Int = 5,
                   sampleN: Int = 4096): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    // distinctBy: duplicate ids would exhaust the chosen-id exclusion in
    // the farthest-point loop below before k seeds are found
    val sample: Array[(Long, Array[Double])] = candidates
      .select(col("vec_id").as("id"), asDouble(col("embedding")).as("vec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleN)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .distinctBy(_._1)
    require(sample.nonEmpty, "cannot fit centroids on an empty corpus")

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // farthest-point init: hash order gives the seed, then repeatedly the
    // point least similar to its closest chosen centroid (id tiebreak).
    // Chosen ids are EXCLUDED explicitly — relying on self-cosine = 1 to
    // keep a point from re-winning breaks on all-zero vectors (the cos
    // guard scores them 0 against everything, themselves included), which
    // would otherwise fill every remaining slot with the same zero vector.
    val chosen = scala.collection.mutable.Set(sample.head._1)
    val init = scala.collection.mutable.ArrayBuffer(sample.head._2)
    while (init.size < math.min(k, sample.length)) {
      val next = sample.filterNot(p => chosen.contains(p._1))
        .minBy { case (id, v) =>
          (init.map(c => math.rint(cos(v, c) * 1e4) / 1e4).max, id)
        }
      chosen += next._1
      init += next._2
    }
    var cents: Array[Array[Double]] = init.toArray
    for (_ <- 1 to iters) {
      val sums = Array.fill(cents.length)(
        new Array[Double](sample.head._2.length))
      val counts = new Array[Long](cents.length)
      sample.foreach { case (_, v) =>
        var best = 0; var bestScore = Double.NegativeInfinity; var c = 0
        while (c < cents.length) {
          val s = cos(v, cents(c))
          if (s > bestScore) { bestScore = s; best = c }
          c += 1
        }
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = cents.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old
        else sums(c).map(x => math.rint(x / counts(c) * 1e6) / 1e6)
      }
    }
    cents.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("centroid_id", "centroid_vec")
  }

  /** The pre-k-means centroid stand-in (first `k` vectors by id) — kept as
    * the baseline SimilaritySpec measures [[fitCentroids]] against. */
  def firstNCentroids(candidates: DataFrame, k: Int): DataFrame =
    candidates.orderBy("vec_id").limit(k)
      .select(col("vec_id").cast("int").as("centroid_id"),
        asDouble(col("embedding")).as("centroid_vec"))

  /** Exact top-k by cosine: every (query, candidate) pair, ranked per query.
    * `queries` must be small (it is broadcast against the candidate scan).
    * Scores are rounded to 4 decimals before ranking (ties broken by id)
    * so results are reproducible across engines and partitionings. */
  def bruteForceTopK(candidates: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    val c = candidates.select(col("vec_id").as("cand_id"),
      asDouble(col("embedding")).as("cand_vec"))
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("query_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("score",
        graft.functions.Rounding.round4(cosine(col("query_vec"), col("cand_vec"))))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Hard-negative mining for contrastive training: each query's top-k
    * MOST-similar candidates excluding near-duplicates (rounded score
    * >= `dupThreshold` — those are positives or leakage, not
    * negatives). The useful negatives are exactly the hard band just
    * under the duplicate line; random negatives (Sampling.hashNegatives)
    * are the cheap complement. Same scale shape as [[bruteForceTopK]]
    * (broadcast queries, one corpus scan, per-query window); swap the
    * scan for the IVF probe path when the corpus outgrows it. */
  def hardNegativeTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                       dupThreshold: Double = 0.99): DataFrame = {
    val c = candidates.select(col("vec_id").as("cand_id"),
      asDouble(col("embedding")).as("cand_vec"))
    val q = queries.select(col("vec_id").as("query_id"),
      asDouble(col("embedding")).as("query_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("score",
        graft.functions.Rounding.round4(
          cosine(col("query_vec"), col("cand_vec"))))
      .where(col("score") < dupThreshold)
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** Binary-quantized top-k retrieval: a 64-bit hyperplane sign sketch
    * per vector (`expressions.HyperplaneSig64`, scan-local codegen — the
    * same sketch the embedding near-dup path banks on), a per-query
    * Hamming-distance shortlist over the sketches, then an exact-cosine
    * re-rank of the shortlist only. The cheapest first stage a
    * 100 TB vector store has: the shortlist scan touches 8 BYTES per
    * vector (64× smaller than 64 float64 dims), XOR+popcount stays in
    * whole-stage codegen, and full vectors are read for `shortlist`
    * candidates per query only.
    *
    * Scale shape: queries broadcast; the shortlist window orders by
    * (hamming, cand_id) with `shortlist` ≤ the WindowGroupLimit
    * threshold, so each map task forwards at most `shortlist` rows per
    * query below the exchange — the shuffle carries O(tasks·|q|·
    * shortlist) sketch rows, never the corpus (PlanShapeSpec pins the
    * partial WindowGroupLimit).
    *
    * Fully deterministic, engine-replayable: the sketch is the
    * deterministic plane table, Hamming is integer, ties break by id,
    * and the re-rank scores are rounded before ranking — so the whole
    * pipeline is hash-gated against a DuckDB replay, not just
    * recall-flagged. */
  def hammingTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                  shortlist: Int = 100): DataFrame = {
    require(k > 0 && shortlist >= k,
      s"need shortlist ($shortlist) >= k ($k) > 0")
    require(shortlist <= 1000,
      s"shortlist ($shortlist) must stay within the WindowGroupLimit " +
        "threshold (1000) — above it the per-query rank filter loses " +
        "its partial pre-exchange pass and every sketch row shuffles")
    graft.Functions.ensure(candidates.sparkSession)
    val c = candidates.select(col("vec_id").as("cand_id"),
        asDouble(col("embedding")).as("cand_vec"))
      .withColumn("csig", expr("hyperplane_sig64(cand_vec)"))
    val q = queries.select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("query_vec"))
      .withColumn("qsig", expr("hyperplane_sig64(query_vec)"))
    val wH = Window.partitionBy("query_id")
      .orderBy(asc("hamming"), asc("cand_id"))
    val short = c.join(broadcast(q), col("query_id") =!= col("cand_id"))
      .withColumn("hamming",
        bit_count(col("csig").bitwiseXOR(col("qsig"))).cast("int"))
      .withColumn("__h", row_number().over(wH))
      .where(col("__h") <= shortlist)
    val wS = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("cand_id"))
    short
      .withColumn("score", graft.functions.Rounding.round4(
        cosine(col("query_vec"), col("cand_vec"))))
      .withColumn("rank", row_number().over(wS))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "hamming", "score", "rank")
  }

  /** IVF (inverted-file) ANN: assign candidates to their nearest centroid,
    * then search only the `nProbe` centroids closest to each query.
    *
    * Centroids default to a deterministic Lloyd's k-means fit
    * ([[fitCentroids]]); pass `centroids` to reuse a fit across calls or
    * to substitute a different quantizer (SimilaritySpec uses a naive
    * first-N quantizer as the comparison baseline).
    */
  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              nClusters: Int = 16, nProbe: Int = 4,
              centroids: Option[DataFrame] = None): DataFrame = {
    val cents = normalizeCentroids(
      centroids.getOrElse(fitCentroids(candidates, nClusters)))
    val assigned = nearestCentroids(
      candidates.select(col("vec_id").as("cand_id"),
        asDouble(col("embedding")).as("cand_vec")),
      cents, "cand_id", "cand_vec", 1)
    probeRank(assigned, queries, cents, k, nProbe)
  }

  /** Cluster-assignment surface: each vector's nearest centroid by
    * rounded cosine with the lowest-id tiebreak — the same deterministic
    * assignment the IVF index uses, exposed for semantic-stratification
    * consumers (cluster-balanced sampling, per-cluster stats). Returns
    * (cand_id, centroid_id); centroids broadcast, no corpus shuffle. */
  def assignClusters(candidates: DataFrame, nClusters: Int = 16,
                     centroids: Option[DataFrame] = None): DataFrame = {
    val cents = normalizeCentroids(
      centroids.getOrElse(fitCentroids(candidates, nClusters)))
    nearestCentroids(
      candidates.select(col("vec_id").as("cand_id"),
        asDouble(col("embedding")).as("cand_vec")),
      cents, "cand_id", "cand_vec", 1)
      .select(col("cand_id"), col("centroid_id"))
  }

  /** Persist an IVF index for reuse across sessions: `<dir>/centroids`
    * (k×dim, one tiny file) and `<dir>/assignments` — every candidate's
    * vector stored under its cluster — PARTITIONED by `centroid_id`, so
    * the inverted-file layout is literal directory layout: a probe of
    * `nProbe` clusters reads those clusters' files and nothing else.
    * Fitting and assigning happen once per corpus build; every later
    * search ([[searchIndex]]) pays only its own probe. */
  def writeIndex(candidates: DataFrame, dir: String,
                 nClusters: Int = 16): Unit =
    build(candidates, dir,
      normalizeCentroids(fitCentroids(candidates, nClusters)))

  /** The normalized centroids. */
  protected type Model = DataFrame

  protected def readModel(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    normalizeCentroids(spark.read.parquet(s"$dir/centroids"))

  protected def modelFiles(spark: org.apache.spark.sql.SparkSession,
                           cents: DataFrame) = Seq("centroids" -> cents)

  /** Each vector under its nearest centroid. */
  protected def encode(vectors: DataFrame, cents: DataFrame,
                       pin: DataFrame => DataFrame) =
    Seq("assignments" -> nearestCentroids(
      vectors.select(col("vec_id").as("cand_id"),
        asDouble(col("embedding")).as("cand_vec")),
      cents, "cand_id", "cand_vec", 1))

  /** Search a persisted [[writeIndex]] index. Result-identical to running
    * [[ivfTopK]] directly over the corpus (same deterministic fit, same
    * probe logic — asserted in SimilaritySpec), without touching corpus
    * embeddings outside the probed clusters. Un-compacted streaming
    * batch directories ([[appendBatchDir]]) union in transparently;
    * batch dirs at or below the compaction high-water marker are
    * already merged into the base layout and skipped. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  queries: DataFrame, k: Int, nProbe: Int = 4,
                  filter: Option[org.apache.spark.sql.Column] = None)
      : DataFrame = {
    val cents = normalizeCentroids(spark.read.parquet(s"$dir/centroids"))
    // FILTERED search (predicate + vector search, the "within category"
    // shape): the predicate applies BEFORE ranking — candidates failing
    // it never occupy shortlist slots, so the top-k is the top-k OF THE
    // FILTERED corpus, not a post-filtered (and possibly short) top-k
    // of the unfiltered one. Over a column in the index datasets the
    // predicate pushes to the parquet scans (batch dirs included);
    // probes still prune partitions first. Recall caveat is the
    // standard one: a highly selective predicate empties probed cells —
    // raise nProbe (or brute-force the filtered slice) as selectivity
    // grows. The ledger anti-join also lands BEFORE ranking, so a
    // tombstoned vector can never occupy a top-k slot.
    val live = readLive(spark, dir, "assignments", liveBatchDirs(spark, dir),
      scan = df => filter.fold(df)(df.where))
    probeRank(live, queries, cents, k, nProbe)
  }

  /** The kind's layout: one cell-partitioned dataset carrying the
    * marker; NO natural-key dedup (id discipline is the caller's), and
    * batch dirs ARE the dataset (no nested subdir). */
  private[operators] def fusedDatasets = Seq(
    IndexBatches.FusedDataset("assignments",
      Seq("cand_id", "cand_vec", "centroid_id"), Nil,
      Some("centroid_id"), IndexBatches.centroidFanout, "cand_id",
      batchNested = false))

  /** Out-of-band centroid refresh — the maintenance step appends
    * deliberately skip. Batches appended against stale centroids land in
    * the nearest SURVIVING cell, so as the corpus drifts the quantizer's
    * cells stop matching the data and probe recall decays; this refits the
    * quantizer from the vectors THE INDEX ALREADY STORES (no original
    * corpus needed) and rewrites the partitioned layout under the new
    * cells through the trait's recenter commit.
    *
    * Equivalence contract (SimilaritySpec): after recentering, the index
    * is bit-identical to [[writeIndex]] built fresh over the same vector
    * set — the fit samples by `xxhash64(id)`, which depends only on the
    * (id, vector) set, never on which layout supplied it.
    *
    * Scale shape: one bounded-sample fit (driver-local Lloyd's on ≤4096
    * vectors), one scan of the stored assignments to reassign against the
    * ≤k broadcast new centroids, one partitioned rewrite — O(index), no
    * per-query cost, run on whatever cadence drift warrants. Assignments
    * swap BEFORE centroids: a search racing the swap sees matched (old,
    * old) or — only in the between-renames window — (new assignments, old
    * centroids), which degrades probe choice but never fabricates
    * vectors.
    *
    * @return one-row drift report: (n_vectors, n_moved, n_clusters) —
    *         n_moved / n_vectors is the fraction that changed cell, the
    *         signal for whether the refresh cadence is right. */
  def recenterIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    nClusters: Int = 16): DataFrame = {
    import spark.implicits._
    // fold live streaming batch dirs in FIRST: their rows carry cluster
    // ids of the OLD cells
    compactIndexBatches(spark, dir)
    val old = spark.read.parquet(s"$dir/assignments")
      .select(col("cand_id").as("vec_id"), col("cand_vec").as("embedding"),
        col("centroid_id"))
    val (total, moved) = recenter(dir,
        normalizeCentroids(fitCentroids(old, nClusters)), old)(
      staged => drift(staged("assignments"), old))
    Seq((total, moved, nClusters.toLong))
      .toDF("n_vectors", "n_moved", "n_clusters")
  }

  /** (vectors, vectors that changed cell) between a staged cell layout
    * and the `old` one (vec_id, centroid_id), read while the old one is
    * still live. */
  private[operators] def drift(staged: DataFrame,
                               old: DataFrame): (Long, Long) = {
    val r = staged.select(col("cand_id"), col("centroid_id"))
      .join(old.select(col("vec_id").as("cand_id"),
        col("centroid_id").as("old_cid")), "cand_id")
      .agg(count(lit(1)), sum(when(col("centroid_id") =!= col("old_cid"),
        1L).otherwise(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein): from
    * each query's `shortlist` most-relevant candidates, greedily pick `k`
    * that balance relevance against similarity to what's already picked —
    * pick 1 is the relevance argmax, pick i maximizes
    * `λ·rel − (1−λ)·max_sim_to_selected`. The standard diversification
    * pass over a retrieval shortlist (dedup-at-serving for RAG, diverse
    * negative mining) — pure relevance returns near-duplicates; MMR
    * spends the k slots covering the neighborhood.
    *
    * Determinism: λ = `lambdaNum`/`lambdaDen` is applied in INTEGER
    * arithmetic over 4-dp-integerized cosines
    * (`score = lambdaNum·rel − (lambdaDen−lambdaNum)·maxsim`), ties to
    * the lowest candidate id — no IEEE boundary can flip a pick, which is
    * what lets a DuckDB replay hash-match the gate.
    *
    * Scale shape: relevance is one broadcast-queries pass over the
    * corpus; everything after — the s² pairwise sims and k greedy rounds
    * — touches only |Q|·shortlist rows, grouped and joined on query_id
    * (queries proceed in parallel; the loop is k small shuffles, plan
    * growth truncated per round the same way kCore does). Bound
    * `shortlist` (s ≤ ~100) and the s² stays trivial; the corpus is
    * never touched again.
    *
    * The per-round truncation checkpoints are release-tracked
    * ([[OperatorCaches.checkpointed]] — k+2 small pinned
    * frames per call, unpinned by
    * [[OperatorCaches.releaseAll]]), so the returned
    * frame is consume-before-release: materialize the picks before
    * releasing, as the driver's gate sessions do. */
  def mmrTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              shortlist: Int, lambdaNum: Int = 7,
              lambdaDen: Int = 10): DataFrame = {
    require(k >= 1 && shortlist >= k, s"need shortlist >= k >= 1: $k/$shortlist")
    require(lambdaDen > 0 && lambdaNum >= 0 && lambdaNum <= lambdaDen,
      s"lambda out of [0,1]: $lambdaNum/$lambdaDen")
    val wNum = lambdaNum.toLong
    val wPen = (lambdaDen - lambdaNum).toLong
    val wRel = Window.partitionBy("qid").orderBy(desc("rel"), asc("cid"))
    val short = OperatorCaches.checkpointed(
      mmrShortlist(candidates, queries, shortlist))
    // pairwise sims within each query's shortlist: s² rows per query
    val a = short.select(col("qid"), col("cid").as("ca"), col("cv").as("va"))
    val b = short.select(col("qid"), col("cid").as("cb"), col("cv").as("vb"))
    val sims = OperatorCaches.checkpointed(a.join(b, Seq("qid"))
      .where(col("ca") =!= col("cb"))
      .select(col("qid"), col("ca"), col("cb"),
        i4(cosine(col("va"), col("vb"))).as("sim")))
    val members = short.select("qid", "cid", "rel")
    var sel = OperatorCaches.checkpointed(members
      .withColumn("__rn", row_number().over(wRel))
      .where(col("__rn") === 1)
      .select(col("qid"), col("cid"), col("rel"), lit(1).as("pick")))
    for (i <- 2 to k) {
      val rem = members.join(sel.select("qid", "cid"), Seq("qid", "cid"),
        "left_anti")
      val wS = Window.partitionBy("qid").orderBy(desc("score"), asc("cid"))
      val simsR = sims.select(col("qid"), col("ca").as("cid"),
        col("cb").as("selected"), col("sim"))
      val next = rem
        .join(sel.select(col("qid"), col("cid").as("selected")), Seq("qid"))
        .join(simsR, Seq("qid", "cid", "selected"))
        .groupBy("qid", "cid", "rel")
        .agg(max("sim").as("__ms"))
        .withColumn("score", lit(wNum) * col("rel") - lit(wPen) * col("__ms"))
        .withColumn("__rn", row_number().over(wS))
        .where(col("__rn") === 1)
        .select(col("qid"), col("cid"), col("rel"), lit(i).as("pick"))
      sel = OperatorCaches.checkpointed(sel.unionByName(next))
    }
    sel.select(col("qid").as("query_id"), col("pick"),
      col("cid").as("cand_id"), col("rel").as("rel_i4"))
  }

  /** [[mmrTopK]]'s only corpus-sized stage, exposed pre-checkpoint so
    * PlanShapeSpec can pin its shape: queries BROADCAST onto one corpus
    * pass, relevance integerized, and the per-query shortlist cut by a
    * window PARTITIONED on qid (never a global sort). Everything
    * downstream of this frame touches |Q|·shortlist rows only. */
  private[graft] def mmrShortlist(candidates: DataFrame,
                                  queries: DataFrame,
                                  shortlist: Int): DataFrame = {
    val c = candidates.select(col("vec_id").as("cid"),
      asDouble(col("embedding")).as("cv"))
    val q = queries.select(col("vec_id").as("qid"),
      asDouble(col("embedding")).as("qv"))
    val wRel = Window.partitionBy("qid").orderBy(desc("rel"), asc("cid"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("rel", i4(cosine(col("qv"), col("cv"))))
      .withColumn("__rn", row_number().over(wRel))
      .where(col("__rn") <= shortlist)
      .select("qid", "cid", "cv", "rel")
  }

  /** 4-dp integerization of a double — `roundCompat(c, 4) · 10⁴` computed
    * WITHOUT the final division, so the result is an exact long and every
    * downstream comparison is integer (the division back would
    * reintroduce binary representation noise). Matches DuckDB's
    * `round(x, 4) * 10000` decision-for-decision. */
  private[operators] def i4(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val s = c * 10000.0
    when(s >= 0, floor(s + 0.5)).otherwise(ceil(s - 0.5)).cast("long")
  }

  private def normalizeCentroids(cents: DataFrame): DataFrame =
    cents.select(col("centroid_id").cast("int").as("centroid_id"),
      col("centroid_vec").as("centroid_vec"))

  /** Top-`n` centroids per vector by rounded cosine, ties to the lowest
    * centroid id — the assignment (n=1) and probe (n=nProbe) primitive
    * (package-shared: MaxSim's candidate generation reuses it over
    * token vectors). */
  private[operators] def nearestCentroids(df: DataFrame, cents: DataFrame,
                                          idCol: String, vecCol: String,
                                          n: Int): DataFrame = {
    val w = Window.partitionBy(idCol)
      .orderBy(desc("cscore"), asc("centroid_id"))
    df.join(broadcast(cents), expr("true"))
      .withColumn("cscore",
        graft.functions.Rounding.round4(cosine(col(vecCol), col("centroid_vec"))))
      .withColumn("crank", row_number().over(w))
      .where(col("crank") <= n)
      .select(col(idCol), col(vecCol), col("centroid_id"))
  }

  /** Join query probes against cluster assignments and rank candidates. */
  private def probeRank(assigned: DataFrame, queries: DataFrame,
                        cents: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probes = nearestCentroids(
      queries.select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("query_vec")),
      cents, "query_id", "query_vec", nProbe)
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("cand_id"))
    probes.join(assigned, Seq("centroid_id"))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("score",
        graft.functions.Rounding.round4(cosine(col("query_vec"), col("cand_vec"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }
}
