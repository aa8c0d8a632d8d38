package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{asDouble, cosine}

/** Late-interaction multi-vector retrieval (MaxSim) — the scoring shape
  * of ColBERT-style retrievers (reference behavior surveyed from the
  * public ColBERT design, Khattab & Zaharia, SIGIR 2020): a document is
  * represented by MANY vectors (one per token/patch), a query likewise,
  * and relevance is
  *
  *   score(q, d) = Σ_{i ∈ q tokens} max_{j ∈ d tokens} cos(q_i, d_j)
  *
  * — each query token finds its best-matching document token, so the
  * model keeps token-level interactions a single pooled vector loses
  * (the reason late interaction beats bi-encoders on precision), while
  * staying embarrassingly parallel: no cross-token attention at search
  * time, just cosines, a max, and a sum.
  *
  * Scale shape: the query token frame is tiny and BROADCAST onto the
  * document-token scan — one corpus-scale pass producing
  * |doc_tokens|·|q_tokens| scored rows, then two map-side-partial
  * aggregations (max per (query, q-token, doc), sum per (query, doc))
  * and a per-query top-k window over matched docs only. The corpus is
  * never collected, never self-joined. At 100 TB the brute pass is the
  * correctness oracle; the production path prunes the token scan with
  * the IVF machinery this library already has (assign doc tokens to
  * cells via [[Similarity.assignClusters]], probe per query token, feed
  * the surviving doc ids into this scorer) — the standard
  * candidate-generation + exact-MaxSim-rerank split.
  *
  * Determinism contract (hash-gated, not recall-gated): per-pair cosines
  * are rounded to 4 decimals AND scaled to integers (half-away, the i4
  * discipline) before the max, so the per-(query, doc) sum folds exact
  * INTEGERS — immune to partial-aggregation order — and the final score
  * is one exact integer division by 10⁴. Ties break by doc id.
  */
object MaxSim extends PersistedIndex {

  val kind = "maxsim"
  protected val deleteIdCol = "doc_id"
  protected val storedIdCol = "doc_id"

  // round(x·10⁴) half-away-from-zero as a long: an integer-exact
  // accumulation domain for order-independent sums
  import Similarity.i4

  /** The largest doc id the packed token id can carry without long
    * overflow: id·1024 + tok ≤ Long.MaxValue. */
  private val MaxPackableId = (Long.MaxValue - 1023L) / 1024L

  /** Packed synthetic token id `id·1024 + tok` as a LONG, with a
    * scan-local guard: the packing is injective only for
    * `0 ≤ id ≤ [[MaxPackableId]]` and `0 ≤ tok < 1024`, so a violating
    * row RAISES (assert_true, codegen'd inline — no extra validation
    * pass) instead of silently corrupting the packed value (the unpack
    * itself is exact for every guarded id: integral `div`/`%`, never
    * double division, so there is no 2^53 precision cliff below the
    * guard). The long cast also pins every id arithmetic/hash site to
    * one type — `hash()` of an IntegerType id would bucket differently
    * than the long it is compared against at search time. */
  private def packedTid(id: org.apache.spark.sql.Column,
                        tok: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val d = id.cast("long")
    val t = tok.cast("long")
    val guard = assert_true(
      d >= 0 && d <= MaxPackableId && t >= 0 && t < 1024,
      concat(lit("MaxSim packed token id requires 0 <= id <= " +
          s"$MaxPackableId and 0 <= tok < 1024; got id="),
        d.cast("string"), lit(", tok="), t.cast("string")))
    when(guard.isNull, d * 1024L + t)
  }

  /** Top-`k` documents per query by MaxSim.
    *
    * `docTokens`: (doc_id, vec) — one row per document token; token
    * identity on the document side is irrelevant (it is maxed over).
    * `queryTokens`: (query_id, tok, vec) — one row per query token.
    * Returns (query_id, doc_id, score, rank); a query never retrieves
    * its own id (the family's self-exclusion convention). */
  def maxSimTopK(docTokens: DataFrame, queryTokens: DataFrame,
                 k: Int = 10): DataFrame = {
    val d = docTokens.select(col("doc_id"), asDouble(col("vec")).as("dv"))
    val q = queryTokens.select(col("query_id"), col("tok"),
      asDouble(col("vec")).as("qv"))
    scoreAndRank(
      d.join(broadcast(q), col("query_id") =!= col("doc_id")), k)
  }

  /** The shared MaxSim scoring tail over (query_id, tok, doc_id, qv,
    * dv) pair rows: integer-scaled per-pair cosines → max per query
    * token → exact-integer sum per doc → per-query top-k. */
  private def scoreAndRank(pairs: DataFrame, k: Int): DataFrame = {
    val perTok = pairs
      .withColumn("c", i4(cosine(col("qv"), col("dv"))))
      .groupBy("query_id", "tok", "doc_id")
      .agg(max(col("c")).as("m"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("doc_id"))
    perTok.groupBy("query_id", "doc_id")
      .agg((sum(col("m")) / 10000.0).as("score"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }

  /** The production path the brute scorer's docstring promises — the
    * ColBERT two-stage: TOKEN-level ANN candidate generation + exact
    * MaxSim re-rank. Document tokens assign ONCE to coarse cells (the
    * family's deterministic k-means, fit on a bounded sample of token
    * vectors); each query token probes its `nProbe` nearest cells,
    * scores the doc tokens in those cells, and keeps its `tokenTopT`
    * best MATCHING TOKENS; the union of those tokens' documents is the
    * candidate set (≤ |q tokens|·tokenTopT docs per query, independent
    * of corpus size — mere cell co-membership would be vacuous: with
    * several probes per query token, every cell is probed and every
    * doc "matches"); exact MaxSim then scores candidate pairs only. At
    * 100 TB the corpus-scale work is one assignment scan + one
    * cell-pruned scored join — [[maxSimTopK]]'s all-pairs token cross
    * never materializes. Recall is approximate (a document none of
    * whose tokens reach any per-token top-T is invisible) and gated by
    * the recall contract with [[maxSimTopK]] as the exact baseline.
    *
    * `docTokens` here carries a `tok` index too — (doc_id, tok, vec) —
    * so token identities are stable for the fit sample (the synthetic
    * token id is doc_id·1024 + tok; token counts must stay < 1024).
    * Deterministic throughout: the shared k-means fit, rounded
    * integer-scaled cosines, id tiebreaks. */
  def maxSimTopKPruned(docTokens: DataFrame, queryTokens: DataFrame,
                       k: Int = 10, nClusters: Int = 16,
                       nProbe: Int = 4, tokenTopT: Int = 32): DataFrame = {
    val dTok = docTokens.select(
      packedTid(col("doc_id"), col("tok")).as("tid"),
      asDouble(col("vec")).as("dv"))
    val qTok = queryTokens.select(
      packedTid(col("query_id"), col("tok")).as("qtid"),
      asDouble(col("vec")).as("qv"))
    val cents = fitCells(dTok, "dv", nClusters)
    val assigned = Similarity.nearestCentroids(
      dTok, cents, "tid", "dv", 1)
    val probes = Similarity.nearestCentroids(
      qTok, cents, "qtid", "qv", nProbe)
    // token-level ANN: per query token the tokenTopT best doc tokens in
    // its probed cells (scored join pruned to co-probed cells)
    val wTok = Window.partitionBy("qtid")
      .orderBy(desc("tc"), asc("tid"))
    val cand = assigned.join(broadcast(probes), Seq("centroid_id"))
      .withColumn("tc", i4(cosine(col("qv"), col("dv"))))
      .withColumn("__r", row_number().over(wTok))
      .where(col("__r") <= tokenTopT)
      .select(expr("qtid div 1024").as("query_id"),
        expr("tid div 1024").as("doc_id"))
      .where(col("query_id") =!= col("doc_id"))
      .distinct()
    val d = docTokens.select(col("doc_id"), asDouble(col("vec")).as("dv"))
    val q = queryTokens.select(col("query_id"), col("tok"),
      asDouble(col("vec")).as("qv"))
    scoreAndRank(
      d.join(broadcast(cand), "doc_id").join(broadcast(q), "query_id"), k)
  }

  /** Number of doc-id hash partitions in the candidate-fetch dataset. */
  val DocBuckets = 64

  /** Persist a token index for repeated [[maxSimTopKPruned]]-shaped
    * retrieval — the serve path: re-embedding and re-clustering the
    * corpus per query batch doesn't scale, so the index stores the
    * token vectors TWICE, each layout serving one phase of the
    * two-stage search:
    *
    *   - `tokens/` partitioned by `centroid_id` — the candidate
    *     GENERATION scan reads only probed cells' directories;
    *   - `doctokens/` partitioned by `doc_bucket` = hash(doc_id) mod 64
    *     — the exact re-rank fetches ONLY the candidate documents'
    *     buckets (a doc's tokens scatter across cells, so the cell
    *     layout cannot serve the per-document fetch);
    *   - `centroids/` — the tiny coarse quantizer. */
  def writeTokenIndex(docTokens: DataFrame, dir: String,
                      nClusters: Int = 16): Unit =
    build(docTokens, dir, fitCells(tids(longIds(docTokens)), "vec", nClusters))

  /** The coarse cells, fit over (tid, `vec`) token rows. */
  private def fitCells(tok: DataFrame, vec: String,
                       nClusters: Int): DataFrame =
    Similarity.fitCentroids(
        tok.select(col("tid").as("vec_id"), col(vec).as("embedding")),
        nClusters)
      .select(col("centroid_id").cast("int").as("centroid_id"),
        col("centroid_vec"))

  /** doc_id normalized to LONG, once, so the stored doc_bucket column
    * (hash of doc_id) and the search-side driver-computed
    * Murmur3.hashLong buckets agree for EVERY input id type — an
    * IntegerType doc_id hashes via hashInt and would land candidate
    * fetches in the wrong buckets (silently missing documents). */
  private def longIds(docTokens: DataFrame): DataFrame =
    docTokens.select(col("doc_id").cast("long").as("doc_id"),
      col("tok"), asDouble(col("vec")).as("vec"))

  private def tids(toks: DataFrame): DataFrame =
    toks.select(packedTid(col("doc_id"), col("tok")).as("tid"), col("vec"))

  /** The coarse centroids. */
  protected type Model = DataFrame

  protected def readModel(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids")

  protected def modelFiles(spark: org.apache.spark.sql.SparkSession,
                           cents: DataFrame) = Seq("centroids" -> cents)

  /** Both layouts of (doc_id, tok, vec) token rows: each token under its
    * nearest cell, and under its document's bucket (the bucket hash is
    * over the long-normalized doc_id, so fetches route identically for
    * standing and appended documents). Nothing is pinned: the shared
    * frame is a projection, cheaper to recompute than to cache. */
  protected def encode(docTokens: DataFrame, cents: DataFrame,
                       pin: DataFrame => DataFrame) = {
    val toks = longIds(docTokens)
    Seq("tokens" -> Similarity.nearestCentroids(tids(toks), cents, "tid",
          "vec", 1)
        .select(expr("tid div 1024").as("doc_id"),
          (col("tid") % 1024).cast("int").as("tok"),
          col("vec"), col("centroid_id")),
      "doctokens" -> toks
        .withColumn("doc_bucket", pmod(hash(col("doc_id")), lit(DocBuckets))))
  }

  /** Precomputed probe assignments for [[searchTokenIndex]]: each query
    * token's `nProbe` nearest coarse cells, collected once under the
    * bounded-driver contract (ids only — query vectors never ride the
    * collect). Valid for ANY search against the same index dir while
    * the quantizer stands: append, delete, vacuum, and batch compaction
    * never move centroids (only [[recenterTokenIndex]] refits), so a
    * serving tier plans probes once per query batch and reuses the plan
    * across index mutations — a vacuum between two searches of the same
    * queries re-pays neither the centroid read nor the assignment job. */
  final class TokenProbes private[MaxSim] (
    private[MaxSim] val rows: Array[org.apache.spark.sql.Row],
    private[MaxSim] val schema: org.apache.spark.sql.types.StructType,
    private[MaxSim] val probedCells: Seq[Int])

  /** Assign query tokens to their probed cells and collect the
    * (qtid, centroid_id) pairs — the probe half of [[searchTokenIndex]],
    * split out so repeated searches of the SAME queries against the
    * SAME quantizer share one assignment job. Bounded at maxQ·nProbe
    * rows by a loud `limit`, with the token count itself re-checked
    * against maxQ from the collected distinct qtids (an index with
    * fewer centroids than nProbe emits fewer rows per token, which
    * would otherwise inflate the effective limit past the documented
    * contract). */
  def planTokenProbes(spark: org.apache.spark.sql.SparkSession,
                      dir: String, queryTokens: DataFrame,
                      nProbe: Int = 4, maxQ: Int = 65536): TokenProbes = {
    val cents = spark.read.parquet(s"$dir/centroids")
    val qTok = queryTokens.select(
      packedTid(col("query_id"), col("tok")).as("qtid"),
      asDouble(col("vec")).as("qv"))
    val probesDist = Similarity.nearestCentroids(
        qTok, cents, "qtid", "qv", nProbe)
      .select("qtid", "centroid_id")
    val cap = maxQ * nProbe + 1
    val probeRows = probesDist.limit(cap).collect()
    require(probeRows.length < cap,
      s"searchTokenIndex query side exceeds maxQ=$maxQ token rows — " +
        "batch the queries")
    val qtids = probeRows.map(_.getLong(0)).distinct
    require(qtids.length <= maxQ,
      s"searchTokenIndex query side exceeds maxQ=$maxQ token rows — " +
        "batch the queries")
    new TokenProbes(probeRows, probesDist.schema,
      probeRows.map(r =>
        r.getInt(r.fieldIndex("centroid_id"))).distinct.toSeq)
  }

  /** Search a persisted [[writeTokenIndex]] index — result-identical to
    * [[maxSimTopKPruned]] over the original token frame (same
    * deterministic fit, same per-token top-T rule; MaxSimSpec pins it):
    * the candidate scan reads ONLY the probed cells' token files
    * (partition filter), and the exact re-rank reads ONLY the candidate
    * documents' buckets, semi-joined down to the candidate documents —
    * both prunes land at the scans.
    *
    * Bounded-driver contract: the probe ASSIGNMENTS are collected once
    * (see [[planTokenProbes]] — pass `probes` to share that job across
    * repeated searches of the same queries); the candidate PAIR frame
    * (≤ |q tokens|·tokenTopT rows by construction) stays DISTRIBUTED,
    * materialized exactly once through a release-tracked eager
    * localCheckpoint ([[graft.operators.StagingCaches.checkpointed]])
    * that then serves both the candidate-document semi-join and the
    * re-rank's broadcast pair relation without recompute. The driver
    * collects only the DISTINCT candidate doc ids the bucket partition
    * filter needs — never an `isin` over the pair rows, whose literal
    * list would be a driver-side plan-size hazard at the documented
    * bounds.
    *
    * Consume-before-release contract: the checkpoint severs CANDIDATE
    * GENERATION from the index directory — the expensive probe-scored
    * stage can never silently recompute over files a later
    * vacuum/compaction mutated. The doctokens FETCH side is NOT
    * severed: a result consumed after an index mutation re-reads the
    * then-live doctokens files. That is safe by construction — the
    * pinned candidate set already excludes every tombstoned document
    * (the ledger anti-join ran before candidate generation), vacuum
    * only removes rows, and fold/compaction preserves the (doc_id,
    * tok) row set the fetch deduplicates on — but a caller wanting
    * byte-identical pre-mutation results must materialize the returned
    * frame before mutating the index. The checkpoint also means the
    * returned frame is NOT recomputable once
    * [[graft.operators.OperatorCaches.releaseAll]] runs (a
    * post-release re-read fails loudly on the missing checkpoint
    * blocks). Materialize or consume the result within the pass, then
    * release; callers that never release accumulate one pinned
    * checkpoint RDD per search until `releaseAll`. */
  def searchTokenIndex(spark: org.apache.spark.sql.SparkSession,
                       dir: String, queryTokens: DataFrame, k: Int = 10,
                       nProbe: Int = 4, tokenTopT: Int = 32,
                       maxQ: Int = 65536,
                       probes: Option[TokenProbes] = None): DataFrame = {
    val qTok = queryTokens.select(
      packedTid(col("query_id"), col("tok")).as("qtid"),
      asDouble(col("vec")).as("qv"))
    val plan = probes.getOrElse(
      planTokenProbes(spark, dir, queryTokens, nProbe, maxQ))
    // query vectors re-attach distributively: the local relation
    // carries ids only, the join output (≤ maxQ·nProbe rows) feeds the
    // broadcast below
    val probesDf = spark.createDataFrame(
        java.util.Arrays.asList(plan.rows: _*), plan.schema)
      .join(qTok, "qtid")
    val probedCells = plan.probedCells
    val wTok = Window.partitionBy("qtid")
      .orderBy(desc("tc"), asc("tid"))
    // live streaming batch dirs union in transparently (the probed-cell
    // partition filter prunes them too); while any exist, both layouts
    // dedup on the (doc_id, tok) natural key so the compaction crash
    // window never double-counts (same contract as IvfPq.searchIndex).
    // The ledger anti-join lands BEFORE candidate generation, so a
    // tombstoned document can neither seed candidates nor be fetched.
    val liveDirs = liveBatchDirs(spark, dir)
    val liveTokens = readLive(spark, dir, "tokens", liveDirs,
      _.where(col("centroid_id").isin(probedCells: _*)))
    // the candidate PAIR frame stays DISTRIBUTED: one eager
    // release-tracked localCheckpoint (StagingCaches.checkpointed —
    // OperatorCaches.releaseAll unpins it after the pass is consumed)
    // materializes the expensive probe-scored stage exactly once, and
    // it then serves the candidate semi-join AND the re-rank broadcast
    // without recompute. The driver collects only the DISTINCT doc ids
    // the bucket partition filter needs — bounded by the candidate
    // count but typically far below it, and two orders of magnitude
    // below the full query×doc pair set a row collect would box onto
    // the driver (up to maxQ·tokenTopT rows ≈ hundreds of MB at the
    // documented bounds)
    // LAZY checkpoint (r20): the candidate-id collect right below is the
    // materializing action, so the probe-scored stage pays ONE job for
    // checkpoint + distinct-ids instead of two (eager checkpoint job,
    // then the id collect re-reading the blocks). Severing still happens
    // before searchTokenIndex returns — the collect runs here, ahead of
    // any caller-side index mutation.
    val cand = StagingCaches.checkpointedLazy(liveTokens
      .select(packedTid(col("doc_id"), col("tok")).as("tid"),
        col("doc_id"), col("vec").as("dv"), col("centroid_id"))
      .join(broadcast(probesDf), Seq("centroid_id"))
      .withColumn("tc", i4(cosine(col("qv"), col("dv"))))
      .withColumn("__r", row_number().over(wTok))
      .where(col("__r") <= tokenTopT)
      .select(expr("qtid div 1024").as("query_id"),
        col("doc_id"))
      .where(col("query_id") =!= col("doc_id"))
      .distinct())
    val candDocs = cand.select("doc_id").distinct()
    val candIds = candDocs.collect().map(_.getLong(0))
    val buckets = candIds
      .map(d => math.floorMod(
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(d, 42),
        DocBuckets))
      .distinct.toSeq
    // candidate-document prune: the bucket list stays a literal
    // partition filter (≤ DocBuckets values), but the per-row id prune
    // is a broadcast SEMI-join against the local candidate relation —
    // an isin over candIds would embed up to |q|·tokenTopT literals in
    // the plan (driver-side analysis hazard at the documented bounds)
    val fetched = readLive(spark, dir, "doctokens", liveDirs,
        _.where(col("doc_bucket").isin(buckets.map(Integer.valueOf): _*))
          .join(broadcast(candDocs), Seq("doc_id"), "left_semi"),
        mask = false)
      .select(col("doc_id"), asDouble(col("vec")).as("dv"))
    val q = queryTokens.select(col("query_id"), col("tok"),
      asDouble(col("vec")).as("qv"))
    scoreAndRank(
      fetched.join(broadcast(cand), "doc_id")
        .join(broadcast(q), "query_id"), k)
  }

  /** The kind's layout: both layouts fold with natural-key dedup on
    * (doc_id, tok), doctokens staged/swapped first, the high-water
    * marker committing inside the staged TOKENS dir last (the dataset
    * [[IndexBatches.live]] reads it from). Any vacuum crash ordering
    * stays consistent: candidates derive from tokens∖ledger and the
    * fetch from doctokens∖ledger, so whichever layout swapped first a
    * search still scores live documents only. */
  private[operators] def fusedDatasets = Seq(
    IndexBatches.FusedDataset("doctokens",
      Seq("doc_id", "tok", "vec", "doc_bucket"), Seq("doc_id", "tok"),
      Some("doc_bucket"), (_, _) => DocBuckets, "doc_id"),
    IndexBatches.FusedDataset("tokens",
      Seq("doc_id", "tok", "vec", "centroid_id"), Seq("doc_id", "tok"),
      Some("centroid_id"), IndexBatches.centroidFanout, "doc_id"))

  /** Out-of-band quantizer refresh — the maintenance step appends
    * deliberately skip, completing the append+recenter pair on every
    * QUANTIZED index kind (IVF, PQ, MaxSim tokens; the text kinds'
    * maintenance is compaction instead): batches appended against stale
    * cells land in the nearest SURVIVING cell, so as the token
    * distribution drifts the coarse quantizer's cells stop matching the
    * data and candidate-generation recall decays. This refits the cells
    * from the tokens THE INDEX ALREADY STORES (no original corpus needed
    * — the tokens layout is the model-independent store) and rewrites
    * that layout under the new cells through the trait's recenter
    * commit; `doctokens/` is untouched (bucketed by doc_id, model-free).
    *
    * Equivalence contract (MaxSimSpec): after recentering, search is
    * row-identical to [[writeTokenIndex]] built fresh over the same
    * token set — the fit samples by xxhash64(tid), which depends only
    * on the (tid, vector) set, never on which layout supplied it. */
  def recenterTokenIndex(spark: org.apache.spark.sql.SparkSession,
                         dir: String, nClusters: Int = 16): Unit = {
    // fold live streaming batch dirs first: the refit must see their
    // tokens
    compactIndexBatches(spark, dir)
    val stored = spark.read.parquet(s"$dir/tokens")
      .select(col("doc_id"), col("tok"), asDouble(col("vec")).as("vec"))
    recenter(dir, fitCells(tids(stored), "vec", nClusters), stored,
      rewrite = Seq("tokens"))(_ => ())
  }

  /** Split one pooled vector into `m` contiguous subvector "tokens" —
    * (id, tok, vec) rows. The gate's stand-in for a real per-token
    * embedder (none ships in this library's dependency budget); the
    * operator above is representation-agnostic. */
  def subvectorTokens(vectors: DataFrame, idCol: String, vecCol: String,
                      m: Int): DataFrame = {
    val v = asDouble(col(vecCol))
    val sd = (size(v) / lit(m)).cast("int") // subvector dim (dims divide)
    vectors.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          s => slice(v, s * sd + 1, sd)))
          .as(Seq("tok", "vec")))
      .select(col(idCol), col("tok"), col("vec"))
  }
}
