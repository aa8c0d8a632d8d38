package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Rounding.round4
import graft.functions.TextFunctions.tokens

/** BM25 lexical retrieval over a document corpus — the ranking half of a
  * dedup/decontamination/retrieval stack (tf-idf's big sibling: term
  * saturation via k1, length normalization via b).
  *
  * Scale shape: the corpus is never indexed wholesale. Query terms are
  * tiny and broadcast, so the exploded posting stream is PRUNED to query
  * terms at the scan side of the first exchange — tf aggregation, df
  * counting, and scoring all run over `docs-containing-query-terms` rows,
  * not the corpus vocabulary. Corpus-level constants (N, total token
  * count) are one scalar aggregate each; doc lengths ride the same
  * pruned join. Top-k per query is a rank window over the scored rows
  * (bounded by queries x matching docs), never over the corpus.
  *
  * Determinism contract: scores are double but each per-(query,doc) sum
  * folds at most the query's term count (callers keep queries short; the
  * gate uses 2-term queries, and 2-addend IEEE sums are order-exact);
  * final scores round to 4 dp BEFORE ranking, doc id breaks ties.
  */
object Bm25 extends PersistedIndex {

  val kind = "bm25"
  protected val deleteIdCol = "doc_id"
  protected val storedIdCol = "doc_id"

  /** Top-`k` documents per query. `queries`: (query_id, term) rows —
    * multi-term queries contribute one row per term. Returns
    * (query_id, doc_id, score, rank). */
  def topK(docs: DataFrame, queries: DataFrame, k: Int,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    // one scalar row: corpus size + mean doc length. INLINE since r19 —
    // the stats agg rides the scoring job as a broadcast cross-join of
    // one row (the exact shape the DuckDB oracle uses) instead of a
    // separate collect() action: one job where there were two, and no
    // driver sync point between the corpus scan and the scoring pass
    // (guide §1.2 / §5 — the values, and therefore every score bit,
    // are unchanged: same count/sum longs cast to double in the same
    // IEEE expression order as the old driver-side literals)
    val corpus = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("toks"))).as("n_tokens"))
    // empty corpus: a neutral avgdl keeps the (empty) pipeline NaN-free,
    // and the result schema stays the real plan's — no hardcoded types
    // that could diverge from the ids' actual types
    val withStats = (df: DataFrame) => df.join(broadcast(
      corpus.select(col("n_docs").cast("double").as("__ndocs"),
        when(col("n_docs") === 0 || col("n_tokens").isNull, 1.0)
          .otherwise(col("n_tokens").cast("double") / col("n_docs"))
          .as("__avgdl"))))
    val posting = toks
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(queries.select("term").distinct()), "term")
    val tf = posting.groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = withStats(df).select(col("term"),
      log(lit(1.0) + (col("__ndocs") - col("df") + 0.5)
        / (col("df") + 0.5)).as("idf"))
    val termScore = withStats(tf.join(broadcast(idf), "term"))
      .withColumn("ts",
        col("idf") * col("tf") * (lit(k1) + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
    val scored = termScore
      .join(broadcast(queries), Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(round4(sum(col("ts"))).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }

  /** Number of term-hash partitions in a persisted index. */
  val IndexBuckets = 64

  /** Persist an inverted index for repeated retrieval: postings
    * (term, doc_id, dl, tf) PARTITIONED BY `term_bucket` =
    * hash(term) mod 64 — the high-query-volume complement to [[topK]]'s
    * scan+prune (same trade as Similarity.writeIndex: build once, then
    * every search reads only its query terms' buckets, ~1/64th of the
    * postings per term). A narrow `doclens` (doc_id, dl) dataset
    * carries the per-document lengths the corpus constants derive from
    * — DERIVED at search time rather than stored as a scalar, so
    * deletions ([[deleteFromIndex]]) correct n_docs/avgdl through the
    * SAME ledger anti-join that masks postings, with no stored-scalar
    * staleness window under any vacuum crash ordering. A term's
    * postings live entirely inside its bucket, so df computed from
    * probed buckets alone is exact (and from MASKED probed buckets,
    * exact over live documents). */
  def writeIndex(docs: DataFrame, dir: String): Unit = build(docs, dir, ())

  /** No model: every corpus statistic derives from the datasets at
    * search time, so an append (or a streamed batch) corrects n_docs,
    * avgdl and df exactly, with no stored scalar to go stale. */
  protected type Model = Unit
  protected def readModel(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Unit = ()
  protected def modelFiles(spark: org.apache.spark.sql.SparkSession,
                           u: Unit) = Nil

  /** Each document's length, and its (term, doc_id, dl, tf) postings
    * under their term bucket. */
  protected def encode(docs: DataFrame, u: Unit,
                       pin: DataFrame => DataFrame) = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    Seq("doclens" -> toks.select(col("doc_id"), size(col("toks")).as("dl")),
      "postings" -> toks
        .select(col("doc_id"), size(col("toks")).as("dl"),
          explode(col("toks")).as("term"))
        .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
        .withColumn("term_bucket",
          pmod(hash(col("term")), lit(IndexBuckets))))
  }

  /** The kind's layout: doclens folds flat with doc_id dedup (tiny — no
    * repartition), postings folds under the term-bucket layout with
    * (term, doc_id) dedup and carries the high-water marker
    * (staged/swapped last).
    *
    * Two datasets cannot swap atomically, so no ordering alone closes
    * the window where one has folded the batches and the other's
    * liveness decision (the marker in POSTINGS) hasn't committed. The
    * contract that survives EVERY interleaving is idempotence by natural
    * key instead: a document's (doc_id, dl) row and a term's
    * (term, doc_id, dl, tf) row are identical wherever they appear, so
    * folding DEDUPLICATES on those keys, and [[searchIndex]] applies the
    * same dedup whenever live batch dirs exist. Vacuum stays consistent
    * under any crash ordering too: the corpus constants derive from
    * doclens∖ledger and postings read as postings∖ledger, so whichever
    * dataset swapped first, a search still scores the live corpus
    * exactly. */
  private[operators] def fusedDatasets = Seq(
    IndexBatches.FusedDataset("doclens", Seq("doc_id", "dl"),
      Seq("doc_id"), None, (_, _) => 0, "doc_id"),
    IndexBatches.FusedDataset("postings",
      Seq("term", "doc_id", "dl", "tf", "term_bucket"),
      Seq("term", "doc_id"), Some("term_bucket"), (_, _) => IndexBuckets,
      "doc_id"))

  /** Search a persisted [[writeIndex]] index — result-identical to
    * running [[topK]] over the original corpus (Bm25Spec pins it), but
    * the scan touches only the query terms' partitions: the bucket
    * filter is a partition filter, so non-matching directories are never
    * opened.
    *
    * Bounded-driver contract: the partition-pruning path enumerates the
    * distinct query terms driver-side, so it only runs when a cheap
    * `limit(maxTerms+1)` probe confirms the term set is small. Beyond
    * the cap the search stays fully distributed — a shuffle join of the
    * postings against the distinct-term frame (no driver collect, no
    * broadcast of the big query side) — trading partition pruning for
    * unbounded query volume with identical results (Bm25Spec pins the
    * equivalence). */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  queries: DataFrame, k: Int,
                  k1: Double = 1.2, b: Double = 0.75,
                  maxTerms: Int = 65536): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // live streaming batch dirs union in transparently; whenever any
    // exist, BOTH datasets deduplicate on their natural keys — a batch
    // present in the base AND a still-live dir (the compaction crash
    // window) collapses back to one row, so statistics never
    // double-count under any swap interleaving
    val liveDirs = liveBatchDirs(spark, dir)
    // corpus constants from doclens MINUS the ledger — the same mask
    // the postings get, so deletions correct n_docs/avgdl/df exactly
    // and post-delete scores equal a fresh index over the live corpus
    val doclens = readLive(spark, dir, "doclens", liveDirs)
    // INLINE since r19 (same move as [[topK]]): the corpus-constant agg
    // rides the scoring job as a one-row broadcast cross-join instead
    // of a separate collect() action — one job fewer per search, no
    // driver sync between the doclens scan and scoring, identical
    // values bit for bit. An index written from an empty corpus has
    // n_docs = 0 and a NULL token sum — same neutral-avgdl guard as
    // topK, empty result flows.
    val withStats = (df: DataFrame) => df.join(broadcast(
      doclens.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("n_tokens"))
        .select(col("n_docs").cast("double").as("__ndocs"),
          when(col("n_docs") === 0 || col("n_tokens").isNull, 1.0)
            .otherwise(col("n_tokens").cast("double") / col("n_docs"))
            .as("__avgdl"))))
    val qTermDf = queries.select("term").distinct()
    // ONE bounded collect decides the strategy AND supplies the term
    // list (r19 — the previous shape paid a separate limit+count job
    // before re-collecting the same rows for the pruning path)
    val qTermProbe = qTermDf.limit(maxTerms + 1).collect()
    val smallQ = qTermProbe.length <= maxTerms
    // the prune applies at each scan, so the live-dirs dedup shuffle
    // covers query-term rows only
    val prune: DataFrame => DataFrame =
      if (smallQ) {
        val qTerms = qTermProbe.map(_.getString(0))
        val buckets = qTerms.map(TermBuckets.of(_, IndexBuckets)).distinct
        _.where(col("term_bucket").isin(buckets.map(Integer.valueOf): _*))
          .where(col("term").isin(qTerms: _*))
      } else _.join(qTermDf, "term")
    val tf = readLive(spark, dir, "postings", liveDirs, prune)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = withStats(df).select(col("term"),
      log(lit(1.0) + (col("__ndocs") - col("df") + 0.5)
        / (col("df") + 0.5)).as("idf"))
    val termScore = withStats(tf.join(broadcast(idf), "term"))
      .withColumn("ts",
        col("idf") * col("tf") * (lit(k1) + 1.0)
          / (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
    val scored = termScore
      .join(if (smallQ) broadcast(queries) else queries, Seq("term"))
      .groupBy("query_id", "doc_id")
      .agg(round4(sum(col("ts"))).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }
}
