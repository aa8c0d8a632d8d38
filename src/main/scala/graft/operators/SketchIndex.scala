package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.asDouble

/** Persisted binary-sketch index — the materialized form of
  * [[Similarity.hammingTopK]] (reference behavior surveyed from the
  * binary-quantization serving pattern: FAISS's flat binary indexes and
  * the sign-random-projection LSH literature, Charikar STOC 2002): the
  * 64-bit hyperplane sign sketch is computed ONCE at write time and
  * stored as its own 8-bytes-per-vector dataset, so the search-time
  * first stage scans sketches only — at 100 TB of float64 embeddings
  * the sketch dataset is ~1.6 TB, a 64× scan reduction that no longer
  * pays the sketch computation per query batch. Full vectors live in a
  * second dataset bucketed by id hash, read only to exact-re-rank each
  * query's `shortlist` candidates (the fetch prunes to the candidates'
  * buckets at the scan).
  *
  * Layout: `sketches/` (vec_id, sig, bucket — flat, no partitioning:
  * the first stage is a deliberate full scan of the smallest possible
  * dataset) and `vectors/` (vec_id, vec) PARTITIONED by bucket =
  * pmod(hash(vec_id), [[Buckets]]).
  *
  * Lifecycle: the SIXTH index kind on the shared contracts —
  * streaming ingestion via [[appendBatchDir]]/[[compactIndexBatches]]
  * ([[IndexBatches]]: overwrite by (tag, batchId), read-side dedup on
  * vec_id while live dirs exist, marker inside the staged sketches
  * dir), deletion via the [[TombstoneLedger]] (masked before the
  * shortlist, physical at [[vacuumIndex]]), in-place growth via
  * [[appendToIndex]] (the fixed plane table means appends never degrade
  * the sketch). No quantizer to recenter — the plane table is
  * fixed, so append never drifts (the trade: no data-adaptive cells
  * either; that is what the IVF kinds are for).
  *
  * Ingest-id contract (shared by every index kind): a vec_id appears
  * in at most ONE logical version across base + batches. The read-side
  * dropDuplicates exists ONLY for the compaction crash window, where
  * the surviving copies are byte-identical (a folded-but-undeleted
  * batch dir), so any winner is the same row. RE-ingesting an existing
  * id with DIFFERENT data is unsupported until a compaction folds the
  * layouts: the sketches dedup and the vectors dedup pick winners
  * independently, so sig and vector could come from different versions
  * (inconsistent hamming vs score, nondeterministic results). Replace
  * a vector by [[deleteFromIndex]] + append under the same id, or
  * rebuild.
  *
  * Determinism: search is row-identical to [[Similarity.hammingTopK]]
  * over the same live corpus (same sketch expression, same integer
  * Hamming, same id tiebreaks, same rounded re-rank — SketchIndexSpec
  * pins it), so the driver gate shares the brute pipeline's hash-exact
  * DuckDB oracle rather than a recall flag.
  */
object SketchIndex extends PersistedIndex {

  val kind = "sketch"
  protected val deleteIdCol = "vec_id"
  protected val storedIdCol = "vec_id"

  /** Bucket fanout of the vectors dataset (the re-rank fetch prune). */
  val Buckets = 64

  private def withSketch(vectors: DataFrame): DataFrame = {
    graft.Functions.ensure(vectors.sparkSession)
    vectors.select(col("vec_id").cast("long").as("vec_id"),
        asDouble(col("embedding")).as("vec"))
      .withColumn("sig", expr("hyperplane_sig64(vec)"))
      .withColumn("bucket", pmod(hash(col("vec_id")), lit(Buckets)))
  }

  /** Build both datasets. A rebuild resets the deletion ledger and any
    * streaming batch dirs (they refer to the pre-rebuild corpus, and
    * the fresh sketches/ overwrite carries no high-water marker). */
  def writeIndex(vectors: DataFrame, dir: String): Unit =
    build(vectors, dir, ())

  /** No model: the plane table is fixed. */
  protected type Model = Unit
  protected def readModel(spark: SparkSession, dir: String): Unit = ()
  protected def modelFiles(spark: SparkSession, u: Unit) = Nil

  /** The sketch computation, pinned: both datasets consume it. */
  protected def encode(vectors: DataFrame, u: Unit,
                       pin: DataFrame => DataFrame) = {
    val vs = pin(withSketch(vectors))
    Seq("sketches" -> vs.select("vec_id", "sig", "bucket"),
      "vectors" -> vs.select(col("vec_id"), col("vec"), col("bucket")))
  }

  /** The kind's layout: vec_id-deduped fold, vectors staged first, the
    * high-water marker committing inside the staged SKETCHES dir last.
    * The flat sketches dataset is rewritten whole by every vacuum BY
    * DESIGN: it is the deliberately-smallest dataset (8 B/vector), so
    * its full rewrite is the cheap one. Its build fanout is a handful of
    * files, one per eight cores, written through a repartition EXCHANGE
    * (never coalesce(1), which would propagate up and serialize the
    * whole read+sketch pipeline into one task). */
  private[operators] def fusedDatasets = Seq(
    IndexBatches.FusedDataset("vectors", Seq("vec_id", "vec", "bucket"),
      Seq("vec_id"), Some("bucket"), (_, _) => Buckets, "vec_id"),
    IndexBatches.FusedDataset("sketches", Seq("vec_id", "sig", "bucket"),
      Seq("vec_id"), None, (spark, _) => IndexBatches.slices(spark, 8),
      "vec_id"))

  /** Search the persisted index — row-identical to
    * [[Similarity.hammingTopK]] over the live corpus. The first stage
    * scans the 8-bytes-per-vector sketches dataset (live batch dirs
    * union in with vec_id dedup; the ledger anti-joins BEFORE the
    * shortlist window so a tombstoned vector never occupies a slot);
    * the exact re-rank fetches only the candidates' buckets,
    * row-filtered to the candidate ids — both prunes land at the
    * vectors scan. Bounded driver: the shortlist collect is
    * ≤ |Q|·shortlist rows, with a loud maxQ guard before it can grow
    * with the query side.
    *
    * maxQ CONTRACT (weakened deliberately at r19, ADVICE-acknowledged):
    * the bound rides the shortlist collect — a `limit(maxQ·shortlist+1)`
    * cap plus a distinct-query recheck — so the guarded quantity is the
    * DRIVER FOOTPRINT (shortlist rows collected), not raw query-table
    * rows. A query table whose surplus rows match no bucket passes, and
    * the broadcast of the (query_id, qsig) projection is then the
    * binding limit: an unbounded query table fails with Spark's loud
    * broadcast-size error rather than this require. The alternative
    * (a separate distinct-count probe on the query side) costs one extra
    * driver action per search on the hot path — rejected; batch callers
    * go through the documented search budget anyway. */
  def searchIndex(spark: SparkSession, dir: String, queries: DataFrame,
                  k: Int, shortlist: Int = 100,
                  maxQ: Int = 4096): DataFrame = {
    require(k > 0 && shortlist >= k,
      s"need shortlist ($shortlist) >= k ($k) > 0")
    require(shortlist <= 1000,
      s"shortlist ($shortlist) must stay within the WindowGroupLimit " +
        "threshold (1000)")
    graft.Functions.ensure(spark)
    val q = queries.select(col("vec_id").cast("long").as("query_id"),
        asDouble(col("embedding")).as("query_vec"))
      .withColumn("qsig", expr("hyperplane_sig64(query_vec)"))
    val liveDirs = liveBatchDirs(spark, dir)
    val liveSk = readLive(spark, dir, "sketches", liveDirs)
    val wH = Window.partitionBy("query_id")
      .orderBy(asc("hamming"), asc("cand_id"))
    // one bounded collect (≤ |Q|·shortlist rows) serves the bucket
    // partition filter, the candidate row filter, and the re-rank's
    // (query, cand, hamming) pairs — the distributed derivation would
    // recompute the shortlist inside the fetch job. The maxQ bound
    // rides THIS collect (r19, the planTokenProbes pattern — a loud
    // `limit` cap at maxQ·shortlist rows plus a distinct-query recheck
    // from the collected rows) instead of paying a separate
    // limit+count guard job on the query side first; the worst-case
    // driver footprint is the same |Q ≤ maxQ|·shortlist bound as
    // before.
    val cap = maxQ * shortlist + 1
    val shortRows = liveSk
      .select(col("vec_id").as("cand_id"), col("sig"), col("bucket"))
      .join(broadcast(q.select("query_id", "qsig")),
        col("query_id") =!= col("cand_id"))
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("qsig"))).cast("int"))
      .withColumn("__h", row_number().over(wH))
      .where(col("__h") <= shortlist)
      .select("query_id", "cand_id", "hamming", "bucket")
      .limit(cap)
      .collect()
    require(shortRows.length < cap &&
        shortRows.iterator.map(_.getLong(0)).toSet.size <= maxQ,
      s"searchIndex query side exceeds maxQ=$maxQ rows — batch the queries")
    val buckets = shortRows.map(r => r.getInt(r.fieldIndex("bucket")))
      .distinct.toSeq
    val candIds = shortRows.map(r => r.getLong(r.fieldIndex("cand_id")))
      .distinct.toSeq
    val pairs = spark.createDataFrame(
      java.util.Arrays.asList(shortRows: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cand_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hamming",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType))))
      .drop("bucket")
    // candidate prune: the bucket list stays a literal partition filter
    // (≤ Buckets values), but the per-row id prune is a broadcast
    // SEMI-join against a local relation of the candidate ids — an isin
    // over candIds would embed up to |Q|·shortlist literals in the plan
    // (driver-side plan-size hazard at the documented bounds)
    val candDocs = spark.createDataFrame(
      java.util.Arrays.asList(candIds.map(
        org.apache.spark.sql.Row(_)): _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType))))
    val fetched = readLive(spark, dir, "vectors", liveDirs,
        scan = _.where(col("bucket").isin(buckets.map(Integer.valueOf): _*))
          .join(broadcast(candDocs), Seq("vec_id"), "left_semi"),
        mask = false)
      .select(col("vec_id").as("cand_id"), col("vec").as("cand_vec"))
    val wS = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("cand_id"))
    fetched.join(broadcast(pairs), "cand_id")
      .join(broadcast(q.select("query_id", "query_vec")), "query_id")
      .withColumn("score", graft.functions.Rounding.round4(
        graft.functions.VectorFunctions.cosine(
          col("query_vec"), col("cand_vec"))))
      .withColumn("rank", row_number().over(wS))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "hamming", "score", "rank")
  }
}
