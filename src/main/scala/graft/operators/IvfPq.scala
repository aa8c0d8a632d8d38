package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Rounding.round4
import graft.functions.VectorFunctions.asDouble

/** IVF-PQ (IVFADC) — the composition of the two ANN scale levers this
  * library already ships separately: IVF cells (Similarity.scala, the
  * compute lever — search touches only `nProbe` of `nClusters` cells)
  * and product quantization (ProductQuant.scala, the memory/IO lever —
  * a 64-dim float vector becomes `m` small ints). This is the layout
  * billion-vector indexes actually use (reference behavior surveyed from
  * the public FAISS IVFADC design, Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): vectors are assigned to a
  * coarse cell and only their RESIDUAL against the cell centroid is
  * PQ-coded, so the codebooks spend their 4 bits/subspace on the
  * within-cell detail instead of re-describing the coarse structure.
  *
  * Cosine formulation: everything is L2-normalized first (cosine is dot
  * product on the unit sphere). With v̂ = μ̂ + r (residual r against the
  * normalized cell centroid μ̂),
  *
  *   cos(q, v) = q̂·v̂ = q̂·μ̂ + q̂·r ≈ q̂·μ̂ + Σ_sub T[sub][code(sub)]
  *
  * where T is the per-(query, probed-cell-independent) inner-product
  * table of the query subvectors against the residual codebooks, and
  * q̂·μ̂ is one scalar per (query, probed cell). ADC search is therefore
  * `m` table lookups + one add per candidate — no candidate vector is
  * ever read during scoring. A shortlist of `rerank` ADC candidates per
  * query is re-scored with exact cosine (the standard ADC-prune +
  * exact-rerank production shape, same as [[ProductQuant.pqTopK]]).
  *
  * Scale shape at 100 TB:
  *   - the fit (coarse centroids + residual codebooks) runs on the same
  *     xxhash64-bounded 4096-row sample as every other quantizer fit in
  *     this library — cost independent of corpus size;
  *   - encoding is ONE scan-local projection over the corpus (centroids
  *     and codebooks ride the closure — a few KB), no shuffle;
  *   - search scans CODES ONLY (m ints/vector — with m=8/ks=16 that is
  *     a 16× smaller scan than the float vectors), restricted to probed
  *     cells by an equi-join against the broadcast probe tables;
  *   - exact re-rank touches |Q|·rerank full vectors, a semi-join-sized
  *     fraction of the corpus.
  *
  * Bounded-driver contract: the query side is collected to build the
  * probe tables (|Q|·nProbe·(m·ks+1) doubles), so it must be small —
  * enforced by the same loud `limit(maxQ+1)` probe as
  * [[ProductQuant.pqTopK]]. Callers with more queries batch them.
  *
  * Determinism (no RNG anywhere, stable under repartitioning): coarse
  * fit is [[Similarity.fitCentroids]]; residual codebooks use the same
  * bounded sample, per-subspace farthest-point init and fixed-iteration
  * L2 Lloyd ([[ProductQuant.fitBook]]); cell assignment ties to the
  * lowest centroid id on the 4-decimal-rounded cosine; ADC and exact
  * scores are rounded to 4 decimals before ranking with id tiebreaks.
  */
object IvfPq extends PersistedIndex {

  val kind = "ivfpq"
  protected val deleteIdCol = "vec_id"
  protected val storedIdCol = "cand_id"

  /** The fitted model: normalized coarse centroids + residual codebooks.
    * Both tiny (k·d + m·ks·(d/m) doubles) — always broadcastable. */
  final case class Model(cents: Array[(Int, Array[Double])],
                         cb: ProductQuant.Codebooks)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Centroids pre-normalized to the unit sphere, once — cosine
    * assignment is scale-invariant, and residuals/q̂·μ̂ need the unit
    * form. */
  private def unitCents(cents: Array[(Int, Array[Double])])
      : Array[(Int, Array[Double])] =
    cents.map { case (cid, cv) => (cid, ProductQuant.l2normalize(cv)) }

  /** Nearest-cell ids by rounded cosine on NORMALIZED vectors, ties to
    * the lowest centroid id — mirrors Similarity.nearestCentroids'
    * rounded-cosine/lowest-id rule so assignments agree with the IVF
    * family's semantics. Both `v` and `nCents` must already be unit
    * (or zero). */
  private def nearestCells(v: Array[Double],
                           nCents: Array[(Int, Array[Double])],
                           n: Int): Array[Int] =
    nCents.map { case (cid, nc) =>
      (-math.rint(dot(v, nc) * 1e4) / 1e4, cid)
    }.sorted.take(n).map(_._2)

  /** Fit coarse centroids (or reuse a standing fit) + residual codebooks
    * from the shared deterministic bounded sample. */
  def fit(candidates: DataFrame, nClusters: Int = 16, m: Int = 8,
          ks: Int = 16, iters: Int = 5, sampleN: Int = 4096,
          centroids: Option[DataFrame] = None): Model = {
    val cents: Array[(Int, Array[Double])] =
      centroids.getOrElse(Similarity.fitCentroids(candidates, nClusters))
        .select(col("centroid_id").cast("int"), col("centroid_vec"))
        .collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
    val sample: Array[(Long, Array[Double])] = candidates
      .select(col("vec_id").as("id"), asDouble(col("embedding")).as("vec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(sampleN)
      .collect().map(r => (r.getLong(0),
        ProductQuant.l2normalize(r.getSeq[Double](1).toArray)))
      .distinctBy(_._1)
    require(sample.nonEmpty, "cannot fit an IVF-PQ model on an empty corpus")
    val d = sample.head._2.length
    require(d % m == 0, s"dim $d must divide into m=$m subspaces")
    val subDim = d / m
    // residuals of the sample against each point's own nearest cell —
    // exactly what encodeCodes() computes corpus-wide
    val nCents = unitCents(cents)
    val byId = nCents.map(c => c._1 -> c._2).toMap
    val residuals = sample.map { case (id, v) =>
      val mu = byId(nearestCells(v, nCents, 1)(0))
      (id, Array.tabulate(d)(i => v(i) - mu(i)))
    }
    val books = Array.tabulate(m) { sub =>
      ProductQuant.fitBook(residuals.map { case (id, v) =>
        (id, java.util.Arrays.copyOfRange(v, sub * subDim,
          (sub + 1) * subDim))
      }, ks, iters)
    }
    Model(cents, ProductQuant.Codebooks(m, ks, subDim, books))
  }

  /** Encode the corpus: (cand_id, centroid_id, codes) — one scan-local
    * projection; the model rides the closure. Codes are the per-subspace
    * nearest residual-codebook entries (L2, ties to the lowest id). */
  def encodeCodes(candidates: DataFrame, model: Model): DataFrame = {
    val spark = candidates.sparkSession
    import spark.implicits._
    val nCents = unitCents(model.cents)
    val byId = nCents.map(c => c._1 -> c._2).toMap
    val cb = model.cb
    candidates.select(col("vec_id").as("id"),
        asDouble(col("embedding")).as("vec"))
      .as[(Long, Seq[Double])]
      .map { case (id, raw) =>
        val v = ProductQuant.l2normalize(raw.toArray)
        val cell = nearestCells(v, nCents, 1)(0)
        val mu = byId(cell)
        val r = Array.tabulate(v.length)(i => v(i) - mu(i))
        val codes = new Array[Int](cb.m)
        var sub = 0
        while (sub < cb.m) {
          val s0 = sub * cb.subDim
          var best = 0; var bestScore = Double.MaxValue; var c = 0
          while (c < cb.codes(sub).length) {
            val cent = cb.codes(sub)(c)
            var s = 0.0; var i = 0
            while (i < cb.subDim) {
              val dd = r(s0 + i) - cent(i); s += dd * dd; i += 1
            }
            if (s < bestScore) { bestScore = s; best = c }
            c += 1
          }
          codes(sub) = best
          sub += 1
        }
        (id, cell, codes.toSeq)
      }.toDF("cand_id", "centroid_id", "codes")
  }

  /** Per-(query, probed cell) ADC rows: (query_id, centroid_id, qmu,
    * tbl) — built driver-side from the collected queries and the tiny
    * model, broadcast against the codes scan. */
  private def probeTables(spark: SparkSession,
                          qRows: Array[(Long, Array[Double])],
                          model: Model, nProbe: Int): DataFrame = {
    import spark.implicits._
    val cb = model.cb
    val nCents = unitCents(model.cents)
    val byId = nCents.map(c => c._1 -> c._2).toMap
    qRows.toSeq.flatMap { case (qid, qv) =>
      val tbl = Array.tabulate(cb.m) { sub =>
        val s0 = sub * cb.subDim
        cb.codes(sub).map { cent =>
          var s = 0.0; var i = 0
          while (i < cb.subDim) { s += qv(s0 + i) * cent(i); i += 1 }
          s
        }.toSeq
      }.toSeq
      nearestCells(qv, nCents, nProbe).map { cell =>
        (qid, cell, dot(qv, byId(cell)), tbl)
      }
    }.toDF("query_id", "centroid_id", "qmu", "tbl")
  }

  /** IVFADC top-k: probe `nProbe` cells per query, score candidates in
    * probed cells by q̂·μ̂ + Σ residual-table lookups (codes only — no
    * candidate vector read), keep the `rerank` best per query, re-score
    * that shortlist with exact cosine. */
  def ivfpqTopK(candidates: DataFrame, queries: DataFrame, k: Int = 10,
                nClusters: Int = 16, nProbe: Int = 4, m: Int = 8,
                ks: Int = 16, rerank: Int = 50,
                centroids: Option[DataFrame] = None,
                model: Option[Model] = None,
                codes: Option[DataFrame] = None,
                maxQ: Int = 65536): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    // collected BEFORE fit/encode so an oversized query table fails
    // before paying KMeans training (ADVICE r19)
    val qRows = queryRows(queries, maxQ, "ivfpqTopK")
    val mdl = model.getOrElse(
      fit(candidates, nClusters, m, ks, centroids = centroids))
    val coded = codes.getOrElse(encodeCodes(candidates, mdl))
    val probes = probeTables(candidates.sparkSession, qRows, mdl, nProbe)
    rerankExact(candidates.select(col("vec_id").as("cand_id"),
        asDouble(col("embedding")).as("cv")),
      adcShortlist(coded, probes, rerank), qRows, k)
  }

  /** The unit-normalized query rows, collected under the maxQ bound: the
    * bound rides the collect itself (r19 — a loud limit cap + length
    * recheck, the planTokenProbes pattern) instead of a separate
    * limit+count guard job. Probe tables are built driver-side and
    * broadcast, so the query table must be bounded. */
  private def queryRows(queries: DataFrame, maxQ: Int,
                        caller: String): Array[(Long, Array[Double])] = {
    import queries.sparkSession.implicits._
    val qRows = queries
      .select(col("vec_id").as("query_id"),
        asDouble(col("embedding")).as("vec"))
      .limit(maxQ + 1)
      .as[(Long, Seq[Double])].collect()
      .map { case (id, raw) => (id, ProductQuant.l2normalize(raw.toArray)) }
    require(qRows.length <= maxQ,
      s"$caller query side exceeds maxQ=$maxQ rows — batch the queries " +
        "or raise maxQ explicitly")
    qRows
  }

  /** Each query's `rerank` best candidates by ADC score over `codes`
    * joined to the broadcast probe tables. */
  private def adcShortlist(codes: DataFrame, probes: DataFrame,
                           rerank: Int): DataFrame = {
    val adcW = Window.partitionBy("query_id")
      .orderBy(desc("adc"), asc("cand_id"))
    codes.join(broadcast(probes), Seq("centroid_id"))
      .where(col("query_id") =!= col("cand_id"))
      .withColumn("adc", round4(col("qmu") +
        expr("aggregate(zip_with(codes, tbl," +
          " (c, t) -> element_at(t, c + 1)), 0D, (acc, x) -> acc + x)")))
      .withColumn("__r", row_number().over(adcW))
      .where(col("__r") <= rerank)
      .select("query_id", "cand_id")
  }

  /** Exact-cosine re-rank of an ADC shortlist against full vectors:
    * |Q|·rerank rows only — the shortlist broadcasts onto the vector
    * fetch, never the other way around. */
  private def rerankExact(cands: DataFrame, shortlist: DataFrame,
                          qRows: Array[(Long, Array[Double])],
                          k: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val exactQ = qRows.map { case (id, v) => (id, v.toSeq) }.toSeq
      .toDF("query_id", "qv")
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), asc("cand_id"))
    cands.join(broadcast(shortlist), "cand_id")
      .join(broadcast(exactQ), "query_id")
      .withColumn("score", round4(
        graft.functions.VectorFunctions.cosine(col("qv"), col("cv"))))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "cand_id", "score", "rank")
  }

  /** [[ivfpqTopK]] for query tables BEYOND the bounded-driver cap — the
    * batching loop the maxQ contract tells callers to run, as code: the
    * query table gets a deterministic dense rank ONCE (ordered by id,
    * computed distributed and cached), each ⌈n/maxQ⌉ slice runs the
    * bounded search against the SAME fitted model and encoded corpus
    * (fit and encode happen once, not per slice), and the results
    * union. Per-query results are identical to a single oversized call
    * because queries never interact — the cap exists only to bound the
    * driver-side probe tables. */
  def ivfpqTopKAll(candidates: DataFrame, queries: DataFrame, k: Int = 10,
                   nClusters: Int = 16, nProbe: Int = 4, m: Int = 8,
                   ks: Int = 16, rerank: Int = 50,
                   centroids: Option[DataFrame] = None,
                   maxQ: Int = 65536): DataFrame = {
    val spark = candidates.sparkSession
    val mdl = fit(candidates, nClusters, m, ks, centroids = centroids)
    val coded = StagingCaches.cache(encodeCodes(candidates, mdl))
    // distributed global rank (GlobalRank's range-repartition shape) —
    // a bare Window.orderBy would collapse the query table to one task
    val ranked = StagingCaches.cache(
      GlobalRank.withRowNumber(
          queries.select(col("vec_id"), col("embedding")),
          "__rn", Seq(asc("vec_id")))
        .withColumn("__chunk", ((col("__rn") - 1) / maxQ).cast("int"))
        .drop("__rn"))
    val nChunks = ranked.agg(max("__chunk")).collect()
      .headOption.flatMap(r => Option(r.get(0)).map(_ => r.getInt(0) + 1))
      .getOrElse(0)
    (0 until nChunks)
      .map { c =>
        ivfpqTopK(candidates,
          ranked.where(col("__chunk") === c).drop("__chunk"),
          k, nClusters, nProbe, m, ks, rerank,
          model = Some(mdl), codes = Some(coded), maxQ = maxQ)
      }
      .reduceOption(_ unionByName _)
      .getOrElse(
        // zero queries: an empty frame in the result schema
        ivfpqTopK(candidates, queries.limit(0), k, nClusters, nProbe,
          m, ks, rerank, model = Some(mdl), codes = Some(coded)))
  }

  /** Persist an IVF-PQ index: `<dir>/centroids` and `<dir>/codebooks`
    * (both tiny, one file each), `<dir>/pqcodes` and `<dir>/vectors`
    * both PARTITIONED by centroid_id — so an `nProbe` search reads the
    * probed cells' CODE files for ADC scoring and only the probed cells'
    * vector files (shortlist-filtered) for the exact re-rank. Both
    * datasets are written clustered to the layout by the trait's layout
    * writer. */
  def writeIndex(candidates: DataFrame, dir: String, nClusters: Int = 16,
                 m: Int = 8, ks: Int = 16,
                 centroids: Option[DataFrame] = None,
                 model: Option[Model] = None): Unit =
    build(candidates, dir, model.getOrElse(
      fit(candidates, nClusters, m, ks, centroids = centroids)))

  /** Load a persisted index's model (centroids + codebooks — both tiny,
    * two small parquet reads). */
  protected def readModel(spark: SparkSession, dir: String): Model = {
    val cents = spark.read.parquet(s"$dir/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val cbRows = spark.read.parquet(s"$dir/codebooks")
      .select("sub", "code_id", "code_vec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val m = cbRows.map(_._1).max + 1
    val books = Array.tabulate(m) { sub =>
      cbRows.filter(_._1 == sub).sortBy(_._2).map(_._3)
    }
    Model(cents,
      ProductQuant.Codebooks(m, books(0).length, books(0)(0).length, books))
  }

  protected def modelFiles(spark: SparkSession, mdl: Model) = {
    import spark.implicits._
    Seq("codebooks" -> ProductQuant.codebooksDF(spark, mdl.cb),
      "centroids" -> mdl.cents.toSeq.map { case (cid, v) => (cid, v.toSeq) }
        .toDF("centroid_id", "centroid_vec"))
  }

  /** The codes, pinned for the vectors' cell routing join (without the
    * pin the whole encode projection runs twice). */
  protected def encode(vectors: DataFrame, mdl: Model,
                       pin: DataFrame => DataFrame) = {
    val coded = pin(encodeCodes(vectors, mdl))
    Seq("pqcodes" -> coded,
      "vectors" -> vectors
        .select(col("vec_id").as("cand_id"),
          asDouble(col("embedding")).as("cand_vec"))
        .join(coded.select("cand_id", "centroid_id"), "cand_id"))
  }

  /** The kind's layout: cand_id-deduped fold (a batch present in the
    * base AND a still-live dir collapses to one row), both datasets
    * cell-partitioned, vectors staged/swapped first, the high-water
    * marker committing inside the staged PQCODES dir last. Any vacuum
    * crash ordering stays consistent: the shortlist derives from
    * pqcodes∖ledger, so whichever dataset swapped first a search still
    * ranks live vectors only. */
  private[operators] def fusedDatasets = Seq(
    IndexBatches.FusedDataset("vectors",
      Seq("cand_id", "cand_vec", "centroid_id"), Seq("cand_id"),
      Some("centroid_id"), IndexBatches.centroidFanout, "cand_id"),
    IndexBatches.FusedDataset("pqcodes",
      Seq("cand_id", "codes", "centroid_id"), Seq("cand_id"),
      Some("centroid_id"), IndexBatches.centroidFanout, "cand_id"))

  /** Out-of-band model refresh — the maintenance step appends and the
    * streaming sink deliberately skip: batches encode against stale
    * cells and codebooks, so as the corpus drifts both the coarse
    * routing AND the residual quantization error degrade. Recenter
    * re-fits the WHOLE model (cells + residual codebooks) from the
    * vectors the index stores, re-encodes every vector, and swaps all
    * four datasets in through the trait's recenter commit (vectors,
    * pqcodes + marker, codebooks, centroids). An interruption between
    * swaps leaves codes encoded under a model the reader hasn't fully
    * switched to: ADC recall DEGRADES until recenter re-runs, but the
    * exact re-rank still scores every surfaced candidate with its true
    * cosine, and re-running converges (it reads only the vectors
    * dataset, which is model-independent). Returns (n_vectors, n_moved,
    * n_clusters). */
  def recenterIndex(spark: SparkSession, dir: String, nClusters: Int = 16,
                    m: Int = 8, ks: Int = 16): DataFrame = {
    import spark.implicits._
    compactIndexBatches(spark, dir)
    val old = spark.read.parquet(s"$dir/vectors")
      .select(col("cand_id").as("vec_id"), col("cand_vec").as("embedding"),
        col("centroid_id"))
    val (total, moved) = recenter(dir, fit(old, nClusters, m, ks), old)(
      staged => Similarity.drift(staged("pqcodes"), old))
    Seq((total, moved, nClusters.toLong))
      .toDF("n_vectors", "n_moved", "n_clusters")
  }

  /** Search a persisted [[writeIndex]] index. Result-identical to
    * running [[ivfpqTopK]] with the same parameters over the corpus
    * (asserted in IvfPqSpec): the ADC pass reads ONLY the probed cells'
    * code files (`centroid_id IN (...)` is a partition filter — pruned
    * directories are never opened), and the re-rank reads the probed
    * cells' vector files filtered to the broadcast shortlist. */
  def searchIndex(spark: SparkSession, dir: String, queries: DataFrame,
                  k: Int = 10, nProbe: Int = 4, rerank: Int = 50,
                  maxQ: Int = 65536): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val mdl = readModel(spark, dir)
    val qRows = queryRows(queries, maxQ, "searchIndex")
    val probes = probeTables(spark, qRows, mdl, nProbe)
    val nCents = unitCents(mdl.cents)
    val probedCells = qRows.flatMap { case (_, qv) =>
      nearestCells(qv, nCents, nProbe) }.distinct.toSeq
    // live streaming batch dirs union in transparently (probed-cell
    // pruning applies to them too); while any exist, both datasets
    // dedup on cand_id so the compaction crash window never
    // double-counts (same contract as Bm25.searchIndex)
    val liveDirs = liveBatchDirs(spark, dir)
    val probed = (df: DataFrame) =>
      df.where(col("centroid_id").isin(probedCells: _*))
    // the ledger anti-join lands BEFORE the ADC ranking, so a tombstoned
    // vector can never enter the shortlist
    val shortlist = adcShortlist(
      readLive(spark, dir, "pqcodes", liveDirs, probed), probes, rerank)
    val vecs = readLive(spark, dir, "vectors", liveDirs, probed, mask = false)
      .select(col("cand_id"), col("cand_vec").as("cv"))
    rerankExact(vecs, shortlist, qRows, k)
  }
}
