package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.TextFunctions._

/** Document-deduplication operators for training-data pipelines.
  *
  * Scale design (the 100 TB story, in order of preference):
  *  - exact / fingerprint dedup: one hash-shuffle on the fingerprint —
  *    embarrassingly scalable, run it first to shrink the corpus.
  *  - MinHash+LSH: scan-local signatures (O(m·shingles) per doc), then ONE
  *    shuffle on (band, bandKey) buckets. Pair generation happens inside
  *    buckets (tiny groups), never as a global cross join. Hot buckets
  *    (boilerplate docs) are the skew risk — `maxBucket` caps them, AQE
  *    skew-split handles the rest.
  *  - SimHash: one 8-byte signature per doc; candidates via 16-bit band
  *    equality (4 exchanges of a narrow table), verified by bit_count(xor).
  *  - brute-force n-gram Jaccard: O(n²) — correctness oracle for the LSH
  *    paths, only ever run on a bounded subset.
  *
  * Caching note: the LSH operators persist their signature/candidate
  * intermediates (consumed by self-joins); the frames back the lazily
  * returned result, so they cannot unpersist eagerly. Every persist goes
  * through [[OperatorCaches.cache]] — callers running many dedup passes
  * in one long-lived session call [[OperatorCaches.releaseAll]] after
  * consuming each result.
  */
object Dedup {

  /** Exact duplicates after normalization: groups sharing a normalized-text
    * fingerprint, keeping the lowest id as canonical. Output: (dup_id,
    * canonical_id, fingerprint) for every non-canonical member. */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = df.select(col(idCol).as("dup_id"),
      normFingerprint(col(textCol)).as("fingerprint"))
    val canon = fp.groupBy("fingerprint")
      .agg(min("dup_id").as("canonical_id"))
    fp.join(canon, Seq("fingerprint"))
      .where(col("dup_id") =!= col("canonical_id"))
      .select("dup_id", "canonical_id", "fingerprint")
  }

  /** MinHash+LSH candidate pairs with exact-Jaccard verification.
    *
    * shingle → m-entry md5 MinHash signature → `bands` band keys → explode →
    * bucket-join on (band, key) → distinct candidate pairs → verify real
    * Jaccard ≥ `threshold` on the shingle sets.
    *
    * The verify join re-fetches shingle arrays by id (two broadcast-or-
    * shuffle hash joins on id) — at scale this is the standard
    * signature-then-verify two-pass, never materializing n² pairs.
    * Choose `m`/`bands` with [[lshPlan]] rather than folklore defaults.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 5, m: Int = 8, bands: Int = 4,
                      threshold: Double = 0.5,
                      maxBucket: Int = 1000): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    // bands > m would give 0 rows per band — every band key identical, the
    // candidate join degenerates to the full n² cross product LSH exists
    // to avoid; a non-divisor silently drops signature entries.
    require(bands > 0 && bands <= m && m % bands == 0,
      s"bands ($bands) must divide the signature size ($m)")
    graft.Functions.ensure(df.sparkSession)
    // Shingles and the m-entry signature are codegen'd native expressions
    // (graft.expressions.{WordShingles, MinHashSig}) — one tight loop per
    // document, NOT interpreted higher-order transforms and NOT an
    // explode + hash-aggregate (which shuffled |shingles|× the corpus just
    // to compute a per-row value; benchmarked 5-10× slower at sf0.1).
    // At 100 TB everything up to `banded` is scan-local; the only shuffles
    // are the (band, key) bucket join and the two verify joins on id.
    // Persisted: shingle arrays feed both the signature projection and the
    // verify join; signatures feed the banded self-join twice.
    val sh = df.select(col(idCol).as("id"),
        expr(s"word_shingles(${q(textCol)}, $k)").as("sh"))
      .transform(OperatorCaches.cache)
    val sigs = sh.select(col("id"), expr(s"minhash_sig(sh, $m)").as("sig"))
      .transform(OperatorCaches.cache)
    val bandedRaw = bandKeys(sigs, m, bands)
    // Hot-bucket cap: a bucket of n members yields n(n-1)/2 pairs — for
    // boilerplate-heavy corpora one bucket can go quadratic no matter how
    // the shuffle is split (AQE fixes partition skew, not join-output
    // blowup). Keep the `maxBucket` lowest ids per (band, key):
    // deterministic, and safe in practice because exact/fingerprint dedup
    // runs FIRST in the curation pipeline, so what remains in a hot bucket
    // is near-dup variety, which the kept members still represent. The
    // window shuffles on the same (band, key) the bucket join uses, so the
    // exchange is reused, not added. Default 1000 caps a bucket at ~5e5
    // pairs — bounded, far above any honest bucket's size, and within
    // spark.sql.optimizer.windowGroupLimitThreshold (1000), so the rank
    // filter plans a PARTIAL WindowGroupLimit below the exchange: each
    // map task forwards at most maxBucket rows per bucket and even the
    // cap's own window never sees a billion-copy hot key (a cap above
    // the threshold silently loses that protection — the plan audit in
    // PLANS.md shows both shapes).
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "key").orderBy("id")
    val banded = bandedRaw
      .withColumn("__bn", row_number().over(bucketW))
      .where(col("__bn") <= maxBucket)
      .drop("__bn")
    val a = banded.alias("a")
    val b = banded.alias("b")
    val cand = a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
      .transform(OperatorCaches.cache)
    val shA = sh.select(col("id").as("id1"), col("sh").as("sh1"))
    val shB = sh.select(col("id").as("id2"), col("sh").as("sh2"))
    cand.join(shA, "id1").join(shB, "id2")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), graft.functions.Rounding.round4(col("jaccard")).as("jaccard"))
  }

  /** The reusable LSH index of a corpus: `(id, sh, sig)` — shingle arrays
    * (for exact-Jaccard verification) and the m-entry MinHash signature.
    * Computed scan-local (codegen'd expressions, no shuffle) and meant to
    * be PERSISTED alongside the corpus (parquet next to the text), so
    * growing a 100 TB corpus by a day's crawl never re-reads, re-shingles,
    * or re-signs what is already there — see [[incrementalLshPairs]]. */
  def signatureIndex(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, m: Int = 8): DataFrame = {
    graft.Functions.ensure(df.sparkSession)
    df.select(col(idCol).as("id"),
        expr(s"word_shingles(${q(textCol)}, $k)").as("sh"))
      .select(col("id"), col("sh"), expr(s"minhash_sig(sh, $m)").as("sig"))
  }

  /** Incremental near-dup detection: match a NEW batch of documents
    * against an existing corpus [[signatureIndex]] without touching the
    * corpus text. The batch is shingled + signed scan-local; candidates
    * come from ONE bucket join of batch band keys against index band keys
    * (never index × index — the join output is bounded by bucket overlap,
    * so a day's crawl against a 100 TB corpus costs O(batch + matching
    * buckets)); verification is exact Jaccard on the candidate pairs only.
    * Output: (new_id, corpus_id, jaccard) with jaccard ≥ `threshold`.
    * Same banding, cap, and verify semantics as [[minhashLshPairs]]. */
  def incrementalLshPairs(index: DataFrame, newDocs: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 5, m: Int = 8, bands: Int = 4,
                          threshold: Double = 0.5,
                          maxBucket: Int = 1000): DataFrame = {
    require(bands > 0 && bands <= m && m % bands == 0,
      s"bands ($bands) must divide the signature size ($m)")
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    val batch = signatureIndex(newDocs, idCol, textCol, k, m)
      .transform(OperatorCaches.cache)
    val batchBands = bandKeys(batch, m, bands)
      .transform(OperatorCaches.cache)
    // Prune the corpus side BEFORE any exchange: a broadcast semi join
    // against the batch's distinct band keys keeps only buckets the batch
    // can touch — a map-side filter over the index scan, so the promised
    // O(batch + matching buckets) bound holds (windowing the FULL corpus
    // band table first would shuffle O(corpus) rows per daily batch).
    // The hot-bucket cap then windows only the matching buckets
    // (boilerplate buckets grow with the corpus; the batch side is one
    // crawl and stays modest).
    val touched = broadcast(batchBands.select("band", "key").distinct())
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "key").orderBy("id")
    val corpusBands = bandKeys(index, m, bands)
      .join(touched, Seq("band", "key"), "left_semi")
      .withColumn("__bn", row_number().over(bucketW))
      .where(col("__bn") <= maxBucket)
      .drop("__bn")
    val cand = batchBands.alias("n")
      .join(corpusBands.alias("c"),
        col("n.band") === col("c.band") && col("n.key") === col("c.key") &&
          col("n.id") =!= col("c.id"))
      .select(col("n.id").as("new_id"), col("c.id").as("corpus_id"))
      .distinct()
    cand
      .join(batch.select(col("id").as("new_id"), col("sh").as("sh1")),
        "new_id")
      .join(index.select(col("id").as("corpus_id"), col("sh").as("sh2")),
        "corpus_id")
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"),
        graft.functions.Rounding.round4(col("jaccard")).as("jaccard"))
  }

  /** Band keys of a `(id, sig)` frame: md5 over each band's signature
    * slice, exploded to `(id, band, key)` — scan-local. */
  private def bandKeys(sigs: DataFrame, m: Int, bands: Int): DataFrame = {
    val rowsPerBand = m / bands
    sigs.select(col("id"),
        posexplode(array((0 until bands).map(b =>
          md5(concat_ws("|", (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*))): _*)))
      .toDF("id", "band", "key")
  }

  /** Exact Jaccard over two distinct-element arrays:
    * |A∩B| / (|A|+|B|-|A∩B|), computed with codegen'd set intrinsics. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast(DoubleType)
    inter / (size(a) + size(b) - inter)
  }

  /** Brute-force pairwise n-gram Jaccard on a bounded subset — the oracle
    * for the LSH path. O(n²): guard with `maxDocs`. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.2,
                        maxDocs: Int = 200): DataFrame = {
    // deterministic COUNT cap (lowest maxDocs ids), not an id-value filter
    // — sparse or offset id spaces would otherwise silently select nothing.
    graft.Functions.ensure(df.sparkSession)
    val sh = df.orderBy(col(idCol)).limit(maxDocs)
      .select(col(idCol).as("id"),
        expr(s"word_shingles(${q(textCol)}, $k)").as("sh"))
    val a = sh.select(col("id").as("id1"), col("sh").as("sh1"))
    val b = sh.select(col("id").as("id2"), col("sh").as("sh2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("jaccard", jaccard(col("sh1"), col("sh2")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), graft.functions.Rounding.round4(col("jaccard")).as("jaccard"))
  }

  /** EXACT Jaccard-threshold set-similarity self-join via prefix
    * filtering (the PPJoin family — Xiao et al., WWW 2008; public
    * algorithm): where MinHash-LSH trades recall for speed, this path is
    * LOSSLESS — every pair with Jaccard ≥ t is found — yet never goes
    * all-pairs. Each document's token set is ordered by a global
    * rarest-first key `(df, token)`; only its PREFIX (the first
    * `|x| − ⌈t·|x|⌉ + 1` tokens) is posted, because a pair meeting the
    * threshold must intersect inside both prefixes: if all shared tokens
    * sat in x's suffix, the intersection would be < t·|x| ≤ t·|union| —
    * contradiction. Candidates = prefix-posting equi-join (+ the size
    * ratio filter `t·|x| ≤ |y|`), then exact verification on the full
    * sets. The threshold is an integer PERCENT and every gate decision
    * is a cross-multiplied integer compare (`inter·100 ≥ pct·union`) —
    * no float boundary anywhere.
    *
    * Scale shape: one df-count aggregation, one per-doc sort (scan-local
    * after the df join), a posting self-join whose lists hold the
    * RAREST tokens only (tiny for natural vocabularies), `maxPosting`
    * capping degenerate tokens, and a verify join on candidate ids.
    * The tokens frame is a tracked staging persist — postings and both
    * verify sides read one derivation. Output: (id1, id2, jaccard).
    */
  def jaccardJoinExact(df: DataFrame, idCol: String, tokensCol: String,
                       thresholdPct: Int = 50,
                       maxPosting: Int = 100000): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"thresholdPct must be 1..100, got $thresholdPct")
    // the empty-set filter sits ABOVE the cache boundary on purpose: as
    // part of the cached plan, predicate pushdown drags it (with the
    // whole token-derivation expression inside) below any caller-side
    // repartition, collapsing the derivation onto the source's
    // partitioning — a single-file corpus then tokenizes on one core
    val toks = OperatorCaches.cache(
        df.select(col(idCol).as("id"), col(tokensCol).as("ts")))
      .where(size(col("ts")) > 0)
    val tf = toks.select(explode(col("ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tdf"))
    val pref = toks.select(col("id"), explode(col("ts")).as("tok"))
      .join(tf, "tok")
      .groupBy("id").agg(
        array_sort(collect_list(struct(col("tdf"), col("tok"))))
          .as("sorted"))
      .select(col("id"), size(col("sorted")).as("n"),
        expr(s"slice(sorted, 1, size(sorted) - " +
          s"((size(sorted) * $thresholdPct + 99) div 100) + 1)")
          .as("prefix"))
    val postings = pref
      .select(col("id"), col("n"), explode(col("prefix")).as("p"))
      .select(col("p.tok").as("tok"), col("id"), col("n"))
    // staged: the whole posting derivation (explode → df join → per-doc
    // sort → prefix slice → hot cap) feeds BOTH sides of the candidate
    // self-join; un-persisted, Spark derives it twice end to end.
    // The tok exchange width is pinned (user repartition is exempt from
    // AQE coalescing): postings are byte-small but the candidate
    // self-join + verify they feed is compute-dense (12.5M pair
    // intersections at sf0.1) — see substringDupPairsFromDistinctFps.
    val par = df.sparkSession.sparkContext.defaultParallelism
    val capped = OperatorCaches.cache(
      postings.repartition(par, col("tok"))
        .withColumn("__c",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("tok")))
        .where(col("__c") <= maxPosting).drop("__c"))
    val a = capped.select(col("tok"), col("id").as("id1"),
      col("n").as("n1"))
    val b = capped.select(col("tok"), col("id").as("id2"),
      col("n").as("n2"))
    val cand = a.join(b, Seq("tok"))
      .where(col("id1") < col("id2") &&
        col("n2") * 100 >= col("n1") * thresholdPct &&
        col("n1") * 100 >= col("n2") * thresholdPct)
      .select("id1", "id2").distinct()
    val x = toks.select(col("id").as("id1"), col("ts").as("ts1"))
    val y = toks.select(col("id").as("id2"), col("ts").as("ts2"))
    cand.join(x, "id1").join(y, "id2")
      .withColumn("__i", size(array_intersect(col("ts1"), col("ts2"))))
      .withColumn("__u",
        size(col("ts1")) + size(col("ts2")) - col("__i"))
      .where(col("__i") * 100 >= col("__u") * thresholdPct)
      .select(col("id1"), col("id2"), graft.functions.Rounding.round4(
        col("__i").cast(DoubleType) / col("__u")).as("jaccard"))
  }

  /** SUBSTRING-level duplication: documents sharing verbatim PASSAGES,
    * which document-level near-dup (MinHash/SimHash on whole-doc shingle
    * sets) under-weights when the rest of the documents differ — the Lee
    * et al. "Deduplicating Training Data" failure mode. Fingerprints are
    * winnowed k-gram hashes (`expressions.WinnowFingerprints`, MOSS): any
    * shared run of ≥ k + w - 1 characters lands at least one identical
    * fingerprint in both documents, at ~2/(w+1) of the full k-gram
    * density. Pairs = documents sharing ≥ `minShared` fingerprints.
    *
    * Scale shape: fingerprints are scan-local O(n) per doc; ONE shuffle
    * on the fingerprint value (explode → bucket self-join, the same shape
    * as the LSH bucket join) with the same `maxBucket` hot-value cap —
    * a boilerplate passage shared by a million docs is capped, never
    * quadratic; the per-pair count aggregation rides the same exchange.
    * Output: (id1, id2, n_shared).
    */
  def substringDupPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 12, w: Int = 8, minShared: Int = 2,
                        maxBucket: Int = 1000): DataFrame = {
    require(k > 0 && w > 0, s"k ($k) and w ($w) must be positive")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    graft.Functions.ensure(df.sparkSession)
    // spread the raw rows BEFORE the winnow explode: a single-split
    // corpus (one parquet file = one partition) would otherwise
    // fingerprint on one core of 32 — the q_text_novelty /
    // jaccardJoinExact lesson (PLANS.md), applied at the operator so
    // every caller gets it. At cluster scale sources arrive pre-split
    // and the exchange is noise.
    val fps = df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("id"),
        explode(expr(s"winnow_fingerprints(__t, $k, $w)")).as("fp"))
      .transform(OperatorCaches.cache)
    substringDupPairsFromDistinctFps(fps, minShared, maxBucket)
  }

  /** [[substringDupPairs]] over a precomputed (id, fp) frame that is
    * already distinct per document — `winnow_fingerprints` output, or a
    * [[winnowPosFingerprints]] staging frame reduced with
    * `.select("id", "fp").distinct()`. */
  def substringDupPairsFromDistinctFps(fps: DataFrame, minShared: Int = 2,
                                       maxBucket: Int = 1000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("id")
    // explicit-width fp exchange (r20, measured): fingerprints are
    // byte-SMALL but the downstream cap-window → self-join → pair
    // aggregation is compute-DENSE (9.6M pair rows from a ~5 MB shuffle
    // at sf0.1), so AQE's minPartitionSize-driven coalescing merges the
    // reduce side to a handful of tasks and serializes the stage (4.3 s
    // straggler; the gate read 7.4 s with the planner-chosen exchange vs
    // 3.2 s pinned). A user-specified repartition(N, fp) is exempt from
    // AQE coalescing by contract, satisfies the window/join clustering
    // (no extra exchange), and N = defaultParallelism is the same width
    // a cluster would run — partition sizing must follow WORK density,
    // not bytes, for this operator (the r19 AQE-rejection lesson,
    // applied at the operator seam).
    val par = fps.sparkSession.sparkContext.defaultParallelism
    val capped = fps.repartition(par, col("fp"))
      .withColumn("__fn", row_number().over(capW))
      .where(col("__fn") <= maxBucket)
      .drop("__fn")
    capped.alias("a")
      .join(capped.alias("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Span-reporting form of [[substringDupPairs]]: the same winnowed
    * fingerprints, carrying each selection's code-point offset, so a pair
    * reports WHERE the duplication sits on both sides — (n_shared,
    * min/max matched offset per document), the actionable shape for
    * targeted span removal (cut the overlapping range, keep the rest of
    * the document). Same scale shape and hot-value cap as the pair
    * operator; positions travel as an extra int per fingerprint. */
  def substringDupSpans(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 12, w: Int = 8, minShared: Int = 2,
                        maxBucket: Int = 1000): DataFrame = {
    require(k > 0 && w > 0, s"k ($k) and w ($w) must be positive")
    substringDupSpansFromFps(
      winnowPosFingerprints(df, idCol, textCol, k, w).transform(OperatorCaches.cache),
      minShared, maxBucket)
  }

  /** The winnowed (id, fp, pos) fingerprint frame the substring-dup
    * operators consume — exposed so callers can MEMOIZE the corpus-side
    * fingerprints once (the staging-table pattern) and union per-analysis
    * extras before the [[substringDupSpansFromFps]] /
    * [[substringDupPositionsFromFps]] bucket joins: fingerprinting is the
    * scan-heavy half, and two analyses over `corpus ∪ extrasA` and
    * `corpus ∪ extrasB` should not winnow the corpus twice. Results are
    * identical either way — the caps and windows order by (id, pos),
    * never by arrival. */
  def winnowPosFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 12, w: Int = 8): DataFrame = {
    require(k > 0 && w > 0, s"k ($k) and w ($w) must be positive")
    graft.Functions.ensure(df.sparkSession)
    // same single-split spread as substringDupPairs (see note there)
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("id"),
        explode(expr(s"winnow_fingerprint_pos(__t, $k, $w)")).as("u"))
      .select(col("id"), col("u.fp").as("fp"), col("u.pos").as("pos"))
  }

  /** [[substringDupSpans]] over a precomputed [[winnowPosFingerprints]]
    * frame. */
  def substringDupSpansFromFps(fps: DataFrame, minShared: Int = 2,
                               maxBucket: Int = 1000): DataFrame =
    spansFromPairRows(spanPairRows(capPosFps(fps, maxBucket)), minShared)

  /** Hot-value cap shared by the positional substring-dup joins: at most
    * `maxBucket` (id, pos)-ordered rows survive per fingerprint value —
    * the LSH-style guard that keeps a boilerplate 12-gram shared by
    * millions of documents from exploding the bucket join. Exposed so a
    * corpus-side fingerprint frame can be capped ONCE, memoized, and
    * reused across analyses ([[spanPairRowsDelta]]). */
  def capPosFps(fps: DataFrame, maxBucket: Int = 1000): DataFrame = {
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy("id", "pos")
    // explicit-width fp exchange — see substringDupPairsFromDistinctFps:
    // the downstream pair join is compute-dense on byte-small shuffle
    // input, so the width is pinned against AQE's bytes-based coalescing
    // (the window and every downstream fp-keyed step ride this one
    // exchange)
    val par = fps.sparkSession.sparkContext.defaultParallelism
    fps.repartition(par, col("fp"))
      .withColumn("__fn", row_number().over(capW))
      .where(col("__fn") <= maxBucket)
      .drop("__fn")
  }

  /** Raw matched-position pair rows (id1, id2, a_pos, b_pos): one row
    * per co-occurrence of a fingerprint value between a lower-id (a) and
    * a higher-id (b) document of one [[capPosFps]]-capped frame — the
    * shared input of [[spansFromPairRows]] and [[positionsFromPairRows]],
    * exposed so the corpus-internal half can be computed once, memoized,
    * and combined with per-analysis deltas ([[spanPairRowsDelta]]).
    *
    * Fingerprints held by a single document are dropped BEFORE the join:
    * they cannot produce a pair, and in a real corpus the overwhelming
    * majority of fingerprints are singletons, so the join's inputs shrink
    * by that fraction. The occurrence count rides the cap window's
    * existing fp exchange — no extra shuffle. */
  def spanPairRows(capped: DataFrame): DataFrame = {
    val cntW = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val multi = capped
      .withColumn("__cnt", count(lit(1)).over(cntW))
      .where(col("__cnt") >= 2)
      .drop("__cnt")
    multi.alias("a")
      .join(multi.alias("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.pos").as("a_pos"), col("b.pos").as("b_pos"))
  }

  /** Matched-position pair rows between a memoized capped BASE frame and
    * a small capped DELTA frame whose ids all sit ABOVE the base id space
    * (the delta-corpus contract: per-analysis synthetic extras land at
    * id + 100000-style offsets). Output = (base, delta) co-occurrences
    * plus delta-internal pairs, in [[spanPairRows]]'s row shape; together
    * with the memoized base-internal rows it reconstructs the full
    * combined-frame pair set — each analysis pays ONE broadcast-join scan
    * of the corpus fingerprints instead of a corpus-wide self-join.
    *
    * Cap semantics under decomposition: each side is capped
    * independently, so a bucket past `maxBucket` keeps its first
    * `maxBucket` base rows (identical to the combined cap — base ids
    * order first) AND up to `maxBucket` delta rows, where the combined
    * cap would admit delta rows only into leftover slots. The cap is a
    * hot-bucket guard, not semantics; gates run far below it
    * (oracle-pinned). Pairs violating the id contract (a delta id at or
    * below a base id) are dropped by the orientation predicate — the
    * caller owns the offset discipline. */
  def spanPairRowsDelta(cappedBase: DataFrame,
                        cappedDelta: DataFrame): DataFrame =
    cappedBase.alias("a")
      .join(broadcast(cappedDelta).alias("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.pos").as("a_pos"), col("b.pos").as("b_pos"))
      .union(spanPairRows(cappedDelta))

  /** Per-pair span aggregation over [[spanPairRows]] rows: (id1, id2,
    * n_shared, min/max matched offset per side), qualified at
    * `minShared`. */
  def spansFromPairRows(rows: DataFrame, minShared: Int = 2): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    rows.groupBy("id1", "id2")
      .agg(count(lit(1)).as("n_shared"),
        min(col("a_pos")).as("a_min_pos"),
        max(col("a_pos")).as("a_max_pos"),
        min(col("b_pos")).as("b_min_pos"),
        max(col("b_pos")).as("b_max_pos"))
      .where(col("n_shared") >= minShared)
  }

  /** [[positionsFromPairRows]] when the pair qualification is ALREADY
    * computed — a memoized [[spansFromPairRows]] frame built at the same
    * `minShared`. A semi join against the qualified pair keys replaces
    * the count window: over a pair-clustered rows frame the narrow key
    * side broadcasts (or meets the stored partitioning), and the
    * millions-of-tiny-groups window — one buffered group per CANDIDATE
    * pair, though only a fraction qualify — never runs. Result-identical
    * to [[positionsFromPairRows]] at the same minShared (DedupSpec pins
    * it). */
  def positionsForQualifiedPairs(rows: DataFrame,
                                 qualified: DataFrame): DataFrame =
    rows.join(qualified.select("id1", "id2"), Seq("id1", "id2"),
        "left_semi")
      .select(col("id2").as("id"), col("b_pos").as("pos"))
      .distinct()

  /** Qualified distinct higher-side positions (id, pos) over
    * [[spanPairRows]] rows — the [[removeMatchedSpans]] input. Pair
    * qualification is a count window over the pair key (one exchange;
    * see [[substringDupPositionsFromFps]]). */
  def positionsFromPairRows(rows: DataFrame,
                            minShared: Int = 2): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val pairW = org.apache.spark.sql.expressions.Window
      .partitionBy("id1", "id2")
    rows.withColumn("__n", count(lit(1)).over(pairW))
      .where(col("__n") >= minShared)
      .select(col("id2").as("id"), col("b_pos").as("pos"))
      .distinct()
  }

  /** Matched-POSITION form of [[substringDupSpans]]: every winnowed
    * fingerprint position on the HIGHER-id side of a qualifying pair
    * (n_shared >= minShared), distinct per (id, pos) — the raw material
    * for multi-interval span removal, where the per-pair min/max of
    * [[substringDupSpans]] is too coarse (two duplicated passages with
    * unique text between them must NOT collapse to one cut). Same
    * fingerprinting, hot-value cap, and bucket join; one extra
    * (id1, id2) aggregation to apply the minShared qualification, then a
    * semi join back — both ride the pair exchange. */
  def substringDupPositions(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 12, w: Int = 8, minShared: Int = 2,
                            maxBucket: Int = 1000): DataFrame = {
    require(k > 0 && w > 0, s"k ($k) and w ($w) must be positive")
    substringDupPositionsFromFps(
      winnowPosFingerprints(df, idCol, textCol, k, w).transform(OperatorCaches.cache),
      minShared, maxBucket)
  }

  /** [[substringDupPositions]] over a precomputed
    * [[winnowPosFingerprints]] frame. Pair qualification is a COUNT
    * WINDOW over the pair key rather than a groupBy + semi join back:
    * one (id1, id2) exchange instead of three (agg exchange + both
    * semi-join sides), and no second pass over the bucket join's
    * output. */
  def substringDupPositionsFromFps(fps: DataFrame, minShared: Int = 2,
                                   maxBucket: Int = 1000): DataFrame =
    positionsFromPairRows(spanPairRows(capPosFps(fps, maxBucket)),
      minShared)

  /** Multi-interval span removal: cluster a document's matched
    * fingerprint positions into ISLANDS (a gap > k + w - 1 — farther
    * than one winnow window can reach — starts a new island), cut each
    * island's covered range [lo, hi + k - 1] separately, and keep every
    * inter-island segment. This is the correct general form of targeted
    * removal: two duplicated passages at opposite ends of a document
    * lose only themselves, not the unique text between them.
    *
    * Output: (id, n_islands, clean) for documents that had at least one
    * matched position.
    *
    * Scale shape: islands are a gaps-and-islands window PARTITIONED BY
    * document (never global); the surgery is one join back to the text
    * and one per-document aggregation assembling kept segments in
    * island order — every step keyed by document id, so the whole
    * operator is one doc-id exchange after the positions input. */
  def removeMatchedSpans(docs: DataFrame, idCol: String, textCol: String,
                         positions: DataFrame,
                         k: Int = 12, w: Int = 8): DataFrame = {
    require(k > 0 && w > 0, s"k ($k) and w ($w) must be positive")
    val g = k + w - 1
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("pos")
    val isl = positions
      .withColumn("__brk",
        when(col("pos") - lag("pos", 1).over(byPos) > g, 1).otherwise(0))
      .withColumn("__isl", sum("__brk").over(byPos))
      .groupBy("id", "__isl")
      .agg(min("pos").as("lo"), max("pos").as("hi"))
    val byLo = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("lo")
    // kept segment BEFORE each island: [prev island's cut end, lo);
    // the first island keeps the document prefix (prev end = 0)
    val segs = isl
      .withColumn("st", coalesce(lag("hi", 1).over(byLo) + k, lit(0)))
      .join(docs.select(col(idCol).as("id"), col(textCol).as("__text")),
        "id")
      .withColumn("kept", expr(s"substring(__text, st + 1, lo - st)"))
    segs.groupBy("id")
      .agg(count(lit(1)).cast("int").as("n_islands"),
        collect_list(struct(col("lo"), col("kept"))).as("__ks"),
        max("hi").as("__mx"), first("__text").as("__text"))
      .select(col("id"), col("n_islands"),
        concat(
          array_join(transform(array_sort(col("__ks")),
            _.getField("kept")), ""),
          expr(s"substring(__text, __mx + $k + 1)")).as("clean"))
  }

  /** C4-style CORPUS-LEVEL segment dedup: every distinct `segWords`-word
    * segment is kept exactly once across the whole corpus (first owner by
    * (id, position) order — the C4 preprocessing rule "keep one occurrence
    * of each unique line", applied to fixed word windows because this
    * corpus has no line structure). Output per document: total segments,
    * surviving segments, and the md5 of the rebuilt (position-ordered)
    * surviving text — row-level accounting of exactly what the scrub
    * removed.
    *
    * Scale shape: segmentation is scan-local (tokenChunks arithmetic);
    * ownership is `min(struct(id, pos))` per segment value — a PARTIAL
    * aggregation, so a boilerplate segment repeated a billion times
    * combines to one candidate per map task before the exchange (a
    * window rank here would funnel every copy through one reducer —
    * and a rank-filter's WindowGroupLimit cannot apply because the
    * non-owning copies must survive into the per-document accounting).
    * The owner table joins back on the segment value, reusing the same
    * hash partitioning; rebuild is one aggregation by document id.
    */
  def dedupCorpusSegments(df: DataFrame, idCol: String, textCol: String,
                          segWords: Int = 10): DataFrame = {
    require(segWords > 0, s"segWords must be positive, got $segWords")
    val segs = df.select(col(idCol).as("id"),
        posexplode(graft.functions.TextFunctions.tokenChunks(
          graft.functions.TextFunctions.tokens(col(textCol)),
          segWords, 0)))
      .select(col("id"), col("pos"),
        array_join(col("col.chunk"), " ").as("seg"))
    // first (id, pos) owner per segment: struct min = lexicographic —
    // identical to row_number() over (partition by seg order by id, pos)
    // = 1, but map-side combinable
    val owners = segs.groupBy("seg")
      .agg(min(struct(col("id"), col("pos"))).as("own"))
    segs.join(owners, "seg")
      .withColumn("__keep",
        when(col("own.id") === col("id") && col("own.pos") === col("pos"),
          1).otherwise(0))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(col("__keep")).cast("long").as("n_kept"),
        sum(when(col("__keep") === 1, size(split(col("seg"), " ")))
          .otherwise(0)).cast("long").as("kept_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__keep") === 1,
            struct(col("pos"), col("seg"))))),
          x => x.getField("seg")), " ")).as("kept_md5"))
  }

  /** SimHash near-dup pairs: 64-bit signature per doc (custom codegen'd
    * expression), candidates = equality on any of `maxHamming + 1` bit
    * bands, verified with bit_count(xor) ≤ `maxHamming`.
    *
    * Recall is EXACT by pigeonhole: two signatures within hamming distance
    * d differ in at most d of the `d + 1` bands, so at least one band is
    * identical and the pair surfaces as a candidate. (The previous fixed
    * 4×16-bit layout only guaranteed recall for d ≤ 3 — ADVICE r1.)
    *
    * Cost scales with the radius: band width is 64/(maxHamming+1) bits, and
    * uniform signatures collide on a band with probability ~2^-width, so
    * expected candidates ≈ (maxHamming+1) · n² / 2^width. Radii ≤ ~7 (width
    * ≥ 8 bits) are cheap; beyond ~15 the candidate set approaches the n²
    * scan LSH exists to avoid — prefer a tighter radius or run the verify
    * stage on the (still exact-recall) flood deliberately.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    graft.Functions.ensure(df.sparkSession)
    // persist: the banded self-join consumes the signatures twice
    val sigs = df.select(col(idCol).as("id"),
        expr(s"simhash64(${tokensSql(textCol)})").as("sig"))
      .transform(OperatorCaches.cache)
    sigBandPairs(sigs, maxHamming + 1)
      .where(col("hamming") <= maxHamming)
  }

  /** Brute-force O(n²) SimHash pairs on a bounded subset — the exactness
    * oracle for [[simhashPairs]]'s banded path: identical signature
    * expression, every pair compared directly. Pigeonhole banding makes
    * the banded path's recall EXACT at radius `maxHamming`, so on the same
    * input the two outputs must be set-equal — the property
    * q_dedup_simhash_recall pins per radius. Guard with `maxDocs`
    * (deterministic lowest-id cap, like [[ngramJaccardPairs]]). */
  def simhashBrutePairs(df: DataFrame, idCol: String, textCol: String,
                        maxHamming: Int = 3, maxDocs: Int = 300): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    graft.Functions.ensure(df.sparkSession)
    val sigs = df.orderBy(col(idCol)).limit(maxDocs)
      .select(col(idCol).as("id"),
        expr(s"simhash64(${tokensSql(textCol)})").as("sig"))
    val a = sigs.select(col("id").as("id1"), col("sig").as("s1"))
    val b = sigs.select(col("id").as("id2"), col("sig").as("s2"))
    a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Banded candidate pairs over a `(id, sig: bigint)` frame: `bands` bit
    * bands distributed as evenly as possible over the 64 signature bits;
    * docs sharing any (band, key) bucket pair up. Returns distinct
    * `(id1, id2, hamming)`. Pigeonhole: pairs within hamming distance
    * `bands - 1` are guaranteed to surface. Shared by the SimHash (text)
    * and hyperplane-sketch (embedding) dedup paths. */
  private def sigBandPairs(sigs: DataFrame, bands: Int): DataFrame = {
    val widths = Array.tabulate(bands)(b =>
      64 / bands + (if (b < 64 % bands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val banded = sigs.select(col("id"), col("sig"),
        posexplode(array((0 until bands).map { b =>
          val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1
          shiftrightunsigned(col("sig"), offsets(b)).bitwiseAND(lit(mask))
        }: _*)))
      .toDF("id", "sig", "band", "key")
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
  }

  /** Exact embedding-cosine near-dup pairs on a bounded subset — the
    * correctness oracle for [[embeddingNearDupLsh]]. O(n²) dot products:
    * guard with `maxDocs` (deterministic lowest-id cap, like
    * [[ngramJaccardPairs]]). Scores are double with a fixed fold order and
    * rounded to 4 decimals — bit-reproducible across engines. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                            threshold: Double,
                            maxDocs: Int = 500): DataFrame = {
    import graft.functions.VectorFunctions._
    val v = df.orderBy(col(idCol)).limit(maxDocs)
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
    val a = v.select(col("id").as("id1"), col("vec").as("v1"))
    val b = v.select(col("id").as("id2"), col("vec").as("v2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine",
        graft.functions.Rounding.round4(cosine(col("v1"), col("v2"))))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Embedding-cosine near-dup pairs at scale: 64-bit hyperplane sign
    * sketch per vector (`expressions.HyperplaneSig64`, scan-local), banded
    * candidates via [[sigBandPairs]], exact-cosine verify on candidates
    * only.
    *
    * Recall is exact for pairs whose SKETCHES are within `maxHamming`
    * (pigeonhole banding); the sketch itself is probabilistic —
    * P(bit differs) = angle/π — so a pair at cosine `threshold` is missed
    * with the (small, quantifiable) probability that its 64-bit sketch
    * hamming exceeds `maxHamming`. Raise `maxHamming` for recall, lower it
    * for candidate volume; exact copies (hamming 0) are always found.
    */
  def embeddingNearDupLsh(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, maxHamming: Int = 10): DataFrame = {
    import graft.functions.VectorFunctions._
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    graft.Functions.ensure(df.sparkSession)
    // vectors feed the sketch AND the two verify joins; sketches feed the
    // banded self-join twice
    val vecs = df.select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .transform(OperatorCaches.cache)
    val sigs = vecs.selectExpr("id", "hyperplane_sig64(vec) AS sig")
      .transform(OperatorCaches.cache)
    val cand = sigBandPairs(sigs, maxHamming + 1)
      .where(col("hamming") <= maxHamming)
    cand.join(vecs.select(col("id").as("id1"), col("vec").as("v1")), "id1")
      .join(vecs.select(col("id").as("id2"), col("vec").as("v2")), "id2")
      .withColumn("cosine",
        graft.functions.Rounding.round4(cosine(col("v1"), col("v2"))))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** Group-level set similarity: one MinHash signature per GROUP (the
    * element-wise min over member signatures equals the signature of the
    * union of the members' shingle sets — the mergeability property that
    * makes MinHash a distributive aggregate), then pairwise estimated
    * Jaccard = matching positions / m.
    *
    * Scale shape: signatures are scan-local (codegen'd `minhash_sig`);
    * the shuffle carries m small rows per group (posexplode → per-position
    * min with map-side partials), and the pair join runs on the position
    * key — never on raw shingles. Estimating similarity between n groups
    * costs O(n²·m) on m-wide sketches, not O(n²·|vocabulary|).
    */
  def groupMinhashSimilarity(df: DataFrame, groupCol: String,
                             textCol: String, k: Int = 3,
                             m: Int = 16): DataFrame = {
    graft.Functions.ensure(df.sparkSession)
    // per-doc signatures stay scan-local; the custom minhash_union
    // aggregate (element-wise min = union sketch) shuffles ONE m-wide
    // array per (group, map task) — m× fewer rows than exploding the
    // positions before the aggregation
    val groupSigs = df
      .selectExpr(q(groupCol),
        s"minhash_sig(word_shingles(${q(textCol)}, $k), $m) AS sig")
      .groupBy(col(groupCol)).agg(expr("minhash_union(sig)").as("gsig"))
    val sigs = groupSigs.selectExpr(q(groupCol),
      "posexplode(gsig) AS (pos, mv)")
    val a = sigs.select(col(groupCol).as("g1"), col("pos"),
      col("mv").as("v1"))
    val b = sigs.select(col(groupCol).as("g2"), col("pos"),
      col("mv").as("v2"))
    a.join(b, Seq("pos")).where(col("g1") < col("g2"))
      .groupBy("g1", "g2")
      .agg(graft.functions.Rounding
        .round4(sum(when(col("v1") === col("v2"), 1).otherwise(0))
          / lit(m)).as("est_jaccard"))
  }

  /** Turn near-dup PAIRS into the curation DECISION: group members into
    * clusters ([[ConnectedComponents.canonicalize]]) and keep exactly one
    * winner per cluster, chosen by `scoreCols` priority order (e.g.
    * longest text first, then lowest id as the total tiebreak — make the
    * order total or the winner is nondeterministic).
    *
    * Returns one row per cluster: the canonical (minimum) id, the winning
    * member's id, and the cluster size. Scale shape: the label propagation
    * dominates (one shuffle per graph-diameter round); the winner pick is
    * a single window pass partitioned by cluster — no driver-side state.
    * Members absent from `pairs` are singletons that need no decision and
    * are not returned.
    *
    * @param members  one row per candidate doc; must contain `idCol` and
    *                 every column referenced by `scoreCols`
    * @param pairs    near-dup edges over `idCol` values (`id1`, `id2`)
    */
  def keepBest(members: DataFrame, pairs: DataFrame, idCol: String,
               scoreCols: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = ConnectedComponents.canonicalize(pairs)
    val w = Window.partitionBy("canonical").orderBy(scoreCols: _*)
    members.join(labels, members(idCol) === labels("id"))
      .withColumn("__rk", row_number().over(w))
      .groupBy(col("canonical"))
      .agg(max(when(col("__rk") === 1, col(idCol))).as("keep_id"),
        count(lit(1)).as("n_members"))
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-dup pruning that never
    * goes O(n²) on the corpus — k-means clusters bound the pairwise
    * search the way LSH bands bound the MinHash stack. Each vector is
    * assigned to its nearest centroid (Similarity.assignClusters — the
    * deterministic rounded-cosine, lowest-id-tiebreak assignment the IVF
    * index uses); pairwise cosine runs WITHIN clusters only; a vector is
    * dropped when a lower-id cluster-mate sits at rounded cosine >=
    * `threshold`. Lowest-id-wins is deterministic and engine-replayable;
    * chains prune transitively through the id order (b dropped by a
    * still drops c — the greedy SemDeDup semantics, defined, tested).
    *
    * At 100 TB the cluster count scales with the corpus (k ~ n/target
    * cluster size), so per-cluster work stays bounded; `maxCluster`
    * hard-caps the members entering the pairwise join (first by id,
    * WindowGroupLimit-planned — the q_dedup_skew_cap contract) so one
    * degenerate mega-cluster degrades to a bounded prune instead of a
    * quadratic stall.
    *
    * Returns one row per vector: (vec_id, cid, keep).
    */
  def semanticDedup(vectors: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double,
                    maxCluster: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.cosine
    require(maxCluster > 0 && maxCluster <= 1000,
      s"maxCluster must stay within the WindowGroupLimit threshold: $maxCluster")
    val asg = Similarity.assignClusters(
        vectors.select(col(idCol).as("vec_id"), col(vecCol).as("embedding")),
        centroids = Some(centroids))
      .select(col("cand_id").as("id"), col("centroid_id").as("cid"))
    val av = OperatorCaches.cache(asg.join(
        vectors.select(col(idCol).as("id"), col(vecCol).as("v")), "id")
      .withColumn("__rn",
        row_number().over(Window.partitionBy("cid").orderBy("id")))
      .where(col("__rn") <= maxCluster).drop("__rn"))
    val x = av.select(col("cid"), col("id").as("id1"), col("v").as("v1"))
    val y = av.select(col("cid"), col("id").as("id2"), col("v").as("v2"))
    val dropped = x.join(y, Seq("cid"))
      .where(col("id1") < col("id2"))
      .where(graft.functions.Rounding.round4(cosine(col("v1"), col("v2")))
        >= threshold)
      .select(col("id2").as("id")).distinct()
    av.join(dropped.withColumn("__hit", lit(true)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cid"),
        col("__hit").isNull.as("keep"))
  }

  /** SQL text of the tokenizer (for expr() call sites). */
  private def tokensSql(textCol: String): String =
    s"split(trim(lower(${q(textCol)})), '\\\\s+')"

  /** Backtick-quote an identifier for splicing into expr() SQL — column
    * names with hyphens, spaces, or reserved words must not be parsed as
    * expressions. Embedded backticks escape by doubling. */
  private def q(name: String): String =
    "`" + name.replace("`", "``") + "`"

  /** Choose LSH banding parameters for a target Jaccard `threshold`: the
    * exhaustive search over every (bands b, rows r) with b·r ≤
    * `maxSignature` minimizing the S-curve's total misclassification
    * mass, `∫₀ᵗ P(s) ds + fnWeight·∫ₜ¹ (1 − P(s)) ds` with
    * P(s) = 1 − (1 − s^r)^b — left mass is false-candidate volume (wasted
    * verify work), right mass is missed near-dups. `fnWeight` > 1 buys
    * recall with extra verify cost (dedup pipelines usually prefer it:
    * a false candidate costs one Jaccard check, a false negative costs a
    * leaked duplicate).
    *
    * Driver-side arithmetic over a fixed 1e-3 midpoint grid —
    * deterministic, microseconds, no data touched. Returns
    * (bands, rows, error); feed bands·rows as `m` and bands as `bands`
    * into [[minhashLshPairs]].
    */
  def lshPlan(threshold: Double, maxSignature: Int,
              fnWeight: Double = 1.0): (Int, Int, Double) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1): $threshold")
    require(maxSignature >= 2, s"maxSignature too small: $maxSignature")
    require(fnWeight > 0.0, s"fnWeight must be positive: $fnWeight")
    val steps = 1000
    var best: (Int, Int, Double) = null
    for {
      r <- 1 to maxSignature
      b <- 1 to maxSignature / r
    } {
      var err = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        err += (if (s < threshold) p else fnWeight * (1.0 - p)) / steps
        i += 1
      }
      // deterministic tiebreak: smaller signature, then more bands
      if (best == null || err < best._3 - 1e-12 ||
        (math.abs(err - best._3) <= 1e-12 && (b * r < best._1 * best._2 ||
          (b * r == best._1 * best._2 && b > best._1))))
        best = (b, r, err)
    }
    best
  }
}
