package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Tables.t
import graft.functions.TextFunctions._
import graft.operators.Dedup
import graft.functions.Rounding.round4

/** Driver-gated queries for the training-data text pipeline: analysis
  * (tokens, language ID, quality, fingerprints) and deduplication (exact,
  * MinHash+LSH, n-gram Jaccard, SimHash) over the `documents` table.
  *
  * The md5-based MinHash design (TextFunctions) makes even the LSH pipeline
  * byte-reproducible in DuckDB — the oracles replay shingling, signatures,
  * banding, bucket-join, and Jaccard verification in SQL.
  */
object TextQueries {

  /** DuckDB fragment: lowercased whitespace tokens. */
  private[queries] val sqlToks = "string_split_regex(trim(lower(text)), '\\s+')"

  /** Memoize+persist the winnowed (k=12, w=8) fingerprints of the BASE
    * `documents` table — the corpus-side staging frame. ~99% of every
    * substring-dup aug IS the base corpus, and winnowing it is the
    * scan-heavy half of each gate; at 100 TB this is the "fingerprint
    * the corpus once, reuse across analyses" shape. The positional gates
    * go one step further and also share the corpus-internal PAIR rows
    * ([[basePairRows]]); this uncapped frame remains the staging input
    * for the distinct-fp pair gate (q_dedup_substring), whose cap orders
    * by id alone. */
  private def baseFps(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo.frame(s, dir, "base_fps")(
      Dedup.winnowPosFingerprints(t(s, dir, "documents"), "doc_id",
        "text", k = 12, w = 8))

  /** Memoized hot-value-capped view of [[baseFps]] — the frame every
    * per-analysis delta join scans ([[Dedup.spanPairRowsDelta]]). */
  private def cappedBaseFps(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo.frame(s, dir, "capped_base_fps")(
      Dedup.capPosFps(baseFps(s, dir)))

  /** Memoized CORPUS-INTERNAL qualified-pair spans — the aggregated
    * output of the corpus fingerprint self-join (the expensive half of
    * every substring-dup analysis), computed once per (session, dir).
    * Each analysis adds only its delta: a broadcast join of its tiny
    * synthetic extras against [[cappedBaseFps]] plus the extras'
    * internal pairs ([[Dedup.spanPairRowsDelta]]) — base×base pairs are
    * never re-joined per analysis. The raw pair rows stream straight
    * into the aggregation (never cached: 9.6M co-occurrence rows at
    * sf0.1 versus 2.4M aggregated pairs). At 100 TB this is the "join
    * the corpus against itself once, reuse across analyses" shape. */
  private def baseSpans(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo.frame(s, dir, "base_spans")(
      Dedup.spansFromPairRows(
        Dedup.spanPairRows(cappedBaseFps(s, dir)), minShared = 2))

  /** Capped winnow fingerprints of a gate's synthetic extra docs — the
    * delta side of [[Dedup.spanPairRowsDelta]]. */
  private def deltaFps(extras: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Dedup.capPosFps(Dedup.winnowPosFingerprints(
      extras, "doc_id", "text", k = 12, w = 8))

  private def prefixAug(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val docs = t(s, dir, "documents")
    docs.select("doc_id", "text").union(prefixExtras(s, dir))
  }

  private def prefixExtras(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame =
    t(s, dir, "documents").where(col("doc_id") < 30)
      .select((col("doc_id") + 100000).as("doc_id"),
        substring(col("text"), 1, 120).as("text"))

  /** Memoize+persist the prefix-copy substring-dup SPANS frame shared by
    * q_dedup_spans and q_dedup_span_removal (identical aug, identical
    * winnow parameters) — the vault family's staging-table pattern: the
    * first gate pays the winnow + bucket join once per (session, dir),
    * the second reuses the pinned result. Like the corpus-side frames
    * above, it lives in [[SessionMemo]] and [[SessionMemo.evict]]
    * releases it. */
  private def prefixDupSpans(s: org.apache.spark.sql.SparkSession,
                             dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo.frame(s, dir, "prefix_dup_spans")(
      buildPrefixDupSpans(s, dir))

  private def buildPrefixDupSpans(s: org.apache.spark.sql.SparkSession,
                                  dir: String): org.apache.spark.sql.DataFrame =
    // corpus-internal pairs from the shared memoized frame; this aug's
    // extras contribute only a broadcast delta join. Pair keys are
    // disjoint across the two blocks (extras ids sit at +100000), so the
    // union needs no re-aggregation.
    baseSpans(s, dir)
      .union(Dedup.spansFromPairRows(
        Dedup.spanPairRowsDelta(cappedBaseFps(s, dir),
          deltaFps(prefixExtras(s, dir))),
        minShared = 2))

  /** Clean-index fixture builders for the text index kinds — the SAME
    * builder every lifecycle gate passes to [[IndexFixtures]], so the
    * warmup-built snapshot and a gate-built one are identical. */
  private[queries] def buildBm25(s: org.apache.spark.sql.SparkSession,
                                 dir: String): String => Unit =
    p => graft.operators.Bm25.writeIndex(t(s, dir, "documents"), p)

  private[queries] def buildPhrase(s: org.apache.spark.sql.SparkSession,
                                   dir: String): String => Unit =
    p => graft.operators.PhraseSearch.writeIndex(t(s, dir, "documents"), p)

  /** Materialize the cross-gate span staging (corpus fingerprints, the
    * capped view, the corpus-internal qualified spans, and the shared
    * prefix-dup spans frame) plus the two text-index fixtures — Bench's
    * untimed warmup (`staging_sec`), so the "fingerprint the corpus
    * once" cost stops being charged to whichever span gate runs first
    * (r14: q_dedup_spans as first materializer read 13.9 s at the
    * driver vs 0.17 s warm). */
  def warmStaging(s: org.apache.spark.sql.SparkSession,
                  dir: String): Unit = {
    baseFps(s, dir).count()
    cappedBaseFps(s, dir).count()
    baseSpans(s, dir).count()
    prefixDupSpans(s, dir).count()
    IndexFixtures.shared(s, dir, "bm25")(buildBm25(s, dir))
    IndexFixtures.shared(s, dir, "phrase")(buildPhrase(s, dir))
  }

  /** Fixture model for q_text_classifier: 64 hashed-bucket weights from a
    * deterministic formula (6-dp values round-trip exactly through both
    * engines' decimal parsing), positive bias so short docs lean keep.
    * Real deployments load weights from LinearTextScore.learnWeights —
    * the spec covers that path; the gate pins the scoring machinery. */
  private[queries] val classifierBias: Double = 0.25
  private[queries] val classifierWeights: Seq[Double] =
    (0 until 64).map(i =>
      math.rint((((i * 2654435761L) % 1000) / 1000.0 - 0.5) * 1e6) / 1e6)
  private[queries] lazy val classifierWeightsPath: String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_classifier_weights.txt")
    graft.expressions.LinearTextScore.writeWeights(p.toString,
      classifierBias, classifierWeights.toArray)
    p.toString
  }

  /** DuckDB fragment mirroring TextFunctions.qualityScore (the rounded
    * composite the curriculum gates order by). */
  private[queries] lazy val sqlQuality = {
    val enList = stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""round(0.4 * least(1.0, len($sqlToks) / 100.0)
       |           + 0.3 * (len(list_filter($sqlToks,
       |                        t -> list_contains($enList, t)))
       |                    / greatest(CAST(len($sqlToks) AS DOUBLE), 1.0))
       |           + 0.3 * least(1.0,
       |               (length(regexp_replace(text, '\\s+', '', 'g'))
       |                / greatest(CAST(len($sqlToks) AS DOUBLE), 1.0)) / 8.0),
       |             4)""".stripMargin
  }

  /** DuckDB fragment mirroring TextFunctions.shingles(text, k). */
  private[queries] def sqlShingles(k: Int) =
    s"""list_distinct(CASE WHEN len($sqlToks) < $k
       |  THEN [array_to_string($sqlToks, ' ')]
       |  ELSE list_transform(range(0, len($sqlToks) - ${k - 1}),
       |         i -> array_to_string(($sqlToks)[i+1:i+$k], ' ')) END)""".stripMargin

  private[queries] val langCases = {
    val hits = stopwords.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
      lang -> s"len(list_filter($sqlToks, t -> list_contains($lst, t)))"
    }
    val mx = hits.map(_._2).mkString("greatest(", ", ", ")")
    val whens = hits.map { case (lang, h) =>
      s"WHEN $h = __mx THEN '$lang'"
    }.mkString(" ")
    (mx, whens)
  }

  val all: Seq[Q] = Seq(

    // Token counting: whitespace tokens + BPE-ish regex sub-word count.
    Q("q_text_stats",
      s"""SELECT doc_id,
         |       len($sqlToks) AS n_tokens,
         |       len(regexp_extract_all(text,
         |           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe,
         |       length(text) AS n_chars_seen
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(col("text")).cast(LongType).as("n_tokens"),
          bpeTokenCount(col("text")).cast(LongType).as("n_bpe"),
          length(col("text")).cast(LongType).as("n_chars_seen"))
        .orderBy("doc_id")
    },

    // Language ID: stopword-hit argmax with declared priority order.
    Q("q_text_langid", {
      val (mx, whens) = langCases
      s"""SELECT doc_id, lang AS labeled_lang,
         |       CASE WHEN __mx = 0 THEN 'und' $whens END AS detected_lang
         |FROM (SELECT doc_id, lang, $mx AS __mx, text FROM documents)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      t(s, dir, "documents")
        .selectExpr("doc_id", "lang AS labeled_lang",
          "lang_id(text) AS detected_lang")
        .orderBy("doc_id")
    },

    // Language-ID quality accounting: the confusion matrix of the
    // detector against the corpus's GROUND-TRUTH labels, plus per-truth
    // recall as an exact integer permille — the eval artifact that says
    // whether the scan-local heuristic is good enough per language
    // before it gates a 100 TB filter. One aggregation; counts exact.
    Q("q_text_lang_confusion", {
      val (mx, whens) = langCases
      s"""WITH pred AS (SELECT lang AS truth,
         |                     CASE WHEN __mx = 0 THEN 'und' $whens END
         |                       AS detected
         |              FROM (SELECT lang, $mx AS __mx, text
         |                    FROM documents)),
         |cell AS (SELECT truth, detected, count(*) AS n
         |         FROM pred GROUP BY truth, detected),
         |tot AS (SELECT truth, sum(n) AS truth_n FROM cell GROUP BY truth)
         |SELECT c.truth, c.detected, CAST(c.n AS BIGINT) AS n,
         |       CAST(floor(c.n * 1000.0 / t.truth_n) AS BIGINT)
         |         AS cell_permille
         |FROM cell c JOIN tot t USING (truth)
         |ORDER BY truth, detected""".stripMargin
    }) { (s, dir) =>
      val pred = t(s, dir, "documents")
        .selectExpr("lang AS truth", "lang_id(text) AS detected")
      val cell = pred.groupBy("truth", "detected")
        .agg(count(lit(1)).as("n"))
      val tot = cell.groupBy("truth").agg(sum("n").as("truth_n"))
      cell.join(tot, "truth")
        .select(col("truth"), col("detected"), col("n"),
          floor(col("n") * lit(1000.0) / col("truth_n"))
            .as("cell_permille"))
        .orderBy("truth", "detected")
    },

    // Quality scoring: length saturation + stopword ratio + mean token len.
    Q("q_text_quality",
      s"""SELECT doc_id, $sqlQuality AS quality
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .selectExpr("doc_id", "quality_score(text) AS quality")
        .orderBy("doc_id")
    },

    // Normalized-text fingerprint (exact-dedup key).
    Q("q_text_fingerprint",
      """SELECT doc_id,
        |       md5(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), normFingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    },

    // Unicode normalization (expressions.UnicodeNorm): NFC composition +
    // accent stripping, the pass a multilingual pipeline runs before
    // tokenizing/fingerprinting (composed vs decomposed forms of the
    // SAME visible text would otherwise dedup as different documents).
    // Planted decomposed-accent suffixes (combining marks spliced into
    // every 5th doc) must compose under nfc_norm and flatten under
    // strip_accents; both custom expressions are codegen'd scan-local,
    // DuckDB's native nfc_normalize/strip_accents are the oracle twins.
    Q("q_text_normalize", {
      val accented = " cafe\u0301 n\u0303ino u\u0308ber"
      s"""WITH aug AS (SELECT doc_id,
         |               CASE WHEN doc_id % 5 = 0
         |                    THEN text || '$accented' ELSE text END AS raw
         |             FROM documents)
         |SELECT doc_id, nfc_normalize(raw) AS nfc,
         |       strip_accents(raw) AS stripped,
         |       nfc_normalize(raw) != raw AS changed,
         |       length(nfc_normalize(raw)) AS n_nfc, length(raw) AS n_raw
         |FROM aug ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val accented = " cafe\u0301 n\u0303ino u\u0308ber"
      t(s, dir, "documents")
        .withColumn("raw",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(accented)))
            .otherwise(col("text")))
        .select(col("doc_id"), expr("nfc_norm(raw)").as("nfc"),
          expr("strip_accents(raw)").as("stripped"),
          expr("nfc_norm(raw) != raw").as("changed"),
          length(expr("nfc_norm(raw)")).as("n_nfc"),
          length(col("raw")).as("n_raw"))
        .orderBy("doc_id")
    },

    // Exact dedup after normalization. The corpus has no verbatim dups, so
    // the query plants them deterministically (uppercased copies, id+100000)
    // and the operator must find exactly those.
    Q("q_dedup_exact",
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id < 50),
        |fp AS (SELECT doc_id AS dup_id,
        |              md5(regexp_replace(regexp_replace(lower(text),
        |                  '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))
        |                AS fingerprint
        |       FROM aug),
        |canon AS (SELECT fingerprint, min(dup_id) AS canonical_id
        |          FROM fp GROUP BY fingerprint)
        |SELECT dup_id, canonical_id, fingerprint
        |FROM fp JOIN canon USING (fingerprint)
        |WHERE dup_id != canonical_id ORDER BY dup_id""".stripMargin) {
      (s, dir) =>
        val docs = t(s, dir, "documents")
        val aug = docs.select("doc_id", "text").union(
          docs.where(col("doc_id") < 50)
            .select((col("doc_id") + 100000).as("doc_id"),
              upper(col("text")).as("text")))
        Dedup.exactDuplicates(aug, "doc_id", "text").orderBy("dup_id")
    },

    // MinHash+LSH near-dup pairs, Jaccard-verified — the full
    // signature→band→bucket-join→verify pipeline, oracled end-to-end.
    Q("q_dedup_minhash", {
      val sh = sqlShingles(5)
      s"""WITH sh AS (SELECT doc_id, $sh AS sh FROM documents),
         |sig AS (SELECT doc_id,
         |               list_transform(range(0, 8), j ->
         |                 list_aggregate(list_transform(sh,
         |                   s -> md5(j || ':' || s)), 'min')) AS sig
         |        FROM sh),
         |bands AS (SELECT doc_id, b,
         |                 md5(array_to_string(sig[b*2+1:b*2+2], '|')) AS key
         |          FROM sig, range(0, 4) AS t(b)),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
         |         FROM bands a JOIN bands b
         |           ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
         |ver AS (SELECT id1, id2,
         |               CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
         |               / (len(s1.sh) + len(s2.sh)
         |                  - len(list_intersect(s1.sh, s2.sh))) AS jac
         |        FROM cand
         |        JOIN sh s1 ON id1 = s1.doc_id
         |        JOIN sh s2 ON id2 = s2.doc_id)
         |SELECT id1, id2, round(jac, 4) AS jaccard FROM ver
         |WHERE jac >= 0.5 ORDER BY id1, id2""".stripMargin
    }) { (s, dir) =>
      Dedup.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 5, m = 8, bands = 4, threshold = 0.5)
        .orderBy("id1", "id2")
    },

    // Hot-bucket cap UNDER PRESSURE (executed skew evidence): a
    // boilerplate group of 60 identical docs drives one LSH bucket past
    // maxBucket=8 in every band, while 5 small near-dup groups (one pair
    // each) sit in their own buckets. Texts are group-tagged words, so
    // cross-group Jaccard is exactly 0 and the verified output is fully
    // deterministic: the capped bucket contributes C(8,2)=28 pairs (the 8
    // lowest ids — NOT C(60,2)=1770), and every non-boilerplate pair
    // survives untouched — 33 rows total. The oracle replays the cap's
    // contract (per-group rank ≤ cap) without needing the text at all.
    // Scale: this is the join-output blowup AQE cannot fix, bounded by
    // construction; recall outside the hot bucket is unaffected.
    Q("q_dedup_skew_cap",
      """WITH ids AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id)
        |                      AS rn0
        |             FROM (SELECT doc_id FROM documents
        |                   ORDER BY doc_id LIMIT 70)),
        |members AS (SELECT doc_id,
        |                   CASE WHEN rn0 <= 60 THEN 0
        |                        ELSE 1 + (rn0 - 61) // 2 END AS grp
        |            FROM ids),
        |ranked AS (SELECT doc_id, grp,
        |                  row_number() OVER (PARTITION BY grp
        |                                     ORDER BY doc_id) AS rn
        |           FROM members)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       CAST(1.0 AS DOUBLE) AS jaccard
        |FROM ranked a JOIN ranked b
        |  ON a.grp = b.grp AND a.doc_id < b.doc_id
        |WHERE a.rn <= 8 AND b.rn <= 8
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ids = t(s, dir, "documents").select("doc_id")
        .orderBy("doc_id").limit(70)
        .withColumn("rn0", row_number().over(
          Window.orderBy("doc_id")))
      val members = ids.select(col("doc_id"),
        when(col("rn0") <= 60, lit(0))
          .otherwise(lit(1) + floor((col("rn0") - 61) / 2).cast("int"))
          .as("grp"))
      val corpus = members.withColumn("text",
        concat_ws(" ", transform(sequence(lit(0), lit(11)),
          j => concat(lit("w"), col("grp"), lit("_"), j))))
      Dedup.minhashLshPairs(corpus, "doc_id", "text", k = 5, m = 8,
          bands = 4, threshold = 0.5, maxBucket = 8)
        .orderBy("id1", "id2")
    },

    // SUBSTRING-level dedup via winnowed fingerprints (MOSS / Lee et al.):
    // k=12-gram rolling hashes, min per w=8 window, pairs sharing ≥ 2
    // fingerprint values. Any shared verbatim run of ≥ k+w-1 = 19 chars
    // yields a shared fingerprint in both docs — planted 120-char prefix
    // copies MUST pair with their originals, and whatever real shared
    // passages exist in the corpus are replayed identically by the
    // oracle (full pipeline in SQL: per-position Horner hashes mod
    // 2^61-1, window minima, distinct, self-join, HAVING). Scale: O(n)
    // scan-local fingerprints, one shuffle on the fingerprint value with
    // the LSH-style hot-value cap.
    Q("q_dedup_substring", {
      val horner = (lo: String, hi: String) =>
        s"""CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
           |       list_transform(range($lo, $hi),
           |         i -> CAST(ord(text[i]) AS HUGEINT))),
           |     (h, c) -> (h * 257 + c) % 2305843009213693951) AS BIGINT)"""
          .stripMargin
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, substr(text, 1, 120)
         |  FROM documents WHERE doc_id < 30),
         |h AS (
         |  SELECT doc_id,
         |         CASE WHEN length(text) < 12
         |              THEN [${horner("1", "length(text) + 1")}]
         |              ELSE list_transform(range(1, length(text) - 10),
         |                     p -> ${horner("p", "p + 12")})
         |         END AS hs
         |  FROM aug),
         |f AS (
         |  SELECT doc_id,
         |         list_distinct(
         |           CASE WHEN len(hs) <= 8
         |                THEN [list_aggregate(hs, 'min')]
         |                ELSE list_transform(range(1, len(hs) - 6),
         |                       q -> list_aggregate(hs[q:q+7], 'min'))
         |           END) AS fps
         |  FROM h),
         |e AS (SELECT doc_id, unnest(fps) AS fp FROM f)
         |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared
         |FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY id1, id2""".stripMargin
    }) { (s, dir) =>
      // the distinct-per-doc fp frame reduces from the SAME memoized
      // corpus fingerprint staging the span gates use (positions dropped)
      Dedup.substringDupPairsFromDistinctFps(
          baseFps(s, dir).union(Dedup.winnowPosFingerprints(
            prefixExtras(s, dir), "doc_id", "text", k = 12, w = 8))
            .select("id", "fp").distinct(),
          minShared = 2)
        .orderBy("id1", "id2")
    },

    // Span-reporting substring dedup: the position-carrying winnow
    // variant (leftmost-minimum tie rule, replayed by list_position)
    // locates the duplicated passage on BOTH sides of every pair —
    // min/max matched code-point offsets per document. The planted
    // prefix copies must report spans inside the first 120 chars on the
    // copy side; the oracle replays selection positions exactly, so an
    // off-by-one in the window argmin fails the gate.
    Q("q_dedup_spans", {
      val horner = (lo: String, hi: String) =>
        s"""CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
           |       list_transform(range($lo, $hi),
           |         i -> CAST(ord(text[i]) AS HUGEINT))),
           |     (h, c) -> (h * 257 + c) % 2305843009213693951) AS BIGINT)"""
          .stripMargin
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, substr(text, 1, 120)
         |  FROM documents WHERE doc_id < 30),
         |h AS (
         |  SELECT doc_id,
         |         CASE WHEN length(text) < 12
         |              THEN [${horner("1", "length(text) + 1")}]
         |              ELSE list_transform(range(1, length(text) - 10),
         |                     p -> ${horner("p", "p + 12")})
         |         END AS hs
         |  FROM aug),
         |f AS (
         |  SELECT doc_id,
         |         CASE WHEN len(hs) <= 8
         |              THEN [{'fp': list_aggregate(hs, 'min'),
         |                     'pos': list_position(hs,
         |                              list_aggregate(hs, 'min')) - 1}]
         |              ELSE list_transform(range(1, len(hs) - 6),
         |                     q -> {'fp': list_aggregate(hs[q:q+7],
         |                                   'min'),
         |                           'pos': q + list_position(hs[q:q+7],
         |                                    list_aggregate(hs[q:q+7],
         |                                      'min')) - 2})
         |         END AS fps
         |  FROM h),
         |e AS (SELECT doc_id, unnest(fps) AS u FROM f),
         |x AS (SELECT DISTINCT doc_id, u.fp AS fp,
         |             CAST(u.pos AS INT) AS pos
         |      FROM e)
         |SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_shared,
         |       min(a.pos) AS a_min_pos, max(a.pos) AS a_max_pos,
         |       min(b.pos) AS b_min_pos, max(b.pos) AS b_max_pos
         |FROM x a JOIN x b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY id1, id2""".stripMargin
    }) { (s, dir) =>
      prefixDupSpans(s, dir).orderBy("id1", "id2")
    },

    // Targeted span REMOVAL executed: every document that is the higher
    // side of a substring-dup pair gets its matched range
    // [lo, hi + k - 1] cut out (prefix + suffix survive). The oracle
    // replays fingerprinting, span location, range aggregation, and the
    // substring surgery — the cleaned text's length and md5 are both
    // hash-gated, so a one-character slip in the cut boundaries fails.
    // Scale: spans aggregate per document (one small shuffle over the
    // pair table), then the cut is a scan-local projection.
    Q("q_dedup_span_removal", {
      val horner = (lo: String, hi: String) =>
        s"""CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
           |       list_transform(range($lo, $hi),
           |         i -> CAST(ord(text[i]) AS HUGEINT))),
           |     (h, c) -> (h * 257 + c) % 2305843009213693951) AS BIGINT)"""
          .stripMargin
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, substr(text, 1, 120)
         |  FROM documents WHERE doc_id < 30),
         |h AS (
         |  SELECT doc_id,
         |         CASE WHEN length(text) < 12
         |              THEN [${horner("1", "length(text) + 1")}]
         |              ELSE list_transform(range(1, length(text) - 10),
         |                     p -> ${horner("p", "p + 12")})
         |         END AS hs
         |  FROM aug),
         |f AS (
         |  SELECT doc_id,
         |         CASE WHEN len(hs) <= 8
         |              THEN [{'fp': list_aggregate(hs, 'min'),
         |                     'pos': list_position(hs,
         |                              list_aggregate(hs, 'min')) - 1}]
         |              ELSE list_transform(range(1, len(hs) - 6),
         |                     q -> {'fp': list_aggregate(hs[q:q+7],
         |                                   'min'),
         |                           'pos': q + list_position(hs[q:q+7],
         |                                    list_aggregate(hs[q:q+7],
         |                                      'min')) - 2})
         |         END AS fps
         |  FROM h),
         |e AS (SELECT doc_id, unnest(fps) AS u FROM f),
         |x AS (SELECT DISTINCT doc_id, u.fp AS fp,
         |             CAST(u.pos AS INT) AS pos
         |      FROM e),
         |pair AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
         |                min(b.pos) AS blo, max(b.pos) AS bhi
         |         FROM x a JOIN x b
         |           ON a.fp = b.fp AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2 HAVING count(*) >= 2),
         |per2 AS (SELECT id2 AS doc_id, min(blo) AS lo, max(bhi) AS hi
         |         FROM pair GROUP BY id2),
         |c AS (SELECT aug.doc_id,
         |             substr(text, 1, lo) || substr(text, hi + 13)
         |               AS clean
         |      FROM aug JOIN per2 USING (doc_id))
         |SELECT doc_id, CAST(length(clean) AS INT) AS clean_n,
         |       md5(clean) AS clean_md5
         |FROM c ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val aug = prefixAug(s, dir)
      val spans = prefixDupSpans(s, dir)
      val per2 = spans.groupBy(col("id2").as("doc_id"))
        .agg(min("b_min_pos").as("lo"), max("b_max_pos").as("hi"))
      aug.join(per2, "doc_id")
        .withColumn("clean", expr(
          "concat(substring(text, 1, lo), substring(text, hi + 13))"))
        .select(col("doc_id"), length(col("clean")).as("clean_n"),
          md5(col("clean")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // Multi-interval span removal — the general form of the gate above:
    // matched fingerprint positions cluster into ISLANDS (gap > k+w-1 =
    // 32 starts a new one) and each island is cut separately, so a
    // document carrying TWO duplicated passages with unique text between
    // them keeps the middle. The fixture plants exactly that: synthetic
    // docs made of two chunks copied from a source doc wrapped around a
    // per-doc-unique md5 marker; the oracle replays fingerprinting,
    // pair qualification, island clustering (gaps-and-islands windows),
    // and the multi-cut surgery — island counts, cleaned lengths, and
    // cleaned md5s are all hash-gated, so a collapsed-to-one-range cut
    // (which would delete the unique middle) fails immediately.
    //
    // PARAMETERIZATION (k = 25, w = 8): a REMOVAL operator must cut
    // verbatim passages, so its fingerprint length has to sit above the
    // corpus's vocabulary-collision scale. This synthetic corpus is
    // short word salad over a tiny vocabulary — a 12-char gram is ~2
    // words and lands in up to 778 of 5000 documents (measured), so at
    // k = 12 "qualified pairs" are dominated by 2-bigram coincidences
    // (5.2M candidate pairs for 5000 docs) and the surgery would cut
    // common phrases out of half the corpus. At k = 25 (~4 words) the
    // hottest gram covers 16 docs and matches are the planted passages
    // plus true near-dups — the analysis the gate is FOR. Detection
    // guarantee: shared runs >= k+w-1 = 32 chars always fingerprint;
    // the planted 90-char chunks are well above it. The k = 12
    // hot-bucket pair-enumeration stress stays gated by q_dedup_spans /
    // q_dedup_substring, which share the memoized corpus frames.
    Q("q_dedup_span_removal_multi", {
      val horner = (lo: String, hi: String) =>
        s"""CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
           |       list_transform(range($lo, $hi),
           |         i -> CAST(ord(text[i]) AS HUGEINT))),
           |     (h, c) -> (h * 257 + c) % 2305843009213693951) AS BIGINT)"""
          .stripMargin
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000,
         |         substr(text, 1, 90) || ' <<' ||
         |         md5(CAST(doc_id AS VARCHAR)) || '>> ' ||
         |         substr(text, 120, 90)
         |  FROM documents WHERE doc_id < 40 AND length(text) >= 250),
         |h AS (
         |  SELECT doc_id,
         |         CASE WHEN length(text) < 25
         |              THEN [${horner("1", "length(text) + 1")}]
         |              ELSE list_transform(range(1, length(text) - 23),
         |                     p -> ${horner("p", "p + 25")})
         |         END AS hs
         |  FROM aug),
         |f AS (
         |  SELECT doc_id,
         |         CASE WHEN len(hs) <= 8
         |              THEN [{'fp': list_aggregate(hs, 'min'),
         |                     'pos': list_position(hs,
         |                              list_aggregate(hs, 'min')) - 1}]
         |              ELSE list_transform(range(1, len(hs) - 6),
         |                     q -> {'fp': list_aggregate(hs[q:q+7],
         |                                   'min'),
         |                           'pos': q + list_position(hs[q:q+7],
         |                                    list_aggregate(hs[q:q+7],
         |                                      'min')) - 2})
         |         END AS fps
         |  FROM h),
         |e AS (SELECT doc_id, unnest(fps) AS u FROM f),
         |x AS (SELECT DISTINCT doc_id, u.fp AS fp,
         |             CAST(u.pos AS INT) AS pos
         |      FROM e),
         |pair AS (SELECT a.doc_id AS id1, b.doc_id AS id2
         |         FROM x a JOIN x b
         |           ON a.fp = b.fp AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2 HAVING count(*) >= 2),
         |pos2 AS (SELECT DISTINCT b.doc_id AS doc_id, b.pos AS pos
         |         FROM x a JOIN x b
         |           ON a.fp = b.fp AND a.doc_id < b.doc_id
         |         JOIN pair p ON p.id1 = a.doc_id AND p.id2 = b.doc_id),
         |brk AS (SELECT doc_id, pos,
         |               CASE WHEN pos - lag(pos) OVER (
         |                      PARTITION BY doc_id ORDER BY pos) > 32
         |                    THEN 1 ELSE 0 END AS b
         |        FROM pos2),
         |lbl AS (SELECT doc_id, pos,
         |               sum(b) OVER (PARTITION BY doc_id ORDER BY pos)
         |                 AS isl
         |        FROM brk),
         |isl AS (SELECT doc_id, isl, min(pos) AS lo, max(pos) AS hi
         |        FROM lbl GROUP BY 1, 2),
         |seg AS (SELECT doc_id, lo, hi,
         |               coalesce(lag(hi) OVER (
         |                 PARTITION BY doc_id ORDER BY lo), -25) + 25
         |                 AS st
         |        FROM isl),
         |kseg AS (SELECT s.doc_id, s.lo,
         |                substr(a.text, s.st + 1, s.lo - s.st) AS kept
         |         FROM seg s JOIN aug a USING (doc_id)),
         |ni AS (SELECT doc_id, CAST(count(*) AS INT) AS n_islands,
         |              max(hi) AS mx
         |       FROM isl GROUP BY doc_id),
         |cln AS (SELECT k.doc_id,
         |               string_agg(kept, '' ORDER BY lo) ||
         |                 substr(a.text, max(n.mx) + 26) AS clean,
         |               max(n.n_islands) AS n_islands
         |        FROM kseg k JOIN aug a USING (doc_id)
         |        JOIN ni n USING (doc_id)
         |        GROUP BY k.doc_id, a.text)
         |SELECT doc_id, n_islands, CAST(length(clean) AS INT) AS clean_n,
         |       md5(clean) AS clean_md5
         |FROM cln ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val extras = docs
        .where(col("doc_id") < 40 && length(col("text")) >= 250)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(substring(col("text"), 1, 90), lit(" <<"),
            md5(col("doc_id").cast("string")), lit(">> "),
            substring(col("text"), 120, 90)).as("text"))
      val aug = docs.select("doc_id", "text").union(extras)
      // k = 25 (see the oracle header): buckets are true-dup-sized, so
      // the whole qualification pipeline — winnow, cap, bucket join,
      // pair count, islands — runs over thousands of rows, not the
      // vocabulary-collision millions the k = 12 pair gates enumerate
      val posns = Dedup.substringDupPositions(aug, "doc_id", "text",
        k = 25, w = 8, minShared = 2)
      Dedup.removeMatchedSpans(aug, "doc_id", "text", posns, k = 25, w = 8)
        .select(col("id").as("doc_id"), col("n_islands"),
          length(col("clean")).as("clean_n"),
          md5(col("clean")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // C4-style corpus-level segment dedup: each distinct 10-word segment
    // survives once corpus-wide (first (doc, position) owner); the gate
    // pins per-doc totals, survivors, AND the md5 of the rebuilt
    // surviving text, so one mis-owned or mis-ordered segment fails. The
    // rn=1 filter pushes a WindowGroupLimit below the segment exchange —
    // a boilerplate segment repeated a billion times forwards one
    // candidate per map task, never a hot bucket.
    Q("q_dedup_segments",
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |n AS (SELECT doc_id, toks,
         |             greatest(1, CAST(ceil(len(toks) / 10.0) AS INT))
         |               AS nc
         |      FROM tok),
         |s AS (SELECT doc_id, unnest(range(0, nc)) AS p, toks FROM n),
         |seg AS (SELECT doc_id, p,
         |               array_to_string(toks[p*10+1 : p*10+10], ' ')
         |                 AS seg
         |        FROM s),
         |k AS (SELECT doc_id, p, seg,
         |             row_number() OVER (PARTITION BY seg
         |                                ORDER BY doc_id, p) AS rn
         |      FROM seg)
         |SELECT doc_id, count(*) AS n_seg,
         |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept,
         |       CAST(sum(CASE WHEN rn = 1
         |                     THEN len(string_split(seg, ' '))
         |                     ELSE 0 END) AS BIGINT) AS kept_tokens,
         |       md5(coalesce(string_agg(CASE WHEN rn = 1 THEN seg END,
         |                               ' ' ORDER BY p), '')) AS kept_md5
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (s, dir) =>
        Dedup.dedupCorpusSegments(t(s, dir, "documents"),
            "doc_id", "text", segWords = 10)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
    },

    // Token chunking with overlap (TextFunctions.tokenChunks) — the
    // training-prep splitter: 64-token windows, 8-token overlap, stride
    // 56. Pure per-row array arithmetic (scan-local, no shuffle); the
    // oracle replays the start/stride/slice math and hashes each chunk's
    // text, so any off-by-one in windowing or the short final chunk fails
    // the gate.
    Q("q_text_chunk",
      s"""WITH tok AS (SELECT doc_id, $sqlToks AS toks
         |            FROM documents WHERE doc_id < 100),
         |n AS (SELECT doc_id, toks,
         |             greatest(1, CAST(ceil(CAST(len(toks) - 8 AS DOUBLE)
         |                                   / 56) AS INT)) AS nc
         |      FROM tok),
         |ch AS (SELECT doc_id,
         |              unnest(range(0, nc)) AS chunk_idx,
         |              toks
         |       FROM n)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |       CAST(len(toks[chunk_idx*56+1 : chunk_idx*56+64]) AS INT)
         |         AS n_tokens,
         |       md5(array_to_string(toks[chunk_idx*56+1 : chunk_idx*56+64],
         |                           ' ')) AS chunk_md5
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions
      t(s, dir, "documents").where(col("doc_id") < 100)
        .select(col("doc_id"),
          explode(TextFunctions.tokenChunks(
            TextFunctions.tokens(col("text")), chunkLen = 64, overlap = 8))
            .as("c"))
        .select(col("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          size(col("c.chunk")).cast("int").as("n_tokens"),
          md5(concat_ws(" ", col("c.chunk"))).as("chunk_md5"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Incremental near-dup: a NEW batch (perturbed copies of corpus docs +
    // genuinely new docs) matched against the corpus signature INDEX —
    // batch×index bucket join, never index×index. The full pipeline
    // (shingle → sign → band → bucket join → Jaccard verify) is replayed
    // in DuckDB SQL over the same split, so the gate is value-exact.
    Q("q_dedup_incremental", {
      val sh = sqlShingles(5)
      s"""WITH corpus AS (SELECT doc_id, text FROM documents
         |                WHERE doc_id < 400),
         |newb AS (SELECT doc_id + 200000 AS doc_id,
         |                text || ' incremental batch suffix tokens' AS text
         |         FROM documents WHERE doc_id < 20
         |         UNION ALL
         |         SELECT doc_id, text FROM documents
         |         WHERE doc_id >= 400 AND doc_id < 450),
         |shc AS (SELECT doc_id, $sh AS sh FROM corpus),
         |shn AS (SELECT doc_id, $sh AS sh FROM newb),
         |sigc AS (SELECT doc_id,
         |                list_transform(range(0, 8), j ->
         |                  list_aggregate(list_transform(sh,
         |                    s -> md5(j || ':' || s)), 'min')) AS sig
         |         FROM shc),
         |sign AS (SELECT doc_id,
         |                list_transform(range(0, 8), j ->
         |                  list_aggregate(list_transform(sh,
         |                    s -> md5(j || ':' || s)), 'min')) AS sig
         |         FROM shn),
         |bc AS (SELECT doc_id, b,
         |              md5(array_to_string(sig[b*2+1:b*2+2], '|')) AS key
         |       FROM sigc, range(0, 4) AS t(b)),
         |bn AS (SELECT doc_id, b,
         |              md5(array_to_string(sig[b*2+1:b*2+2], '|')) AS key
         |       FROM sign, range(0, 4) AS t(b)),
         |cand AS (SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |         FROM bn n JOIN bc c
         |           ON n.b = c.b AND n.key = c.key AND n.doc_id != c.doc_id),
         |ver AS (SELECT new_id, corpus_id,
         |               CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
         |               / (len(s1.sh) + len(s2.sh)
         |                  - len(list_intersect(s1.sh, s2.sh))) AS jac
         |        FROM cand
         |        JOIN shn s1 ON new_id = s1.doc_id
         |        JOIN shc s2 ON corpus_id = s2.doc_id)
         |SELECT new_id, corpus_id, round(jac, 4) AS jaccard FROM ver
         |WHERE jac >= 0.5 ORDER BY new_id, corpus_id""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val index = Dedup.signatureIndex(
        docs.where(col("doc_id") < 400), "doc_id", "text", k = 5, m = 8)
      val batch = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"),
            lit(" incremental batch suffix tokens")).as("text"))
        .union(docs.where(col("doc_id") >= 400 && col("doc_id") < 450)
          .select("doc_id", "text"))
      Dedup.incrementalLshPairs(index, batch, "doc_id", "text",
          k = 5, m = 8, bands = 4, threshold = 0.5)
        .orderBy("new_id", "corpus_id")
    },

    // Brute-force n-gram Jaccard on a bounded subset — the exactness oracle
    // for the LSH path (O(n²), guarded).
    Q("q_dedup_ngram", {
      val sh = sqlShingles(3)
      s"""WITH sh AS (SELECT doc_id, $sh AS sh FROM
         |              (SELECT doc_id, text FROM documents
         |               ORDER BY doc_id LIMIT 200) AS documents)
         |SELECT a.doc_id AS id1, b.doc_id AS id2,
         |       round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |             / (len(a.sh) + len(b.sh)
         |                - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |      >= 0.2
         |ORDER BY id1, id2""".stripMargin
    }) { (s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          k = 3, threshold = 0.2, maxDocs = 200)
        .orderBy("id1", "id2")
    },

    // Feature-hashing embedder (expressions.HashEmbed — the hashing
    // trick, Weinberger et al. 2009): the text→vector bridge that lets
    // documents flow into the embedding stack (near-dup, ANN, the
    // persisted indexes) with no external embedder and no vocabulary
    // fit. Codegen'd scan-local projection; seeds are SimHash's pair,
    // so the byte-level murmur replay q_dedup_simhash proved carries
    // over. Output exploded to (doc_id, dim, value) — dense, zero dims
    // included — and hash-matched against the full per-token replay.
    Q("q_text_hash_embed", SketchReplay.hashEmbedSql) { (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(
          expr("hash_embed(split(trim(lower(text)), '\\\\s+'), 16)")))
        .select(col("doc_id"), col("pos").cast("long").as("dim"),
          col("col").as("value"))
        .orderBy("doc_id", "dim")
    },

    // TEXT-to-retrieval end-to-end: the documents table retrieves over
    // ITSELF with no external embedder — hash_embed (d=64) feeds
    // hammingTopK, two pipelines that are each hash-exact composing
    // into one gate whose oracle replays the WHOLE path (murmur
    // scatter → dense vectors → plane signatures → Hamming shortlist →
    // rounded-cosine re-rank) in a single DuckDB query. This is the
    // curation-pipeline shape the embedder exists for: any text table
    // becomes ANN input inline, in the same scan.
    Q("q_text_ann_e2e", SketchReplay.textAnnE2eSql) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .selectExpr("doc_id AS vec_id",
          "hash_embed(split(trim(lower(text)), '\\\\s+'), 64) AS embedding")
      graft.operators.Similarity.hammingTopK(docs,
          docs.where(col("vec_id") < 3),
          k = 5, shortlist = 30)
        .withColumn("hamming", col("hamming").cast("long"))
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // SimHash near-dup pairs via the custom codegen'd simhash64
    // expression. Rows-only through round 6 ("Murmur3 isn't available in
    // DuckDB") — it is: SketchReplay.simhashSql replays Spark's
    // Murmur3_x86_32 in HUGEINT mod-2^32 arithmetic (4-byte LE blocks,
    // per-byte tail mixes, fmix avalanche, both seeds), the ±1 bit vote,
    // the 7-band pigeonhole split, and the hamming filter — hash-matched
    // row-for-row. Radius 6 = 7 bands of ≥9 bits: exact recall at ~2^-9
    // per-band collision cost (the operator's scaladoc derivation).
    Q("q_dedup_simhash", SketchReplay.simhashSql) { (s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 6)
        .orderBy("id1", "id2")
    },

    // SimHash banding contract, oracle-gated (the q_ann_ivf_recall
    // pattern): on a bounded subset, the banded path must be set-equal to
    // a brute-force O(n²) hamming scan over the SAME signatures at every
    // radius 0..6 — complete (pigeonhole: bands = radius+1 guarantees any
    // pair within radius shares a band) AND sound (no invented pairs).
    // The flags derive from the min hamming of each symmetric-difference
    // side (null = empty = all radii pass), so one pass computes all
    // seven radii. Deterministic: simhash64 is a fixed hash — the oracle
    // pins every flag TRUE, converting DedupSpec's property test into a
    // driver gate.
    // FULLY ROW-HASHED (converted from TRUE flags at r16): the gate
    // emits the BRUTE O(n²) hamming pairs over the 300-doc subset —
    // the oracle recomputes them end to end (murmur token hashes, bit
    // votes, all-pairs XOR/popcount) — and proves the banded path
    // set-equal to them with a loud in-gate check, so the pigeonhole
    // completeness/soundness property has no self-certified flag left
    // (banded-side hashing is q_dedup_simhash's job).
    Q("q_dedup_simhash_recall", graft.queries.SketchReplay
        .simhashBruteSql) { (s, dir) =>
      val subset = t(s, dir, "documents").orderBy("doc_id").limit(300)
      val banded = graft.operators.OperatorCaches.cache(
        Dedup.simhashPairs(subset, "doc_id", "text", maxHamming = 6)
          .select("id1", "id2"))
      val brute = graft.operators.OperatorCaches.cache(
        Dedup.simhashBrutePairs(subset, "doc_id", "text",
            maxHamming = 6, maxDocs = 300)
          .select(col("id1"), col("id2"),
            col("hamming").cast("long").as("hamming")))
      // both frames are OperatorCaches-tracked: releaseAll unpins them
      // after the driver consumes the result — no per-invocation
      // localCheckpoint (it pins an RDD releaseAll never sees) and no
      // eager unpersist (the consumer would recompute `brute` cold)
      val bn = banded.count()
      val rn = brute.count()
      val in = banded.join(brute, Seq("id1", "id2")).count()
      require(bn == rn && in == bn,
        s"simhash banding lost set-equality with the brute scan: " +
          s"banded=$bn brute=$rn intersection=$in")
      brute.orderBy("id1", "id2")
    },

    // End-to-end corpus curation — the training-data pipeline in one
    // oracled query: language-ID, quality scoring, exact dedup (keep the
    // lowest doc_id per normalized fingerprint), quality threshold, then a
    // per-language document/token budget. Composes four operator families;
    // every stage is the same code the standalone gates exercise.
    Q("q_corpus_curate", {
      val (mx, whens) = langCases
      val enList = stopwords.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH scored AS (
         |  SELECT doc_id,
         |         CASE WHEN $mx = 0 THEN 'und' ${whens.replace("__mx", mx)}
         |         END AS lang,
         |         round(0.4 * least(1.0, len($sqlToks) / 100.0)
         |             + 0.3 * (len(list_filter($sqlToks,
         |                          t -> list_contains($enList, t)))
         |                      / greatest(CAST(len($sqlToks) AS DOUBLE), 1.0))
         |             + 0.3 * least(1.0,
         |                 (length(regexp_replace(text, '\\s+', '', 'g'))
         |                  / greatest(CAST(len($sqlToks) AS DOUBLE), 1.0)) / 8.0),
         |               4) AS quality,
         |         len($sqlToks) AS n_tokens,
         |         md5(regexp_replace(regexp_replace(lower(text),
         |             '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |kept AS (SELECT s.* FROM scored s
         |         JOIN (SELECT fp, min(doc_id) AS keep_id
         |               FROM scored GROUP BY fp) c
         |           ON s.fp = c.fp AND s.doc_id = c.keep_id)
         |SELECT lang, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS tokens
         |FROM kept WHERE quality >= 0.35
         |GROUP BY lang ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      // persisted: the scored projection feeds both the canonical
      // aggregate and the semi-join probe; the interpreted langId/quality
      // HOFs dominate its cost, and paying them once into the cache
      // measured ~1.7x faster than recomputing the probe side (column
      // pruning spares the aggregate branch either way)
      val scored = graft.operators.OperatorCaches.cache(
        t(s, dir, "documents").select(
          col("doc_id"),
          expr("lang_id(text)").as("lang"),
          expr("quality_score(text)").as("quality"),
          tokenCount(col("text")).cast(LongType).as("n_tokens"),
          normFingerprint(col("text")).as("fp")))
      // canon is (fp, doc_id) pairs to KEEP; name-based join keys avoid
      // the self-derived-column trap (scored("fp") === canon("fp")
      // resolves to a trivially-true fp == fp)
      val canon = scored.groupBy("fp").agg(min("doc_id").as("doc_id"))
      scored.join(canon, Seq("fp", "doc_id"), "left_semi")
        .where(col("quality") >= 0.35)
        .groupBy("lang")
        .agg(count(lit(1)).as("docs"), sum("n_tokens").as("tokens"))
        .orderBy("lang")
    },

    // Duplicate-cluster canonicalization: connected components over a pair
    // graph (min-label propagation), oracled against a DuckDB recursive
    // CTE computing min reachable id. Edges form 3-node chains
    // (d — d+100000 — d+200000) so the gate requires TRANSITIVE closure,
    // not just pairwise matching.
    Q("q_dedup_components", componentsOracle) { (s, dir) =>
      val base = t(s, dir, "documents").where(col("doc_id") < 30)
        .select(col("doc_id"))
      val edges = base.select(col("doc_id").as("id1"),
          (col("doc_id") + 100000).as("id2"))
        .union(base.select((col("doc_id") + 100000).as("id1"),
          (col("doc_id") + 200000).as("id2")))
      graft.operators.ConnectedComponents.canonicalize(edges)
        .orderBy("id")
    },

    // The STREAMING components twin through the driver hash
    // (EventStreams.componentsSink): a real foreachBatch query absorbs
    // each edge micro-batch into the standing labels table behind the
    // crash-safe swap — the chain legs arrive in batch 1, the bridging
    // legs in batch 2 (so the second batch MUST re-canonicalize
    // yesterday's labels, not just append) — and the final table
    // hash-matches the SAME full-recompute closure oracle.
    Q("q_stream_components_replay", componentsOracle) { (s, dir) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val tablePath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_cc_stream",
        dir.replace('/', '_').replace(':', '_')).toString
      val fs = new org.apache.hadoop.fs.Path(tablePath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tablePath), true)
      val ids = t(s, dir, "documents").where(col("doc_id") < 30)
        .select(col("doc_id")).as[Long].collect().toSeq
      def feed(rows: Seq[(Long, Long)]): Unit = {
        val src = MemoryStream[(Long, Long)]
        src.addData(rows: _*)
        graft.streaming.EventStreams.componentsSink(
            src.toDF().toDF("id1", "id2"), tablePath)
          .awaitTermination()
      }
      feed(ids.map(d => (d, d + 100000)))
      feed(ids.map(d => (d + 100000, d + 200000)))
      s.read.parquet(tablePath).orderBy("id")
    },

    // Incremental components (ConnectedComponents.incrementalCanonicalize)
    // — the daily-increment path: yesterday's labeling (the d—d+100000
    // pair legs) absorbs today's batch (the d+100000—d+200000 bridging
    // legs) by contracting the batch to current canonicals and
    // propagating over ≤|batch| edges; the corpus-sized labeling is
    // touched by one broadcast-remap scan. The oracle is the FULL
    // recompute over all pairs — the gate pins
    // incremental(labels, batch) == from-scratch, which is the entire
    // point of the operator.
    Q("q_dedup_components_inc",
      """WITH RECURSIVE
        |edges AS (SELECT doc_id AS id1, doc_id + 100000 AS id2
        |          FROM documents WHERE doc_id < 30
        |          UNION ALL
        |          SELECT doc_id + 100000, doc_id + 200000
        |          FROM documents WHERE doc_id < 30),
        |nodes AS (SELECT id1 AS id FROM edges UNION SELECT id2 FROM edges),
        |sym AS (SELECT id1 AS a, id2 AS b FROM edges
        |        UNION SELECT id2, id1 FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id)
        |SELECT id, min(r) AS canonical FROM reach GROUP BY id
        |ORDER BY id""".stripMargin) { (s, dir) =>
      import graft.operators.ConnectedComponents
      val base = t(s, dir, "documents").where(col("doc_id") < 30)
        .select(col("doc_id"))
      val day1 = base.select(col("doc_id").as("id1"),
        (col("doc_id") + 100000).as("id2"))
      val day2 = base.select((col("doc_id") + 100000).as("id1"),
        (col("doc_id") + 200000).as("id2"))
      val labels = ConnectedComponents.canonicalize(day1)
      ConnectedComponents.incrementalCanonicalize(labels, day2)
        .orderBy("id")
    },

    // Hashed-feature linear classifier at scan time — the fastText-/
    // DCLM-shaped quality/domain filter: token → Murmur3 bucket (the
    // hashing trick, no vocabulary), logit = bias + Σ w[bucket], keep =
    // logit > 0. One codegen'd scan-local expression per document; the
    // weights FILE is the loadable artifact. The oracle replays the
    // murmur bucketing (SketchReplay's mod-2^32 machinery), the weight
    // lookup, and the IN-TOKEN-ORDER logit fold — scores hash-gated at
    // 4 dp, not just decisions, so a one-bucket hash slip fails.
    Q("q_text_classifier", {
      val values = classifierWeights.zipWithIndex
        .map { case (w, i) => s"($i, CAST($w AS DOUBLE))" }.mkString(", ")
      val bucket = s"(${SketchReplay.murmur32("t", BigInt(42))})" +
        s" % ${classifierWeights.size}"
      s"""WITH w(i, wt) AS (VALUES $values),
         |tok AS (SELECT doc_id,
         |               list_filter(string_split_regex(trim(lower(text)),
         |                                              '\\s+'),
         |                           x0 -> x0 <> '') AS toks
         |        FROM documents),
         |tt AS (SELECT doc_id, unnest(toks) AS t,
         |              unnest(range(1, len(toks) + 1)) AS pos
         |       FROM tok),
         |tw AS (SELECT tt.doc_id, list(w.wt ORDER BY tt.pos) AS wts
         |       FROM tt JOIN w ON w.i = $bucket
         |       GROUP BY tt.doc_id),
         |lg AS (SELECT tok.doc_id,
         |              list_reduce(list_prepend(CAST($classifierBias AS DOUBLE),
         |                coalesce(tw.wts, CAST([] AS DOUBLE[]))),
         |                (a, b) -> a + b) AS z
         |       FROM tok LEFT JOIN tw USING (doc_id))
         |SELECT doc_id, round(z, 4) AS logit, z > 0 AS keep
         |FROM lg ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val z = graft.expressions.LinearTextScore
        .logitCol(col("text"), classifierWeightsPath)
      t(s, dir, "documents")
        .select(col("doc_id"), round4(z).as("logit"), (z > 0).as("keep"))
        .orderBy("doc_id")
    },

    // Distributed full-batch logistic-regression TRAINING (LogRegTrain):
    // 3 GD epochs over the whole corpus, label = (lang = 'en'), d = 64
    // hashed buckets. The oracle replays all three epochs unrolled —
    // per-doc in-token-order logit fold, sigmoid, MILLI-quantized
    // integer gradient sums (QSGD-style; re-syncs both engines each
    // epoch so cross-libm exp() ulps can't compound), and the fixed
    // IEEE weight-update sequence — then hash-compares the trained
    // model bit-for-bit (raw doubles, no rounding).
    Q("q_train_logreg",
      s"""$logregTrainPrefix
         |SELECT i, wt FROM w3
         |UNION ALL SELECT CAST(-1 AS BIGINT) AS i, b AS wt FROM b3
         |ORDER BY i""".stripMargin) { (s, dir) =>
      import graft.operators.LogRegTrain
      val docs = t(s, dir, "documents")
        .withColumn("y_en", coalesce(col("lang") === "en", lit(false)))
      val m = LogRegTrain.fit(docs, "text", "y_en",
        d = 64, epochs = 3, lr = 0.5)
      LogRegTrain.modelFrame(s, m).orderBy("i")
    },

    // Log-loss of the TRAINED model over the corpus — the eval leg of
    // the training loop, hash-gated: per-doc loss in integer MILLI-NATS
    // (the training oracle's own sigmoid granularity, so cross-libm
    // exp/ln ulps can't flip the rounding) summed as a Long; the oracle
    // extends the full 3-epoch training replay with one scoring pass.
    Q("q_eval_logloss",
      s"""$logregTrainPrefix,
         |zf AS (SELECT d.doc_id, d.y,
         |         list_reduce(list_prepend((SELECT b FROM b3),
         |             coalesce(x.wts, CAST([] AS DOUBLE[]))),
         |           (a, c) -> a + c) AS z
         |       FROM docs d LEFT JOIN
         |         (SELECT tt.doc_id, list(w.wt ORDER BY tt.pos) AS wts
         |          FROM tt JOIN w3 w ON w.i = tt.i
         |          GROUP BY tt.doc_id) x USING (doc_id)),
         |lossd AS (SELECT doc_id,
         |            CAST(round((-(y * ln(1.0 / (1.0 + exp(-z)) + 1e-12)
         |                  + (1.0 - y)
         |                    * ln(1.0 - 1.0 / (1.0 + exp(-z)) + 1e-12)))
         |                 * 1000.0) AS BIGINT) AS lm
         |          FROM zf)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(lm) AS BIGINT) AS loss_milli,
         |       round(sum(lm) / (count(*) * 1000.0), 4) AS mean_loss
         |FROM lossd""".stripMargin) { (s, dir) =>
      import graft.operators.LogRegTrain
      val docs = t(s, dir, "documents")
        .withColumn("y_en", coalesce(col("lang") === "en", lit(false)))
      val m = LogRegTrain.fit(docs, "text", "y_en",
        d = 64, epochs = 3, lr = 0.5)
      LogRegTrain.logLossMilli(docs, "text", "y_en", m)
    },
  ) ++ moreGates

  /** The full 3-epoch training replay through `w3`/`b3` — shared by the
    * train gate (which selects the model) and the log-loss gate (which
    * appends one scoring pass). */
  private lazy val logregTrainPrefix: String = {
      val bucket = s"(${SketchReplay.murmur32("t", BigInt(42))}) % 64"
      def epoch(k: Int) =
        s"""z$k AS (SELECT d.doc_id, d.y,
           |         list_reduce(list_prepend((SELECT b FROM b$k),
           |             coalesce(x.wts, CAST([] AS DOUBLE[]))),
           |           (a, c) -> a + c) AS z
           |       FROM docs d LEFT JOIN
           |         (SELECT tt.doc_id, list(w.wt ORDER BY tt.pos) AS wts
           |          FROM tt JOIN w$k w ON w.i = tt.i
           |          GROUP BY tt.doc_id) x USING (doc_id)),
           |g$k AS (SELECT doc_id,
           |         CAST(round((1.0 / (1.0 + exp(-z)) - y) * 1000)
           |              AS BIGINT) AS gm
           |       FROM z$k),
           |s$k AS (SELECT tt.i, CAST(sum(g.gm) AS BIGINT) AS gs
           |        FROM tt JOIN g$k g USING (doc_id) GROUP BY tt.i),
           |w${k + 1}(i, wt) AS (SELECT w.i,
           |         w.wt - 0.5 * ((CAST(coalesce(s.gs, 0) AS DOUBLE)
           |             / 1000.0) / (SELECT nd FROM meta))
           |       FROM w$k w LEFT JOIN s$k s USING (i)),
           |b${k + 1}(b) AS (SELECT b - 0.5 * (((SELECT
           |             CAST(coalesce(sum(gm), 0) AS DOUBLE) FROM g$k)
           |             / 1000.0) / (SELECT nd FROM meta))
           |       FROM b$k)""".stripMargin
      s"""WITH docs AS (
         |  SELECT doc_id,
         |         CAST(coalesce(lang = 'en', FALSE) AS DOUBLE) AS y,
         |         list_filter(string_split_regex(trim(lower(text)),
         |                                        '\\s+'),
         |                     x0 -> x0 <> '') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |tt0 AS (SELECT doc_id, unnest(toks) AS t,
         |               unnest(range(1, len(toks) + 1)) AS pos FROM docs),
         |tt AS (SELECT doc_id, pos, CAST($bucket AS BIGINT) AS i FROM tt0),
         |meta AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM docs),
         |w0(i, wt) AS (SELECT CAST(r.i AS BIGINT), CAST(0.0 AS DOUBLE)
         |              FROM range(0, 64) r(i)),
         |b0(b) AS (SELECT CAST(0.0 AS DOUBLE)),
         |${epoch(0)},
         |${epoch(1)},
         |${epoch(2)}""".stripMargin
  }

  private def moreGates: Seq[Q] = Seq(

    // Alternating large-star/small-star components (Kiveris et al.) on a
    // LONG-DIAMETER graph: two planted chains of ~90 and ~60 hops —
    // far beyond label propagation's O(diameter) budget (canonicalize
    // aborts at maxIter=20 on these; DedupSpec pins that) — must fully
    // collapse in O(log n) rounds. Same recursive-CTE min-reachable
    // oracle as q_dedup_components, so the two operators are held to the
    // identical transitive-closure contract.
    Q("q_dedup_components_deep",
      """WITH RECURSIVE
        |edges AS (SELECT doc_id AS id1, doc_id + 1 AS id2
        |          FROM documents WHERE doc_id < 90
        |          UNION ALL
        |          SELECT doc_id, doc_id + 1
        |          FROM documents WHERE doc_id >= 200 AND doc_id < 260),
        |nodes AS (SELECT id1 AS id FROM edges UNION SELECT id2 FROM edges),
        |sym AS (SELECT id1 AS a, id2 AS b FROM edges
        |        UNION SELECT id2, id1 FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id)
        |SELECT id, min(r) AS canonical FROM reach GROUP BY id
        |ORDER BY id""".stripMargin) { (s, dir) =>
      val base = t(s, dir, "documents").select(col("doc_id"))
      val edges = base.where(col("doc_id") < 90)
        .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2"))
        .union(base.where(col("doc_id") >= 200 && col("doc_id") < 260)
          .select(col("doc_id").as("id1"), (col("doc_id") + 1).as("id2")))
      graft.operators.ConnectedComponents.canonicalizeDeep(edges)
        .orderBy("id")
    },

    // Rabin-Karp rolling-hash fingerprint (custom codegen'd expression,
    // 2^61-1 modulus) — the content-defined-chunking primitive. Oracled:
    // DuckDB replays the polynomial fold with HUGEINT intermediates
    // (h*257 < 2^69 needs 128-bit) via list_reduce. The Spark expression
    // folds UTF-8 BYTES while ord() folds code points — identical on this
    // all-ASCII corpus (asserted for every sf dir by the gate itself:
    // any non-ASCII text would hash-mismatch).
    Q("q_text_rolling_hash",
      """SELECT doc_id,
        |  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |         list_transform(range(1, length(text) + 1),
        |                        i -> CAST(ord(text[i]) AS HUGEINT))),
        |       (h, c) -> (h * 257 + c) % 2305843009213693951) AS BIGINT)
        |    AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .selectExpr("doc_id", "rolling_hash64(text) AS fingerprint")
        .orderBy("doc_id")
    },

    // N-gram novelty / memorization-risk profile: per document, how many
    // of its distinct 5-gram word shingles also occur in OTHER documents
    // (corpus shingle frequency ≥ 2) — high overlap marks boilerplate or
    // memorization-prone text that dedup thresholds didn't catch. One
    // scan-local shingle projection, one shingle-frequency aggregation
    // (map-side combinable), one join back — the tf-idf shape. Gate is
    // integer-exact end to end: counts, a floor'd permille ratio (IEEE
    // division of exact ints + exact floor), and the ≥50% flag as a
    // cross-multiplied integer comparison — no rounding step anywhere.
    Q("q_text_novelty", {
      val sh = sqlShingles(5)
      s"""WITH sh AS (SELECT doc_id, unnest($sh) AS shingle
         |            FROM documents),
         |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |j AS (SELECT s.doc_id, d.df FROM sh s JOIN df d USING (shingle))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(count(*) FILTER (WHERE df >= 2) AS BIGINT)
         |         AS n_shared,
         |       CAST(floor(count(*) FILTER (WHERE df >= 2) * 1000.0
         |                  / count(*)) AS BIGINT) AS shared_permille,
         |       count(*) FILTER (WHERE df >= 2) * 1000 >= 500 * count(*)
         |         AS high_overlap
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      import graft.functions.TextFunctions
      // staged: the shingle explode feeds BOTH the frequency aggregation
      // and the join probe — un-persisted, Spark re-derives the
      // tokenize+explode for each, i.e. two full corpus scans at 100 TB
      // the repartition spreads the shingle derivation: one parquet
      // split would otherwise run the whole (interpreted-HOF) shingle
      // scan on a single core before the cache materializes
      val sh = graft.operators.OperatorCaches.cache(
        t(s, dir, "documents")
          .repartition(s.sparkContext.defaultParallelism)
          .select(col("doc_id"),
            explode(TextFunctions.shingles(col("text"), 5)).as("shingle")))
      val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      sh.join(df, "shingle")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          count(when(col("df") >= 2, 1)).as("n_shared"))
        .select(col("doc_id"), col("n_shingles"), col("n_shared"),
          floor(col("n_shared") * lit(1000.0) / col("n_shingles"))
            .as("shared_permille"),
          (col("n_shared") * 1000 >= col("n_shingles") * 500)
            .as("high_overlap"))
        .orderBy("doc_id")
    },

    // TF-IDF: term frequency × inverse document frequency, top term per
    // document. One explode (scan-local), one (term) aggregation for
    // document frequencies, broadcast back — the canonical text-weighting
    // pipeline, fully oracled (scores rounded before the top-1 pick; term
    // string breaks ties).
    Q("q_text_tfidf",
      """WITH tok AS (SELECT doc_id,
        |               unnest(string_split_regex(trim(lower(text)), '\s+'))
        |                 AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |                  round(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0),
        |                        4) AS tfidf
        |           FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |             ORDER BY tfidf DESC, term) AS rn FROM scored)
        |SELECT doc_id, term AS top_term, tfidf FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("term"))
      // tf already holds one row per (doc, term) — document frequency is a
      // plain count over it, saving a second tokenize+explode pass AND
      // turning count(DISTINCT doc_id) into a cheap count
      val tf = graft.operators.OperatorCaches.cache(
        tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.count() // corpus size: one scalar, computed once
      // no broadcast hint on the df join: the vocabulary of a 100 TB corpus
      // does not fit the driver — AQE broadcasts at runtime when it IS
      // small, and falls back to a shuffle join when it isn't
      val scored = tf.join(df, Seq("term"))
        .withColumn("tfidf",
          round4(col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0)))
      // top-1 per doc as a hash aggregate, not a window: min_by on the
      // (-tfidf, term) struct = max tfidf with min-term tiebreak (scores
      // are pre-rounded, so ties are exact in both engines), no per-group
      // sort. tfidf >= 1 always, so -tfidf never hits the -0.0 edge.
      scored.groupBy("doc_id")
        .agg(min_by(struct(col("term"), col("tfidf")),
          struct((-col("tfidf")).as("neg"), col("term"))).as("top"))
        .select(col("doc_id"), col("top.term").as("top_term"),
          col("top.tfidf").as("tfidf"))
        .orderBy("doc_id")
    },

    // Edit-distance near-dup scoring on a bounded pair set: classic DP
    // levenshtein — identical algorithm in both engines, exact match.
    Q("q_text_editdist",
      """WITH d AS (SELECT doc_id, substr(text, 1, 60) AS frag
        |           FROM documents WHERE doc_id < 40)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |       levenshtein(a.frag, b.frag) AS dist
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      val d = t(s, dir, "documents").where(col("doc_id") < 40)
        .select(col("doc_id"), substring(col("text"), 1, 60).as("frag"))
      val a = d.select(col("doc_id").as("id1"), col("frag").as("f1"))
      val b = d.select(col("doc_id").as("id2"), col("frag").as("f2"))
      a.join(b, col("id1") < col("id2"))
        .select(col("id1"), col("id2"),
          levenshtein(col("f1"), col("f2")).as("dist"))
        .orderBy("id1", "id2")
    },

    // PIVOT / conditional aggregation: per-source event-type counts as
    // columns (oracled via FILTER aggregates — identical semantics).
    Q("q_pivot",
      """SELECT user_id % 10 AS user_bucket,
        |       count(*) FILTER (WHERE event_type = 'click') AS click,
        |       count(*) FILTER (WHERE event_type = 'view') AS view,
        |       count(*) FILTER (WHERE event_type = 'purchase') AS purchase
        |FROM events GROUP BY user_bucket ORDER BY user_bucket""".stripMargin) {
      (s, dir) =>
        t(s, dir, "events")
          .groupBy((col("user_id") % 10).as("user_bucket"))
          .pivot("event_type", Seq("click", "view", "purchase"))
          .count()
          .na.fill(0L, Seq("click", "view", "purchase"))
          .orderBy("user_bucket")
    },

    // BM25 lexical retrieval (operators.Bm25): top-10 documents for three
    // short queries. The corpus is never indexed wholesale — query terms
    // broadcast onto the exploded posting stream, so tf/df/scoring run
    // over pruned postings only. Determinism: queries are <= 2 terms
    // (2-addend IEEE sums are order-exact), scores round to 4 dp BEFORE
    // ranking, doc id breaks ties; the oracle replays idf, saturation,
    // and length normalization with the same association order.
    Q("q_text_bm25",
      s"""WITH q(query_id, term) AS (VALUES
         |       (1, 'spark'), (1, 'window'),
         |       (2, 'customer'), (2, 'table'), (3, 'vector')),
         |tk AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |st AS (SELECT count(*) AS n_docs, sum(len(toks)) AS n_tokens
         |       FROM tk),
         |post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
         |         FROM tk),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM post
         |       WHERE term IN (SELECT DISTINCT term FROM q)
         |       GROUP BY doc_id, dl, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |ts AS (SELECT tf.doc_id, tf.term,
         |              ln(1.0 + (CAST(st.n_docs AS DOUBLE) - df.df + 0.5)
         |                       / (df.df + 0.5))
         |              * tf.tf * (1.2 + 1.0)
         |              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
         |                   / (CAST(st.n_tokens AS DOUBLE) / st.n_docs)))
         |                AS ts
         |       FROM tf JOIN df USING (term) CROSS JOIN st),
         |sc AS (SELECT q.query_id, ts.doc_id, round(sum(ts.ts), 4) AS score
         |       FROM ts JOIN q USING (term) GROUP BY q.query_id, ts.doc_id),
         |rk AS (SELECT query_id, doc_id, score, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |       FROM sc)
         |SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val queries = Seq((1L, "spark"), (1L, "window"),
        (2L, "customer"), (2L, "table"), (3L, "vector"))
        .toDF("query_id", "term")
      graft.operators.Bm25.topK(t(s, dir, "documents"), queries, k = 10)
        .orderBy("query_id", "rank")
    },

    // BM25-index deletion lifecycle WITH COMPACTION DEBT
    // (Bm25.deleteFromIndex/vacuumIndex on the FUSED fold∖ledger debt
    // path): right-to-be-forgotten for a SCORED index — the subtle
    // half is the statistics: n_docs, avgdl, and df must all be
    // computed over LIVE documents (base ∪ live batch dirs ∖ ledger
    // pre-vacuum), so post-delete scores equal a fresh index over the
    // filtered corpus EXACTLY (corpus constants derive from the
    // doclens dataset anti-joined against the same ledger that masks
    // postings — no stored-scalar staleness). The gate lands a
    // re-ingest batch (docs 0-29 at +500000) as a LIVE streaming batch
    // dir and tombstones the base formula set (doc_id % 11 = 4 AND
    // doc_id < 1100) PLUS its echo in the batch (streamed-then-deleted
    // docs that die before ever being folded); the vacuum then fuses
    // fold and purge into one staged rewrite per dataset. Tombstoned
    // and vacuumed phases are hash-matched against ONE filtered
    // union-corpus BM25 replay. The clone is private per invocation,
    // so the gate is idempotent.
    Q("q_text_bm25_index_delete",
      s"""WITH q(query_id, term) AS (VALUES
         |       (1, 'spark'), (1, 'window'),
         |       (2, 'customer'), (2, 'table'), (3, 'vector')),
         |tk0 AS (SELECT doc_id, $sqlToks AS toks FROM documents
         |        UNION ALL
         |        SELECT doc_id + 500000 AS doc_id, $sqlToks AS toks
         |        FROM documents WHERE doc_id < 30),
         |tk AS (SELECT doc_id, toks FROM tk0
         |       WHERE NOT (doc_id % 11 = 4 AND doc_id < 1100)
         |         AND NOT (doc_id >= 500000
         |                  AND (doc_id - 500000) % 11 = 4)),
         |st AS (SELECT count(*) AS n_docs, sum(len(toks)) AS n_tokens
         |       FROM tk),
         |post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
         |         FROM tk),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM post
         |       WHERE term IN (SELECT DISTINCT term FROM q)
         |       GROUP BY doc_id, dl, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |ts AS (SELECT tf.doc_id, tf.term,
         |              ln(1.0 + (CAST(st.n_docs AS DOUBLE) - df.df + 0.5)
         |                       / (df.df + 0.5))
         |              * tf.tf * (1.2 + 1.0)
         |              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
         |                   / (CAST(st.n_tokens AS DOUBLE) / st.n_docs)))
         |                AS ts
         |       FROM tf JOIN df USING (term) CROSS JOIN st),
         |sc AS (SELECT q.query_id, ts.doc_id, round(sum(ts.ts), 4) AS score
         |       FROM ts JOIN q USING (term) GROUP BY q.query_id, ts.doc_id),
         |rk AS (SELECT query_id, doc_id, score, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |       FROM sc)
         |SELECT pp.phase, query_id, doc_id, score, rank
         |FROM rk CROSS JOIN (SELECT unnest(['tombstoned', 'vacuumed'])
         |                    AS phase) pp
         |WHERE rank <= 10
         |ORDER BY phase, query_id, rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxDir = IndexFixtures.cloned(s, dir, "bm25")(buildBm25(s, dir))
      // plant COMPACTION DEBT: the re-ingest batch lands as a LIVE
      // streaming batch dir (appendBatchDir — deliberately not
      // folded), so the vacuum below takes the fused fold∖ledger path
      val batch = docs.where(col("doc_id") < 30)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      graft.operators.Bm25.appendBatchDir(batch, idxDir, "debt", 0L)
      graft.operators.Bm25.deleteFromIndex(
        docs.where(col("doc_id") % 11 === 4 && col("doc_id") < 1100)
          .select("doc_id")
          .union(batch
            .where((col("doc_id") - 500000) % 11 === 4)
            .select("doc_id")), idxDir)
      val queries = Seq((1L, "spark"), (1L, "window"),
        (2L, "customer"), (2L, "table"), (3L, "vector"))
        .toDF("query_id", "term")
      def search(phase: String) =
        graft.operators.Bm25.searchIndex(s, idxDir, queries, k = 10)
          .withColumn("phase", lit(phase))
      val before = graft.operators.OperatorCaches.checkpointed(
        search("tombstoned"))
      graft.operators.Bm25.vacuumIndex(s, idxDir)
      before.unionByName(search("vacuumed"))
        .select("phase", "query_id", "doc_id", "score", "rank")
        .orderBy("phase", "query_id", "rank")
    },

    // BM25-index APPEND lifecycle (Bm25.appendToIndex) — the other half
    // of the index's statistics discipline: where deletion must correct
    // n_docs/avgdl/df downward through the ledger anti-join
    // (q_text_bm25_index_delete), an append must correct them UPWARD —
    // and because searchIndex derives all three from the doclens/postings
    // datasets at search time, appending a batch's rows corrects every
    // statistic exactly, no stored scalar to go stale. The batch
    // re-ingests docs 0-29 under new ids (+500000); the oracle replays
    // BM25 over the UNION corpus, so the appended docs must shift idf and
    // length normalization for EVERY result row, not just add new rows.
    // O(batch): the standing corpus is never re-tokenized. writeIndex's
    // rebuild makes the gate idempotent per invocation.
    Q("q_text_bm25_index_append",
      s"""WITH q(query_id, term) AS (VALUES
         |       (1, 'spark'), (1, 'window'),
         |       (2, 'customer'), (2, 'table'), (3, 'vector')),
         |tk AS (SELECT doc_id, $sqlToks AS toks FROM documents
         |       UNION ALL
         |       SELECT doc_id + 500000 AS doc_id, $sqlToks AS toks
         |       FROM documents WHERE doc_id < 30),
         |st AS (SELECT count(*) AS n_docs, sum(len(toks)) AS n_tokens
         |       FROM tk),
         |post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
         |         FROM tk),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM post
         |       WHERE term IN (SELECT DISTINCT term FROM q)
         |       GROUP BY doc_id, dl, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |ts AS (SELECT tf.doc_id, tf.term,
         |              ln(1.0 + (CAST(st.n_docs AS DOUBLE) - df.df + 0.5)
         |                       / (df.df + 0.5))
         |              * tf.tf * (1.2 + 1.0)
         |              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
         |                   / (CAST(st.n_tokens AS DOUBLE) / st.n_docs)))
         |                AS ts
         |       FROM tf JOIN df USING (term) CROSS JOIN st),
         |sc AS (SELECT q.query_id, ts.doc_id, round(sum(ts.ts), 4) AS score
         |       FROM ts JOIN q USING (term) GROUP BY q.query_id, ts.doc_id),
         |rk AS (SELECT query_id, doc_id, score, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |       FROM sc)
         |SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxDir = IndexFixtures.cloned(s, dir, "bm25")(buildBm25(s, dir))
      graft.operators.Bm25.appendToIndex(
        docs.where(col("doc_id") < 30)
          .select((col("doc_id") + 500000).as("doc_id"), col("text")),
        idxDir)
      val queries = Seq((1L, "spark"), (1L, "window"),
        (2L, "customer"), (2L, "table"), (3L, "vector"))
        .toDF("query_id", "term")
      graft.operators.Bm25.searchIndex(s, idxDir, queries, k = 10)
        .orderBy("query_id", "rank")
    },

    // STREAMING BM25-index ingestion through the driver hash
    // (EventStreams.indexSink / Bm25.appendBatchDir): two REAL
    // one-shot foreachBatch queries land the q_text_bm25_index_append
    // batch (split 500000-14 / 500015-29) in batch-scoped directories
    // carrying BOTH datasets — postings AND doclens — so each batch
    // corrects n_docs/avgdl/df the moment it commits (exactly-once by
    // placement; the in-place append would double-count under replay).
    // The post-stream search must hash-match the SAME oracle as the
    // batch append: scores over the union corpus, batch boundaries
    // invisible. The index dir is wiped first, making the gate
    // idempotent per invocation.
    Q("q_stream_bm25_index_replay",
      s"""WITH q(query_id, term) AS (VALUES
         |       (1, 'spark'), (1, 'window'),
         |       (2, 'customer'), (2, 'table'), (3, 'vector')),
         |tk AS (SELECT doc_id, $sqlToks AS toks FROM documents
         |       UNION ALL
         |       SELECT doc_id + 500000 AS doc_id, $sqlToks AS toks
         |       FROM documents WHERE doc_id < 30),
         |st AS (SELECT count(*) AS n_docs, sum(len(toks)) AS n_tokens
         |       FROM tk),
         |post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
         |         FROM tk),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM post
         |       WHERE term IN (SELECT DISTINCT term FROM q)
         |       GROUP BY doc_id, dl, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |ts AS (SELECT tf.doc_id, tf.term,
         |              ln(1.0 + (CAST(st.n_docs AS DOUBLE) - df.df + 0.5)
         |                       / (df.df + 0.5))
         |              * tf.tf * (1.2 + 1.0)
         |              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
         |                   / (CAST(st.n_tokens AS DOUBLE) / st.n_docs)))
         |                AS ts
         |       FROM tf JOIN df USING (term) CROSS JOIN st),
         |sc AS (SELECT q.query_id, ts.doc_id, round(sum(ts.ts), 4) AS score
         |       FROM ts JOIN q USING (term) GROUP BY q.query_id, ts.doc_id),
         |rk AS (SELECT query_id, doc_id, score, row_number() OVER (
         |         PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
         |       FROM sc)
         |SELECT query_id, doc_id, score, rank FROM rk WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_bm25_index_stream",
        dir.replace('/', '_').replace(':', '_')).toString
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
      graft.operators.Bm25.writeIndex(docs, idxDir)
      val batch = docs.where(col("doc_id") < 30)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
      def feed(pred: org.apache.spark.sql.Column, tag: String): Unit = {
        // bounded fixture feed: the batch is 30 rows at any sf
        val rows = batch.where(pred).as[(Long, String)].collect().toSeq
        val src = MemoryStream[(Long, String)]
        src.addData(rows: _*)
        graft.streaming.EventStreams.indexSink(graft.operators.Bm25,
            src.toDF().toDF("doc_id", "text"), idxDir,
            tagOverride = Some(tag))
          .awaitTermination()
      }
      feed(col("doc_id") < 500015, "crawl-a")
      feed(col("doc_id") >= 500015, "crawl-b")
      val queries = Seq((1L, "spark"), (1L, "window"),
        (2L, "customer"), (2L, "table"), (3L, "vector"))
        .toDF("query_id", "term")
      graft.operators.Bm25.searchIndex(s, idxDir, queries, k = 10)
        .orderBy("query_id", "rank")
    },

    // Positional phrase search (operators.PhraseSearch): exact
    // consecutive-token matching — the retrieval op a bag-of-words index
    // cannot express and the decontamination primitive ("does this
    // benchmark sentence appear verbatim"). Phrases are the first three
    // tokens of three fixed documents, derived DISTRIBUTEDLY on both
    // sides (no driver collect); each must at minimum hit its source
    // doc, and overlapping occurrences count individually. One broadcast
    // term join + start-vote aggregation regardless of phrase length —
    // never a k-way self-join chain. The oracle replays every candidate
    // start with a nested-lambda window compare.
    Q("q_text_phrase",
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS ts FROM documents),
         |ph AS (SELECT doc_id AS phrase_id, ts[1:3] AS p FROM toks
         |       WHERE doc_id IN (3, 7, 11)),
         |m AS (SELECT ph.phrase_id, t.doc_id,
         |        list_filter(range(1, len(t.ts) - len(ph.p) + 2),
         |          i -> len(list_filter(range(1, len(ph.p) + 1),
         |                 j -> t.ts[i + j - 1] = ph.p[j])) = len(ph.p))
         |          AS starts
         |      FROM toks t CROSS JOIN ph)
         |SELECT phrase_id, doc_id, CAST(len(starts) AS BIGINT) AS n_hits,
         |       CAST(starts[1] AS BIGINT) AS first_pos
         |FROM m WHERE len(starts) > 0
         |ORDER BY phrase_id, doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val phrases = docs.where(col("doc_id").isin(3L, 7L, 11L))
        .select(col("doc_id").as("phrase_id"),
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3)
            .as("terms"))
      graft.operators.PhraseSearch.phraseHits(docs, phrases)
        .orderBy("phrase_id", "doc_id")
    },

    // The PERSISTED phrase index through the driver hash
    // (PhraseSearch.writeIndex/searchIndex): positional postings land in
    // a term-bucket-partitioned layout ONCE, then the phrase lookup reads
    // only its terms' bucket directories — the decontamination shape a
    // 100 TB corpus needs ("sweep against this benchmark suite" must not
    // re-tokenize the corpus per sweep). Same phrase fixture and the SAME
    // oracle as q_text_phrase, so the on-disk round trip (partitioned
    // write, bucket-prune read, 1-based position re-basing) must be
    // result-identical to the scan path, row for row. writeIndex's
    // overwrite makes the gate idempotent per invocation.
    Q("q_text_phrase_index",
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS ts FROM documents),
         |ph AS (SELECT doc_id AS phrase_id, ts[1:3] AS p FROM toks
         |       WHERE doc_id IN (3, 7, 11)),
         |m AS (SELECT ph.phrase_id, t.doc_id,
         |        list_filter(range(1, len(t.ts) - len(ph.p) + 2),
         |          i -> len(list_filter(range(1, len(ph.p) + 1),
         |                 j -> t.ts[i + j - 1] = ph.p[j])) = len(ph.p))
         |          AS starts
         |      FROM toks t CROSS JOIN ph)
         |SELECT phrase_id, doc_id, CAST(len(starts) AS BIGINT) AS n_hits,
         |       CAST(starts[1] AS BIGINT) AS first_pos
         |FROM m WHERE len(starts) > 0
         |ORDER BY phrase_id, doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      // search-only: reads the shared clean-index snapshot directly
      val idxDir = IndexFixtures.shared(s, dir, "phrase")(
        buildPhrase(s, dir))
      val phrases = docs.where(col("doc_id").isin(3L, 7L, 11L))
        .select(col("doc_id").as("phrase_id"),
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3)
            .as("terms"))
      graft.operators.PhraseSearch.searchIndex(s, idxDir, phrases)
        .orderBy("phrase_id", "doc_id")
    },

    // Incremental phrase-index growth (PhraseSearch.appendToIndex) —
    // the nightly-crawl shape: the standing corpus is indexed once,
    // a batch of 20 synthetic docs (each opening with doc 3's first 80
    // chars, so they MUST surface for doc 3's phrase) appends as extra
    // files inside the same term-bucket directories, and the search
    // must see standing + appended hits through one partition-pruned
    // read. Oracle replays the phrase scan over the full augmented
    // corpus — append-path postings must be indistinguishable from a
    // full rebuild. writeIndex's overwrite makes the gate idempotent
    // per invocation (bench reps never double-append).
    Q("q_text_phrase_index_append",
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT d.doc_id + 200000,
         |         substr(s.text, 1, 80) || ' batch tail ' ||
         |           CAST(d.doc_id AS VARCHAR)
         |  FROM documents d CROSS JOIN (SELECT text FROM documents
         |                               WHERE doc_id = 3) s
         |  WHERE d.doc_id < 20),
         |toks AS (SELECT doc_id, $sqlToks AS ts FROM aug),
         |ph AS (SELECT doc_id AS phrase_id, ts[1:3] AS p FROM toks
         |       WHERE doc_id IN (3, 7, 11)),
         |m AS (SELECT ph.phrase_id, t.doc_id,
         |        list_filter(range(1, len(t.ts) - len(ph.p) + 2),
         |          i -> len(list_filter(range(1, len(ph.p) + 1),
         |                 j -> t.ts[i + j - 1] = ph.p[j])) = len(ph.p))
         |          AS starts
         |      FROM toks t CROSS JOIN ph)
         |SELECT phrase_id, doc_id, CAST(len(starts) AS BIGINT) AS n_hits,
         |       CAST(starts[1] AS BIGINT) AS first_pos
         |FROM m WHERE len(starts) > 0
         |ORDER BY phrase_id, doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val idxDir = IndexFixtures.cloned(s, dir, "phrase")(
        buildPhrase(s, dir))
      val opener = docs.where(col("doc_id") === 3)
        .select(substring(col("text"), 1, 80).as("opener"))
      val batch = docs.where(col("doc_id") < 20)
        .crossJoin(broadcast(opener))
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("opener"), lit(" batch tail "),
            col("doc_id").cast("string")).as("text"))
      graft.operators.PhraseSearch.appendToIndex(batch, idxDir)
      val phrases = docs.where(col("doc_id").isin(3L, 7L, 11L))
        .select(col("doc_id").as("phrase_id"),
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3)
            .as("terms"))
      graft.operators.PhraseSearch.searchIndex(s, idxDir, phrases)
        .orderBy("phrase_id", "doc_id")
    },

    // STREAMING phrase-index ingestion through the driver hash
    // (EventStreams.indexSink / PhraseSearch.appendBatchDir): two
    // REAL one-shot foreachBatch queries land the q_text_phrase_index_
    // append batch (split 200000-9 / 200010-19) in batch-scoped
    // directories under the index — overwrite by (tag, batchId),
    // exactly-once by placement, the in-place append would double-count
    // under replay — and the post-stream search must hash-match the
    // SAME oracle as the batch append: batch boundaries must be
    // invisible. The index dir is wiped first, making the gate
    // idempotent per invocation.
    Q("q_stream_phrase_index_replay",
      s"""WITH aug AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT d.doc_id + 200000,
         |         substr(s.text, 1, 80) || ' batch tail ' ||
         |           CAST(d.doc_id AS VARCHAR)
         |  FROM documents d CROSS JOIN (SELECT text FROM documents
         |                               WHERE doc_id = 3) s
         |  WHERE d.doc_id < 20),
         |toks AS (SELECT doc_id, $sqlToks AS ts FROM aug),
         |ph AS (SELECT doc_id AS phrase_id, ts[1:3] AS p FROM toks
         |       WHERE doc_id IN (3, 7, 11)),
         |m AS (SELECT ph.phrase_id, t.doc_id,
         |        list_filter(range(1, len(t.ts) - len(ph.p) + 2),
         |          i -> len(list_filter(range(1, len(ph.p) + 1),
         |                 j -> t.ts[i + j - 1] = ph.p[j])) = len(ph.p))
         |          AS starts
         |      FROM toks t CROSS JOIN ph)
         |SELECT phrase_id, doc_id, CAST(len(starts) AS BIGINT) AS n_hits,
         |       CAST(starts[1] AS BIGINT) AS first_pos
         |FROM m WHERE len(starts) > 0
         |ORDER BY phrase_id, doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_phrase_index_stream",
        dir.replace('/', '_').replace(':', '_')).toString
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
      graft.operators.PhraseSearch.writeIndex(docs, idxDir)
      val opener = docs.where(col("doc_id") === 3)
        .select(substring(col("text"), 1, 80).as("opener"))
      val batch = docs.where(col("doc_id") < 20)
        .crossJoin(broadcast(opener))
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("opener"), lit(" batch tail "),
            col("doc_id").cast("string")).as("text"))
      def feed(pred: org.apache.spark.sql.Column, tag: String): Unit = {
        // bounded fixture feed: the batch is 20 rows at any sf
        val rows = batch.where(pred)
          .as[(Long, String)].collect().toSeq
        val src = MemoryStream[(Long, String)]
        src.addData(rows: _*)
        graft.streaming.EventStreams.indexSink(graft.operators.PhraseSearch,
            src.toDF().toDF("doc_id", "text"), idxDir,
            tagOverride = Some(tag))
          .awaitTermination()
      }
      feed(col("doc_id") < 200010, "crawl-a")
      feed(col("doc_id") >= 200010, "crawl-b")
      val phrases = docs.where(col("doc_id").isin(3L, 7L, 11L))
        .select(col("doc_id").as("phrase_id"),
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3)
            .as("terms"))
      graft.operators.PhraseSearch.searchIndex(s, idxDir, phrases)
        .orderBy("phrase_id", "doc_id")
    },

    // Phrase-index deletion lifecycle WITH COMPACTION DEBT
    // (PhraseSearch.deleteFromIndex / vacuumIndex — right-to-be-
    // forgotten for TEXT indexes, the twin of q_ann_index_delete,
    // exercised on the FUSED fold∖ledger debt path): clone, land a
    // re-ingest batch (docs 0-19 at +200000) as a LIVE streaming batch
    // dir, tombstone the formula set (doc_id % 13 = 2 AND
    // doc_id < 1300, id-bounded so the set is fixed-size at any sf)
    // PLUS its echo in the batch (streamed-then-deleted docs), search;
    // then VACUUM — the purge fuses into the fold, one staged rewrite
    // covering base ∪ batch ∖ ledger — and search again. Both phases
    // must hash-match the same deleted-filtered union replay (the
    // surviving batch copies of docs 3, 7, 11 surface as extra phrase
    // hits) — the ledger mask over live batch dirs, the fold, and the
    // purge pinned by one oracle. The clone is private per invocation,
    // so the gate is idempotent.
    Q("q_text_phrase_index_delete",
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS ts FROM documents
         |              UNION ALL
         |              SELECT doc_id + 200000 AS doc_id, $sqlToks AS ts
         |              FROM documents WHERE doc_id < 20),
         |ph AS (SELECT doc_id AS phrase_id, ts[1:3] AS p FROM toks
         |       WHERE doc_id IN (3, 7, 11)),
         |live AS (SELECT doc_id, ts FROM toks
         |         WHERE NOT (doc_id % 13 = 2 AND doc_id < 1300)
         |           AND NOT (doc_id >= 200000
         |                    AND (doc_id - 200000) % 13 = 2)),
         |m AS (SELECT ph.phrase_id, t.doc_id,
         |        list_filter(range(1, len(t.ts) - len(ph.p) + 2),
         |          i -> len(list_filter(range(1, len(ph.p) + 1),
         |                 j -> t.ts[i + j - 1] = ph.p[j])) = len(ph.p))
         |          AS starts
         |      FROM live t CROSS JOIN ph)
         |SELECT pp.phase, phrase_id, doc_id,
         |       CAST(len(starts) AS BIGINT) AS n_hits,
         |       CAST(starts[1] AS BIGINT) AS first_pos
         |FROM m CROSS JOIN (SELECT unnest(['tombstoned', 'vacuumed'])
         |                   AS phase) pp
         |WHERE len(starts) > 0
         |ORDER BY phase, phrase_id, doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val idxDir = IndexFixtures.cloned(s, dir, "phrase")(
        buildPhrase(s, dir))
      // plant COMPACTION DEBT: the re-ingest batch lands as a LIVE
      // streaming batch dir (appendBatchDir — deliberately not
      // folded), so the vacuum below takes the fused fold∖ledger path
      val batch = docs.where(col("doc_id") < 20)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      graft.operators.PhraseSearch.appendBatchDir(batch, idxDir,
        "debt", 0L)
      graft.operators.PhraseSearch.deleteFromIndex(
        docs.where(col("doc_id") % 13 === 2 && col("doc_id") < 1300)
          .select("doc_id")
          .union(batch
            .where((col("doc_id") - 200000) % 13 === 2)
            .select("doc_id")), idxDir)
      val phrases = docs.where(col("doc_id").isin(3L, 7L, 11L))
        .select(col("doc_id").as("phrase_id"),
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3)
            .as("terms"))
      def search(phase: String) =
        graft.operators.PhraseSearch.searchIndex(s, idxDir, phrases)
          .withColumn("phase", lit(phase))
      val before = graft.operators.OperatorCaches.checkpointed(
        search("tombstoned"))
      graft.operators.PhraseSearch.vacuumIndex(s, idxDir)
      before.unionByName(search("vacuumed"))
        .select("phase", "phrase_id", "doc_id", "n_hits", "first_pos")
        .orderBy("phase", "phrase_id", "doc_id")
    },

    // STREAMING phrase-index deletion through the driver hash
    // (EventStreams.tombstoneSink — the text twin of
    // q_stream_delete_replay): two one-shot foreachBatch queries land
    // doc-id delete requests in batch-scoped ledger datasets (overwrite
    // by (tag, batchId) — exactly-once by placement), splitting the
    // formula set (doc_id % 13 = 2 AND doc_id < 1300) across streams;
    // the post-stream search must hash-match the single-phase
    // deleted-filtered phrase replay, so ledger batch boundaries must
    // not be visible. The index dir is wiped first, making the gate
    // idempotent per invocation.
    Q("q_stream_phrase_delete_replay",
      s"""WITH toks AS (SELECT doc_id, $sqlToks AS ts FROM documents),
         |ph AS (SELECT doc_id AS phrase_id, ts[1:3] AS p FROM toks
         |       WHERE doc_id IN (3, 7, 11)),
         |live AS (SELECT doc_id, ts FROM toks
         |         WHERE NOT (doc_id % 13 = 2 AND doc_id < 1300)),
         |m AS (SELECT ph.phrase_id, t.doc_id,
         |        list_filter(range(1, len(t.ts) - len(ph.p) + 2),
         |          i -> len(list_filter(range(1, len(ph.p) + 1),
         |                 j -> t.ts[i + j - 1] = ph.p[j])) = len(ph.p))
         |          AS starts
         |      FROM live t CROSS JOIN ph)
         |SELECT phrase_id, doc_id, CAST(len(starts) AS BIGINT) AS n_hits,
         |       CAST(starts[1] AS BIGINT) AS first_pos
         |FROM m WHERE len(starts) > 0
         |ORDER BY phrase_id, doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = t(s, dir, "documents")
      val idxDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_phrase_index_streamdel",
        dir.replace('/', '_').replace(':', '_')).toString
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(idxDir), true)
      graft.operators.PhraseSearch.writeIndex(docs, idxDir)
      def feed(pred: org.apache.spark.sql.Column, tag: String): Unit = {
        // id-bounded fixture feed (fixed-size at any sf); the oracle's
        // delete set carries the same bound
        val rows = docs
          .where(col("doc_id") % 13 === 2 && col("doc_id") < 1300 && pred)
          .select("doc_id").as[Long].collect().toSeq
        val src = MemoryStream[Long]
        src.addData(rows: _*)
        graft.streaming.EventStreams.tombstoneSink(
            src.toDF().toDF("doc_id"), idxDir, tagOverride = Some(tag))
          .awaitTermination()
      }
      feed(col("doc_id") < 650, "purge-a")
      feed(col("doc_id") >= 650, "purge-b")
      val phrases = docs.where(col("doc_id").isin(3L, 7L, 11L))
        .select(col("doc_id").as("phrase_id"),
          slice(graft.functions.TextFunctions.tokens(col("text")), 1, 3)
            .as("terms"))
      graft.operators.PhraseSearch.searchIndex(s, idxDir, phrases)
        .orderBy("phrase_id", "doc_id")
    },

    // Hybrid retrieval via reciprocal rank fusion (operators.Fusion):
    // the lexical ranking (BM25, query = the query doc's first two
    // tokens) and the vector ranking (brute cosine over the embeddings,
    // query = the same id's vector) fuse on RANKS — score(d) =
    // sum(1/(60+rank)) across lists — so no cross-modality score
    // calibration is needed and an id surfacing in both lists beats a
    // single-list head. Fusion runs over the two top-20 lists only (the
    // corpus is never rescanned); each fused sum has <= 2 addends
    // (IEEE order-exact), rounds to 4 dp before ranking, id breaks
    // ties. The oracle replays BM25, cosine, and the fusion arithmetic
    // end to end.
    Q("q_text_hybrid_rrf",
      s"""WITH tk AS (SELECT doc_id, $sqlToks AS toks FROM documents),
         |q AS (SELECT doc_id AS query_id, unnest(toks[1:2]) AS term
         |      FROM tk WHERE doc_id IN (3, 7, 11)),
         |st AS (SELECT count(*) AS n_docs, sum(len(toks)) AS n_tokens
         |       FROM tk),
         |post AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term
         |         FROM tk),
         |tf AS (SELECT doc_id, dl, term, count(*) AS tf FROM post
         |       WHERE term IN (SELECT DISTINCT term FROM q)
         |       GROUP BY doc_id, dl, term),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |ts AS (SELECT tf.doc_id, tf.term,
         |              ln(1.0 + (CAST(st.n_docs AS DOUBLE) - df.df + 0.5)
         |                       / (df.df + 0.5))
         |              * tf.tf * (1.2 + 1.0)
         |              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
         |                   / (CAST(st.n_tokens AS DOUBLE) / st.n_docs)))
         |                AS ts
         |       FROM tf JOIN df USING (term) CROSS JOIN st),
         |sc AS (SELECT q.query_id, ts.doc_id, round(sum(ts.ts), 4) AS score
         |       FROM ts JOIN q USING (term) GROUP BY q.query_id, ts.doc_id),
         |lex AS (SELECT query_id, doc_id AS id, rank FROM (
         |          SELECT query_id, doc_id, row_number() OVER (
         |            PARTITION BY query_id ORDER BY score DESC, doc_id)
         |            AS rank
         |          FROM sc) WHERE rank <= 20),
         |vq AS (SELECT vec_id AS query_id,
         |              CAST(embedding AS DOUBLE[]) AS qv
         |       FROM embeddings WHERE vec_id IN (3, 7, 11)),
         |vsc AS (SELECT query_id, e.vec_id AS id,
         |               round(list_cosine_similarity(qv,
         |                     CAST(e.embedding AS DOUBLE[])), 4) AS score
         |        FROM vq, embeddings e WHERE e.vec_id != query_id),
         |vec AS (SELECT query_id, id, rank FROM (
         |          SELECT query_id, id, row_number() OVER (
         |            PARTITION BY query_id ORDER BY score DESC, id)
         |            AS rank
         |          FROM vsc) WHERE rank <= 20),
         |u AS (SELECT query_id, id, CAST(1 AS DOUBLE) / (60 + rank) AS c
         |      FROM lex
         |      UNION ALL
         |      SELECT query_id, id, CAST(1 AS DOUBLE) / (60 + rank)
         |      FROM vec),
         |f AS (SELECT query_id, id, round(sum(c), 4) AS score
         |      FROM u GROUP BY query_id, id),
         |r AS (SELECT query_id, id, score, row_number() OVER (
         |        PARTITION BY query_id ORDER BY score DESC, id) AS rank
         |      FROM f)
         |SELECT query_id, id, score, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 10
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val queries = docs.where(col("doc_id").isin(3L, 7L, 11L))
        .select(col("doc_id").as("query_id"),
          explode(slice(graft.functions.TextFunctions.tokens(col("text")),
            1, 2)).as("term"))
      val lex = graft.operators.Bm25.topK(docs, queries, k = 20)
        .select(col("query_id"), col("doc_id").as("id"), col("rank"))
      val vec = graft.operators.Similarity.bruteForceTopK(emb,
          emb.where(col("vec_id").isin(3L, 7L, 11L)), k = 20)
        .select(col("query_id"), col("cand_id").as("id"), col("rank"))
      graft.operators.Fusion.reciprocalRankFusion(Seq(lex, vec), k = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    },

    // HTML → text extraction (boilerplate strip): script/style payloads
    // dropped WHOLE (a tag-only strip would leak `var x = 1 < 2;` into
    // the corpus — planted), comments and tags dropped, the six dominant
    // entities decoded with &amp; LAST (so planted '&amp;lt;x' yields the
    // literal '&lt;x', never double-decodes to '<x'), whitespace
    // collapsed. Both engines run the same RE2-safe rule chain (no
    // backreferences); output text is md5-gated per document.
    Q("q_text_html_strip", {
      val htmlSql =
        """'<html><head><title>' || t1 ||
          |          '</title><script type="text/javascript">var x = 1 < 2;' ||
          |          '</script><style>.c { color: red; }</style></head>' ||
          |          '<body><h1>' || t1 || '</h1><!-- hidden --><p>' || t2 ||
          |          ' &amp; &lt;tags&gt; &quot;q&quot; &#39;s&#39;' ||
          |          '&nbsp;mid &amp;lt;x</p></body></html>'""".stripMargin
      s"""WITH src AS (SELECT doc_id, substr(text, 1, 30) AS t1,
         |                    substr(text, 31, 60) AS t2
         |             FROM documents),
         |h AS (SELECT doc_id, $htmlSql AS html FROM src),
         |s1 AS (SELECT doc_id, regexp_replace(html,
         |         '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g') AS x
         |       FROM h),
         |s2 AS (SELECT doc_id, regexp_replace(x,
         |         '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g') AS x
         |       FROM s1),
         |s3 AS (SELECT doc_id, regexp_replace(x,
         |         '(?s)<!--.*?-->', ' ', 'g') AS x FROM s2),
         |s4 AS (SELECT doc_id, regexp_replace(x, '(?s)<[^>]+>', ' ', 'g')
         |         AS x FROM s3),
         |s5 AS (SELECT doc_id,
         |         replace(replace(replace(replace(replace(replace(x,
         |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS x
         |       FROM s4)
         |SELECT doc_id,
         |       CAST(length(trim(regexp_replace(x, '\\s+', ' ', 'g')))
         |         AS INT) AS n_chars,
         |       md5(trim(regexp_replace(x, '\\s+', ' ', 'g'))) AS text_md5
         |FROM s5 ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val t1 = substring(col("text"), 1, 30)
      val t2 = substring(col("text"), 31, 60)
      val html = concat(lit("<html><head><title>"), t1,
        lit("</title><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>.c { color: red; }</style></head><body><h1>"),
        t1, lit("</h1><!-- hidden --><p>"), t2,
        lit(" &amp; &lt;tags&gt; &quot;q&quot; &#39;s&#39;" +
          "&nbsp;mid &amp;lt;x</p></body></html>"))
      val stripped = graft.functions.TextFunctions.stripHtml(html)
      t(s, dir, "documents")
        .select(col("doc_id"), length(stripped).as("n_chars"),
          md5(stripped).as("text_md5"))
        .orderBy("doc_id")
    },

    // C4-style cross-document LINE dedup (TextClean.dedupLines):
    // boilerplate lines repeat across millions of pages and survive
    // whole-document fingerprints; a line with corpus frequency > 1
    // survives only in its min-doc_id owner. The fixture PLANTS line
    // structure both engines replay identically — 8-word chunks of the
    // base text as lines plus boilerplate appended by doc_id formula
    // (subscribe/follow lines land on every 3rd/5th doc). Gate is
    // line counts + md5 of the reassembled text, so a kept/dropped
    // slip or an order slip in reassembly fails the hash.
    Q("q_text_line_dedup", {
      s"""WITH w AS (SELECT doc_id,
         |            string_split_regex(trim(text), '\\s+') AS words
         |           FROM documents),
         |c AS (SELECT doc_id, list_transform(
         |        range(0, (len(words) + 7) // 8),
         |        i -> array_to_string(words[i*8+1:i*8+8], ' ')) AS chunks
         |      FROM w),
         |p AS (SELECT doc_id, array_to_string(chunks, chr(10))
         |    || CASE WHEN doc_id % 3 = 0
         |       THEN chr(10) || 'subscribe to our newsletter today'
         |       ELSE '' END
         |    || CASE WHEN doc_id % 5 = 0
         |       THEN chr(10) || 'follow us on social media now'
         |       ELSE '' END AS text
         |      FROM c),
         |lx AS (SELECT doc_id, ss, unnest(range(0, len(ss))) AS pos
         |       FROM (SELECT doc_id, string_split(text, chr(10)) AS ss
         |             FROM p)),
         |l AS (SELECT doc_id, pos, ss[CAST(pos AS INT) + 1] AS line
         |      FROM lx),
         |st AS (SELECT line, count(*) AS cnt, min(doc_id) AS owner
         |       FROM l GROUP BY line),
         |k AS (SELECT l.doc_id, l.pos, l.line,
         |             (st.cnt = 1 OR l.doc_id = st.owner) AS keep
         |      FROM l JOIN st USING (line))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
         |       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
         |             FILTER (WHERE keep), '')) AS clean_md5
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      graft.operators.TextClean
        .dedupLines(plantedLineDocs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // C4-style per-line quality rules (TextClean.filterLines): minimum
    // word count + banned-substring drop, scan-local per line. The
    // fixture plants violations by formula — a 'lorem ipsum' line on
    // every 7th doc, a 2-word line on every 4th — and the trailing
    // base chunk goes under the word floor whenever len(words) % 8 is
    // 1 or 2, so the rule path is exercised on organic lines too.
    Q("q_text_c4_lines", {
      s"""WITH w AS (SELECT doc_id,
         |            string_split_regex(trim(text), '\\s+') AS words
         |           FROM documents),
         |c AS (SELECT doc_id, list_transform(
         |        range(0, (len(words) + 7) // 8),
         |        i -> array_to_string(words[i*8+1:i*8+8], ' ')) AS chunks
         |      FROM w),
         |p AS (SELECT doc_id, array_to_string(chunks, chr(10))
         |    || CASE WHEN doc_id % 7 = 0
         |       THEN chr(10) || 'lorem ipsum dolor sit amet'
         |       ELSE '' END
         |    || CASE WHEN doc_id % 4 = 0
         |       THEN chr(10) || 'tiny line' ELSE '' END AS text
         |      FROM c),
         |lx AS (SELECT doc_id, ss, unnest(range(0, len(ss))) AS pos
         |       FROM (SELECT doc_id, string_split(text, chr(10)) AS ss
         |             FROM p)),
         |l AS (SELECT doc_id, pos, ss[CAST(pos AS INT) + 1] AS line
         |      FROM lx),
         |k AS (SELECT doc_id, pos, line,
         |             (len(string_split_regex(trim(line), '\\s+')) >= 3
         |              AND trim(line) != ''
         |              AND lower(line) NOT LIKE '%lorem ipsum%'
         |              AND line NOT LIKE '%{%') AS keep
         |      FROM l)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |       CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
         |       md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
         |             FILTER (WHERE keep), '')) AS clean_md5
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      graft.operators.TextClean
        .filterLines(plantedC4Docs(s, dir), "doc_id", "text",
          minWords = 3, banned = Seq("lorem ipsum", "{"))
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text")).as("clean_md5"))
        .orderBy("doc_id")
    },

    // Duplicate-cluster size histogram — the audit artifact a dedup
    // pass publishes (how much of the corpus is singleton vs 2x vs
    // heavy boilerplate). Same planted crawl copies as the replay
    // gate; two map-side-combinable aggregations, no joins.
    Q("q_dedup_cluster_histogram",
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, upper(text) || '!!'
        |  FROM documents WHERE doc_id < 50),
        |f AS (SELECT md5(regexp_replace(regexp_replace(lower(text),
        |             '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS fp
        |      FROM aug),
        |g AS (SELECT fp, count(*) AS sz FROM f GROUP BY fp)
        |SELECT CAST(sz AS BIGINT) AS cluster_size,
        |       CAST(count(*) AS BIGINT) AS n_clusters
        |FROM g GROUP BY sz ORDER BY cluster_size""".stripMargin) {
      (s, dir) =>
        val docs = t(s, dir, "documents")
        val aug = docs.select("doc_id", "text").union(
          docs.where(col("doc_id") < 50)
            .select((col("doc_id") + 100000).as("doc_id"),
              concat(upper(col("text")), lit("!!")).as("text")))
        aug.select(normFingerprint(col("text")).as("fp"))
          .groupBy("fp").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
          .select(col("sz").as("cluster_size"), col("n_clusters"))
          .orderBy("cluster_size")
    },

    // EXACT Jaccard-threshold similarity self-join via prefix filtering
    // (Dedup.jaccardJoinExact — PPJoin family): lossless, so the oracle
    // is a plain brute-force over all pairs and the gate PROVES the
    // prefix optimization exact — any pair the rarest-token postings
    // miss fails the hash. Sets are 3-word shingles (16k-item universe
    // here; raw words would leave a 31-word vocabulary where "rarest
    // first" prunes nothing — the known PPJoin degenerate case, worth
    // avoiding in the fixture precisely because real corpora are not
    // like that); the threshold is an integer percent and every gate
    // decision is a cross-multiplied integer compare.
    Q("q_dedup_jaccard_exact",
      s"""WITH tk AS (SELECT doc_id, ${sqlShingles(3)} AS ts
        |            FROM documents),
        |nz AS (SELECT doc_id, ts, len(ts) AS n FROM tk
        |       WHERE len(ts) > 0),
        |pr AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |              len(list_intersect(a.ts, b.ts)) AS i,
        |              a.n + b.n - len(list_intersect(a.ts, b.ts)) AS u
        |       FROM nz a JOIN nz b ON a.doc_id < b.doc_id)
        |SELECT id1, id2, round(CAST(i AS DOUBLE) / u, 4) AS jaccard
        |FROM pr WHERE i * 100 >= 80 * u
        |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
      // the sf parquet is one small file = ONE partition; without the
      // spread, the whole shingle scan runs on a single core (probe:
      // 2.8 s single-threaded vs 0.1 s spread at sf0.1). At 100 TB the
      // source arrives in many splits and this is a no-op-sized shuffle
      val docs = t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), shingles(col("text"), 3).as("ts"))
      graft.operators.Dedup.jaccardJoinExact(docs, "doc_id", "ts", 80)
        .orderBy("id1", "id2")
    },

    // Distributed generalized SUFFIX ARRAY (SuffixArray.build): prefix
    // doubling, O(log L) rounds of join + distributed dense-rank, no
    // suffix string ever materialized on the Spark side. The fixture is
    // 32-char a-z strings by doc_id formula with a PLANTED 16-char motif
    // shared by every doc_id % 3 == 0 document (so rank ties and deep
    // LCPs both exist). The oracle pays the memory-hungry way — build
    // every suffix string, dense_rank over them — and Spark must land on
    // the IDENTICAL corpus-global total order via doubling alone.
    // Output trimmed to every 5th doc; ranks stay corpus-global.
    Q("q_text_suffix_rank",
      """WITH d AS (SELECT doc_id AS doc FROM documents),
        |ch AS (SELECT doc, i,
        |              chr(97 + CAST(CASE WHEN doc % 3 = 0
        |                                      AND i BETWEEN 8 AND 23
        |                                 THEN (i * 11 + 5) % 26
        |                                 ELSE (doc * 7 + i * 11) % 26
        |                            END AS INT)) AS c
        |       FROM d, range(0, 32) AS r(i)),
        |strs AS (SELECT doc, string_agg(c, '' ORDER BY i) AS t
        |         FROM ch GROUP BY doc),
        |suf AS (SELECT doc, CAST(i AS INT) AS pos,
        |               substr(t, CAST(i + 1 AS INT)) AS s
        |        FROM strs, range(0, 32) AS r(i)),
        |rk AS (SELECT doc, pos, dense_rank() OVER (ORDER BY s) AS rnk
        |       FROM suf)
        |SELECT doc AS doc_id, pos, CAST(rnk AS BIGINT) AS suffix_rank
        |FROM rk WHERE doc % 5 = 0 ORDER BY doc_id, pos""".stripMargin) {
      (s, dir) =>
        graft.operators.SuffixArray.build(motifDocs(s, dir)).ranks
          .where(col("doc") % 5 === 0)
          .select(col("doc").as("doc_id"), col("pos"),
            col("r").as("suffix_rank"))
          .orderBy("doc_id", "pos")
    },

    // Longest repeated substring per document — EXACT substring-level
    // dedup signal (the suffix-array method of "Deduplicating Training
    // Data Makes Language Models Better"), via the classic reduction:
    // a suffix's best match is a suffix-array neighbor, so per-doc max
    // over adjacent-pair LCPs (both directions) is exact. Spark computes
    // LCPs by binary descent over the retained doubling rank tables
    // (never comparing characters); the oracle brute-forces each
    // adjacent pair character by character. The planted motif makes
    // every doc % 3 == 0 document report >= 16.
    Q("q_text_longest_repeat",
      """WITH d AS (SELECT doc_id AS doc FROM documents),
        |ch AS (SELECT doc, i,
        |              chr(97 + CAST(CASE WHEN doc % 3 = 0
        |                                      AND i BETWEEN 8 AND 23
        |                                 THEN (i * 11 + 5) % 26
        |                                 ELSE (doc * 7 + i * 11) % 26
        |                            END AS INT)) AS c
        |       FROM d, range(0, 32) AS r(i)),
        |strs AS (SELECT doc, string_agg(c, '' ORDER BY i) AS t
        |         FROM ch GROUP BY doc),
        |suf AS (SELECT doc, CAST(i AS INT) AS pos,
        |               substr(t, CAST(i + 1 AS INT)) AS s
        |        FROM strs, range(0, 32) AS r(i)),
        |rk AS (SELECT doc, pos, s,
        |              row_number() OVER (ORDER BY s, doc, pos) AS rn
        |       FROM suf),
        |nb AS (SELECT a.doc, a.rn, 1 AS dir, a.s AS s1, b.s AS s2
        |       FROM rk a JOIN rk b ON b.rn = a.rn + 1
        |       UNION ALL
        |       SELECT b.doc, b.rn, 2, b.s, a.s
        |       FROM rk a JOIN rk b ON b.rn = a.rn + 1),
        |ex AS (SELECT doc, rn, dir, s1, s2,
        |              least(length(s1), length(s2)) AS m,
        |              unnest(range(0, least(length(s1), length(s2))))
        |                AS j
        |       FROM nb),
        |lc AS (SELECT doc, rn, dir,
        |              coalesce(min(CASE WHEN substr(s1, CAST(j + 1 AS INT),
        |                                            1)
        |                                     <> substr(s2,
        |                                               CAST(j + 1 AS INT),
        |                                               1)
        |                                THEN j END), max(m)) AS lcp
        |       FROM ex GROUP BY 1, 2, 3)
        |SELECT doc AS doc_id, CAST(max(lcp) AS INT) AS max_repeat
        |FROM lc GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.SuffixArray
        .maxRepeatPerDoc(graft.operators.SuffixArray.build(motifDocs(s, dir)))
        .select(col("doc").as("doc_id"), col("max_repeat"))
        .orderBy("doc_id")
    },
  )

  /** Planted multi-line frame shared by the line-cleaning gates: 8-word
    * chunks of the base text as lines (the oracle replays the same
    * chunking), plus formula boilerplate lines. */
  private def chunked(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    val nChunks = (size(words) + 7).divide(8).cast("int")
    t(s, dir, "documents").select(col("doc_id"),
      array_join(
        transform(sequence(lit(0), nChunks - 1),
          i => array_join(slice(words, i * 8 + 1, lit(8)), " ")),
        "\n").as("base"))
  }

  private def plantedLineDocs(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame =
    chunked(s, dir).select(col("doc_id"), concat(col("base"),
      when(col("doc_id") % 3 === 0,
        lit("\nsubscribe to our newsletter today")).otherwise(""),
      when(col("doc_id") % 5 === 0,
        lit("\nfollow us on social media now")).otherwise(""))
      .as("text"))

  private def plantedC4Docs(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame =
    chunked(s, dir).select(col("doc_id"), concat(col("base"),
      when(col("doc_id") % 7 === 0,
        lit("\nlorem ipsum dolor sit amet")).otherwise(""),
      when(col("doc_id") % 4 === 0, lit("\ntiny line")).otherwise(""))
      .as("text"))

  /** Connected-components closure oracle — shared verbatim by the batch
    * gate and the streaming-sink replay gate (the stream must land on
    * the identical labeling). */
  private lazy val componentsOracle: String =
    """WITH RECURSIVE
      |edges AS (SELECT doc_id AS id1, doc_id + 100000 AS id2
      |          FROM documents WHERE doc_id < 30
      |          UNION ALL
      |          SELECT doc_id + 100000, doc_id + 200000
      |          FROM documents WHERE doc_id < 30),
      |nodes AS (SELECT id1 AS id FROM edges UNION SELECT id2 FROM edges),
      |sym AS (SELECT id1 AS a, id2 AS b FROM edges
      |        UNION SELECT id2, id1 FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id)
      |SELECT id, min(r) AS canonical FROM reach GROUP BY id
      |ORDER BY id""".stripMargin

  /** 32-char a-z fixture strings for the suffix-array gates: formula
    * chars with a planted 16-char motif (positions 8-23) shared by every
    * doc_id % 3 == 0 document — the SQL oracle replays the formula. */
  private def motifDocs(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val cs = Array.tabulate(32) { i =>
        val v = if (id % 3 == 0 && i >= 8 && i <= 23) (i * 11 + 5) % 26
                else ((id * 7 + i * 11) % 26).toInt
        ('a' + v).toChar
      }
      (id, new String(cs))
    }.toDF("doc_id", "text")
  }
}
