package graft.queries

import org.apache.spark.sql.functions._

import graft.engine.Tables.t
import graft.functions.Rounding.round4
import graft.operators.Dedup

/** Driver-gated corpus-curation queries: deterministic train/val/test
  * splitting, stratified sampling, vocabulary building, and the
  * keep-one-per-duplicate-cluster decision — the operations a training-data
  * pipeline runs between dedup and export.
  *
  * Sampling here is HASH-based, never RNG-based: md5 of the stable row id
  * gives the same assignment on any engine, any partitioning, any run —
  * the property that makes train/test splits reproducible at 100 TB
  * (`rand(seed)` is partition-order-dependent in every distributed engine
  * and can't be oracled at all).
  */
object CurationQueries {

  /** 0-15 bucket from the first hex nibble of md5(id) — portable across
    * Spark and DuckDB byte-for-byte (both emit lowercase hex md5 of the
    * decimal string). */
  private def nibbleSql(idExpr: String): String =
    s"instr('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), 1, 1)) - 1"

  /** DuckDB fragment mirroring Sampling.hashU24: the first 24 bits of
    * md5(id) folded from six hex nibbles. */
  private def sqlU24(idExpr: String): String = {
    def nib(i: Int) =
      s"(instr('0123456789abcdef', substr(md5(CAST($idExpr AS VARCHAR)), $i, 1)) - 1)"
    (1 to 6).map(nib).reduce((a, b) => s"($a * 16 + $b)")
  }

  /** Blocklist fixture: overlapping phrases on purpose ('batch' inside
    * 'batch batch'; 'slow join' and 'join sort' overlap in 'slow join
    * sort') so the automaton's dict-suffix aggregation is on the gated
    * path, not just plain matching. */
  private val blocklistPhrases = Seq(
    "slow join", "join sort", "batch batch", "batch", "dup", "spark table")

  private lazy val blocklistPath: String = {
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_blocklist_fixture.txt")
    java.nio.file.Files.write(p,
      ("# fixture blocklist" +: blocklistPhrases)
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    p.toString
  }

  /** Token-drift full-recompute oracle, parameterized by a source
    * predicate — the batch incremental-fold gate runs it over the whole
    * table; the streaming-sink replay gate runs it over the id-bounded
    * slice its fixed-size MemoryStream feed delivers. */
  private def driftOracleWhere(where: String): String = {
    val toks = TextQueries.sqlToks
    s"""WITH tk AS (SELECT lang = 'en' AS in_a, $toks AS toks
       |            FROM documents$where),
       |tok AS (SELECT in_a, unnest(toks) AS token FROM tk),
       |cnt AS (SELECT token,
       |               count(*) FILTER (WHERE in_a) AS c_a,
       |               count(*) FILTER (WHERE NOT in_a) AS c_b
       |        FROM tok GROUP BY token),
       |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
       |               CAST(sum(c_b) AS BIGINT) AS n_b FROM cnt),
       |term AS (SELECT CAST(round((
       |           CASE WHEN c_a > 0
       |                THEN (c_a * 1.0 / tot.n_a) *
       |                     ln((c_a * 1.0 / tot.n_a) /
       |                        (((c_a * 1.0 / tot.n_a) +
       |                          (c_b * 1.0 / tot.n_b)) / 2.0))
       |                ELSE 0.0 END +
       |           CASE WHEN c_b > 0
       |                THEN (c_b * 1.0 / tot.n_b) *
       |                     ln((c_b * 1.0 / tot.n_b) /
       |                        (((c_a * 1.0 / tot.n_a) +
       |                          (c_b * 1.0 / tot.n_b)) / 2.0))
       |                ELSE 0.0 END) * 0.5 * 1000000.0) AS BIGINT)
       |           AS micro
       |         FROM cnt, tot)
       |SELECT tot.n_a, tot.n_b, count(*) AS vocab,
       |       CAST(sum(micro) AS BIGINT) AS js_micro
       |FROM term, tot GROUP BY tot.n_a, tot.n_b""".stripMargin
  }

  private lazy val driftOracle: String = driftOracleWhere("")

  val all: Seq[Q] = Seq(

    // Deterministic train/val/test split: 10/3/3 sixteenths by hash
    // nibble. Row-level assignment is hash-gated (not just counts), so a
    // single misassigned document fails the gate.
    Q("q_sample_split",
      s"""SELECT doc_id, ${nibbleSql("doc_id")} AS bucket16,
         |       CASE WHEN ${nibbleSql("doc_id")} < 10 THEN 'train'
         |            WHEN ${nibbleSql("doc_id")} < 13 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bucket =
        (expr("instr('0123456789abcdef', substring(md5(CAST(doc_id AS STRING)), 1, 1))")
          - 1).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), bucket.as("bucket16"),
          when(bucket < 10, "train").when(bucket < 13, "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    },

    // URL canonicalization — the key-normalization step of web-corpus
    // dedup: scheme/host case, default ports, tracking params, permuted
    // query strings, trailing slashes, and fragments all alias the same
    // page. Planted variants exercise every rule; the gate pins the
    // row-level canonical string AND the collision structure (n_dups per
    // canonical) — case 2 (utm-stripped) and case 4 (fragment-stripped,
    // params permuted) must collide, as must cases 0/1 (casing + default
    // port + trailing slash).
    Q("q_curate_url_norm", {
      val urlCase =
        // NB: interpolated into a stripMargin'd outer string — no line here
        // may start with '|' (a leading SQL '||' would lose a pipe)
        """CASE doc_id % 5
          |  WHEN 0 THEN 'http://EXAMPLE.com/a/' || seg || '/'
          |  WHEN 1 THEN 'HTTP://example.com:80/a/' || seg
          |  WHEN 2 THEN 'http://example.com/a/' || seg ||
          |              '?utm_source=feed&b=2&a=1'
          |  WHEN 3 THEN 'https://example.com:8080/a/' || seg ||
          |              '?a=1&b=2&fbclid=XYZ' || seg
          |  ELSE 'http://example.com/a/' || seg || '?b=2&a=1#frag'
          |END""".stripMargin
      s"""WITH urls AS (
         |  SELECT doc_id, $urlCase AS url
         |  FROM (SELECT doc_id, CAST(doc_id % 7 AS VARCHAR) AS seg
         |        FROM documents)),
         |parts AS (
         |  SELECT doc_id, url,
         |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
         |      AS scheme,
         |    lower(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host,
         |    regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)', 1) AS port,
         |    regexp_replace(regexp_extract(url,
         |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
         |      '/+$$', '') AS path0,
         |    regexp_extract(url, '\\?([^#]*)', 1) AS query
         |  FROM urls),
         |canon AS (
         |  SELECT doc_id,
         |    scheme || '://' || host ||
         |    CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
         |              AND NOT (scheme = 'https' AND port = '443')
         |         THEN ':' || port ELSE '' END ||
         |    CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
         |    CASE WHEN q = '' THEN '' ELSE '?' || q END AS canon_url
         |  FROM (SELECT *, coalesce(array_to_string(list_sort(list_filter(
         |          string_split(query, '&'),
         |          p -> p <> ''
         |               AND NOT regexp_matches(string_split(p, '=')[1],
         |                                      '^utm_')
         |               AND string_split(p, '=')[1] NOT IN
         |                   ('fbclid', 'gclid', 'msclkid', 'ref'))),
         |          '&'), '') AS q
         |        FROM parts))
         |SELECT doc_id, canon_url,
         |       CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT)
         |         AS n_dups
         |FROM canon ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val seg = (col("doc_id") % 7).cast("string")
      val urlCol = when(col("doc_id") % 5 === 0,
          concat(lit("http://EXAMPLE.com/a/"), seg, lit("/")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("HTTP://example.com:80/a/"), seg))
        .when(col("doc_id") % 5 === 2,
          concat(lit("http://example.com/a/"), seg,
            lit("?utm_source=feed&b=2&a=1")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("https://example.com:8080/a/"), seg,
            lit("?a=1&b=2&fbclid=XYZ"), seg))
        .otherwise(concat(lit("http://example.com/a/"), seg,
          lit("?b=2&a=1#frag")))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.operators.Curation.canonicalUrl(urlCol).as("canon_url"))
        .withColumn("n_dups",
          count(lit(1)).over(Window.partitionBy("canon_url")))
        .orderBy("doc_id")
    },

    // Leakage-safe split: near-duplicates must land in the SAME split or
    // test content leaks into training verbatim. The coin is thrown on
    // the dup-cluster canonical id (connected components over the pair
    // graph), not the document id — a planted 3-chain (doc → +100000 →
    // +200000) exercises TRANSITIVE grouping: the far end of the chain
    // shares no direct edge with the near end, yet must draw the same
    // split. Row-level: one misassigned member fails the hash.
    Q("q_split_leakage_safe",
      s"""WITH RECURSIVE
         |edges AS (SELECT doc_id AS id1, doc_id + 100000 AS id2
         |          FROM documents WHERE doc_id < 40
         |          UNION ALL
         |          SELECT doc_id + 100000, doc_id + 200000
         |          FROM documents WHERE doc_id < 15),
         |universe AS (SELECT doc_id AS id FROM documents
         |             UNION ALL
         |             SELECT doc_id + 100000 FROM documents WHERE doc_id < 40
         |             UNION ALL
         |             SELECT doc_id + 200000 FROM documents WHERE doc_id < 15),
         |nodes AS (SELECT id1 AS id FROM edges UNION SELECT id2 FROM edges),
         |sym AS (SELECT id1 AS a, id2 AS b FROM edges
         |        UNION SELECT id2, id1 FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id),
         |canon AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id),
         |lab AS (SELECT u.id, coalesce(c.canonical, u.id) AS canonical
         |        FROM universe u LEFT JOIN canon c USING (id))
         |SELECT id, canonical,
         |       CASE WHEN ${nibbleSql("canonical")} < 10 THEN 'train'
         |            WHEN ${nibbleSql("canonical")} < 13 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM lab ORDER BY id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val b40 = docs.where(col("doc_id") < 40)
      val b15 = docs.where(col("doc_id") < 15)
      val edges = b40.select(col("doc_id").as("id1"),
          (col("doc_id") + 100000).as("id2"))
        .union(b15.select((col("doc_id") + 100000).as("id1"),
          (col("doc_id") + 200000).as("id2")))
      val universe = docs.select(col("doc_id").as("id"))
        .union(b40.select((col("doc_id") + 100000).as("id")))
        .union(b15.select((col("doc_id") + 200000).as("id")))
      graft.operators.Sampling.leakageSafeSplit(universe, edges)
        .orderBy("id")
    },

    // Leakage-safe K-FOLD assignment (Sampling.kFold) — the
    // cross-validation sibling of the split above: the fold coin is the
    // first md5 BYTE of the duplicate-cluster canonical id mod 5, so the
    // planted 3-chains land whole in one fold and no fold's validation
    // half holds a paraphrase of another's training half. Same fixture
    // as q_split_leakage_safe, so the two gates together pin that split
    // and folds agree on cluster structure. Row-level.
    Q("q_split_kfold", {
      val byte = "((instr('0123456789abcdef', " +
        "substr(md5(CAST(canonical AS VARCHAR)), 1, 1)) - 1) * 16 + " +
        "instr('0123456789abcdef', " +
        "substr(md5(CAST(canonical AS VARCHAR)), 2, 1)) - 1)"
      s"""WITH RECURSIVE
         |edges AS (SELECT doc_id AS id1, doc_id + 100000 AS id2
         |          FROM documents WHERE doc_id < 40
         |          UNION ALL
         |          SELECT doc_id + 100000, doc_id + 200000
         |          FROM documents WHERE doc_id < 15),
         |universe AS (SELECT doc_id AS id FROM documents
         |             UNION ALL
         |             SELECT doc_id + 100000 FROM documents
         |             WHERE doc_id < 40
         |             UNION ALL
         |             SELECT doc_id + 200000 FROM documents
         |             WHERE doc_id < 15),
         |nodes AS (SELECT id1 AS id FROM edges UNION SELECT id2 FROM edges),
         |sym AS (SELECT id1 AS a, id2 AS b FROM edges
         |        UNION SELECT id2, id1 FROM edges),
         |reach(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id),
         |canon AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id),
         |lab AS (SELECT u.id, coalesce(c.canonical, u.id) AS canonical
         |        FROM universe u LEFT JOIN canon c USING (id))
         |SELECT id, canonical, CAST($byte % 5 AS INT) AS fold
         |FROM lab ORDER BY id""".stripMargin
    }) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val b40 = docs.where(col("doc_id") < 40)
      val b15 = docs.where(col("doc_id") < 15)
      val edges = b40.select(col("doc_id").as("id1"),
          (col("doc_id") + 100000).as("id2"))
        .union(b15.select((col("doc_id") + 100000).as("id1"),
          (col("doc_id") + 200000).as("id2")))
      val universe = docs.select(col("doc_id").as("id"))
        .union(b40.select((col("doc_id") + 100000).as("id")))
        .union(b15.select((col("doc_id") + 200000).as("id")))
      graft.operators.Sampling.kFold(universe, edges, k = 5)
        .orderBy("id")
    },

    // Hash-ring negative mining for contrastive training: k uniform
    // negatives per anchor with no cross join, no RNG, no self-draw —
    // corpus on a deterministic ring, hash-chosen jumps in [1, n-1].
    // Row-level: the oracle replays ring positions, offsets, and the
    // position join; one transposed negative anywhere fails the hash.
    Q("q_sample_negatives", {
      val offKey =
        "'neg1:off:' || CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)"
      s"""WITH c AS (SELECT count(*) AS n FROM documents),
         |ring AS (SELECT doc_id, row_number() OVER (
         |           ORDER BY md5('neg1:' || CAST(doc_id AS VARCHAR)),
         |                    doc_id) AS sp
         |         FROM documents),
         |x AS (SELECT doc_id, sp, unnest([1, 2, 3]) AS j FROM ring),
         |o AS (SELECT doc_id, sp, j,
         |        1 + ${sqlU24(offKey)} % (c.n - 1) AS off
         |      FROM x, c),
         |p AS (SELECT doc_id, j,
         |        ((sp - 1 + off) % (SELECT n FROM c)) + 1 AS neg_pos
         |      FROM o)
         |SELECT p.doc_id, CAST(p.j AS INT) AS j, r.doc_id AS neg_id
         |FROM p JOIN ring r ON r.sp = p.neg_pos
         |ORDER BY p.doc_id, p.j""".stripMargin
    }) { (s, dir) =>
      graft.operators.Sampling.hashNegatives(
          t(s, dir, "documents").select("doc_id"),
          "doc_id", k = 3, seed = "neg1")
        .orderBy("doc_id", "j")
    },

    // Deterministic training-order shuffle: global position = rank of
    // md5('epoch1:' || doc_id), id tiebreak — the epoch-shuffle step of a
    // training pipeline, reproducible on any engine/partitioning (an RNG
    // shuffle is not); the next epoch is the next seed string. Runs
    // through GlobalRank (range exchange + zipWithIndex), never a
    // single-task global window; the oracle replays the coin and the
    // total order. Row-level: one transposed position fails the gate.
    Q("q_corpus_shuffle",
      """SELECT doc_id, lang,
        |       row_number() OVER (
        |         ORDER BY md5('epoch1:' || CAST(doc_id AS VARCHAR)),
        |                  doc_id) AS shuffle_pos
        |FROM documents ORDER BY shuffle_pos""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.deterministicShuffle(
          t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "epoch1")
        .orderBy("shuffle_pos")
    },

    // Stratified fixed-n sampling: 20 documents per language, chosen by
    // hash-ordered row_number — per-group reservoir semantics without an
    // RNG, one window pass partitioned by the stratum.
    Q("q_sample_stratified",
      s"""SELECT doc_id, lang, rn FROM (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |  FROM documents) WHERE rn <= 20
         |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang")
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), row_number().over(w).as("rn"))
        .where(col("rn") <= 20)
        .orderBy("lang", "doc_id")
    },

    // Domain-level curation (operators.Curation): blocklisted sources
    // dropped by a broadcast anti-join, every surviving source capped to
    // its 12 highest-quality documents (n_chars desc, id tiebreak — a
    // total order). cap=12 <= windowGroupLimitThreshold, so the cap plans
    // a PARTIAL WindowGroupLimit under the exchange: a hot domain
    // forwards <= 12 rows per map task, never its full page count. The
    // per-source digest of kept ids makes the gate row-level — one
    // mis-kept document flips the md5.
    Q("q_curate_domains",
      """WITH live AS (SELECT source, doc_id, n_chars FROM documents
        |              WHERE source NOT IN ('src0', 'src13')),
        |kept AS (SELECT source, doc_id FROM (
        |           SELECT source, doc_id, row_number() OVER (
        |             PARTITION BY source
        |             ORDER BY n_chars DESC, doc_id) AS rn
        |           FROM live) WHERE rn <= 12),
        |tot AS (SELECT source, count(*) AS n_docs FROM live GROUP BY source)
        |SELECT t.source, t.n_docs, count(k.doc_id) AS n_kept,
        |       md5(string_agg(CAST(k.doc_id AS VARCHAR), ','
        |                      ORDER BY k.doc_id)) AS kept_md5
        |FROM tot t JOIN kept k ON t.source = k.source
        |GROUP BY t.source, t.n_docs ORDER BY t.source""".stripMargin) {
      (s, dir) =>
        import graft.operators.Curation
        import s.implicits._
        val live = t(s, dir, "documents")
          .select("source", "doc_id", "n_chars")
        val block = Seq("src0", "src13")
        val kept = Curation.domainCap(live, "source", cap = 12,
          order = Seq(col("n_chars").desc, col("doc_id").asc),
          blocklist = block)
        val tot = live
          .join(broadcast(block.toDF("source")), Seq("source"), "left_anti")
          .groupBy("source").agg(count(lit(1)).as("n_docs"))
        kept.groupBy("source")
          .agg(count(lit(1)).as("n_kept"),
            md5(array_join(transform(sort_array(collect_list(col("doc_id"))),
              i => i.cast("string")), ",").cast("binary")).as("kept_md5"))
          .join(tot, "source")
          .select("source", "n_docs", "n_kept", "kept_md5")
          .orderBy("source")
    },

    // Weighted per-group sampling (Sampling.weightedPerGroupSample):
    // priority = hashU24(id)/weight, bottom-8 per language — longer
    // documents are proportionally likelier to be drawn, with the hash
    // standing in for the RNG draw of weighted reservoir sampling. The
    // sort key is a double division of two exact integers (IEEE division
    // is correctly rounded → bit-identical in both engines), so the gate
    // hash-matches row-for-row with no rounding step.
    Q("q_sample_weighted",
      s"""SELECT lang, doc_id, n_chars, rn FROM (
         |  SELECT lang, doc_id, n_chars, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY CAST(${sqlU24("doc_id")} AS DOUBLE) / n_chars,
         |             doc_id) AS rn
         |  FROM documents WHERE n_chars > 0) WHERE rn <= 8
         |ORDER BY lang, doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Sampling.weightedPerGroupSample(
          t(s, dir, "documents").select("lang", "doc_id", "n_chars"),
          "lang", "doc_id", "n_chars", n = 8)
        .orderBy("lang", "doc_id")
    },

    // Dataset-card manifest: the one-pass summary a corpus release ships
    // with — sizes, language/source breadth, exact-dup rate, mean
    // quality — every number produced by an already-gated operator and
    // folded into ONE aggregation (count-distincts share the pass via
    // Expand, the Analyze trade-off; the 100 TB variant swaps HLL in the
    // same shape). All values surface as DOUBLE so the comparator hashes
    // bits, not formatting.
    Q("q_dataset_card", {
      val toks = TextQueries.sqlToks
      val q = TextQueries.sqlQuality
      val fp = "md5(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"
      s"""WITH m AS (SELECT count(*) AS n_docs,
         |                  sum(len($toks)) AS n_tokens,
         |                  sum(n_chars) AS n_chars,
         |                  count(DISTINCT lang) AS n_langs,
         |                  count(DISTINCT source) AS n_sources,
         |                  count(*) FILTER (WHERE lang = 'en') AS n_en,
         |                  count(DISTINCT $fp) AS n_fp,
         |                  round(avg($q), 4) AS mean_q
         |           FROM documents)
         |SELECT 'dup_rate' AS metric,
         |       round(1.0 - CAST(n_fp AS DOUBLE) / n_docs, 4) AS value
         |  FROM m
         |UNION ALL SELECT 'mean_quality', mean_q FROM m
         |UNION ALL SELECT 'n_chars', CAST(n_chars AS DOUBLE) FROM m
         |UNION ALL SELECT 'n_docs', CAST(n_docs AS DOUBLE) FROM m
         |UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM m
         |UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM m
         |UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM m
         |UNION ALL SELECT 'pct_en',
         |       round(CAST(n_en AS DOUBLE) / n_docs, 4) FROM m
         |ORDER BY metric""".stripMargin
    }) { (s, dir) =>
      import graft.functions.TextFunctions.{normFingerprint, qualityScore,
        tokens}
      val m = t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        count(when(col("lang") === "en", 1)).as("n_en"),
        countDistinct(normFingerprint(col("text"))).as("n_fp"),
        round4(avg(qualityScore(col("text")))).as("mean_q"))
      val card = array(
        struct(lit("dup_rate").as("metric"),
          round4(lit(1.0) - col("n_fp").cast("double") / col("n_docs"))
            .as("value")),
        struct(lit("mean_quality").as("metric"), col("mean_q").as("value")),
        struct(lit("n_chars").as("metric"),
          col("n_chars").cast("double").as("value")),
        struct(lit("n_docs").as("metric"),
          col("n_docs").cast("double").as("value")),
        struct(lit("n_langs").as("metric"),
          col("n_langs").cast("double").as("value")),
        struct(lit("n_sources").as("metric"),
          col("n_sources").cast("double").as("value")),
        struct(lit("n_tokens").as("metric"),
          col("n_tokens").cast("double").as("value")),
        struct(lit("pct_en").as("metric"),
          round4(col("n_en").cast("double") / col("n_docs")).as("value")))
      m.select(explode(card).as("s")).select(col("s.*")).orderBy("metric")
    },

    // Length-bucketed batch assembly (Packing.lengthBucketBatches):
    // dynamic batching for padded training/inference — similar-length
    // docs batch together so batch·max(len) − Σlen (the padding waste)
    // stays small; the per-batch accounting is integer-exact and
    // hash-gated. One exchange on bucket; the batch cut is a row_number
    // inside each bucket.
    Q("q_pack_length_buckets",
      """WITH b AS (SELECT doc_id, n_chars AS len,
        |                  CAST(least(n_chars // 64, 7) AS BIGINT) AS bucket
        |           FROM documents),
        |r AS (SELECT *, row_number() OVER (PARTITION BY bucket
        |                                   ORDER BY doc_id) AS rn FROM b)
        |SELECT bucket, CAST((rn - 1) // 16 AS BIGINT) AS batch_idx,
        |       count(*) AS n_rows,
        |       max(len) AS max_len, CAST(sum(len) AS BIGINT) AS len_sum,
        |       CAST(count(*) * max(len) - sum(len) AS BIGINT)
        |         AS padding_waste
        |FROM r GROUP BY bucket, batch_idx
        |ORDER BY bucket, batch_idx""".stripMargin) { (s, dir) =>
      graft.operators.Packing.lengthBucketBatches(
          t(s, dir, "documents"), "doc_id", "n_chars",
          bucketWidth = 64, maxBucket = 7, batchSize = 16)
        .orderBy("bucket", "batch_idx")
    },

    // DSIR importance weighting (operators.ImportanceWeights): unigram
    // target-vs-source log-likelihood ratio with add-one smoothing —
    // target = 'en' documents, source = the corpus. ONE token-stats pass
    // (target counts conditional in the same aggregation), one
    // vocabulary join (tf-idf shape). Determinism: each per-token log
    // contribution is quantized to integer MILLI-NATS (round(·×1e3) as
    // BIGINT) before the per-doc Σ, so the sum is exact integer
    // arithmetic — order-independent, with the `round` boundary density
    // 1000× below the micro-nat variant that libm ln() ulps could flip.
    // The GATE hashes integer-exact columns only: floor of a
    // correctly-rounded IEEE division (bit-identical on every engine and
    // every DuckDB version) and the integer sum's sign — no decimal
    // round(·, k) on doubles anywhere (round-at-precision on doubles is
    // version-sensitive DuckDB surface, the r7/r8 failure class).
    Q("q_curate_dsir", {
      val toks = TextQueries.sqlToks
      s"""WITH tk AS (SELECT doc_id, lang, $toks AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS token,
         |               lang = 'en' AS is_tgt FROM tk),
         |stats AS (SELECT token, count(*) AS c_src,
         |                 count(*) FILTER (WHERE is_tgt) AS c_tgt
         |          FROM tok GROUP BY token),
         |tot AS (SELECT CAST(sum(c_src) AS BIGINT) AS n_src,
         |               CAST(sum(c_tgt) AS BIGINT) AS n_tgt,
         |               count(*) AS v FROM stats),
         |contrib AS (SELECT token,
         |              CAST(round((ln((c_tgt + 1.0) / (tot.n_tgt + tot.v))
         |                     - ln((c_src + 1.0) / (tot.n_src + tot.v)))
         |                   * 1000) AS BIGINT) AS milli
         |            FROM stats, tot),
         |scored AS (SELECT tok.doc_id, count(*) AS n_tok,
         |                  CAST(sum(c.milli) AS BIGINT) AS raw_milli
         |           FROM tok JOIN contrib c USING (token)
         |           GROUP BY tok.doc_id)
         |SELECT doc_id, n_tok,
         |       CAST(floor(raw_milli * 1.0 / n_tok) AS BIGINT)
         |         AS score_milli,
         |       raw_milli > 0 AS keep
         |FROM scored ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      graft.operators.ImportanceWeights.dsirScores(
          t(s, dir, "documents"), "doc_id", "text",
          targetPred = col("lang") === "en")
        .select("doc_id", "n_tok", "score_milli", "keep")
        .orderBy("doc_id")
    },

    // Corpus drift — top moved tokens (operators.DriftMonitor.topDrift):
    // which tokens shifted most between the 'en' slice and the rest.
    // Ranking and gate are EXACT integer arithmetic end to end:
    // drift_x = |c_a·n_b − c_b·n_a| (the cross-multiplied probability
    // gap — no floating point, no rounding step anywhere), total order
    // by (drift_x DESC, token).
    Q("q_drift_tokens", {
      val toks = TextQueries.sqlToks
      s"""WITH tk AS (SELECT lang = 'en' AS in_a, $toks AS toks
         |            FROM documents),
         |tok AS (SELECT in_a, unnest(toks) AS token FROM tk),
         |cnt AS (SELECT token,
         |               count(*) FILTER (WHERE in_a) AS c_a,
         |               count(*) FILTER (WHERE NOT in_a) AS c_b
         |        FROM tok GROUP BY token),
         |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
         |               CAST(sum(c_b) AS BIGINT) AS n_b FROM cnt)
         |SELECT token, CAST(c_a AS BIGINT) AS c_a,
         |       CAST(c_b AS BIGINT) AS c_b,
         |       CAST(abs(c_a * tot.n_b - c_b * tot.n_a) AS BIGINT)
         |         AS drift_x
         |FROM cnt, tot
         |ORDER BY drift_x DESC, token LIMIT 40""".stripMargin
    }) { (s, dir) =>
      graft.operators.DriftMonitor.topDrift(
          t(s, dir, "documents"), "text", col("lang") === "en", k = 40)
        .orderBy(col("drift_x").desc, col("token"))
    },

    // Corpus drift — Jensen-Shannon divergence
    // (operators.DriftMonitor.jsDivergence): one scalar row. Per-token
    // JS terms are provably non-negative (log-sum inequality), quantized
    // to integer MICRO-NATS at the vocabulary frame, then integer-summed
    // — commutative (no double-fold order) and ~6 orders of magnitude
    // above libm ln() ulp noise at the round boundary (JS terms are
    // ≤ ln2/vocab; contrast the r7/r8 dsir lesson where 10-nat
    // contributions made micro-rounding fragile).
    Q("q_drift_total", {
      val toks = TextQueries.sqlToks
      s"""WITH tk AS (SELECT lang = 'en' AS in_a, $toks AS toks
         |            FROM documents),
         |tok AS (SELECT in_a, unnest(toks) AS token FROM tk),
         |cnt AS (SELECT token,
         |               count(*) FILTER (WHERE in_a) AS c_a,
         |               count(*) FILTER (WHERE NOT in_a) AS c_b
         |        FROM tok GROUP BY token),
         |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
         |               CAST(sum(c_b) AS BIGINT) AS n_b FROM cnt),
         |term AS (SELECT CAST(round((
         |           CASE WHEN c_a > 0
         |                THEN (c_a * 1.0 / tot.n_a) *
         |                     ln((c_a * 1.0 / tot.n_a) /
         |                        (((c_a * 1.0 / tot.n_a) +
         |                          (c_b * 1.0 / tot.n_b)) / 2.0))
         |                ELSE 0.0 END +
         |           CASE WHEN c_b > 0
         |                THEN (c_b * 1.0 / tot.n_b) *
         |                     ln((c_b * 1.0 / tot.n_b) /
         |                        (((c_a * 1.0 / tot.n_a) +
         |                          (c_b * 1.0 / tot.n_b)) / 2.0))
         |                ELSE 0.0 END) * 0.5 * 1000000.0) AS BIGINT)
         |           AS micro
         |         FROM cnt, tot)
         |SELECT tot.n_a, tot.n_b, count(*) AS vocab,
         |       CAST(sum(micro) AS BIGINT) AS js_micro
         |FROM term, tot GROUP BY tot.n_a, tot.n_b""".stripMargin
    }) { (s, dir) =>
      graft.operators.DriftMonitor.jsDivergence(
        t(s, dir, "documents"), "text", col("lang") === "en")
    },

    // Population stability index (DriftMonitor.psiFromCounts) — the
    // drift score monitoring runbooks actually threshold on (< 0.1
    // stable, > 0.25 investigate), next to the JS gate: Laplace
    // smoothing over the JOINT vocabulary keeps one-sided tokens
    // finite (ε = 1/(n+V), derived from integers on both engines),
    // per-token terms are non-negative and quantize to micro-nats
    // BEFORE the sum. Same counts table, same O(vocab) readout.
    Q("q_drift_psi", {
      val toks = TextQueries.sqlToks
      s"""WITH tk AS (SELECT lang = 'en' AS in_a, $toks AS toks
         |            FROM documents),
         |tok AS (SELECT in_a, unnest(toks) AS token FROM tk),
         |cnt AS (SELECT token,
         |               count(*) FILTER (WHERE in_a) AS c_a,
         |               count(*) FILTER (WHERE NOT in_a) AS c_b
         |        FROM tok GROUP BY token),
         |tot AS (SELECT CAST(sum(c_a) AS BIGINT) AS n_a,
         |               CAST(sum(c_b) AS BIGINT) AS n_b,
         |               CAST(count(*) AS BIGINT) AS v FROM cnt),
         |term AS (SELECT CAST(round(
         |           ((c_a + 1.0) / (tot.n_a + tot.v)
         |             - (c_b + 1.0) / (tot.n_b + tot.v)) *
         |           ln(((c_a + 1.0) / (tot.n_a + tot.v)) /
         |              ((c_b + 1.0) / (tot.n_b + tot.v)))
         |           * 1000000.0) AS BIGINT) AS micro
         |         FROM cnt, tot)
         |SELECT tot.n_a, tot.n_b, tot.v AS vocab,
         |       CAST(sum(micro) AS BIGINT) AS psi_micro
         |FROM term, tot GROUP BY tot.n_a, tot.n_b, tot.v""".stripMargin
    }) { (s, dir) =>
      graft.operators.DriftMonitor.psiFromCounts(
        graft.operators.DriftMonitor.tokenCounts(
          t(s, dir, "documents"), "text", col("lang") === "en"))
    },

    // Incremental drift (DriftMonitor.tokenCounts/mergeCounts/
    // jsFromCounts): the corpus arrives as two batches (doc_id parity),
    // each batch aggregated separately, count tables merged token-wise,
    // readout off the merged frame. The ORACLE is the full one-pass
    // computation — incremental ≡ full is the gate's contract (exact:
    // counts are integers, terms quantize identically), which is what
    // makes drift affordable as a standing nightly guardrail: O(batch)
    // per night against a 100 TB reference, never a rescan.
    Q("q_drift_incremental", driftOracle) { (s, dir) =>
      import graft.operators.DriftMonitor
      val docs = t(s, dir, "documents")
      val pred = col("lang") === "en"
      val b0 = DriftMonitor.tokenCounts(
        docs.where(col("doc_id") % 2 === 0), "text", pred)
      val b1 = DriftMonitor.tokenCounts(
        docs.where(col("doc_id") % 2 === 1), "text", pred)
      DriftMonitor.jsFromCounts(DriftMonitor.mergeCounts(b0, b1))
    },

    // The STREAMING drift twin through the driver hash
    // (EventStreams.driftSink): a real foreachBatch query folds each
    // micro-batch's token counts into the standing table behind the
    // crash-safe swap — two one-shot streams deliver the even then the
    // odd docs of a fixed id-bounded slice, and the js readout from the
    // persisted counts must hash-match the full-recompute oracle over
    // the same slice: batch boundaries and the swap must be invisible
    // in the counts.
    Q("q_stream_drift_replay",
      driftOracleWhere(" WHERE doc_id < 2000")) { (s, dir) =>
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val tablePath = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_drift_stream",
        dir.replace('/', '_').replace(':', '_')).toString
      val fs = new org.apache.hadoop.fs.Path(tablePath)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tablePath), true)
      def feed(m: Long): Unit = {
        // the id bound keeps this fixture feed fixed-size at any sf (a
        // MemoryStream collect must never scale with the table); the
        // oracle recomputes over the same bounded slice
        val rows = t(s, dir, "documents")
          .where(col("doc_id") % 2 === m && col("doc_id") < 2000)
          .select(col("text"), (col("lang") === "en").as("in_a"))
          .as[(String, Boolean)].collect().toSeq
        val src = MemoryStream[(String, Boolean)]
        src.addData(rows: _*)
        graft.streaming.EventStreams.driftSink(
            src.toDF().toDF("text", "in_a"), "text", col("in_a"),
            tablePath)
          .awaitTermination()
      }
      feed(0L)
      feed(1L)
      graft.operators.DriftMonitor.jsFromCounts(s.read.parquet(tablePath))
    },

    // Export shard manifest: the integrity artifact a training job reads
    // before consuming a packed export — per-bin chunk count, token sum,
    // running-total end, and an md5 over the bin's (doc:chunk) sequence
    // IN PACK ORDER, so a reordered, dropped, or duplicated chunk
    // anywhere in the export flips exactly the affected bins' rows.
    // Spark side rolls up the distributed packer's output; the oracle
    // replays pack order in a windowed cumulative sum and aggregates the
    // same manifest.
    Q("q_export_manifest",
      s"""WITH exp AS ($exportSqlCore),
         |p AS (SELECT doc_id, chunk_idx, chunk_md5,
         |             CAST(n_tokens AS BIGINT) AS w,
         |             CAST(sum(n_tokens) OVER (
         |               ORDER BY chunk_md5, doc_id, chunk_idx
         |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM exp),
         |b AS (SELECT doc_id, chunk_idx, chunk_md5, w, cum,
         |             (cum - w) // 256 AS bin FROM p)
         |SELECT CAST(bin AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(w) AS BIGINT) AS token_sum,
         |       CAST(max(cum) AS BIGINT) AS cum_end,
         |       md5(string_agg(doc_id || ':' || chunk_idx, ' '
         |           ORDER BY chunk_md5, doc_id, chunk_idx)) AS ids_md5
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      import graft.operators.Packing
      val packed = Packing.packByBudget(
        exportChunks(s, dir).select(col("doc_id"), col("chunk_idx"),
          col("chunk_md5"), col("n_tokens").cast("long").as("w")),
        Seq(col("chunk_md5"), col("doc_id"), col("chunk_idx")), "w", 256L)
      Packing.shardManifest(packed,
          Seq(col("chunk_md5"), col("doc_id"), col("chunk_idx")),
          concat(col("doc_id").cast("string"), lit(":"),
            col("chunk_idx").cast("string")), "w")
        .select(col("bin"), col("n_rows").as("n_chunks"),
          col("weight_sum").as("token_sum"), col("cum_end"),
          col("ids_md5"))
        .orderBy("bin")
    },

    // NFKC compatibility normalization + invisible stripping
    // (expressions.UnicodeNorm): crawled text carries ligatures (ﬁ),
    // fullwidth/halfwidth forms, unit squares (㎒), zero-width
    // joiners/BOM/soft hyphens — the characters that make visually
    // identical strings hash differently and smuggle through whitespace
    // tokenizers (NFKC does NOT remove the invisibles; strip_invisible
    // is a separate, deliberate pass). The oracle knows only the planted
    // GROUND-TRUTH folds (file/A1/1, カタカナ/MHz, abc/xyz), so the gate
    // verifies the real JDK Normalizer walk against the Unicode tables
    // rather than replaying an implementation.
    Q("q_text_nfkc", {
      val p0 = " ﬁle Ａ１ ①"
      val e0 = " file A1 1"
      val p1 = " ｶﾀｶﾅ ㎒"
      val e1 = " カタカナ MHz"
      val p2 = " a\u200Bb\u200C\u200Dc\uFEFF x\u00ADy\u200Ez"
      val e2 = " abc xyz"
      s"""WITH aug AS (
         |  SELECT doc_id,
         |         text || CASE CAST(doc_id % 4 AS INT)
         |                 WHEN 0 THEN '$p0' WHEN 1 THEN '$p1'
         |                 WHEN 2 THEN '$p2' ELSE '' END AS raw,
         |         text || CASE CAST(doc_id % 4 AS INT)
         |                 WHEN 0 THEN '$e0' WHEN 1 THEN '$e1'
         |                 WHEN 2 THEN '$e2' ELSE '' END AS expected
         |  FROM documents)
         |SELECT doc_id, expected AS cleaned, expected <> raw AS changed
         |FROM aug ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val p0 = " ﬁle Ａ１ ①"
      val p1 = " ｶﾀｶﾅ ㎒"
      val p2 = " a\u200Bb\u200C\u200Dc\uFEFF x\u00ADy\u200Ez"
      val raw = concat(col("text"),
        when(col("doc_id") % 4 === 0, lit(p0))
          .when(col("doc_id") % 4 === 1, lit(p1))
          .when(col("doc_id") % 4 === 2, lit(p2))
          .otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .selectExpr("doc_id", "raw",
          "nfkc_norm(strip_invisible(raw)) AS cleaned")
        .select(col("doc_id"), col("cleaned"),
          (col("cleaned") =!= col("raw")).as("changed"))
        .orderBy("doc_id")
    },

    // Aho-Corasick blocklist at scale (expressions.MultiMatch): real
    // blocklists hold thousands of phrases, and per-phrase replace()
    // passes are O(phrases · corpus); the automaton matches ALL phrases
    // in ONE codegen'd pass — O(text + matches), loadable phrase FILE
    // (only the path travels in the plan, per-executor memoized build).
    // Semantics are overlap-inclusive (every phrase at every position —
    // 'batch' counts inside 'batch batch'), which the oracle replays by
    // brute-force substring-position enumeration: a wrong fail link or
    // missed dict-suffix aggregation undercounts and fails the hash.
    Q("q_text_blocklist_ac", {
      val perPhrase = blocklistPhrases.map { p =>
        s"""len(list_filter(range(1, greatest(len(lt) - ${p.length} + 2,
           |                                  1)),
           |      i -> substr(lt, CAST(i AS INT), ${p.length}) = '$p'))"""
          .stripMargin
      }.mkString("(", "\n + ", ")")
      s"""WITH l AS (SELECT doc_id, lower(text) AS lt FROM documents)
         |SELECT doc_id, CAST($perPhrase AS BIGINT) AS n_hits,
         |       $perPhrase > 0 AS flagged
         |FROM l ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val hits = graft.expressions.MultiMatch
        .countCol(lower(col("text")), blocklistPath)
      t(s, dir, "documents")
        .select(col("doc_id"), hits.as("n_hits"),
          (hits > 0).as("flagged"))
        .orderBy("doc_id")
    },

    // C4-style blocklist phrase filter: per-document occurrence counts
    // of a (broadcast-small) banned-phrase list via the exact
    // substring-count identity (len − len(replace))/len(phrase) — all
    // integer, scan-local, codegen'd; replace() is non-overlapping
    // left-to-right on both engines so counts are engine-identical.
    Q("q_text_blocklist",
      """WITH l AS (SELECT doc_id, lower(text) AS lt FROM documents)
        |SELECT doc_id,
        |       CAST((len(lt) - len(replace(lt, 'slow join', ''))) / 9
        |          + (len(lt) - len(replace(lt, 'batch batch', ''))) / 11
        |          + (len(lt) - len(replace(lt, 'dup', ''))) / 3 AS INT)
        |         AS n_hits,
        |       (len(lt) - len(replace(lt, 'slow join', ''))
        |        + len(lt) - len(replace(lt, 'batch batch', ''))
        |        + len(lt) - len(replace(lt, 'dup', ''))) > 0 AS flagged
        |FROM l ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val phrases = Seq("slow join", "batch batch", "dup")
      val lt = lower(col("text"))
      val nHits = phrases.map(p =>
          (length(lt) - length(replace(lt, lit(p), lit("")))) /
            lit(p.length))
        .reduce(_ + _).cast("int")
      t(s, dir, "documents")
        .select(col("doc_id"), nHits.as("n_hits"))
        .withColumn("flagged", col("n_hits") > 0)
        .orderBy("doc_id")
    },

    // Vocabulary building: top-10 alphabetic tokens per language by
    // frequency (count desc, token asc — total order). One scan-local
    // explode, one (lang, token) aggregation, one top-k window partitioned
    // by language.
    Q("q_text_topk_tokens",
      """WITH tok AS (
        |  SELECT lang,
        |         unnest(string_split_regex(lower(text), '[^a-z]+')) AS token
        |  FROM documents),
        |cnt AS (SELECT lang, token, count(*) AS cnt FROM tok
        |        WHERE token <> '' GROUP BY lang, token),
        |rk AS (SELECT lang, token, cnt,
        |              row_number() OVER (PARTITION BY lang
        |                ORDER BY cnt DESC, token) AS rk
        |       FROM cnt)
        |SELECT lang, token, cnt, rk FROM rk WHERE rk <= 10
        |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = t(s, dir, "documents")
        .select(col("lang"),
          explode(split(lower(col("text")), "[^a-z]+")).as("token"))
        .where(col("token") =!= "")
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("token"))
      tok.groupBy("lang", "token").agg(count(lit(1)).as("cnt"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 10)
        .orderBy("lang", "rk")
    },

    // PII scrubbing: URL/email redaction with portable RE2-safe regexes
    // (the corpus has neither, so rows plant them deterministically; the
    // gate hash-compares every scrubbed string and the detection flag).
    Q("q_text_scrub",
      """WITH aug AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 7 = 0
        |              THEN text ||
        |                ' contact me@example.com or http://x.io/page now'
        |              ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(regexp_replace(text,
        |           'https?://[^ ]+', '<URL>', 'g'),
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |           '<EMAIL>', 'g') AS scrubbed,
        |       (regexp_matches(text, 'https?://[^ ]+') OR
        |        regexp_matches(text,
        |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |         AS had_pii
        |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val urlRe = "https?://[^ ]+"
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val aug = t(s, dir, "documents").withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"),
            lit(" contact me@example.com or http://x.io/page now")))
          .otherwise(col("text")))
      aug.select(col("doc_id"),
          regexp_replace(regexp_replace(col("text"), urlRe, "<URL>"),
            emailRe, "<EMAIL>").as("scrubbed"),
          (col("text").rlike(urlRe) || col("text").rlike(emailRe))
            .as("had_pii"))
        .orderBy("doc_id")
    },

    // PII span detection with Luhn validation (functions.PiiFunctions):
    // emails / phones / IPv4s / card-shaped digit runs counted per doc,
    // card candidates VALIDATED by the Luhn checksum as a pure integer
    // HOF fold (no UDF, scan-local). The fixture plants a doc_id-derived
    // 16-digit number whose check digit is CORRECT iff doc_id%3=0 — and
    // the oracle scores card validity from that GROUND TRUTH, not by
    // replaying Luhn, so a wrong doubling offset or 2d-9 slip in the
    // Spark fold fails the hash (both-sides-wrong can't cancel). The
    // planted '256.1.1.1' must NOT count as an IPv4 (octet range is in
    // the pattern, identical under Java-greedy and RE2-longest).
    Q("q_pii_detect", {
      import graft.functions.PiiFunctions
      s"""WITH base AS (
         |  SELECT doc_id, text,
         |         lpad(CAST((doc_id * 7919 + 12345) % 1000000000000000
         |                   AS VARCHAR), 15, '0') AS payload
         |  FROM documents),
         |luhn AS (
         |  SELECT doc_id, text, payload,
         |         list_reduce(list_transform(range(1, 16), j ->
         |           CASE WHEN j % 2 = 1
         |                THEN CASE WHEN 2 * CAST(substr(reverse(payload),
         |                               CAST(j AS INT), 1) AS INT) > 9
         |                          THEN 2 * CAST(substr(reverse(payload),
         |                               CAST(j AS INT), 1) AS INT) - 9
         |                          ELSE 2 * CAST(substr(reverse(payload),
         |                               CAST(j AS INT), 1) AS INT) END
         |                ELSE CAST(substr(reverse(payload),
         |                          CAST(j AS INT), 1) AS INT) END),
         |           (a, b) -> a + b) AS sum_p
         |  FROM base),
         |aug AS (
         |  SELECT doc_id,
         |         text
         |         || CASE WHEN doc_id % 2 = 0 THEN ' card ' || payload ||
         |              CAST(CASE WHEN doc_id % 3 = 0
         |                        THEN (10 - sum_p % 10) % 10
         |                        ELSE ((10 - sum_p % 10) % 10 + 1) % 10
         |                   END AS VARCHAR) || ' ok' ELSE '' END
         |         || CASE WHEN doc_id % 5 = 0
         |                 THEN ' call +1 415 555 0137 now' ELSE '' END
         |         || CASE WHEN doc_id % 7 = 0
         |                 THEN ' from 10.0.0.7 and 256.1.1.1 out'
         |                 ELSE '' END
         |         || CASE WHEN doc_id % 11 = 0
         |                 THEN ' mail a.b+c@test.org end' ELSE '' END
         |           AS text
         |  FROM luhn)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text,
         |            '${PiiFunctions.emailRe}')) AS INT) AS n_email,
         |       CAST(len(regexp_extract_all(text,
         |            '${PiiFunctions.phoneRe}')) AS INT) AS n_phone,
         |       CAST(len(regexp_extract_all(text,
         |            '${PiiFunctions.ipv4Re}')) AS INT) AS n_ipv4,
         |       CAST(len(regexp_extract_all(text,
         |            '${PiiFunctions.cardRe}')) AS INT) AS n_card_like,
         |       CAST(CASE WHEN doc_id % 6 = 0 THEN 1 ELSE 0 END AS INT)
         |         AS n_card_valid,
         |       (doc_id % 11 = 0 OR doc_id % 5 = 0 OR doc_id % 7 = 0
         |        OR doc_id % 6 = 0) AS has_pii
         |FROM aug ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      import graft.functions.PiiFunctions
      val id = col("doc_id")
      val payload = lpad(
        ((id * 7919 + 12345) % 1000000000000000L).cast("string"), 15, "0")
      // check-digit construction: double payload digits at EVEN 0-based
      // distance from the right (they land at odd distance once the
      // check digit is appended — the exact inverse of luhnValid's fold)
      val revDigits = transform(
        slice(split(reverse(payload), ""), lit(1), lit(15)),
        c => c.cast("int"))
      val sumP = aggregate(
        zip_with(revDigits, sequence(lit(0), lit(14)),
          (d, i) => when(i % 2 === 0,
            when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)),
        lit(0), (acc, x) => acc + x)
      val check = (lit(10) - sumP % 10) % 10
      val digit16 = when(id % 3 === 0, check).otherwise((check + 1) % 10)
      val aug = t(s, dir, "documents").select(id, concat(
          col("text"),
          when(id % 2 === 0, concat(lit(" card "), payload,
            digit16.cast("string"), lit(" ok"))).otherwise(lit("")),
          when(id % 5 === 0, lit(" call +1 415 555 0137 now"))
            .otherwise(lit("")),
          when(id % 7 === 0, lit(" from 10.0.0.7 and 256.1.1.1 out"))
            .otherwise(lit("")),
          when(id % 11 === 0, lit(" mail a.b+c@test.org end"))
            .otherwise(lit(""))).as("text"))
      PiiFunctions.detect(aug, "doc_id", "text").orderBy("doc_id")
    },

    // k-anonymity audit (Curation.kAnonymity): per-row re-identifiability
    // through the (nation, market-segment) quasi-identifier tuple —
    // groups under k=12 records fail (k chosen to split the sf fixture: 55 of 125 groups fail at sf0.01) and would be suppressed/generalized
    // before release. One map-side-combinable aggregation joined back;
    // counts exact, flag a pure integer comparison.
    Q("q_pii_kanon",
      """WITH g AS (SELECT c_nationkey, c_mktsegment,
        |                  count(*) AS group_n
        |           FROM customer GROUP BY 1, 2)
        |SELECT c.c_custkey, CAST(g.group_n AS BIGINT) AS group_n,
        |       g.group_n >= 12 AS k_ok
        |FROM customer c
        |JOIN g USING (c_nationkey, c_mktsegment)
        |ORDER BY c.c_custkey""".stripMargin) { (s, dir) =>
      graft.operators.Curation.kAnonymity(
          t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 12)
        .select("c_custkey", "group_n", "k_ok")
        .orderBy("c_custkey")
    },

    // PII pseudonymization (TextFunctions.pseudonymize): salted-hash
    // surrogates replace customer names while PRESERVING equality — the
    // order rollup still groups correctly through the pseudonym, and the
    // raw name never appears in the output (the scan-local complement to
    // q_text_scrub's redaction and q_delete_cascade's erasure). The gate
    // hash-compares every surrogate, so a salt or truncation drift fails.
    Q("q_pii_pseudonymize",
      """SELECT 'p_' || substr(md5('k1:' || c.c_name), 1, 16) AS pseudonym,
        |       count(o.o_orderkey) AS n_orders,
        |       round(sum(o.o_totalprice), 4) AS spend
        |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_name ORDER BY pseudonym""".stripMargin) { (s, dir) =>
      import graft.functions.TextFunctions.pseudonymize
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round4(sum(col("o_totalprice"))).as("spend"))
        .select(pseudonymize(col("c_name"), "k1").as("pseudonym"),
          col("n_orders"), col("spend"))
        .orderBy("pseudonym")
    },

    // Crypto-shredding (operators.CryptoShred — GDPR erasure at the
    // VALUE level, the complement of the tombstone index lifecycle):
    // c_name encrypts under per-subject AES-128 keys (Spark's native
    // aes_encrypt, no UDFs), the key table forgets the formula subjects
    // (c_custkey % 7 = 3 — ONE anti-join on the subject-sized key
    // table, the data never rewritten), and decryption with the
    // surviving keys must return every kept name EXACTLY and NULL —
    // not an error, not a placeholder — for every shredded one. The
    // oracle replays only the visible contract: plaintext where the key
    // survived, NULL where it didn't; a single bit of ciphertext
    // corruption or key mismatch surfaces as a hash break.
    Q("q_pii_crypto_shred",
      """SELECT c_custkey AS subject_id,
        |       CASE WHEN c_custkey % 7 = 3 THEN NULL ELSE c_name END
        |         AS c_name,
        |       c_custkey % 7 = 3 AS shredded
        |FROM customer ORDER BY subject_id""".stripMargin) { (s, dir) =>
      import graft.operators.CryptoShred
      val cust = t(s, dir, "customer")
      val keys = CryptoShred.keyTable(cust, "c_custkey", salt = "r14")
      val enc = CryptoShred.encrypt(
        cust.select("c_custkey", "c_name"), "c_custkey", "c_name", keys)
      val kept = CryptoShred.shred(keys,
        cust.where(col("c_custkey") % 7 === 3).select("c_custkey"))
      CryptoShred.decrypt(enc, "c_custkey", "c_name", kept)
        .select(col("c_custkey").as("subject_id"), col("c_name"),
          col("c_name").isNull.as("shredded"))
        .orderBy("subject_id")
    },

    // Benchmark decontamination: flag training documents sharing any
    // 5-gram shingle with a held-out benchmark set — one explode per side
    // and a semi join on the shingle (scan-local signatures, shuffle on
    // the shingle key only). Contamination is planted (verbatim benchmark
    // copies at doc_id+500000) so the gate discriminates.
    Q("q_text_decontaminate", {
      val sh5 = TextQueries.sqlShingles(5)
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id < 5),
         |train AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 5
         |  UNION ALL
         |  SELECT doc_id + 500000, text FROM bench),
         |bsh AS (SELECT DISTINCT unnest($sh5) AS sh FROM bench),
         |tsh AS (SELECT doc_id, unnest($sh5) AS sh FROM train)
         |SELECT DISTINCT doc_id FROM tsh
         |WHERE sh IN (SELECT sh FROM bsh)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
      val d = t(s, dir, "documents")
      val bench = d.where(col("doc_id") < 5).select("doc_id", "text")
      val train = d.where(col("doc_id") >= 5).select("doc_id", "text")
        .union(bench.select((col("doc_id") + 500000).as("doc_id"),
          col("text")))
      val bsh = bench.selectExpr("explode(word_shingles(text, 5)) AS sh")
        .distinct()
      val tsh = train.selectExpr("doc_id",
        "explode(word_shingles(text, 5)) AS sh")
      tsh.join(bsh, Seq("sh"), "left_semi")
        .select("doc_id").distinct().orderBy("doc_id")
    },

    // Bigram language-model statistics: P(w2 | w1) from corpus counts —
    // one bigram explode, a bigram aggregation, and a unigram aggregation
    // joined back. Probabilities are exact integer ratios.
    Q("q_text_bigram_lm",
      s"""WITH toks AS (SELECT doc_id, ${TextQueries.sqlToks} AS ts
         |             FROM documents),
         |bg AS (SELECT unnest(list_transform(range(1, len(ts)),
         |                i -> [ts[i], ts[i+1]])) AS b
         |       FROM toks WHERE len(ts) >= 2),
         |bc AS (SELECT b[1] AS w1, b[2] AS w2, count(*) AS c12
         |       FROM bg GROUP BY 1, 2),
         |uc AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY w1)
         |SELECT bc.w1, bc.w2, bc.c12,
         |       round(CAST(bc.c12 AS DOUBLE) / uc.c1, 4) AS p
         |FROM bc JOIN uc USING (w1)
         |WHERE bc.c12 >= 5
         |ORDER BY w1, w2""".stripMargin) { (s, dir) =>
      // bigrams stay scan-local: one transform over the token array per
      // document, exploded to (w1, w2) pairs — no self-join
      val toks = split(trim(lower(col("text"))), "\\s+")
      val d = t(s, dir, "documents").select(toks.as("ts"))
        .where(size(col("ts")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ts) - 1), i -> struct(ts[i-1] AS w1, ts[i] AS w2))"))
          .as("b"))
        .select(col("b.w1"), col("b.w2"))
      val bc = d.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      val uc = bc.groupBy("w1").agg(sum("c12").as("c1"))
      bc.join(uc, "w1")
        .where(col("c12") >= 5)
        .select(col("w1"), col("w2"), col("c12"),
          round4(col("c12").cast("double") / col("c1")).as("p"))
        .orderBy("w1", "w2")
    },

    // CCNet-shape perplexity filter (operators.BackoffLm): train a bigram
    // stupid-backoff LM on the even-doc_id half of the corpus, score EVERY
    // document in integer micro-nats (per-token costs quantized before the
    // sum — no float-order exposure), flag documents whose average cost
    // exceeds the corpus-wide per-token average. Held-out odd docs hit the
    // unseen-bigram/unseen-unigram backoff paths, so the 0.4-factor
    // arithmetic is on the gated path, not just the seen-count ratio.
    Q("q_text_ppl_filter",
      s"""WITH toks AS (SELECT doc_id, ${TextQueries.sqlToks} AS ts
         |              FROM documents),
         |tr AS (SELECT ts FROM toks WHERE doc_id % 2 = 0),
         |uc AS (SELECT t AS w, count(*) AS c
         |       FROM (SELECT unnest(ts) AS t FROM tr) GROUP BY 1),
         |nn AS (SELECT greatest(CAST(coalesce(sum(c), 0) AS DOUBLE), 1.0)
         |              AS n FROM uc),
         |bc AS (SELECT b[1] AS w1, b[2] AS w2, count(*) AS c12
         |       FROM (SELECT unnest(list_transform(range(1, len(ts)),
         |                      i -> [ts[i], ts[i+1]])) AS b
         |             FROM tr WHERE len(ts) >= 2) GROUP BY 1, 2),
         |cx AS (SELECT w1, sum(c12) AS c1 FROM bc GROUP BY 1),
         |st AS (SELECT doc_id, x.i AS i, x.w AS w, x.pw AS pw
         |       FROM (SELECT doc_id,
         |               unnest(list_transform(range(1, len(ts) + 1),
         |                 i -> {'i': i, 'w': ts[i],
         |                       'pw': CASE WHEN i > 1 THEN ts[i-1] END}))
         |                 AS x
         |             FROM toks WHERE len(ts) >= 1)),
         |cost AS (SELECT s.doc_id,
         |           CAST(floor(-1000000.0 * ln(
         |             CASE WHEN bc.c12 IS NOT NULL
         |                  THEN CAST(bc.c12 AS DOUBLE) / cx.c1
         |                  ELSE (CASE WHEN s.i = 1 THEN 1.0 ELSE 0.4 END)
         |                       * coalesce(CAST(uc.c AS DOUBLE), 0.4)
         |                       / nn.n END) + 0.5) AS BIGINT) AS unats
         |         FROM st s
         |         LEFT JOIN uc ON uc.w = s.w
         |         LEFT JOIN bc ON bc.w1 = s.pw AND bc.w2 = s.w
         |         LEFT JOIN cx ON cx.w1 = s.pw
         |         CROSS JOIN nn),
         |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |             CAST(sum(unats) AS BIGINT) AS total_unats
         |      FROM cost GROUP BY 1),
         |g AS (SELECT CAST(sum(total_unats) AS BIGINT)
         |             // CAST(sum(n_tokens) AS BIGINT) AS gavg FROM d)
         |SELECT doc_id, n_tokens, total_unats,
         |       total_unats // n_tokens AS avg_unats,
         |       (total_unats // n_tokens) > g.gavg AS flagged
         |FROM d CROSS JOIN g ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.BackoffLm
      val toks = t(s, dir, "documents").select(col("doc_id"),
        split(trim(lower(col("text"))), "\\s+").as("ts"))
      val m = BackoffLm.train(
        toks.where(col("doc_id") % 2 === 0).select("ts"))
      val scored = BackoffLm.score(toks, m)
      val g = scored.agg(
        expr("sum(total_unats) div sum(n_tokens)").as("gavg"))
      scored.crossJoin(broadcast(g))
        .select(col("doc_id"), col("n_tokens"), col("total_unats"),
          col("avg_unats"), (col("avg_unats") > col("gavg")).as("flagged"))
        .orderBy("doc_id")
    },

    // Token-distribution entropy per language — the corpus-diversity
    // signal (low entropy = repetitive/templated text). Same
    // -sum(p·ln p) fold both engines; rounded like every float
    // aggregation in the catalog.
    // Token entropy per language via the identity
    // H = -Σ (c/n)·ln(c/n) = ln(n) - Σ c·ln(c) / n — one aggregation over
    // the per-token counts, no totals join (which recomputed the
    // explode+count once per branch). Both engines evaluate the identical
    // rewritten expression, so the hash gate stays exact.
    Q("q_text_entropy",
      s"""WITH tok AS (SELECT lang, unnest(${TextQueries.sqlToks}) AS t
         |            FROM documents),
         |cnt AS (SELECT lang, t, count(*) AS c FROM tok GROUP BY lang, t)
         |SELECT lang,
         |       round(ln(CAST(sum(c) AS DOUBLE))
         |             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
         |               / CAST(sum(c) AS DOUBLE), 4) AS entropy,
         |       CAST(count(*) AS BIGINT) AS vocab
         |FROM cnt GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val tok = t(s, dir, "documents")
        .select(col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("t"))
      val cnt = tok.groupBy("lang", "t").agg(count(lit(1)).as("c"))
      cnt.groupBy("lang")
        .agg(round4(log(sum(col("c")).cast("double")) -
            sum(col("c").cast("double") * log(col("c").cast("double"))) /
              sum(col("c")).cast("double")).as("entropy"),
          count(lit(1)).as("vocab"))
        .orderBy("lang")
    },

    // Source-level similarity (Dedup.groupMinhashSimilarity): one MinHash
    // signature per source — element-wise min over member signatures IS
    // the signature of the union of their shingle sets (mergeable
    // aggregate) — then pairwise estimated Jaccard on the 16-wide
    // sketches. The md5-based design keeps the whole pipeline
    // byte-reproducible in the oracle.
    Q("q_dedup_source_sim", {
      val sh3 = TextQueries.sqlShingles(3)
      s"""WITH sh AS (SELECT source, $sh3 AS sh FROM documents),
         |sig AS (SELECT source, j,
         |               min(list_aggregate(list_transform(sh,
         |                 s -> md5(j || ':' || s)), 'min')) AS mv
         |        FROM sh, range(0, 16) AS t(j)
         |        GROUP BY source, j),
         |pairs AS (SELECT a.source AS g1, b.source AS g2,
         |                 CASE WHEN a.mv = b.mv THEN 1 ELSE 0 END AS hit
         |          FROM sig a JOIN sig b
         |            ON a.j = b.j AND a.source < b.source)
         |SELECT g1, g2,
         |       round(CAST(sum(hit) AS DOUBLE) / 16, 4) AS est_jaccard
         |FROM pairs GROUP BY g1, g2 ORDER BY g1, g2""".stripMargin
    }) { (s, dir) =>
      Dedup.groupMinhashSimilarity(t(s, dir, "documents"), "source", "text",
          k = 3, m = 16)
        .orderBy("g1", "g2")
    },

    // Repetition signal (Gopher-style quality filter): the most frequent
    // token's share of the document — high ratios mark boilerplate/spam.
    // One explode + per-doc aggregation + top-1 window; the ratio divides
    // exact integers so both engines produce identical doubles.
    Q("q_text_repetition",
      s"""WITH tok AS (SELECT doc_id, unnest(${TextQueries.sqlToks}) AS token
         |            FROM documents),
         |cnt AS (SELECT doc_id, token, count(*) AS c FROM tok
         |        GROUP BY doc_id, token),
         |rk AS (SELECT doc_id, token, c,
         |              row_number() OVER (PARTITION BY doc_id
         |                ORDER BY c DESC, token) AS rk,
         |              CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT)
         |                AS n_tok
         |       FROM cnt)
         |SELECT doc_id, token AS top_token, c AS top_cnt,
         |       round(c / CAST(n_tok AS DOUBLE), 4) AS rep_ratio
         |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val tok = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("token"))
      val cnt = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      val byDoc = Window.partitionBy("doc_id")
      val rk = cnt
        .withColumn("rk",
          row_number().over(byDoc.orderBy(col("c").desc, col("token"))))
        .withColumn("n_tok", sum("c").over(byDoc))
      rk.where(col("rk") === 1)
        .select(col("doc_id"), col("token").as("top_token"),
          col("c").as("top_cnt"),
          graft.functions.Rounding
            .round4(col("c") / col("n_tok").cast("double")).as("rep_ratio"))
        .orderBy("doc_id")
    },

    // Gopher-style rule panel (Rae et al. 2021 §A1.1 adapted to this
    // corpus): per-document NAMED rule booleans — word count bounds,
    // mean-word-length bounds, minimum distinct-stopword presence — plus
    // the conjunctive keep flag, so filtering is auditable per rule
    // rather than a single opaque score (q_text_quality is the scored
    // twin). Entirely scan-local per-row array arithmetic: filtering
    // 100 TB is one pass, no shuffle. Exact-integer ratios + 4 dp
    // rounding keep both engines bit-identical on the rule boundaries.
    Q("q_text_gopher",
      s"""WITH s AS (
         |  SELECT doc_id, ${TextQueries.sqlToks} AS toks FROM documents),
         |m AS (
         |  SELECT doc_id, len(toks) AS n_tok,
         |         round(CAST(list_aggregate(list_transform(toks,
         |                 t -> length(t)), 'sum') AS DOUBLE)
         |               / len(toks), 4) AS mean_len,
         |         len(list_distinct(list_intersect(toks,
         |             ['the', 'a', 'of', 'and', 'to', 'in']))) AS n_stop
         |  FROM s)
         |SELECT doc_id, n_tok, mean_len, CAST(n_stop AS BIGINT) AS n_stop,
         |       n_tok BETWEEN 50 AND 100000 AS r_wordcount,
         |       mean_len BETWEEN 3.0 AND 10.0 AS r_meanlen,
         |       n_stop >= 2 AS r_stop,
         |       (n_tok BETWEEN 50 AND 100000)
         |         AND (mean_len BETWEEN 3.0 AND 10.0)
         |         AND n_stop >= 2 AS keep
         |FROM m ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = graft.functions.TextFunctions.tokens(col("text"))
      val stops = array(Seq("the", "a", "of", "and", "to", "in")
        .map(lit): _*)
      val nTok = size(toks).cast("long")
      val meanLen = round4(
        aggregate(transform(toks, t => length(t).cast("long")),
          lit(0L), (acc, x) => acc + x).cast("double") / size(toks))
      val nStop = size(array_intersect(toks, stops)).cast("long")
      t(s, dir, "documents")
        .select(col("doc_id"), nTok.as("n_tok"), meanLen.as("mean_len"),
          nStop.as("n_stop"))
        .withColumn("r_wordcount",
          col("n_tok") >= 50 && col("n_tok") <= 100000)
        .withColumn("r_meanlen",
          col("mean_len") >= 3.0 && col("mean_len") <= 10.0)
        .withColumn("r_stop", col("n_stop") >= 2)
        .withColumn("keep",
          col("r_wordcount") && col("r_meanlen") && col("r_stop"))
        .orderBy("doc_id")
    },

    // Round-6 curation capstone: Gopher rule filter → corpus-level
    // segment dedup (C4) → deterministic epoch shuffle → per-language
    // doc/token budget with the shuffle's lead document. Every stage is
    // individually gated (q_text_gopher, q_dedup_segments,
    // q_corpus_shuffle); this gate proves the COMPOSITION — filters feed
    // the dedup corpus (ownership is computed only among kept docs),
    // survivors (n_kept > 0) enter the shuffle, budgets sum the
    // POST-dedup token counts. One mis-staged document changes a count,
    // a token sum, or the arg-min lead and fails the hash.
    Q("q_curation_v2", {
      val toks = TextQueries.sqlToks
      s"""WITH g AS (
         |  SELECT doc_id, lang, text FROM documents
         |  WHERE len($toks) BETWEEN 50 AND 100000
         |    AND round(CAST(list_aggregate(list_transform($toks,
         |            t -> length(t)), 'sum') AS DOUBLE) / len($toks), 4)
         |        BETWEEN 3.0 AND 10.0
         |    AND len(list_distinct(list_intersect($toks,
         |        ['the', 'a', 'of', 'and', 'to', 'in']))) >= 2),
         |tok AS (SELECT doc_id, lang, $toks AS toks FROM g),
         |n AS (SELECT doc_id, lang, toks,
         |             greatest(1, CAST(ceil(len(toks) / 10.0) AS INT))
         |               AS nc
         |      FROM tok),
         |s AS (SELECT doc_id, lang, unnest(range(0, nc)) AS p, toks
         |      FROM n),
         |seg AS (SELECT doc_id, lang, p,
         |               array_to_string(toks[p*10+1 : p*10+10], ' ')
         |                 AS seg
         |        FROM s),
         |k AS (SELECT doc_id, lang, p, seg,
         |             row_number() OVER (PARTITION BY seg
         |                                ORDER BY doc_id, p) AS rn
         |      FROM seg),
         |d AS (SELECT doc_id, lang,
         |             sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_kept,
         |             CAST(sum(CASE WHEN rn = 1
         |                           THEN len(string_split(seg, ' '))
         |                           ELSE 0 END) AS BIGINT) AS kept_tokens
         |      FROM k GROUP BY doc_id, lang),
         |surv AS (SELECT doc_id, lang, kept_tokens,
         |                row_number() OVER (
         |                  ORDER BY md5('v2:' || CAST(doc_id AS VARCHAR)),
         |                           doc_id) AS shuffle_pos
         |         FROM d WHERE n_kept > 0)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(kept_tokens) AS BIGINT) AS kept_tokens,
         |       arg_min(doc_id, shuffle_pos) AS first_doc
         |FROM surv GROUP BY lang ORDER BY lang""".stripMargin
    }) { (s, dir) =>
      import graft.functions.TextFunctions
      val docs = t(s, dir, "documents")
      val toks = TextFunctions.tokens(col("text"))
      val stops = array(Seq("the", "a", "of", "and", "to", "in")
        .map(lit): _*)
      val meanLen = round4(
        aggregate(transform(toks, x => length(x).cast("long")),
          lit(0L), (acc, x) => acc + x).cast("double") / size(toks))
      val kept = docs.where(
        size(toks) >= 50 && size(toks) <= 100000 &&
          meanLen >= 3.0 && meanLen <= 10.0 &&
          size(array_intersect(toks, stops)) >= 2)
      val deduped = Dedup.dedupCorpusSegments(kept, "doc_id", "text",
          segWords = 10)
        .where(col("n_kept") > 0)
      val withLang = deduped.join(
        docs.select(col("doc_id").as("id"), col("lang")), "id")
      val shuffled = graft.operators.Sampling
        .deterministicShuffle(withLang, "id", "v2")
      shuffled.groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum("kept_tokens").as("kept_tokens"),
          min_by(col("id"), col("shuffle_pos")).as("first_doc"))
        .orderBy("lang")
    },

    // Token-budget packing (operators.Packing): documents in deterministic
    // hash order, cut into contiguous ~50k-char bins via a DISTRIBUTED
    // prefix sum (range partition + per-partition offsets — never a
    // single-partition window). The oracle replays with a windowed
    // cumulative sum; equality proves the distributed prefix sum exact.
    Q("q_pack_bins",
      """WITH w AS (SELECT doc_id, n_chars AS w,
        |                  md5(CAST(doc_id AS VARCHAR)) AS h
        |           FROM documents),
        |c AS (SELECT doc_id, w,
        |             CAST(sum(w) OVER (ORDER BY h, doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM w)
        |SELECT doc_id, w, cum, (cum - w) // 50000 AS bin
        |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import graft.operators.Packing
      val w = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars").as("w"),
          md5(col("doc_id").cast("string")).as("h"))
      Packing.packByBudget(w, Seq(col("h"), col("doc_id")), "w", 50000L)
        .select("doc_id", "w", "cum", "bin")
        .orderBy("doc_id")
    },

    // Keep-best-per-cluster (Dedup.keepBest): planted 3-member clusters —
    // original, a truncated copy, a doubled copy — chained by edges so the
    // cluster only resolves transitively; the longest text wins, lowest id
    // breaks ties. Oracle replays the clustering as a recursive CTE and
    // the pick as the same window.
    Q("q_dedup_keep_best",
      """WITH RECURSIVE
        |base AS (SELECT doc_id, text FROM documents WHERE doc_id < 30),
        |aug AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 100000, substr(text, 1, 50) FROM base
        |  UNION ALL SELECT doc_id + 200000, text || text FROM base),
        |edges AS (
        |  SELECT doc_id AS a, doc_id + 100000 AS b FROM base
        |  UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM base),
        |nodes AS (SELECT a AS id FROM edges UNION SELECT b FROM edges),
        |sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT s.b, reach.r FROM reach JOIN sym s ON s.a = reach.id),
        |labels AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id),
        |ranked AS (
        |  SELECT l.canonical, a.doc_id,
        |         row_number() OVER (PARTITION BY l.canonical
        |           ORDER BY length(a.text) DESC, a.doc_id) AS rk
        |  FROM labels l JOIN aug a ON a.doc_id = l.id)
        |SELECT canonical, max(CASE WHEN rk = 1 THEN doc_id END) AS keep_id,
        |       count(*) AS n_members
        |FROM ranked GROUP BY canonical ORDER BY canonical""".stripMargin) {
      (s, dir) =>
        val base = t(s, dir, "documents").where(col("doc_id") < 30)
          .select("doc_id", "text")
        val aug = base
          .union(base.select((col("doc_id") + 100000).as("doc_id"),
            substring(col("text"), 1, 50).as("text")))
          .union(base.select((col("doc_id") + 200000).as("doc_id"),
            concat(col("text"), col("text")).as("text")))
        val edges = base.select(col("doc_id").as("id1"),
            (col("doc_id") + 100000).as("id2"))
          .union(base.select((col("doc_id") + 100000).as("id1"),
            (col("doc_id") + 200000).as("id2")))
        Dedup.keepBest(aug, edges, "doc_id",
            Seq(length(col("text")).desc, col("doc_id").asc))
          .orderBy("canonical")
    },

    // Temperature-scaled language rates (UniMax/mC4 recipe): weight each
    // language by mass^(1/T) (T=2 → sqrt — boosts low-resource languages),
    // normalize, convert the 120k-char budget to a per-language acceptance
    // rate capped at 1.0 (the cap binds for 'de' on this corpus, so the
    // least() path is exercised). Rates rounded to 6 dp with the
    // DuckDB-compatible rounding; masses are exact long sums.
    Q("q_sample_temp_rates",
      """WITH m AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS mass
        |           FROM documents GROUP BY lang),
        |tot AS (SELECT sum(pow(CAST(mass AS DOUBLE), 0.5)) AS tw FROM m)
        |SELECT lang, mass,
        |       round(least(1.0, 120000 * pow(CAST(mass AS DOUBLE), 0.5)
        |                        / tw / mass), 6) AS rate
        |FROM m, tot ORDER BY lang""".stripMargin) { (s, dir) =>
      graft.operators.Sampling
        .temperatureRates(t(s, dir, "documents"), "lang", "n_chars",
          temperature = 2.0, budget = 120000L)
        .orderBy("lang")
    },

    // The temperature SAMPLE itself, row-level hash-gated: a document is
    // kept iff the first 24 bits of md5(doc_id) fall below rate·2^24 —
    // the deterministic coin that makes the sample reproducible on any
    // engine/partitioning. The oracle replays rates, join, and the
    // hex-nibble fold; one misselected document fails the gate.
    Q("q_sample_temperature", {
      val u24 = sqlU24("d.doc_id")
      s"""WITH m AS (SELECT lang, sum(n_chars) AS mass
         |           FROM documents GROUP BY lang),
         |tot AS (SELECT sum(pow(CAST(mass AS DOUBLE), 0.5)) AS tw FROM m),
         |r AS (SELECT lang,
         |             round(least(1.0, 120000 * pow(CAST(mass AS DOUBLE), 0.5)
         |                              / tw / mass), 6) AS rate
         |      FROM m, tot)
         |SELECT d.doc_id, d.lang, r.rate
         |FROM documents d JOIN r USING (lang)
         |WHERE $u24 < CAST(floor(r.rate * 16777216) AS BIGINT)
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, dir) =>
      graft.operators.Sampling
        .temperatureSample(t(s, dir, "documents"), "lang", "doc_id",
          "n_chars", temperature = 2.0, budget = 120000L)
        .select("doc_id", "lang", "rate")
        .orderBy("doc_id")
    },

    // Explicit-share mixture sampling (the fixed-domain-weights case):
    // shares are given, not derived — en gets 40% of a 150k-char budget,
    // the rest 15% each (the cap binds for 'de'). Same hash coin, same
    // row-level oracle replay; one misselected document fails the gate.
    Q("q_sample_mixture", {
      val u24 = sqlU24("d.doc_id")
      s"""WITH w(lang, w) AS (VALUES ('de', 0.15), ('en', 0.4), ('es', 0.15),
         |                          ('fr', 0.15), ('zh', 0.15)),
         |m AS (SELECT lang, sum(n_chars) AS mass
         |      FROM documents GROUP BY lang),
         |r AS (SELECT m.lang,
         |             round(least(1.0, 150000 * CAST(w.w AS DOUBLE) / m.mass),
         |                   6) AS rate
         |      FROM m JOIN w ON m.lang = w.lang)
         |SELECT d.doc_id, d.lang, r.rate
         |FROM documents d JOIN r USING (lang)
         |WHERE $u24 < CAST(floor(r.rate * 16777216) AS BIGINT)
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, dir) =>
      graft.operators.Sampling
        .mixtureSample(t(s, dir, "documents"), "lang", "doc_id", "n_chars",
          weights = Map("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
            "fr" -> 0.15, "zh" -> 0.15),
          budget = 150000L)
        .select("doc_id", "lang", "rate")
        .orderBy("doc_id")
    },

    // The full training-data EXPORT pipeline in one row-level-gated query:
    // language-ID → quality score → exact dedup (keep lowest doc_id per
    // normalized fingerprint) → quality threshold → temperature sampling
    // (T=2 over detected language, 20k-token budget) → overlapping token
    // chunking (64/16). Every stage is the same operator the standalone
    // gates exercise; the oracle replays ALL of it in DuckDB down to the
    // per-chunk md5, so one wrong token in one chunk of one misselected
    // document fails the driver's hash gate.
    Q("q_corpus_export",
      s"$exportSqlCore\nORDER BY doc_id, chunk_idx") { (s, dir) =>
      exportChunks(s, dir).orderBy("doc_id", "chunk_idx")
    },

    // …and the chunks PACKED into 256-token training bins — the last step
    // before serialization. Chains the export pipeline into the
    // distributed prefix-sum packer over the deterministic
    // (chunk_md5, doc_id, chunk_idx) order; the oracle wraps the full
    // export replay in a windowed cumulative sum. Raw documents to packed
    // sequences, every intermediate value hash-gated.
    Q("q_export_pack",
      s"""WITH exp AS ($exportSqlCore),
         |p AS (SELECT doc_id, chunk_idx,
         |             CAST(n_tokens AS BIGINT) AS w,
         |             CAST(sum(n_tokens) OVER (
         |               ORDER BY chunk_md5, doc_id, chunk_idx
         |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM exp)
         |SELECT doc_id, chunk_idx, w, cum, (cum - w) // 256 AS bin
         |FROM p ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      import graft.operators.Packing
      Packing.packByBudget(
          exportChunks(s, dir).select(col("doc_id"), col("chunk_idx"),
            col("chunk_md5"), col("n_tokens").cast("long").as("w")),
          Seq(col("chunk_md5"), col("doc_id"), col("chunk_idx")), "w", 256L)
        .select("doc_id", "chunk_idx", "w", "cum", "bin")
        .orderBy("doc_id", "chunk_idx")
    },
  ) ++ curriculumGates

  /** The DuckDB replay of the export pipeline (no ORDER BY — shared by
    * q_corpus_export and the q_export_pack wrapper). */
  private lazy val exportSqlCore: String = {
    import TextQueries.{langCases, sqlQuality, sqlToks}
    val (mx, whens) = langCases
    val u24 = sqlU24("k.doc_id")
    s"""WITH scored AS (
         |  SELECT doc_id, text,
         |         CASE WHEN $mx = 0 THEN 'und' ${whens.replace("__mx", mx)}
         |         END AS lang,
         |         $sqlQuality AS quality,
         |         CAST(len($sqlToks) AS BIGINT) AS n_tokens,
         |         md5(regexp_replace(regexp_replace(lower(text),
         |             '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g')) AS fp
         |  FROM documents),
         |kept AS (SELECT s.* FROM scored s
         |         JOIN (SELECT fp, min(doc_id) AS keep_id
         |               FROM scored GROUP BY fp) c
         |           ON s.fp = c.fp AND s.doc_id = c.keep_id
         |         WHERE s.quality >= 0.35),
         |m AS (SELECT lang, sum(n_tokens) AS mass FROM kept GROUP BY lang),
         |tot AS (SELECT sum(pow(CAST(mass AS DOUBLE), 0.5)) AS tw FROM m),
         |r AS (SELECT lang,
         |             round(least(1.0, 20000 * pow(CAST(mass AS DOUBLE), 0.5)
         |                              / tw / mass), 6) AS rate
         |      FROM m, tot),
         |samp AS (SELECT k.doc_id, k.lang, $sqlToks AS toks
         |         FROM kept k JOIN r USING (lang)
         |         WHERE $u24 < CAST(floor(r.rate * 16777216) AS BIGINT)),
         |n AS (SELECT doc_id, lang, toks,
         |             greatest(1, CAST(ceil(CAST(len(toks) - 16 AS DOUBLE)
         |                                   / 48) AS INT)) AS nc
         |      FROM samp),
         |ch AS (SELECT doc_id, lang, toks,
         |              unnest(range(0, nc)) AS chunk_idx
         |       FROM n)
         |SELECT doc_id, lang, CAST(chunk_idx AS INT) AS chunk_idx,
         |       CAST(len(toks[chunk_idx*48+1 : chunk_idx*48+64]) AS INT)
         |         AS n_tokens,
         |       md5(array_to_string(toks[chunk_idx*48+1 : chunk_idx*48+64],
         |                           ' ')) AS chunk_md5
         |FROM ch""".stripMargin
  }

  /** The Spark side of the export pipeline (no ORDER BY — shared by
    * q_corpus_export and q_export_pack). */
  private def exportChunks(s: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
      import graft.functions.TextFunctions
      // tracked (not raw .persist): released with the operator caches
      // after each Verify/Bench gate, so 200+-gate sessions don't pin it
      val scored = graft.operators.OperatorCaches.cache(
        t(s, dir, "documents").select(
          col("doc_id"), col("text"),
          expr("lang_id(text)").as("lang"),
          expr("quality_score(text)").as("quality"),
          TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
          TextFunctions.normFingerprint(col("text")).as("fp")))
      // canon is (fp, doc_id) pairs to KEEP; the name-based join keys
      // avoid the self-derived-column trap (scored("fp") === canon("fp")
      // resolves to a trivially-true fp == fp)
      val canon = scored.groupBy("fp").agg(min("doc_id").as("doc_id"))
      val kept = scored.join(canon, Seq("fp", "doc_id"), "left_semi")
        .where(col("quality") >= 0.35)
      graft.operators.Sampling
        .temperatureSample(kept, "lang", "doc_id", "n_tokens",
          temperature = 2.0, budget = 20000L)
        .select(col("doc_id"), col("lang"),
          explode(TextFunctions.tokenChunks(
            TextFunctions.tokens(col("text")), chunkLen = 64, overlap = 16))
            .as("c"))
        .select(col("doc_id"), col("lang"),
          col("c.chunk_idx").cast("int").as("chunk_idx"),
          size(col("c.chunk")).cast("int").as("n_tokens"),
          md5(concat_ws(" ", col("c.chunk"))).as("chunk_md5"))
  }

  private lazy val curriculumGates: Seq[Q] = Seq(
    // Curriculum phases: per-language quartiles of the (4-dp-rounded, so
    // bit-stable) quality score — the ordering a curriculum scheduler
    // feeds batches by. PARTITION BY lang keeps the window distributed;
    // the (quality, doc_id) composite is a total order, so ntile is
    // deterministic on both engines.
    Q("q_curriculum_bins",
      s"""WITH q AS (SELECT doc_id, lang, ${TextQueries.sqlQuality} AS quality
         |           FROM documents)
         |SELECT doc_id, lang, quality,
         |       ntile(4) OVER (PARTITION BY lang
         |                      ORDER BY quality, doc_id) AS phase
         |FROM q ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "documents")
        .selectExpr("doc_id", "lang", "quality_score(text) AS quality")
        .withColumn("phase", ntile(4).over(
          Window.partitionBy("lang").orderBy("quality", "doc_id")))
        .orderBy("doc_id")
    },

    // Deterministic weighted interleave (Sampling.interleave, stride
    // scheduling): English docs at weight 3 merge with the rest at
    // weight 1 into ONE stream whose every prefix holds ~3:1 English —
    // the mixing SCHEDULE (q_sample_mixture decides what to keep; this
    // decides the order it streams), stable under checkpoint/resume at
    // any step, no RNG. Virtual times are exact integers
    // ((2r−1)·lcm/w), ranks come from GlobalRank's range exchange, and
    // the oracle replays the identical stride arithmetic.
    Q("q_mix_interleave",
      """WITH en AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id)
        |              AS r
        |            FROM documents WHERE lang = 'en'),
        |oth AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS r
        |        FROM documents WHERE lang <> 'en'),
        |u AS (SELECT 'en' AS src, doc_id, r, (2 * r - 1) * 1 AS vt
        |      FROM en
        |      UNION ALL
        |      SELECT 'other', doc_id, r, (2 * r - 1) * 3 AS vt
        |      FROM oth)
        |SELECT row_number() OVER (ORDER BY vt, src, r) AS pos, src, doc_id
        |FROM u ORDER BY pos""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
      graft.operators.Sampling.interleave(
          Seq(("en", docs.where(col("lang") === "en").select("doc_id"), 3L),
            ("other", docs.where(col("lang") =!= "en").select("doc_id"), 1L)),
          orderBy = Seq(col("doc_id")))
        .select("pos", "src", "doc_id")
        .orderBy("pos")
    },

    // Embedding-space decontamination (Curation.decontaminateByEmbedding)
    // — the semantic complement of the n-gram q_text_decontaminate: train
    // vectors are flagged when their 4-dp cosine against ANY benchmark
    // vector reaches 0.99. The fixture plants 10 scaled copies of test
    // vectors in the train side (cosine exactly 1.0, no shared bytes —
    // the paraphrase shape n-grams miss); the broadcast-test scan must
    // flag exactly those. Exact scoring, no LSH recall risk — a
    // contamination check must not miss.
    Q("q_curate_decontam_embed",
      """WITH test AS (SELECT vec_id AS tid,
        |                     CAST(embedding AS DOUBLE[]) AS tv
        |              FROM embeddings WHERE vec_id < 20),
        |train AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        |          FROM embeddings WHERE vec_id >= 20
        |          UNION ALL
        |          SELECT vec_id + 200000,
        |                 list_transform(CAST(embedding AS DOUBLE[]),
        |                                x -> x * 2.0)
        |          FROM embeddings WHERE vec_id < 10),
        |hits AS (SELECT tr.id, te.tid,
        |                round(list_cosine_similarity(tr.v, te.tv), 4) AS cs
        |         FROM train tr, test te),
        |agg AS (SELECT id,
        |               count(*) FILTER (WHERE cs >= 0.99) AS n_hits,
        |               min(tid) FILTER (WHERE cs >= 0.99) AS best_tid
        |        FROM hits GROUP BY id)
        |SELECT id AS vec_id, n_hits > 0 AS contaminated,
        |       CAST(n_hits AS BIGINT) AS n_hits, best_tid
        |FROM agg ORDER BY vec_id""".stripMargin) { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val test = emb.where(col("vec_id") < 20)
      val planted = emb.where(col("vec_id") < 10)
        .select((col("vec_id") + 200000).as("vec_id"),
          transform(col("embedding"), x => x * 2.0f).as("embedding"))
      val train = emb.where(col("vec_id") >= 20)
        .select("vec_id", "embedding").unionByName(planted)
      graft.operators.Curation.decontaminateByEmbedding(train, test,
          threshold = 0.99)
        .orderBy("vec_id")
    },

    // Quality-constrained selection under a char budget
    // (Curation.selectUnderBudget): fill 50k chars with the
    // best-quality documents while no language exceeds 15k — BOTH
    // constraints bind at sf0.01 (corpus ≈ 149k chars, en alone 64k):
    // every language hits its cap and the global budget then cuts the
    // capped survivors — the
    // two-stage greedy every pretraining mixture ships (domain caps,
    // then global budget), with DEFINED inclusive-prefix semantics so
    // the kept SET is exact. Ordering is (4-dp quality desc, doc_id):
    // the rounding is what makes the cross-engine order — and therefore
    // the cut line — identical. Stage 2's global prefix sum is the
    // distributed runningTotal; the oracle replays both stages as
    // windows.
    Q("q_curate_budget",
      s"""WITH q AS (SELECT doc_id, lang, n_chars,
         |             ${TextQueries.sqlQuality} AS qs
         |           FROM documents),
         |s1 AS (SELECT *, sum(n_chars) OVER (PARTITION BY lang
         |         ORDER BY qs DESC, doc_id) AS dcum FROM q),
         |surv AS (SELECT doc_id, lang, n_chars, qs FROM s1
         |         WHERE dcum <= 15000),
         |s2 AS (SELECT *, sum(n_chars) OVER (ORDER BY qs DESC, doc_id)
         |         AS gcum FROM surv)
         |SELECT doc_id, lang, n_chars, qs FROM s2 WHERE gcum <= 50000
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .selectExpr("doc_id", "lang", "n_chars",
          "quality_score(text) AS qs")
      graft.operators.Curation.selectUnderBudget(docs, "lang", "n_chars",
          Seq(col("qs").desc, col("doc_id").asc),
          perDomainCap = 15000L, totalBudget = 50000L)
        .select("doc_id", "lang", "n_chars", "qs")
        .orderBy("doc_id")
    },

    // 2-D Pareto frontier / skyline (Curation.paretoFrontier): the docs
    // no other doc beats on BOTH axes (here: length and 'e'-count, both
    // integer and data-derived). Spark pays one aggregation + the
    // bounded prefix-scan over distinct x (range exchange, one partial
    // max per partition to the driver) + one join back — never a
    // self-join; the oracle brute-forces NOT EXISTS domination over all
    // pairs, so any sweep slip (tie handling, strictness, carry-in
    // boundary) fails the hash.
    Q("q_curate_pareto",
      """WITH s AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
        |                  CAST(length(text)
        |                       - length(replace(text, 'e', '')) AS INT)
        |                    AS n_e
        |           FROM documents)
        |SELECT doc_id, n_chars, n_e FROM s a
        |WHERE NOT EXISTS (SELECT 1 FROM s b
        |                  WHERE b.n_chars >= a.n_chars
        |                    AND b.n_e >= a.n_e
        |                    AND (b.n_chars > a.n_chars
        |                         OR b.n_e > a.n_e))
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents").select(col("doc_id"),
        length(col("text")).as("n_chars"),
        (length(col("text"))
          - length(translate(col("text"), "e", ""))).as("n_e"))
      graft.operators.Curation.paretoFrontier(docs, "n_chars", "n_e")
        .select("doc_id", "n_chars", "n_e")
        .orderBy("doc_id")
    },

    // Waterfilling token-budget allocation (Curation.waterfill): the
    // largest integral per-domain cap θ* with Σ min(w_d, θ*) <= budget;
    // small domains keep everything, the level splits the rest. At the
    // fixture's 100k-char budget over ~149k corpus chars, θ* binds four
    // of the five languages — both the saturated and unsaturated
    // branches sit on the gated path. Everything past the first
    // aggregation runs on the bounded domain frame (prefix scan + one
    // predecessor self-join), and the oracle replays the candidate/
    // validity arithmetic in windows.
    Q("q_mix_waterfill",
      """WITH dom AS (SELECT lang AS domain, sum(n_chars) AS w
        |             FROM documents GROUP BY 1),
        |o AS (SELECT domain, w,
        |             row_number() OVER (ORDER BY w, domain) AS rn,
        |             sum(w) OVER (ORDER BY w, domain) AS cum,
        |             count(*) OVER () AS n
        |      FROM dom),
        |c AS (SELECT a.rn, a.w,
        |             (100000 - (a.cum - a.w)) // (a.n - a.rn + 1)
        |               AS theta,
        |             b.w AS prev_w
        |      FROM o a LEFT JOIN o b ON b.rn = a.rn - 1),
        |t AS (SELECT max(theta) AS theta FROM c
        |      WHERE prev_w IS NULL OR theta >= prev_w)
        |SELECT domain, CAST(w AS BIGINT) AS w,
        |       CAST(least(w, theta) AS BIGINT) AS alloc
        |FROM dom, t ORDER BY domain""".stripMargin) { (s, dir) =>
      graft.operators.Curation.waterfill(
          t(s, dir, "documents"), "lang", "n_chars", budget = 100000L)
        .select(col("lang").as("domain"), col("w"), col("alloc"))
        .orderBy("domain")
    },

    // Per-domain top-p% quality threshold (Curation.topPercentPerDomain):
    // a single global cutoff lets one domain's score distribution crowd
    // out the rest; the per-domain percentile keeps the same fraction of
    // each. Integer gate rn·100 <= p·count, window partitioned by the
    // domain key — shuffles on lang, never a single-task window.
    Q("q_curate_domain_topp",
      """WITH c AS (SELECT doc_id, lang, n_chars,
        |                  row_number() OVER (PARTITION BY lang
        |                    ORDER BY n_chars DESC, doc_id) AS rn,
        |                  count(*) OVER (PARTITION BY lang) AS cnt
        |           FROM documents)
        |SELECT doc_id, lang, n_chars FROM c
        |WHERE rn * 100 <= 40 * cnt
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      graft.operators.Curation.topPercentPerDomain(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          "lang", 40, Seq(col("n_chars").desc, col("doc_id").asc))
        .orderBy("doc_id")
    },
  )
}
