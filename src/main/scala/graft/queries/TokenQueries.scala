package graft.queries

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.engine.Tables.t
import graft.expressions.Bpe
import graft.operators.Packing

/** Driver-gated queries for BPE token-id encoding and packed token export
  * — the artifact a pretraining pipeline actually ships: documents →
  * `bpe_encode` id arrays → budget-packed bins → per-bin packed id
  * stream, every id hash-gated.
  *
  * The fixture vocabulary is tiny but REAL: a well-formed merges table
  * (every composite symbol is created before any merge consumes it) in
  * the published GPT-2 merges.txt format, and a one-symbol-per-line
  * vocab in the BERT vocab.txt layout (line number = id). Well-formedness
  * is what makes the DuckDB replay exact: for a well-formed table, BPE's
  * lowest-rank-present merge loop is equivalent to applying each merge as
  * ONE left-to-right non-overlapping pass in rank order (a merge's
  * output is strictly longer than either input, so a pass can never
  * recreate its own pair, and any pair consuming a composite has higher
  * rank than the merge that created it). The oracle unrolls exactly that:
  * one `list_reduce` fold per merge, nested in rank order, then a
  * map-lookup into the vocab — so one wrong id in one word of one
  * document flips a bin hash and fails the gate.
  *
  * Scale shape: encoding is scan-local and codegen'd (only the fixture
  * PATHS travel in the plan; each executor memoizes the tables once —
  * Bpe.scala); packing is the distributed prefix sum of Packing.scala
  * (never a single-partition window). Nothing here collects rows.
  */
object TokenQueries {

  /** Fixture merges, rank order. Well-formed: `th` (rank 0) is created
    * before `th e` (rank 1) consumes it; all other inputs are base
    * characters. */
  private[queries] val fixtureMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("a", "t"),
    ("e", "n"), ("t", "i"))

  /** Fixture vocab: printable ASCII base symbols (space excluded — words
    * never contain it), then merge outputs in rank order. Line number =
    * token id. */
  private[queries] val fixtureVocab: Seq[String] =
    (33 to 126).map(_.toChar.toString) ++
      fixtureMerges.map { case (a, b) => a + b }

  /** Materialize a fixture to a deterministic path under java.io.tmpdir
    * (queries run in the driver JVM; on a real cluster the same files
    * ship via SparkContext.addFile — Bpe.scala scaladoc). */
  private def materialize(name: String, lines: Seq[String]): String = {
    val p = Paths.get(sys.props("java.io.tmpdir"), name)
    Files.write(p, lines.asJava, StandardCharsets.UTF_8)
    p.toString
  }

  private lazy val mergesPath: String = materialize(
    "graft_bpe_fixture_merges.txt",
    fixtureMerges.map { case (a, b) => s"$a $b" })

  private lazy val vocabPath: String = materialize(
    "graft_bpe_fixture_vocab.txt", fixtureVocab)

  private lazy val mergesLsPath: String = materialize(
    "graft_bpe_fixture_merges_ls.txt",
    fixtureMergesLs.map { case (a, b) => s"$a $b" })

  private lazy val vocabLsPath: String = materialize(
    "graft_bpe_fixture_vocab_ls.txt", fixtureVocabLs)

  /** Space-aware fixture (the GPT-2 'Ġ' convention): the plain merges
    * plus Ġ-prefixed ones. Still well-formed — Ġt/Ġth chain in creation
    * order; note ranks matter: on "Ġthe" the rank-0 (t,h) fires before
    * (Ġ,t) ever can, so the surviving parts are [Ġ, the] — BOTH engines
    * must walk that exact priority order, which is what the gate pins. */
  private[queries] val fixtureMergesLs: Seq[(String, String)] =
    fixtureMerges ++ Seq(
      ("Ġ", "t"), ("Ġt", "h"), ("Ġth", "e"),
      ("Ġ", "w"), ("Ġw", "e"), ("Ġ", "o"), ("Ġo", "f"))

  private[queries] val fixtureVocabLs: Seq[String] =
    (33 to 126).map(_.toChar.toString) ++ Seq("Ġ") ++
      fixtureMergesLs.map { case (a, b) => a + b }

  /** Vocab with holes (no q/x/z/j): symbols the merge walk can emit but
    * the id table cannot map — the OOV case a real pipeline must account
    * for before shipping token streams (a -1 in a training shard is a
    * corrupt example). Line number = id, so the REMOVAL also shifts every
    * later id — both engines must read the same table, which the gate
    * pins. */
  private[queries] val fixtureVocabHoles: Seq[String] =
    fixtureVocab.filterNot(Set("q", "x", "z", "j"))

  private lazy val vocabHolesPath: String = materialize(
    "graft_bpe_fixture_vocab_holes.txt", fixtureVocabHoles)

  private def sq(s: String): String = s.replace("'", "''")

  /** DuckDB fragment: the unrolled BPE merge loop over `word` — one
    * left-to-right fold per merge, nested in rank order (see class doc
    * for why that equals the lowest-rank-present loop). Distinct lambda
    * variable names per level keep nested scopes unambiguous. */
  private def sqlPartsFor(merges: Seq[(String, String)]): String =
    merges.zipWithIndex.foldLeft("string_split(word, '')") {
      case (inner, ((a, b), i)) =>
        s"""list_reduce(list_transform($inner, s$i -> [s$i]),
           |  (a$i, x$i) -> CASE WHEN a$i[-1] = '${sq(a)}' AND x$i[1] = '${sq(b)}'
           |                THEN a$i[:-2] || ['${sq(a + b)}'] ELSE a$i || x$i END)"""
          .stripMargin
    }

  /** DuckDB CTEs shared by the gates: documents → per-word id lists →
    * per-document id arrays (empty array for a doc with no words, exactly
    * like the Spark expression). `spaceAware` prefixes every word after
    * the first (or after leading whitespace) with 'Ġ' before the merge
    * walk — the pretokenizer twin of `bpe_encode_ls`. */
  private def sqlDocIdsFor(merges: Seq[(String, String)],
                           vocab: Seq[String],
                           spaceAware: Boolean): String = {
    val vocabValues = vocab.zipWithIndex
      .map { case (s, i) => s"('${sq(s)}', $i)" }.mkString(", ")
    val wordExpr =
      if (spaceAware)
        """CASE WHEN widx > 1 OR lead_ws THEN 'Ġ' || raw_word
          |     ELSE raw_word END""".stripMargin
      else "raw_word"
    s"""vocab(sym, id) AS (VALUES $vocabValues),
       |wsrc AS (SELECT doc_id,
       |                regexp_matches(text, '^\\s') AS lead_ws,
       |                list_filter(string_split_regex(text, '\\s+'),
       |                            w -> w <> '') AS ws
       |         FROM documents),
       |words0 AS (SELECT doc_id, lead_ws, unnest(ws) AS raw_word,
       |                  unnest(range(1, len(ws) + 1)) AS widx
       |           FROM wsrc),
       |words AS (SELECT doc_id, widx, $wordExpr AS word FROM words0),
       |wparts AS (SELECT doc_id, widx, ${sqlPartsFor(merges)} AS parts
       |           FROM words),
       |wpart AS (SELECT doc_id, widx, unnest(parts) AS psym,
       |                 unnest(range(1, len(parts) + 1)) AS pidx
       |          FROM wparts),
       |wids AS (SELECT wp.doc_id, wp.widx,
       |                list(coalesce(v.id, -1) ORDER BY wp.pidx) AS ids
       |         FROM wpart wp LEFT JOIN vocab v ON v.sym = wp.psym
       |         GROUP BY wp.doc_id, wp.widx),
       |doc_ids AS (SELECT d.doc_id,
       |                   coalesce(i.ids, CAST([] AS INT[])) AS ids
       |            FROM documents d
       |            LEFT JOIN (SELECT doc_id,
       |                              flatten(list(ids ORDER BY widx)) AS ids
       |                       FROM wids GROUP BY doc_id) i
       |              USING (doc_id))""".stripMargin
  }

  private lazy val sqlDocIds: String =
    sqlDocIdsFor(fixtureMerges, fixtureVocab, spaceAware = false)

  /** Spark side shared by both gates: doc_id, ids, w. */
  private def encoded(s: org.apache.spark.sql.SparkSession, dir: String) = {
    t(s, dir, "documents").select(col("doc_id"),
        Bpe.encodeIds(col("text"), mergesPath, vocabPath).as("ids"))
      .withColumn("w", size(col("ids")).cast("long"))
  }

  /** md5 of a space-joined int array (Spark side). */
  private def idsMd5(ids: Column): Column =
    md5(array_join(transform(ids, _.cast("string")), " "))

  val all: Seq[Q] = Seq(

    // Real-BPE encoding to token ids, per document: id-stream md5 +
    // token count. The oracle replays the entire merge loop and vocab
    // lookup in SQL — a single mis-merged pair or mis-mapped id in any
    // document fails the hash.
    Q("q_bpe_encode",
      s"""WITH $sqlDocIds
         |SELECT doc_id, CAST(len(ids) AS INT) AS n_tok,
         |       md5(array_to_string(list_transform(ids,
         |             i -> CAST(i AS VARCHAR)), ' ')) AS ids_md5
         |FROM doc_ids ORDER BY doc_id""".stripMargin) { (s, dir) =>
      encoded(s, dir)
        .select(col("doc_id"), size(col("ids")).as("n_tok"),
          idsMd5(col("ids")).as("ids_md5"))
        .orderBy("doc_id")
    },

    // Space-aware encoding (the GPT-2 'Ġ' convention): every word after
    // the first carries the Ġ marker into the merge walk, so word-initial
    // and word-internal occurrences tokenize differently and spacing is
    // reconstructible at decode time. The oracle replays the marking AND
    // the priority interplay between plain and Ġ merges — e.g. on "Ġthe"
    // the rank-0 (t,h) outruns (Ġ,t), so [Ġ, the] survives, while "Ġwe"
    // (no plain (w,e) merge) collapses through Ġw to Ġwe.
    Q("q_bpe_encode_ls",
      s"""WITH ${sqlDocIdsFor(fixtureMergesLs, fixtureVocabLs,
        spaceAware = true)}
         |SELECT doc_id, CAST(len(ids) AS INT) AS n_tok,
         |       md5(array_to_string(list_transform(ids,
         |             i -> CAST(i AS VARCHAR)), ' ')) AS ids_md5
         |FROM doc_ids ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ids = call_function("bpe_encode_ls", col("text"),
        lit(mergesLsPath), lit(vocabLsPath))
      t(s, dir, "documents")
        .select(col("doc_id"), ids.as("ids"))
        .select(col("doc_id"), size(col("ids")).as("n_tok"),
          idsMd5(col("ids")).as("ids_md5"))
        .orderBy("doc_id")
    },

    // Packed token export — the training-shard artifact: id arrays laid
    // out in deterministic doc_id order, cut into 512-token bins by the
    // distributed prefix-sum packer, and each bin's PACKED ID STREAM
    // hashed. This is q_export_pack upgraded from "bins of counted docs"
    // to the actual token payload a trainer reads.
    Q("q_export_tokens",
      s"""WITH $sqlDocIds,
         |p AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS w,
         |             CAST(sum(len(ids)) OVER (
         |               ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |               AS BIGINT) AS cum
         |      FROM doc_ids),
         |b AS (SELECT doc_id, ids, w, (cum - w) // 512 AS bin FROM p)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(w) AS BIGINT) AS total_w,
         |       md5(array_to_string(list_transform(
         |             flatten(list(ids ORDER BY doc_id)),
         |             i -> CAST(i AS VARCHAR)), ' ')) AS ids_md5
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val packed = Packing.packByBudget(encoded(s, dir),
        Seq(col("doc_id")), "w", 512L)
      packed.groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("total_w"),
          idsMd5(flatten(transform(
            array_sort(collect_list(struct(col("doc_id"), col("ids")))),
            _.getField("ids")))).as("ids_md5"))
        .orderBy("bin")
    },

    // Vocabulary-coverage (OOV) accounting: encode against a vocab with
    // planted holes and gate the per-document unknown-token count plus
    // the id-stream hash — the pre-ship audit that catches a
    // vocab/merges mismatch before -1 ids reach a training shard. Also
    // pins the line-number=id contract: removing a vocab line shifts
    // every later id, and one shifted id anywhere fails the hash.
    Q("q_bpe_oov",
      s"""WITH ${sqlDocIdsFor(fixtureMerges, fixtureVocabHoles,
        spaceAware = false)}
         |SELECT doc_id, CAST(len(ids) AS INT) AS n_tok,
         |       CAST(len(list_filter(ids, i -> i = -1)) AS INT) AS n_oov,
         |       round(CASE WHEN len(ids) = 0 THEN 0.0
         |             ELSE CAST(len(list_filter(ids, i -> i = -1))
         |                    AS DOUBLE) / len(ids) END, 4) AS oov_rate,
         |       md5(array_to_string(list_transform(ids,
         |             i -> CAST(i AS VARCHAR)), ' ')) AS ids_md5
         |FROM doc_ids ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val ids = Bpe.encodeIds(col("text"), mergesPath, vocabHolesPath)
      val nOov = size(filter(col("ids"), _ === -1))
      t(s, dir, "documents")
        .select(col("doc_id"), ids.as("ids"))
        .select(col("doc_id"), size(col("ids")).as("n_tok"),
          nOov.as("n_oov"),
          round(when(size(col("ids")) === 0, 0.0)
            .otherwise(nOov.cast("double") / size(col("ids"))), 4)
            .as("oov_rate"),
          idsMd5(col("ids")).as("ids_md5"))
        .orderBy("doc_id")
    },

    // Incremental (resumable) packed export: the corpus packed in TWO
    // appends — history first, then the new batch continued from the
    // stored final cum via startCum — must be row-identical to packing
    // the whole corpus. The oracle packs the whole corpus; the engine
    // side takes the two-append path, so any drift in the resume
    // arithmetic (bin numbering, carry-over inside a partially-filled
    // bin) fails the hash. This is the nightly-export contract at
    // 100 TB: O(new batch), never a repack of history.
    Q("q_export_resume",
      s"""WITH $sqlDocIds,
         |p AS (SELECT doc_id, ids, CAST(len(ids) AS BIGINT) AS w,
         |             CAST(sum(len(ids)) OVER (
         |               ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |               AS BIGINT) AS cum
         |      FROM doc_ids),
         |b AS (SELECT doc_id, ids, w, (cum - w) // 512 AS bin FROM p)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(w) AS BIGINT) AS total_w,
         |       md5(array_to_string(list_transform(
         |             flatten(list(ids ORDER BY doc_id)),
         |             i -> CAST(i AS VARCHAR)), ' ')) AS ids_md5
         |FROM b GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val enc = encoded(s, dir)
      val history = enc.where(col("doc_id") < 250)
      val batch = enc.where(col("doc_id") >= 250)
      val packedHistory = Packing.packByBudget(history,
        Seq(col("doc_id")), "w", 512L)
      // the stored manifest scalar a real resume would read back
      // (coalesce: an empty history resumes from zero, not an NPE)
      val historyCum = packedHistory
        .agg(coalesce(max("cum"), lit(0L))).head.getLong(0)
      val packedBatch = Packing.packByBudget(batch,
        Seq(col("doc_id")), "w", 512L, startCum = historyCum)
      packedHistory.unionAll(packedBatch)
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("total_w"),
          idsMd5(flatten(transform(
            array_sort(collect_list(struct(col("doc_id"), col("ids")))),
            _.getField("ids")))).as("ids_md5"))
        .orderBy("bin")
    },

    // Packed export WITH document-boundary offsets — the attention-mask
    // metadata: a trainer packing multiple documents into one sequence
    // needs each document's start offset inside the bin to build the
    // block-diagonal attention mask (and to avoid cross-document
    // attention). Per bin: the ordered within-bin start offset of every
    // document, hash-gated — one transposed or off-by-one boundary in
    // any bin fails. The offsets are a windowed prefix sum PARTITIONED
    // BY bin (bins are budget-bounded, so the partition-local window is
    // tiny — never the single-partition global window the packer itself
    // avoids).
    Q("q_export_tokens_mask",
      s"""WITH $sqlDocIds,
         |p AS (SELECT doc_id, CAST(len(ids) AS BIGINT) AS w,
         |             CAST(sum(len(ids)) OVER (
         |               ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |               AS BIGINT) AS cum
         |      FROM doc_ids),
         |b AS (SELECT doc_id, w, (cum - w) // 512 AS bin FROM p),
         |o AS (SELECT bin, doc_id, w,
         |             CAST(sum(w) OVER (PARTITION BY bin ORDER BY doc_id
         |                    ROWS UNBOUNDED PRECEDING) - w
         |               AS BIGINT) AS doc_start
         |      FROM b)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(w) AS BIGINT) AS total_w,
         |       md5(array_to_string(list_transform(
         |             list(doc_start ORDER BY doc_id),
         |             x -> CAST(x AS VARCHAR)), ' ')) AS bounds_md5
         |FROM o GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val packed = Packing.packByBudget(encoded(s, dir),
        Seq(col("doc_id")), "w", 512L)
      val w = Window.partitionBy("bin").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      packed
        .withColumn("doc_start", coalesce(sum("w").over(w), lit(0L)))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("total_w"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("doc_id"),
              col("doc_start")))),
            _.getField("doc_start").cast("string")), " "))
            .as("bounds_md5"))
        .orderBy("bin")
    },

    // BPE DECODE — the inverse closing the tokenizer loop: ids map back
    // through the vocab (line number = id), symbols concatenate, and the
    // Ġ marker turns back into spacing. The gate pins per-doc decoded
    // md5 AND the round-trip contract `decode(encode(text)) ==
    // whitespace-normalized text` (single-space joins, leading-space
    // preserved via the lead-Ġ rule) — true exactly where the text is
    // vocab-representable, false (identically on both engines) where
    // OOV symbols decoded to U+FFFD. One scan; the vocab is a literal.
    Q("q_bpe_decode", {
      val n = fixtureVocabLs.size
      s"""WITH ${sqlDocIdsFor(fixtureMergesLs, fixtureVocabLs,
        spaceAware = true)},
         |vl AS (SELECT list(sym ORDER BY id) AS l FROM vocab),
         |dec AS (SELECT doc_id,
         |          translate(array_to_string(list_transform(ids,
         |            i -> CASE WHEN i >= 0 AND i < $n THEN l[i + 1]
         |                 ELSE '�' END), ''), 'Ġ', ' ') AS dec
         |        FROM doc_ids, vl),
         |expd AS (SELECT doc_id,
         |           (CASE WHEN lead_ws THEN ' ' ELSE '' END)
         |             || array_to_string(ws, ' ') AS expect
         |         FROM wsrc)
         |SELECT d.doc_id, md5(dec) AS dec_md5,
         |       (dec = expect) AS round_trip_ok
         |FROM dec d JOIN expd e ON d.doc_id = e.doc_id
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, dir) =>
      val n = fixtureVocabLs.size
      val vlist = array(fixtureVocabLs.map(lit): _*)
      val ids = call_function("bpe_encode_ls", col("text"),
        lit(mergesLsPath), lit(vocabLsPath))
      val dec = translate(array_join(transform(col("ids"), i =>
        when(i >= 0 && i < lit(n), element_at(vlist, i + 1))
          .otherwise(lit("�"))), ""), "Ġ", " ")
      val ws = filter(split(col("text"), "\\s+"), w => w =!= "")
      val expect = concat(
        when(col("text").rlike("^\\s"), lit(" ")).otherwise(lit("")),
        array_join(ws, " "))
      t(s, dir, "documents")
        .select(col("doc_id"), ids.as("ids"), col("text"))
        .select(col("doc_id"), dec.as("dec"), expect.as("expect"))
        .select(col("doc_id"), md5(col("dec")).as("dec_md5"),
          (col("dec") === col("expect")).as("round_trip_ok"))
        .orderBy("doc_id")
    },

    // BPE merge TRAINING (operators.BpeTrain) — the other half of the
    // stack: LEARN 12 merges from the corpus's 150 most frequent ascii
    // words (Sennrich's algorithm: count adjacent symbol pairs weighted
    // by word frequency, merge the winner, repeat; ties to the smallest
    // (left, right)). Both engines run the identical greedy semantics —
    // a merge is the left-to-right greedy fold over the space-joined
    // symbol form (Spark `aggregate` HOF ≡ DuckDB `list_reduce`) — so
    // the full 12-round training trajectory hash-matches, count for
    // count. The corpus appears only
    // in the word-frequency stage; each round is one vocab-sized
    // sum-shuffle plus ONE winning row to the driver.
    Q("q_bpe_train", {
      val rounds = (1 to 12).map { i =>
        s"""c$i AS (SELECT pr.l AS l, pr.r AS r,
           |              CAST(sum(freq) AS BIGINT) AS cnt FROM (
           |  SELECT unnest(list_transform(range(1, len(p)),
           |           j -> struct_pack(l := p[j], r := p[j + 1]))) AS pr,
           |         freq
           |  FROM (SELECT string_split(trim(s), ' ') AS p, freq
           |        FROM w${i - 1})) GROUP BY 1, 2),
           |b$i AS MATERIALIZED (SELECT l, r, cnt FROM c$i
           |  ORDER BY cnt DESC, l, r LIMIT 1),
           |w$i AS MATERIALIZED (SELECT
           |  list_reduce(list_prepend('', string_split(trim(s), ' ')),
           |    (acc, x) -> CASE WHEN ends_with(acc, concat(' ', b$i.l))
           |                      AND x = b$i.r
           |                THEN concat(acc, x)
           |                ELSE concat(acc, ' ', x) END) || ' ' AS s,
           |  freq
           |  FROM w${i - 1}, b$i)""".stripMargin
      }.mkString(",\n")
      val union = (1 to 12)
        .map(i => s"SELECT $i AS rank, l, r, cnt FROM b$i")
        .mkString("\nUNION ALL ")
      s"""WITH toks AS (SELECT unnest(${TextQueries.sqlToks}) AS word
         |              FROM documents),
         |vocab AS MATERIALIZED (SELECT word, freq FROM (
         |  SELECT word, count(*) AS freq FROM toks
         |  WHERE regexp_matches(word, '^[a-z]+${"$"}')
         |    AND length(word) >= 2
         |  GROUP BY word) ORDER BY freq DESC, word LIMIT 150),
         |w0 AS MATERIALIZED (SELECT
         |  ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s, freq
         |  FROM vocab),
         |$rounds
         |SELECT rank, l AS merge_left, r AS merge_right, cnt
         |FROM ($union) ORDER BY rank""".stripMargin
    }) { (s, dir) =>
      graft.operators.BpeTrain.trainFromCorpus(
          t(s, dir, "documents"), "text", vocabSize = 150, nMerges = 12)
        .select(col("rank"), col("left").as("merge_left"),
          col("right").as("merge_right"), col("cnt"))
        .orderBy("rank")
    },

    // Tokenizer fertility by language: BPE tokens and characters per
    // language slice — the diagnostic that drives per-language budget
    // and mixture decisions (a language whose fertility is 2× pays 2×
    // the compute per character). Exact integer sums only; the oracle
    // replays the ENTIRE merge walk per document (same shared CTE as
    // q_bpe_encode) and rolls up, so one mis-merged word anywhere in
    // the corpus shifts a language's token sum and fails the hash.
    Q("q_bpe_fertility",
      s"""WITH $sqlDocIds
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(len(i.ids)) AS BIGINT) AS n_tokens,
         |       CAST(sum(len(d.text)) AS BIGINT) AS n_chars
         |FROM documents d JOIN doc_ids i USING (doc_id)
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin) { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          length(col("text")).cast("long").as("n_ch"))
      encoded(s, dir).join(docs, "doc_id")
        .groupBy("lang").agg(
          count(lit(1)).as("n_docs"),
          sum(col("w")).as("n_tokens"),
          sum(col("n_ch")).as("n_chars"))
        .orderBy("lang")
    },

    // Greedy longest-match (MaxMatch) tokenization — the WordPiece
    // family's inference algorithm (expressions.MaxMatch), the second
    // tokenizer family next to BPE's merge walk. The fixture text is a
    // CONSTRUCTION the algorithm provably inverts: every vocab piece is
    // one consonant + 1-2 vowels, so at a piece boundary no longer
    // match can cross into the next piece (its first char is a
    // consonant), while 2-vowel tails ("ae", "oo") contain in-vocab
    // 1-vowel prefixes — the longest-vs-shorter preference is exercised
    // at every such piece. A planted 'z' (no piece starts with z) pins
    // UNK handling. The oracle knows only the construction formulas;
    // Spark must recover them by actually matching the string against
    // the loaded vocab trie. One wrong match anywhere shifts ids_md5.
    Q("q_tok_maxmatch",
      """WITH d AS (SELECT doc_id AS id, CAST(doc_id % 17 + 3 AS INT) AS m
        |           FROM documents),
        |t AS (SELECT id, unnest(range(0, m)) AS j FROM d),
        |p AS (SELECT id, j, (id * 7 + 3 * j * j + j) % 35 AS pid FROM t),
        |a AS (SELECT id, CAST(count(*) AS INT) AS np,
        |             CAST(sum(CASE WHEN pid % 7 < 5 THEN 2 ELSE 3 END)
        |                  AS INT) AS pc,
        |             string_agg(CAST(pid AS VARCHAR), ' ' ORDER BY j)
        |               AS ids_str
        |      FROM p GROUP BY id)
        |SELECT id AS doc_id,
        |       np + CASE WHEN id % 13 = 0 THEN 1 ELSE 0 END AS n_tokens,
        |       pc + CASE WHEN id % 13 = 0 THEN 1 ELSE 0 END AS n_chars,
        |       CAST(CASE WHEN id % 13 = 0 THEN 1 ELSE 0 END AS INT)
        |         AS n_unk,
        |       md5(ids_str ||
        |           CASE WHEN id % 13 = 0 THEN ' -1' ELSE '' END)
        |         AS ids_md5
        |FROM a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.expressions.MaxMatch
      val text = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val m = (id % 17 + 3).toInt
          val sb = new StringBuilder
          var j = 0
          while (j < m) {
            val pid = ((id * 7 + 3L * j * j + j) % 35).toInt
            sb.append(maxMatchPieces(pid))
            j += 1
          }
          if (id % 13 == 0) sb.append('z')
          (id, sb.toString)
        }.toDF("doc_id", "text")
      text.select(col("doc_id"),
          MaxMatch.encodeIds(col("text"), maxMatchVocabPath).as("ids"),
          length(col("text")).as("n_chars"))
        .select(col("doc_id"),
          size(col("ids")).as("n_tokens"), col("n_chars"),
          expr("size(filter(ids, x -> x = -1))").as("n_unk"),
          md5(array_join(transform(col("ids"), _.cast("string")), " "))
            .as("ids_md5"))
        .orderBy("doc_id")
    },

    // Unigram-LM (SentencePiece-family) Viterbi tokenization
    // (expressions.Unigram) — the THIRD tokenizer family, globally
    // min-cost where BPE walks merge ranks and MaxMatch grabs greedily.
    // Same provably-invertible construction class as q_tok_maxmatch
    // (consonant+vowel pieces: the only full cover IS the
    // construction, and the UNK fallback costs 100x any piece, so the
    // DP's minimum is the construction exactly); integer micro-nat
    // piece costs make total_cost hash-exact — the oracle sums the
    // cost formula while Spark must earn it through the actual DP.
    Q("q_tok_unigram",
      """WITH d AS (SELECT doc_id AS id, CAST(doc_id % 19 + 2 AS INT) AS m
        |           FROM documents),
        |t AS (SELECT id, unnest(range(0, m)) AS j FROM d),
        |p AS (SELECT id, j, (id * 11 + 5 * j * j + 2 * j) % 35 AS pid
        |      FROM t),
        |a AS (SELECT id, CAST(count(*) AS INT) AS np,
        |             CAST(sum(1000000 + pid * 1000) AS BIGINT) AS pcost,
        |             string_agg(CAST(pid AS VARCHAR), ' ' ORDER BY j)
        |               AS ids_str
        |      FROM p GROUP BY id)
        |SELECT id AS doc_id,
        |       np + CASE WHEN id % 13 = 0 THEN 1 ELSE 0 END AS n_tokens,
        |       CAST(CASE WHEN id % 13 = 0 THEN 1 ELSE 0 END AS INT)
        |         AS n_unk,
        |       CAST(pcost + CASE WHEN id % 13 = 0 THEN 100000000
        |                         ELSE 0 END AS BIGINT) AS total_cost,
        |       md5(ids_str ||
        |           CASE WHEN id % 13 = 0 THEN ' -1' ELSE '' END)
        |         AS ids_md5
        |FROM a ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.expressions.Unigram
      val text = t(s, dir, "documents").select(col("doc_id")).as[Long]
        .map { id =>
          val m = (id % 19 + 2).toInt
          val sb = new StringBuilder
          var j = 0
          while (j < m) {
            val pid = ((id * 11 + 5L * j * j + 2L * j) % 35).toInt
            sb.append(maxMatchPieces(pid))
            j += 1
          }
          if (id % 13 == 0) sb.append('z')
          (id, sb.toString)
        }.toDF("doc_id", "text")
      text.select(col("doc_id"),
          Unigram.encodeIds(col("text"), unigramVocabPath).as("ids"),
          Unigram.segmentCost(col("text"), unigramVocabPath)
            .as("total_cost"))
        .select(col("doc_id"),
          size(col("ids")).as("n_tokens"),
          expr("size(filter(ids, x -> x = -1))").as("n_unk"),
          col("total_cost"),
          md5(array_join(transform(col("ids"), _.cast("string")), " "))
            .as("ids_md5"))
        .orderBy("doc_id")
    },
  )

  /** MaxMatch fixture vocab: 35 pieces, one consonant + a 1-2 vowel
    * tail; id = line number = 7·consonant + tail. */
  private[queries] lazy val maxMatchPieces: IndexedSeq[String] = {
    val cons = "bcdfg"
    val tails = Vector("a", "e", "i", "o", "u", "ae", "oo")
    for (c <- cons.toVector; t <- tails) yield s"$c$t"
  }

  private lazy val maxMatchVocabPath: String =
    materialize("graft_maxmatch_vocab.txt", maxMatchPieces)

  /** Unigram fixture vocab: the same 35 pieces with integer micro-nat
    * costs `1000000 + id·1000` (piece<TAB>cost, id = line number). */
  private lazy val unigramVocabPath: String =
    materialize("graft_unigram_vocab.txt",
      maxMatchPieces.zipWithIndex.map { case (p, i) =>
        s"$p	${1000000 + i * 1000}"
      })
}
