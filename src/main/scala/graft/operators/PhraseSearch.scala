package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.functions.TextFunctions.tokens

/** Positional phrase search — exact consecutive-token matching over a
  * corpus, the retrieval operation a bag-of-words index ([[Bm25]])
  * structurally cannot express (it loses positions at tf aggregation).
  * The decontamination sibling: "does this benchmark sentence appear
  * verbatim as a token sequence" is a phrase query, not a term query.
  *
  * Algorithm: positional postings (term, doc, pos) meet the phrase's
  * (term, offset) rows in ONE equi-join on term; every joined row votes
  * for candidate start `pos - offset`, and a start with votes at all k
  * offsets is a match. One broadcast join + one aggregation, regardless
  * of phrase count or length — never a k-way self-join chain (whose plan
  * depth would grow with the longest phrase) and never a per-phrase
  * pass over the corpus.
  *
  * Scale shape: phrase lists are queries — small frames, broadcast; the
  * corpus side prunes to phrase terms AT the join, aggregates
  * (phrase, doc, start) with map-side partial agg, and never collects.
  * Overlapping occurrences count individually (start positions differ),
  * matching the literal "every i where tokens[i..i+k) == phrase" spec.
  *
  * Vote counting is `count(*)`, not `count(distinct offset)`: postings
  * are unique at (doc, pos) and a phrase's offsets are unique by
  * construction, so a (start, offset) pair cannot repeat — a phrase
  * containing the SAME term at two offsets (e.g. "the big the") still
  * counts exactly once per offset because each posting row joins each
  * offset row once, at different starts.
  */
object PhraseSearch extends PersistedIndex {

  val kind = "phrase"
  protected val deleteIdCol = "doc_id"
  protected val storedIdCol = "doc_id"

  /** Positional postings: one (term, doc_id, pos) row per token, pos
    * 1-based. Scan-local (one generator, no shuffle). */
  def positionalPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("p0", "term")))
      .select(col("term"), col("doc_id"),
        (col("p0") + 1).cast(LongType).as("pos"))

  /** Occurrences of each phrase per document. `phrases`:
    * (phrase_id, terms: array<string>) — already-tokenized consecutive
    * sequences. Returns (phrase_id, doc_id, n_hits, first_pos) for
    * documents with ≥ 1 hit; positions are 1-based token indices. */
  def phraseHits(docs: DataFrame, phrases: DataFrame): DataFrame = {
    val postings = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("p0", "term")))
    val phraseTerms = phrases.select(col("phrase_id"),
        size(col("terms")).as("k"),
        posexplode(col("terms")).as(Seq("offset", "term")))
    voteCount(postings.join(broadcast(phraseTerms), "term"))
  }

  /** The start-vote aggregation shared by the scan path and the index
    * path: joined (term-pruned) posting×phrase rows vote for candidate
    * start `p0 - offset`; a start with votes at all k offsets is a
    * match. */
  private def voteCount(joined: DataFrame): DataFrame =
    joined
      .groupBy(col("phrase_id"), col("k"), col("doc_id"),
        (col("p0") - col("offset")).as("start"))
      .agg(count(lit(1)).as("nmatch"))
      .where(col("nmatch") === col("k"))
      .groupBy("phrase_id", "doc_id")
      .agg(count(lit(1)).as("n_hits"),
        (min("start") + 1).cast(LongType).as("first_pos"))

  /** Number of term-hash partitions in a persisted phrase index. */
  val IndexBuckets = 64

  /** Persist the positional postings for repeated phrase retrieval —
    * the decontamination workhorse: "sweep the corpus against this
    * benchmark suite" should tokenize the corpus ONCE, not once per
    * sweep. Layout mirrors [[Bm25.writeIndex]]: (term, doc_id, pos)
    * rows PARTITIONED BY `term_bucket` = hash(term) mod 64, rows
    * clustered toward their bucket directory with a second hash slice so
    * every core writes while the layout stays at `slices` files per
    * bucket dir. A term's postings live entirely inside its bucket, so a
    * phrase lookup reads only its terms' directories — ~k/64ths of the
    * postings for a k-term phrase, not the corpus. */
  def writeIndex(docs: DataFrame, dir: String): Unit = build(docs, dir, ())

  /** No model: postings are a pure function of the documents. */
  protected type Model = Unit
  protected def readModel(spark: org.apache.spark.sql.SparkSession,
                          dir: String): Unit = ()
  protected def modelFiles(spark: org.apache.spark.sql.SparkSession,
                           u: Unit) = Nil

  /** The positional postings under their term bucket. */
  protected def encode(docs: DataFrame, u: Unit,
                       pin: DataFrame => DataFrame) =
    Seq("postings" -> positionalPostings(docs)
      .withColumn("term_bucket", pmod(hash(col("term")), lit(IndexBuckets))))

  /** The kind's layout: one term-bucket-partitioned positional dataset
    * carrying the marker; NO natural-key dedup (a position row is not
    * unique by (term, doc_id) and id discipline is the caller's —
    * [[appendToIndex]]'s contract), and batch dirs ARE the dataset. */
  private[operators] def fusedDatasets = Seq(
    IndexBatches.FusedDataset("postings",
      Seq("term", "doc_id", "pos", "term_bucket"), Nil,
      Some("term_bucket"), (_, _) => IndexBuckets, "doc_id",
      batchNested = false))

  /** Search a persisted [[writeIndex]] index — result-identical to
    * [[phraseHits]] over the original corpus (PhraseSearchSpec pins it),
    * but the scan opens only the phrase terms' partitions.
    *
    * Bounded-driver contract (same as [[Bm25.searchIndex]]): the
    * partition-pruning path enumerates the distinct phrase terms
    * driver-side, so it only runs when a `limit(maxTerms+1)` probe
    * confirms the term set is small; past the cap the search stays fully
    * distributed — a shuffle join of postings against the term frame —
    * trading pruning for unbounded phrase volume with identical
    * results. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  phrases: DataFrame, maxTerms: Int = 65536): DataFrame = {
    val phraseTerms = phrases.select(col("phrase_id"),
      size(col("terms")).as("k"),
      posexplode(col("terms")).as(Seq("offset", "term")))
    val qTermDf = phraseTerms.select("term").distinct()
    // ONE bounded collect decides the strategy AND supplies the term
    // list (r19, same move as Bm25.searchIndex — the old shape paid a
    // limit+count job, then re-collected the same rows for pruning)
    val qTermProbe = qTermDf.limit(maxTerms + 1).collect()
    val smallQ = qTermProbe.length <= maxTerms
    // live streaming batch dirs union in transparently (they carry the
    // same term_bucket partitioning, so the prune below prunes them
    // too); the ledger anti-join lands BEFORE vote counting, so a
    // tombstoned document can never produce a phrase hit
    val postings = readLive(spark, dir, "postings", liveBatchDirs(spark, dir))
      // 1-based stored positions back to the vote arithmetic's 0-based
      .select(col("term"), col("doc_id"), (col("pos") - 1).as("p0"),
        col("term_bucket"))
    val pruned =
      if (smallQ) {
        val qTerms = qTermProbe.map(_.getString(0))
        postings
          .where(col("term_bucket").isin(
            qTerms.map(TermBuckets.of(_, IndexBuckets))
              .distinct.map(Integer.valueOf): _*))
          .where(col("term").isin(qTerms: _*))
      } else {
        postings.join(qTermDf, "term")
      }
    voteCount(pruned.join(
      if (smallQ) broadcast(phraseTerms) else phraseTerms, "term"))
  }
}

/** Driver-side replica of `pmod(hash(col), lit(n))` for partition-prune
  * predicates over hash-bucketed index layouts — Spark's `hash()` is
  * Murmur3 x86-32 at seed 42 over the UTF-8 bytes. Shared by the BM25
  * and phrase index search paths. */
private[operators] object TermBuckets {
  def of(term: String, buckets: Int): Int = {
    val u = org.apache.spark.unsafe.types.UTF8String.fromString(term)
    math.floorMod(
      org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42),
      buckets)
  }
}
