package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The [[PersistedIndex]] lifecycle contract, run as ONE script over all
  * six kinds: a replayed streaming batch is idempotent, a delete masks at
  * once (its echo in a live batch dir included), a vacuum with and
  * without live batch dirs keeps the masked search and pays all debt, a
  * delete landing in the vacuum's race window survives and stays masked,
  * an empty-ledger vacuum leaves no live batch dir, and the two ingest
  * paths agree: a base append searches like a batch slot compacted. */
class PersistedIndexSpec extends SparkSpec {

  import spark.implicits._

  /** One kind under test: how to build it, one micro-batch of new ids,
    * the column its delete input carries, and a search returning the
    * result rows plus the id column they are keyed by. */
  private final case class Case(index: PersistedIndex,
                                build: String => Unit,
                                batch: Int => DataFrame,
                                deleteCol: String,
                                idCol: String,
                                search: String => DataFrame)

  /** Ids at or above this mark exist only in streamed batch dirs. */
  private val BatchBase = 1000000L

  private lazy val emb = graft.engine.Tables.t(spark, sf001, "embeddings")
    .where(col("vec_id") < 60)
  private lazy val docs = graft.engine.Tables.t(spark, sf001, "documents")
    .orderBy("doc_id").limit(40).select("doc_id", "text")

  /** Perturbed copies of the first five vectors under fresh ids. */
  private def vecBatch(n: Int): DataFrame = {
    val v = graft.functions.VectorFunctions.asDouble(col("embedding"))
    emb.where(col("vec_id") < 5)
      .select((col("vec_id") + BatchBase * (n + 1)).as("vec_id"),
        concat(array(element_at(v, 1) + 0.1 * (n + 1)), slice(v, 2, 63))
          .as("embedding"))
  }
  private def tokens(vectors: DataFrame, as: String) =
    MaxSim.subvectorTokens(vectors, "vec_id", "embedding", 8)
      .withColumnRenamed("vec_id", as)
  private def docBatch(n: Int): DataFrame =
    docs.where(col("doc_id") < 5)
      .select((col("doc_id") + BatchBase * (n + 1)).as("doc_id"),
        col("text"))

  private lazy val qs = emb.where(col("vec_id") < 3)
  private lazy val terms =
    Seq((1L, "spark"), (2L, "customer")).toDF("query_id", "term")
  private lazy val phrases = docs.where(col("doc_id") < 5)
    .select(col("doc_id").as("phrase_id"),
      slice(graft.functions.TextFunctions.tokens(col("text")), 1, 2)
        .as("terms"))

  private lazy val cases: Seq[Case] = Seq(
    Case(Similarity, d => Similarity.writeIndex(emb, d, nClusters = 4),
      vecBatch, "vec_id", "cand_id",
      d => Similarity.searchIndex(spark, d, qs, k = 10, nProbe = 4)),
    Case(IvfPq, d => IvfPq.writeIndex(emb, d, nClusters = 4),
      vecBatch, "vec_id", "cand_id",
      d => IvfPq.searchIndex(spark, d, qs, k = 10, nProbe = 4,
        rerank = 50)),
    Case(SketchIndex, d => SketchIndex.writeIndex(emb, d),
      vecBatch, "vec_id", "cand_id",
      d => SketchIndex.searchIndex(spark, d, qs, k = 10, shortlist = 50)),
    Case(MaxSim,
      d => MaxSim.writeTokenIndex(tokens(emb, "doc_id"), d, nClusters = 4),
      n => tokens(vecBatch(n), "doc_id"), "doc_id", "doc_id",
      d => MaxSim.searchTokenIndex(spark, d, tokens(qs, "query_id"),
        k = 10, nProbe = 4)),
    Case(Bm25, d => Bm25.writeIndex(docs, d), docBatch, "doc_id", "doc_id",
      d => Bm25.searchIndex(spark, d, terms, k = 100)),
    Case(PhraseSearch, d => PhraseSearch.writeIndex(docs, d), docBatch,
      "doc_id", "doc_id", d => PhraseSearch.searchIndex(spark, d, phrases)))

  test("the six kinds are the registry's") {
    assert(cases.map(_.index.kind).toSet == IndexMaintenance.kinds.keySet)
  }

  for (kind <- Seq("ivf", "ivfpq", "sketch", "maxsim", "bm25", "phrase"))
    test(s"$kind: replay, delete, vacuum with and without live dirs, " +
        "race-window delete, empty-ledger vacuum") {
      val c = cases.find(_.index.kind == kind).get
      val k = c.index
      def fresh(): String = {
        val d = java.nio.file.Files
          .createTempDirectory(s"graft_pidx_$kind").toString
        c.build(d)
        d
      }
      val dir = fresh()
      def rows(d: String = dir): Seq[String] =
        c.search(d).collect().map(_.toString).sorted.toSeq
      def ids(d: String = dir): Set[Long] =
        c.search(d).select(col(c.idCol).cast("long")).as[Long]
          .collect().toSet
      def liveDirs() = IndexBatches.live(spark, dir, k.marker).size
      def noDebt() = IndexStats.due(spark, dir, k.datasets,
          maxLiveBatches = 0, maxTombstones = 0,
          markerDataset = Some(k.marker)) == ((false, false))
      def delete(xs: Long*): Unit =
        k.deleteFromIndex(xs.toDF(c.deleteCol), dir)

      // a replayed (tag, batchId) rewrites its own batch dir
      k.appendBatchDir(c.batch(0), dir, "feed", 0L)
      val streamed = rows()
      assert(liveDirs() == 1)
      k.appendBatchDir(c.batch(0), dir, "feed", 0L)
      assert(liveDirs() == 1, "a replay accreted a batch dir")
      assert(rows() == streamed, "a replay changed the search")

      // a delete masks at once, its echo in the live batch dir included
      val hit = ids()
      val baseVictim = hit.filter(_ < BatchBase).min
      val batchVictim = hit.filter(_ >= BatchBase).min
      delete(baseVictim, batchVictim)
      val masked = rows()
      assert(ids().intersect(Set(baseVictim, batchVictim)).isEmpty,
        "a deleted id surfaced before vacuum")

      // vacuum WITH a live batch dir: same search, no debt
      k.vacuumIndex(spark, dir)
      assert(rows() == masked, "vacuum with live dirs changed the search")
      assert(liveDirs() == 0 && noDebt())

      // a delete landing in the race window survives the pass, masked
      val rest = ids().filter(_ < BatchBase).toSeq.sorted
      val (early, late) = (rest.head, rest.last)
      delete(early)
      k.vacuumAfterSnapshotHook = () => delete(late)
      try k.vacuumIndex(spark, dir)
      finally k.vacuumAfterSnapshotHook = () => ()
      assert(ids().intersect(Set(early, late)).isEmpty,
        "the race-window delete stopped masking")
      assert(!noDebt(), "the race-window delete was consumed")

      // vacuum WITHOUT live dirs: same search, no debt
      val maskedLate = rows()
      assert(k.vacuumIndex(spark, dir) > 0L)
      assert(rows() == maskedLate, "vacuum without live dirs changed the search")
      assert(noDebt())

      // an empty-ledger vacuum still folds live batch dirs
      k.appendBatchDir(c.batch(1), dir, "feed", 1L)
      val grown = rows()
      assert(liveDirs() == 1)
      assert(k.vacuumIndex(spark, dir) == 0L)
      assert(liveDirs() == 0, "an empty-ledger vacuum left a live batch dir")
      assert(rows() == grown && noDebt())

      // a base append searches like the same batch through a slot and a
      // compaction
      val (appended, slotted) = (fresh(), fresh())
      k.appendToIndex(c.batch(2), appended)
      k.appendBatchDir(c.batch(2), slotted, "feed", 2L)
      k.compactIndexBatches(spark, slotted)
      assert(ids(appended).exists(_ >= 3 * BatchBase),
        "no appended id surfaced")
      assert(rows(appended) == rows(slotted),
        "appendToIndex and a compacted appendBatchDir searched apart")
    }
}
