package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed generalized suffix array over a document corpus — the EXACT
  * machinery behind substring-level dedup in the training-data literature
  * (suffix-array dedup a la "Deduplicating Training Data Makes Language
  * Models Better"; [[graft.expressions.Winnow]] is the cheap approximate
  * path, this is the exact one).
  *
  * Construction is prefix doubling (Manber–Myers, the standard
  * shuffle-friendly formulation used by MapReduce/MPI suffix-array
  * builders): round k knows each suffix's dense rank by its first `h = 2^k`
  * characters; the next round ranks pairs `(rank_h(pos), rank_h(pos + h))`
  * — one self-join on `(doc, pos + h)` plus one global dense-rank — and
  * doubles `h`. O(log maxLen) rounds total, each a bounded number of
  * shuffles on `(doc, pos)` / rank keys; nothing driver-side but one
  * scalar (maxLen). Dense ranking reuses [[GlobalRank]]'s range-partition
  * + zipWithIndex path over the DISTINCT rank pairs, so no single-task
  * window anywhere.
  *
  * Suffixes never cross document boundaries (generalized SA), shorter
  * prefixes sort before their extensions (missing right rank = 0, real
  * ranks start at 1), and identical suffixes share a rank — the result is
  * exactly `dense_rank() over (order by suffix_string)` without ever
  * materializing a suffix string.
  *
  * LCP of rank-adjacent suffixes comes from the retained per-round rank
  * tables by binary descent (the sparse-table walk): for `h` from the
  * largest table down, if `rank_h(a + lcp) == rank_h(b + lcp)` then
  * `lcp += h` — O(log maxLen) rounds of two equi-joins each, clamped to
  * the shorter suffix at the end (equal ranks of truncated prefixes can
  * overshoot by design; the clamp restores exactness).
  *
  * Small corpora (bounded probe: ≤ [[SmallDocs]] documents AND
  * ≤ `localThreshold` total characters, integral doc ids) skip the round
  * loop for a driver-local sort — the [[ConnectedComponents]] SmallGraph
  * contract: distributed rounds are dominated by per-round JOB overhead
  * at that size (measured: 18-41 s/gate at 160k chars for work a local
  * sort answers in milliseconds), and the bounded collect is the same
  * size class as Packing's prefix offsets. `localThreshold = 0` pins the
  * distributed path (its own specs use it); equivalence of the two paths
  * is asserted in SuffixArraySpec.
  */
object SuffixArray {

  /** Document-count bound under which the char-count probe (a bounded
    * scan) may elect the driver-local path. */
  private val SmallDocs = 1 << 15

  /** `ranks`: (doc, pos, r) — dense suffix rank; `rankTables`: the
    * per-power rank frames (h → rank by first h chars), kept for LCP;
    * `localAdjacent`: the adjacent-pair LCP frame, precomputed when the
    * driver-local path ran (the sort walk yields it for free). */
  final case class Built(ranks: DataFrame,
                         rankTables: Seq[(Int, DataFrame)],
                         localAdjacent: Option[DataFrame])

  /** Build the generalized suffix array of `docs(docCol, textCol)`.
    * `rankPartitions` overrides the doubling rounds' rank-shuffle width
    * (default: GlobalRank's size-adaptive derivation — tiny corpora
    * rank narrow, large corpora at full session width). */
  def build(docs: DataFrame, docCol: String = "doc_id",
            textCol: String = "text",
            localThreshold: Long = 1L << 20,
            rankPartitions: Option[Int] = None): Built = {
    val integralDoc = {
      import org.apache.spark.sql.types._
      Set[DataType](LongType, IntegerType, ShortType, ByteType)
        .contains(docs.schema(docCol).dataType)
    }
    if (localThreshold > 0 && integralDoc &&
        docs.limit(SmallDocs + 1).count() <= SmallDocs) {
      // BOTH bounds gate the driver transfer: doc count does not bound
      // bytes (32k book-sized docs is hundreds of GB), so the char total
      // is probed DISTRIBUTED — a scan-local sum, one scalar back —
      // before any row leaves the executors.
      val totalChars = docs
        .agg(coalesce(sum(length(col(textCol))), lit(0L)).cast("long"))
        .head().getLong(0)
      if (totalChars <= localThreshold) {
        val rows = docs.select(col(docCol).cast("long"), col(textCol))
          .collect()
        return buildLocal(docs.sparkSession,
          rows.map(r => (r.getLong(0),
            if (r.isNullAt(1)) "" else r.getString(1))))
      }
    }
    val chars = docs.select(col(docCol).as("doc"),
        posexplode(split(col(textCol), ""))).toDF("doc", "pos", "c")
      .where(length(col("c")) === 1)
    val maxLen = chars.agg(max("pos")).head() match {
      case row if row.isNullAt(0) => 0
      case row => row.getInt(0) + 1
    }
    // rank_1: dense rank of the first character (alphabet-sized frame)
    val alpha = GlobalRank.withRowNumber(
      chars.select("c").distinct(), "r", Seq(asc("c")), rankPartitions)
    var cur = OperatorCaches.cache(chars.join(alpha, "c").select("doc", "pos", "r"))
    cur.count()
    var tables = List(1 -> cur)
    var h = 1
    var round = 0
    while (h < maxLen) {
      // right half of the comparison: the rank h positions later (missing
      // → 0: a shorter prefix sorts before every extension of it)
      val shifted = cur.select(col("doc"), (col("pos") - h).as("pos"),
        col("r").as("r2"))
      val pairs = cur.join(shifted, Seq("doc", "pos"), "left")
        .select(col("doc"), col("pos"), col("r"),
          coalesce(col("r2"), lit(0L)).as("r2"))
      val ranked = GlobalRank.withRowNumber(
        pairs.select("r", "r2").distinct(), "nr",
        Seq(asc("r"), asc("r2")), rankPartitions)
      var nxt = pairs.join(ranked, Seq("r", "r2"))
        .select(col("doc"), col("pos"), col("nr").as("r"))
      // periodic lineage truncation (the ConnectedComponents contract):
      // without it the per-round plan nests one join deeper every round
      // and the optimizer/AQE re-walk (even just RENDERING) the whole
      // history — long-doc corpora blow the driver on plan strings alone
      nxt =
        // release-tracked: unpersist never reaches a checkpoint's pinned
        // RDD, so the cadence rounds route through the seam releaseAll
        // drains (≤ rounds/3 = O(log maxlen) frames pinned per call)
        if (round % 3 == 2) OperatorCaches.checkpointed(nxt)
        else { val t = OperatorCaches.cache(nxt); t.count(); t }
      cur = nxt
      h *= 2
      round += 1
      tables ::= h -> cur
    }
    Built(cur, tables.reverse, None)
  }

  /** Driver-local build over a BOUNDED, already-collected corpus: one
    * comparator suffix sort, then a single walk assigns dense ranks and
    * yields every adjacent-pair LCP for free. Exact same total order and
    * tie-break as the distributed path (SuffixArraySpec pins the
    * equivalence). Only reached behind [[build]]'s bounded probes.
    *
    * Texts are decoded to CODE POINT arrays up front: the distributed
    * path's `split(text, "")` tokenizes per code point with code-point
    * positions and UTF-8 binary (= code point) ordering, so indexing or
    * comparing UTF-16 code units here would make the two paths disagree
    * on any text containing non-BMP characters (emoji, SMP CJK). */
  private def buildLocal(spark: org.apache.spark.sql.SparkSession,
                         docsArr: Array[(Long, String)]): Built = {
    import spark.implicits._
    val ids = docsArr.map(_._1)
    val texts: Array[Array[Int]] = docsArr.map(_._2.codePoints().toArray)
    val n = texts.iterator.map(_.length).sum
    if (n == 0)
      return Built(Seq.empty[(Long, Int, Long)].toDF("doc", "pos", "r"),
        Nil, Some(Seq.empty[(Long, Int, Long, Int, Int)]
          .toDF("doc1", "pos1", "doc2", "pos2", "lcp")))
    // flatten suffixes to global indices; sufIdx maps (doc, pos) back
    val docOf = new Array[Int](n)
    val posOf = new Array[Int](n)
    val sufIdx = new Array[Array[Int]](texts.length)
    var g = 0
    var d = 0
    while (d < texts.length) {
      sufIdx(d) = new Array[Int](texts(d).length)
      var p = 0
      while (p < texts(d).length) {
        docOf(g) = d; posOf(g) = p; sufIdx(d)(p) = g; g += 1; p += 1
      }
      d += 1
    }
    // prefix doubling with integer sorts — unlike a comparator suffix
    // sort, O(n log² n) REGARDLESS of content (a megabyte of one
    // repeated character is the adversarial case that makes
    // char-comparison sorting quadratic)
    val idx = Array.tabulate(n)(identity)
    var rank = new Array[Int](n)
    var order = idx.sortBy(i => texts(docOf(i))(posOf(i)))
    var r = 0
    var j = 1
    rank(order(0)) = 0
    while (j < n) {
      if (texts(docOf(order(j)))(posOf(order(j))) !=
          texts(docOf(order(j - 1)))(posOf(order(j - 1)))) r += 1
      rank(order(j)) = r
      j += 1
    }
    val maxLen = texts.iterator.map(_.length).max
    var h = 1
    while (h < maxLen) {
      val hh = h
      def r2(i: Int): Int = {
        val p = posOf(i) + hh
        if (p < texts(docOf(i)).length) rank(sufIdx(docOf(i))(p)) + 1
        else 0
      }
      order = idx.sortBy(i => (rank(i), r2(i)))
      val next = new Array[Int](n)
      r = 0
      next(order(0)) = 0
      j = 1
      while (j < n) {
        val a = order(j - 1); val b = order(j)
        if (rank(a) != rank(b) || r2(a) != r2(b)) r += 1
        next(b) = r
        j += 1
      }
      rank = next
      h *= 2
    }
    // total order: (dense rank, doc id, pos) — same tie-break as the
    // distributed path
    order = idx.sortBy(i => (rank(i), ids(docOf(i)), posOf(i)))
    val saPos = new Array[Int](n)
    j = 0
    while (j < n) { saPos(order(j)) = j; j += 1 }
    // Kasai: adjacent-pair LCPs in O(n) amortized per doc (the h-hint
    // carries within a text; correctness is by direct char compare)
    val lcpArr = new Array[Int](n)
    d = 0
    while (d < texts.length) {
      val sa = texts(d)
      var h0 = 0
      var p = 0
      while (p < sa.length) {
        val pos = saPos(sufIdx(d)(p))
        if (pos > 0) {
          val k = order(pos - 1)
          val sb = texts(docOf(k))
          var x = p + h0; var y = posOf(k) + h0
          while (x < sa.length && y < sb.length && sa(x) == sb(y)) {
            x += 1; y += 1
          }
          lcpArr(pos) = x - p
          h0 = if (x - p > 0) x - p - 1 else 0
        } else h0 = 0
        p += 1
      }
      d += 1
    }
    val ranksOut = new Array[(Long, Int, Long)](n)
    j = 0
    while (j < n) {
      val i = order(j)
      ranksOut(j) = (ids(docOf(i)), posOf(i), rank(i) + 1L)
      j += 1
    }
    val adj = new Array[(Long, Int, Long, Int, Int)](n - 1)
    j = 1
    while (j < n) {
      val a = order(j - 1); val b = order(j)
      adj(j - 1) = (ids(docOf(a)), posOf(a), ids(docOf(b)), posOf(b),
        lcpArr(j))
      j += 1
    }
    Built(ranksOut.toSeq.toDF("doc", "pos", "r"), Nil,
      Some(adj.toSeq.toDF("doc1", "pos1", "doc2", "pos2", "lcp")))
  }

  /** LCP between each suffix and its successor in suffix-array order
    * (ties broken by (doc, pos) — a total order). Output:
    * (doc1, pos1, doc2, pos2, lcp). Precomputed when the driver-local
    * build ran; otherwise the rank-table binary descent. */
  def adjacentLcp(b: Built,
                  rankPartitions: Option[Int] = None): DataFrame =
      b.localAdjacent.getOrElse {
    val ord = GlobalRank.withRowNumber(b.ranks, "rn",
      Seq(asc("r"), asc("doc"), asc("pos")), rankPartitions)
    val nxt = ord.select((col("rn") - 1).as("rn"), col("doc").as("doc2"),
      col("pos").as("pos2"))
    var cur = ord.join(nxt, "rn")
      .select(col("doc").as("doc1"), col("pos").as("pos1"),
        col("doc2"), col("pos2"), lit(0).as("lcp"))
    var round = 0
    for ((h, tbl) <- b.rankTables.sortBy(-_._1)) {
      val t1 = tbl.select(col("doc").as("doc1"), col("pos").as("q1"),
        col("r").as("rh1"))
      val t2 = tbl.select(col("doc").as("doc2"), col("pos").as("q2"),
        col("r").as("rh2"))
      cur = cur
        .withColumn("q1", col("pos1") + col("lcp"))
        .withColumn("q2", col("pos2") + col("lcp"))
        .join(t1, Seq("doc1", "q1"), "left")
        .join(t2, Seq("doc2", "q2"), "left")
        .withColumn("lcp",
          when(col("rh1").isNotNull && col("rh1") === col("rh2"),
            col("lcp") + h).otherwise(col("lcp")))
        .drop("q1", "q2", "rh1", "rh2")
      // same lineage bound as the build loop: two joins nest per table
      // (release-tracked for the same reason as the build cadence)
      if (round % 3 == 2) cur = OperatorCaches.checkpointed(cur)
      round += 1
    }
    // equal ranks of truncated prefixes overshoot past the string end —
    // clamp to the shorter remaining suffix (restores exact LCP)
    val lens = b.ranks.groupBy("doc").agg((max("pos") + 1).as("len"))
    cur
      .join(lens.select(col("doc").as("doc1"), col("len").as("len1")),
        "doc1")
      .join(lens.select(col("doc").as("doc2"), col("len").as("len2")),
        "doc2")
      .select(col("doc1"), col("pos1"), col("doc2"), col("pos2"),
        least(col("lcp"), col("len1") - col("pos1"),
          col("len2") - col("pos2")).as("lcp"))
  }

  /** Longest repeated substring per document: for each doc, the length of
    * the longest substring that occurs anywhere else in the corpus
    * (another doc or another position of the same doc). Exact via the
    * classic reduction: a suffix's best match is one of its suffix-array
    * neighbors, so the answer is the per-doc max over adjacent-pair LCPs
    * in both directions. */
  def maxRepeatPerDoc(b: Built): DataFrame = {
    val l = adjacentLcp(b)
    l.select(col("doc1").as("doc"), col("lcp"))
      .union(l.select(col("doc2").as("doc"), col("lcp")))
      .groupBy("doc").agg(max("lcp").as("max_repeat"))
  }
}
