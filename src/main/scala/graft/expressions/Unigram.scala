package graft.expressions

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unigram-LM tokenization (the SentencePiece model family — Kudo 2018):
  * each vocab piece carries a cost (its negative log-probability) and a
  * text encodes as the MINIMUM-TOTAL-COST segmentation, found by Viterbi
  * DP over character positions — where `Bpe.scala` walks merge ranks and
  * `MaxMatch.scala` grabs the longest piece greedily, this one globally
  * optimizes, and the three genuinely disagree (UnigramSpec pins a
  * divergence case). Completes the third of the three published
  * tokenizer families.
  *
  * Costs are INTEGER micro-nats (`round(-ln p · 1e6)`), the same
  * quantization contract as the drift monitor's JS readout: the DP
  * compares and sums only integers, so segmentations are bit-stable
  * across JVMs and hash-gateable — no float tie astride an ulp. Ties
  * break on fewer tokens, then on the longer piece earliest (the DP
  * scans piece lengths descending and replaces only on strict
  * improvement — fully deterministic). Characters no vocab piece covers
  * emit UNK (-1) at [[UnigramUtil.UnkCost]], so UNK never beats a real
  * piece but corruption still segments.
  *
  * Vocab file: one `piece<TAB>cost` per line, 0-based line number = id.
  * Scale shape: codegen'd, scan-local, path-only in the plan,
  * per-executor vocab memoization; the DP costs O(len · maxPieceLen)
  * per row — linear in the corpus, embarrassingly parallel.
  */
object UnigramUtil {

  /** Cost of an UNK char: above any real piece, below Long overflow. */
  val UnkCost: Long = 100000000L

  private val cache = TrieMap.empty[
    String, (java.util.HashMap[String, Array[Long]], Int)]

  /** piece -> [id, cost], plus max piece length, memoized per path. */
  private[expressions] def vocab(path: String)
      : (java.util.HashMap[String, Array[Long]], Int) =
    cache.getOrElseUpdate(path, {
      val m = new java.util.HashMap[String, Array[Long]]()
      var maxLen = 1
      var id = 0L
      Files.readAllLines(Paths.get(path)).asScala.foreach { ln =>
        val tab = ln.indexOf('\t')
        require(tab > 0, s"vocab line must be piece<TAB>cost, got: $ln")
        val piece = ln.substring(0, tab)
        val cost = ln.substring(tab + 1).trim.toLong
        require(cost >= 0, s"negative cost for piece $piece")
        m.put(piece, Array(id, cost))
        if (piece.length > maxLen) maxLen = piece.length
        id += 1
      }
      (m, maxLen)
    })

  /** Viterbi ids for one text (UNK = -1), plus the optimal total cost. */
  private[expressions] def viterbi(text: String,
                                   path: String): (Array[Int], Long) = {
    val (m, maxLen) = vocab(path)
    val n = text.length
    val cost = new Array[Long](n + 1)
    val count = new Array[Int](n + 1)
    val backLen = new Array[Int](n + 1)
    val backId = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      // UNK single char is always available as the fallback edge
      cost(i) = cost(i - 1) + UnkCost
      count(i) = count(i - 1) + 1
      backLen(i) = 1; backId(i) = -1
      var len = math.min(maxLen, i)
      while (len >= 1) {
        val e = m.get(text.substring(i - len, i))
        if (e != null) {
          val c = cost(i - len) + e(1)
          val k = count(i - len) + 1
          // strict lexicographic improvement on (cost, tokens); scanning
          // len descending means the LONGEST piece wins exact ties
          if (c < cost(i) || (c == cost(i) && k < count(i))) {
            cost(i) = c; count(i) = k
            backLen(i) = len; backId(i) = e(0).toInt
          }
        }
        len -= 1
      }
      i += 1
    }
    val out = new Array[Int](count(n))
    var pos = n
    var w = count(n) - 1
    while (pos > 0) {
      out(w) = backId(pos)
      pos -= backLen(pos)
      w -= 1
    }
    (out, cost(n))
  }

  def encode(text: UTF8String, path: UTF8String): GenericArrayData =
    new GenericArrayData(viterbi(text.toString, path.toString)._1)

  /** Total micro-nat cost of the Viterbi segmentation — the corpus
    * log-likelihood contribution a perplexity-style filter ranks on;
    * read straight off the DP's terminal state, never re-derived. */
  def cost(text: UTF8String, path: UTF8String): Long =
    viterbi(text.toString, path.toString)._2
}

/** `unigram_encode(text, vocab_path) -> array<int>`: codegen'd Viterbi
  * min-cost token ids over a piece<TAB>micro-nat-cost vocab. */
case class UnigramEncode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        "unigram_encode vocab path must be a constant string")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"unigram_encode requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "unigram_encode"
  override protected def nullSafeEval(text: Any, path: Any): Any =
    UnigramUtil.encode(text.asInstanceOf[UTF8String],
      path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p) => s"graft.expressions.UnigramUtil.encode($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramEncode =
    copy(left = newLeft, right = newRight)
}

/** `unigram_cost(text, vocab_path) -> bigint`: the segmentation's total
  * integer micro-nat cost (corpus likelihood / perplexity filtering). */
case class UnigramCost(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        "unigram_cost vocab path must be a constant string")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"unigram_cost requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "unigram_cost"
  override protected def nullSafeEval(text: Any, path: Any): Any =
    UnigramUtil.cost(text.asInstanceOf[UTF8String],
      path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p) => s"graft.expressions.UnigramUtil.cost($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): UnigramCost =
    copy(left = newLeft, right = newRight)
}

object Unigram {

  def encodeIds(text: org.apache.spark.sql.Column,
                vocabPath: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("unigram_encode", text,
      org.apache.spark.sql.functions.lit(vocabPath))

  def segmentCost(text: org.apache.spark.sql.Column,
                  vocabPath: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("unigram_cost", text,
      org.apache.spark.sql.functions.lit(vocabPath))

  /** Offline unigram-LM vocabulary fitting on a bounded driver-side
    * sample — the same train-on-sample contract as `Bpe.learnMerges`
    * and the IVF k-means fit: fitting is a one-off tool step, APPLYING
    * the vocab is the distributed expression above. Viterbi-EM
    * (SentencePiece's hard-EM simplification): candidates = all
    * substrings up to `maxPieceLen` seen at least twice, plus every
    * single char (never pruned — full coverage); each round re-segments
    * the sample under current costs and re-estimates each piece's
    * probability from its usage count (unused multi-char pieces are
    * pruned); after `rounds`, the top `vocabSize` pieces by count
    * survive (single chars always kept; ties break lexicographically
    * for determinism). Returns piece -> integer micro-nat cost, ready
    * for [[UnigramUtil]]'s file format. */
  def learnVocab(sample: Seq[String], vocabSize: Int, maxPieceLen: Int = 4,
                 rounds: Int = 3): Seq[(String, Long)] = {
    require(vocabSize > 0 && maxPieceLen >= 1 && rounds >= 1)
    val chars = sample.flatMap(_.map(_.toString)).distinct.sorted
    // substring candidates with frequency >= 2
    val subFreq = scala.collection.mutable.HashMap.empty[String, Long]
    sample.foreach { s =>
      for (l <- 2 to maxPieceLen; i <- 0 to s.length - l)
        subFreq(s.substring(i, i + l)) =
          subFreq.getOrElse(s.substring(i, i + l), 0L) + 1
    }
    var pieces: Map[String, Long] = {
      // init: cost from length-weighted frequency (longer, more frequent
      // pieces start cheaper), micro-nat scale
      val cand = chars.map(_ -> 1L).toMap ++
        subFreq.filter(_._2 >= 2).map { case (p, f) => p -> (f * p.length) }
      val total = cand.values.sum.toDouble
      cand.map { case (p, w) =>
        p -> math.round(-math.log(w / total) * 1e6)
      }
    }
    def segment(s: String, costs: Map[String, Long]): Seq[String] = {
      val maxLen = costs.keysIterator.map(_.length).max
      val n = s.length
      val best = new Array[Long](n + 1)
      val cnt = new Array[Int](n + 1)
      val back = new Array[Int](n + 1)
      var i = 1
      while (i <= n) {
        best(i) = best(i - 1) + UnigramUtil.UnkCost
        cnt(i) = cnt(i - 1) + 1; back(i) = 1
        var len = math.min(maxLen, i)
        while (len >= 1) {
          costs.get(s.substring(i - len, i)).foreach { c =>
            val cand = best(i - len) + c
            val k = cnt(i - len) + 1
            if (cand < best(i) || (cand == best(i) && k < cnt(i))) {
              best(i) = cand; cnt(i) = k; back(i) = len
            }
          }
          len -= 1
        }
        i += 1
      }
      val out = List.newBuilder[String]
      val rev = scala.collection.mutable.ArrayBuffer.empty[Int]
      var pos = n
      while (pos > 0) { rev += back(pos); pos -= back(pos) }
      pos = 0
      rev.reverse.foreach { l => out += s.substring(pos, pos + l); pos += l }
      out.result()
    }
    var round = 0
    while (round < rounds) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      sample.foreach(s => segment(s, pieces).foreach(p =>
        counts(p) = counts.getOrElse(p, 0L) + 1))
      // M-step: cost = -ln(count/total); chars kept alive at count >= 1
      val kept = pieces.keys.filter(p =>
        p.length == 1 || counts.getOrElse(p, 0L) > 0)
      val alive = kept.map(p => p -> math.max(1L, counts.getOrElse(p, 0L)))
        .toMap
      val total = alive.values.sum.toDouble
      pieces = alive.map { case (p, c) =>
        p -> math.round(-math.log(c / total) * 1e6)
      }
      round += 1
    }
    // final prune to vocabSize: cheapest (most probable) first, single
    // chars always kept, lexicographic tiebreak
    val (single, multi) = pieces.partition(_._1.length == 1)
    val keptMulti = multi.toSeq
      .sortBy { case (p, c) => (c, p) }
      .take(math.max(0, vocabSize - single.size))
    (single.toSeq ++ keptMulti).sortBy { case (p, c) => (c, p) }
  }
}
