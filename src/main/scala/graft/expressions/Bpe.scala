package graft.expressions

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding token counting against a LOADABLE merges vocabulary —
  * the fidelity upgrade over `TextFunctions.bpeTokenCount`'s regex
  * heuristic: token budgets for packing/chunking approximate a real BPE
  * tokenizer instead of a letter-run count (BpeSpec measures the drift).
  *
  * The merges file is the standard published format (GPT-2 merges.txt:
  * one merge per line, two space-separated symbols, earlier line = higher
  * priority; `#`-prefixed lines and blanks skipped). Encoding is the
  * actual BPE algorithm, not a longest-match approximation: a word starts
  * as characters and the lowest-rank adjacent pair merges repeatedly
  * until none remains — so counts agree with any faithful BPE
  * implementation over the same merges.
  *
  * Scale shape: scan-local and codegen'd like every other expression
  * here. Only the PATH travels in the plan; each executor loads and
  * memoizes the ranks table once per path (a merges file is a few MB —
  * ship it with `SparkContext.addFile` on a real cluster and pass the
  * `SparkFiles.get` path). No shuffle, no driver round-trip per row.
  */
object BpeUtil {

  /** rank table: "a<NUL>b" -> merge priority (line order). */
  private val cache = TrieMap.empty[String, java.util.HashMap[String, Int]]

  private[expressions] def ranks(path: String): java.util.HashMap[String, Int] =
    cache.getOrElseUpdate(path, {
      val m = new java.util.HashMap[String, Int]()
      val lines = Files.readAllLines(Paths.get(path)).asScala
      var rank = 0
      lines.foreach { ln =>
        val t = ln.trim
        if (t.nonEmpty && !t.startsWith("#")) {
          val sp = t.split(" ")
          require(sp.length == 2,
            s"merges line must be two space-separated symbols, got: $ln")
          m.put(sp(0) + "\u0000" + sp(1), rank)
          rank += 1
        }
      }
      m
    })

  /** id table for [[encode]]: symbol -> id, from a vocab file in the
    * published one-symbol-per-line format (BERT vocab.txt): every line is
    * a symbol and its id is exactly the 0-based line number — no comment
    * or blank-line skipping here, since `#` (or anything) is a valid
    * symbol and skipping would shift every id after it. */
  private val vocabCache = TrieMap.empty[String, java.util.HashMap[String, Int]]

  private[expressions] def vocabIds(path: String): java.util.HashMap[String, Int] =
    vocabCache.getOrElseUpdate(path, {
      val m = new java.util.HashMap[String, Int]()
      val lines = Files.readAllLines(Paths.get(path)).asScala
      var id = 0
      lines.foreach { ln =>
        m.put(ln, id)
        id += 1
      }
      m
    })

  /** Surviving BPE parts of one word: chars → repeated lowest-rank
    * adjacent merge until none remains. */
  private def wordParts(word: String,
                        r: java.util.HashMap[String, Int])
      : java.util.ArrayList[String] = {
    var parts = new java.util.ArrayList[String](word.length)
    var i = 0
    while (i < word.length) {
      val cp = word.codePointAt(i)
      val n = Character.charCount(cp)
      parts.add(word.substring(i, i + n))
      i += n
    }
    var done = false
    while (!done && parts.size > 1) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var j = 0
      while (j < parts.size - 1) {
        val rk = r.getOrDefault(parts.get(j) + "\u0000" + parts.get(j + 1),
          Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bestIdx = j }
        j += 1
      }
      if (bestIdx < 0) done = true
      else {
        // merge every adjacent occurrence of the winning pair, left to
        // right (the standard BPE step: one pair type per iteration)
        val a = parts.get(bestIdx)
        val b = parts.get(bestIdx + 1)
        val next = new java.util.ArrayList[String](parts.size)
        var k = 0
        while (k < parts.size) {
          if (k < parts.size - 1 && parts.get(k) == a &&
              parts.get(k + 1) == b) {
            next.add(a + b); k += 2
          } else { next.add(parts.get(k)); k += 1 }
        }
        parts = next
      }
    }
    parts
  }

  /** Token count of one word: surviving part count. */
  private def wordTokens(word: String,
                         r: java.util.HashMap[String, Int]): Int =
    if (word.length <= 1) word.length else wordParts(word, r).size

  def count(text: UTF8String, path: UTF8String): Int = {
    val r = ranks(path.toString)
    val words = text.toString.trim.split("\\s+")
    var total = 0
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) total += wordTokens(words(i), r)
      i += 1
    }
    total
  }

  /** Encode to token IDS: the same merge loop as [[count]], then each
    * surviving part mapped through the vocab table (unknown symbol →
    * `-1`, kept rather than dropped so id-stream length always equals
    * `bpe_token_count` in the plain mode). Word order and within-word
    * part order are preserved.
    *
    * `spaceAware = false`: whitespace emits nothing (the whitespace-word
    * model this engine's text stack uses throughout).
    * `spaceAware = true`: the GPT-2 convention — a word PRECEDED BY
    * whitespace carries the 'Ġ' (U+0120) marker as its first symbol, so
    * the vocabulary distinguishes word-initial from word-internal
    * occurrences and decoding can reconstruct spacing. Merges/vocab must
    * then contain Ġ-prefixed symbols (GPT-2's published files do). */
  def encode(text: UTF8String, mergesPath: UTF8String,
             vocabPath: UTF8String, spaceAware: Boolean)
      : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val r = ranks(mergesPath.toString)
    val v = vocabIds(vocabPath.toString)
    val raw = text.toString
    val leadingWs = raw.nonEmpty && Character.isWhitespace(raw.charAt(0))
    val words = raw.trim.split("\\s+")
    val out = new java.util.ArrayList[Int]()
    var i = 0
    var emitted = 0
    while (i < words.length) {
      if (words(i).nonEmpty) {
        val marked =
          if (spaceAware && (emitted > 0 || leadingWs)) "Ġ" + words(i)
          else words(i)
        val parts = wordParts(marked, r)
        var j = 0
        while (j < parts.size) {
          out.add(v.getOrDefault(parts.get(j), -1))
          j += 1
        }
        emitted += 1
      }
      i += 1
    }
    val arr = new Array[Int](out.size)
    var k = 0
    while (k < arr.length) { arr(k) = out.get(k); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** `bpe_token_count(text, merges_path) -> int` — codegen'd real-BPE token
  * count; the path argument must be a constant string. */
case class BpeTokenCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        "bpe_token_count merges path must be a constant string")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"bpe_token_count requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_token_count"
  override protected def nullSafeEval(text: Any, path: Any): Any =
    BpeUtil.count(text.asInstanceOf[UTF8String], path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p) => s"graft.expressions.BpeUtil.count($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BpeTokenCount =
    copy(left = newLeft, right = newRight)
}

/** `bpe_encode(text, merges_path, vocab_path) -> array<int>` — codegen'd
  * real-BPE encoding to token ids: the merge loop of `bpe_token_count`
  * followed by a symbol→id lookup in a one-symbol-per-line vocab file
  * (line number = id, the published BERT vocab.txt layout; GPT-2 ships
  * the same table as vocab.json — convert once offline). Unknown symbols
  * encode as -1 so `size(bpe_encode(..)) == bpe_token_count(..)` always.
  * Both path arguments must be constant strings. */
case class BpeEncode(first: Expression, second: Expression,
                     third: Expression,
                     spaceAware: Boolean = false) extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, StringType, StringType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType, StringType) =>
        TypeCheckResult.TypeCheckFailure(
          "bpe_encode merges/vocab paths must be constant strings")
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"bpe_encode requires (string, string, string), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String =
    if (spaceAware) "bpe_encode_ls" else "bpe_encode"
  override protected def nullSafeEval(text: Any, merges: Any,
                                      vocab: Any): Any =
    BpeUtil.encode(text.asInstanceOf[UTF8String],
      merges.asInstanceOf[UTF8String], vocab.asInstanceOf[UTF8String],
      spaceAware)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, m, v) => s"graft.expressions.BpeUtil.encode($t, $m, $v, $spaceAware)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): BpeEncode =
    copy(first = f, second = s, third = t)
}

object Bpe {

  /** Column form of `bpe_token_count` (requires
    * [[graft.Functions.ensure]] first) — drop-in replacement for `TextFunctions.bpeTokenCount` where a real
    * merges vocabulary is available. */
  def tokenCount(text: org.apache.spark.sql.Column,
                 mergesPath: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("bpe_token_count", text,
      org.apache.spark.sql.functions.lit(mergesPath))

  /** Column form of `bpe_encode` (requires [[graft.Functions.ensure]]
    * first). */
  def encodeIds(text: org.apache.spark.sql.Column, mergesPath: String,
                vocabPath: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("bpe_encode", text,
      org.apache.spark.sql.functions.lit(mergesPath),
      org.apache.spark.sql.functions.lit(vocabPath))

  /** Offline merge learning on a bounded driver-side sample — the same
    * train-on-sample contract as the IVF k-means fit (Similarity.scala):
    * vocab fitting is a one-off tool step, APPLYING the vocab is the
    * distributed scan-local expression above. Standard BPE training:
    * count adjacent symbol pairs over the corpus word frequencies, merge
    * the most frequent (ties broken lexicographically for determinism),
    * repeat `nMerges` times. */
  def learnMerges(sample: Seq[String], nMerges: Int): Seq[(String, String)] = {
    // word -> frequency, words as symbol arrays
    val wordFreq = scala.collection.mutable.HashMap.empty[List[String], Long]
    sample.foreach { doc =>
      doc.trim.split("\\s+").foreach { w =>
        if (w.nonEmpty) {
          val syms = w.codePoints().toArray.toList
            .map(cp => new String(Character.toChars(cp)))
          wordFreq(syms) = wordFreq.getOrElse(syms, 0L) + 1L
        }
      }
    }
    var words = wordFreq.toSeq
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var it = 0
    while (it < nMerges) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        syms.zip(syms.tail).foreach { p =>
          pairCounts(p) = pairCounts.getOrElse(p, 0L) + f
        }
      }
      if (pairCounts.isEmpty) it = nMerges
      else {
        val (best, cnt) = pairCounts.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        if (cnt < 2) it = nMerges // nothing left worth merging
        else {
          merges += best
          val merged = best._1 + best._2
          words = words.map { case (syms, f) =>
            val out = scala.collection.mutable.ListBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == best._1 &&
                  syms(i + 1) == best._2) { out += merged; i += 2 }
              else { out += syms(i); i += 1 }
            }
            (out.toList, f)
          }
          it += 1
        }
      }
    }
    merges.toSeq
  }
}
