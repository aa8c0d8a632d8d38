package graft.expressions

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Greedy longest-match (MaxMatch) tokenization against a LOADABLE
  * vocabulary — the inference algorithm of the WordPiece tokenizer family
  * (Schuster & Nakajima 2012; BERT's tokenizer applies exactly this per
  * word): at each position take the LONGEST vocab piece that prefixes the
  * remaining text; if none matches, emit UNK (-1) and advance one
  * character. This is the second published tokenizer family next to
  * `Bpe.scala`'s merge-walk — the two genuinely differ (BPE's merge
  * order can pick a shorter piece where MaxMatch grabs the longest), so
  * token budgets built for a WordPiece-family model need this one.
  *
  * Implemented here in the continuous-script form (no whitespace
  * pre-split, no `##` continuation marking) — the variant used for
  * CJK-style text and the one a vocabulary can represent directly; a
  * `##`-style vocab encodes by listing the marked pieces.
  *
  * Vocab file: one piece per line, 0-based line number = token id (the
  * BERT vocab.txt layout, shared with `bpe_encode`). Scale shape: like
  * every expression here — codegen'd, scan-local, only the PATH travels
  * in the plan; each executor memoizes the piece table (as a
  * length-bucketed hash map: lookup tries the longest bucket first, so a
  * position costs O(maxPieceLen) hashes, independent of vocab size).
  */
object MaxMatchUtil {

  /** piece table + max piece length (in chars), memoized per path. */
  private val cache =
    TrieMap.empty[String, (java.util.HashMap[String, Integer], Int)]

  private[expressions] def vocab(path: String)
      : (java.util.HashMap[String, Integer], Int) =
    cache.getOrElseUpdate(path, {
      val m = new java.util.HashMap[String, Integer]()
      var maxLen = 1
      var id = 0
      Files.readAllLines(Paths.get(path)).asScala.foreach { ln =>
        m.put(ln, Integer.valueOf(id))
        if (ln.length > maxLen) maxLen = ln.length
        id += 1
      }
      (m, maxLen)
    })

  private def ids(text: String, path: String): Array[Int] = {
    val (m, maxLen) = vocab(path)
    val out = new scala.collection.mutable.ArrayBuffer[Int](
      text.length / 2 + 1)
    var i = 0
    while (i < text.length) {
      var len = math.min(maxLen, text.length - i)
      var hit = -1
      while (len >= 1 && hit < 0) {
        val cand = m.get(text.substring(i, i + len))
        if (cand != null) hit = cand.intValue() else len -= 1
      }
      if (hit >= 0) { out += hit; i += len }
      else { out += -1; i += 1 } // UNK: advance one char, stay visible
    }
    out.toArray
  }

  def encode(text: UTF8String, path: UTF8String): GenericArrayData =
    new GenericArrayData(ids(text.toString, path.toString))

  def count(text: UTF8String, path: UTF8String): Int =
    ids(text.toString, path.toString).length
}

/** `max_match_encode(text, vocab_path) -> array<int>`: codegen'd greedy
  * longest-match token ids; UNK spans encode as -1 per skipped char. */
case class MaxMatchEncode(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        "max_match_encode vocab path must be a constant string")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"max_match_encode requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "max_match_encode"
  override protected def nullSafeEval(text: Any, path: Any): Any =
    MaxMatchUtil.encode(text.asInstanceOf[UTF8String],
      path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p) => s"graft.expressions.MaxMatchUtil.encode($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxMatchEncode =
    copy(left = newLeft, right = newRight)
}

/** `max_match_count(text, vocab_path) -> int`: token count under greedy
  * longest-match — the budget column for WordPiece-family models. */
case class MaxMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        "max_match_count vocab path must be a constant string")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"max_match_count requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "max_match_count"
  override protected def nullSafeEval(text: Any, path: Any): Any =
    MaxMatchUtil.count(text.asInstanceOf[UTF8String],
      path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p) => s"graft.expressions.MaxMatchUtil.count($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MaxMatchCount =
    copy(left = newLeft, right = newRight)
}

object MaxMatch {

  def encodeIds(text: org.apache.spark.sql.Column,
                vocabPath: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("max_match_encode", text,
      org.apache.spark.sql.functions.lit(vocabPath))

  def tokenCount(text: org.apache.spark.sql.Column,
                 vocabPath: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("max_match_count", text,
      org.apache.spark.sql.functions.lit(vocabPath))
}
