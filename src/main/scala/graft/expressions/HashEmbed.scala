package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Static helper the generated code calls (same static-forwarder pattern
  * as [[SimHashUtil]] — the expression stays inside whole-stage codegen).
  */
object HashEmbedUtil {

  /** Feature-hashing embedder (the hashing trick — Weinberger et al.,
    * ICML 2009): every token scatters ±1 into one of `d` buckets —
    * index = unsigned murmur3(token, 0x9747b28c) mod d, sign = low bit
    * of murmur3(token, 0x85ebca6b) — and the signed counts are the
    * document's d-dim vector. Unbiased inner products in expectation,
    * zero vocabulary state, one tight loop per document. The seeds are
    * SimHash's pair, so the byte-level murmur replay the SimHash oracle
    * proved carries over verbatim.
    *
    * Counts are exact small integers returned as doubles (exactly
    * representable) — downstream cosine is scale-invariant, so no
    * normalization here and none needed. */
  def hashEmbed(arr: ArrayData, d: Int): ArrayData = {
    val acc = new Array[Double](d)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val idx = (java.lang.Integer.toUnsignedLong(
          hashUtf8(s, 0x9747b28c)) % d).toInt
        val sign = if ((hashUtf8(s, 0x85ebca6b) & 1) == 1) 1.0 else -1.0
        acc(idx) += sign
      }
      i += 1
    }
    new GenericArrayData(acc)
  }

  private def hashUtf8(s: UTF8String, seed: Int): Int =
    Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
      s.numBytes(), seed)
}

/** `hash_embed(array<string>, d) -> array<double>` — the text→vector
  * bridge: documents flow into the embedding stack (near-dup, ANN,
  * the persisted indexes) with no external embedder and no vocabulary
  * fit. `d` must be an integer literal (like minhash_sig's m).
  * Codegen'd native expression, registered from [[graft.Functions]].
  */
case class HashEmbed(child: Expression, d: Int) extends UnaryExpression {
  require(d > 0 && d <= 4096,
    s"hash_embed dims must be in [1, 4096], got $d")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hash_embed requires array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(DoubleType, false)
  override def prettyName: String = "hash_embed"

  override protected def nullSafeEval(input: Any): Any =
    HashEmbedUtil.hashEmbed(input.asInstanceOf[ArrayData], d)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.HashEmbedUtil.hashEmbed($c, $d)")

  override protected def withNewChildInternal(newChild: Expression): HashEmbed =
    copy(child = newChild)
}
