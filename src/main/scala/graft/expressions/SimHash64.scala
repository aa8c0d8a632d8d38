package graft.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Static helper the generated code calls. Kept Java-callable (object with
  * no companion class → static forwarders) so `doGenCode` can emit a plain
  * static call and the expression stays inside whole-stage codegen.
  */
object SimHashUtil {

  /** 64-bit SimHash over a token array: each token contributes ±1 per bit
    * position of its hash; the sign vector collapses to one long. Two near-
    * duplicate documents differ in few bits — hamming distance via
    * `bit_count(a ^ b)` is the verify step of simhash dedup.
    *
    * Token hash = two 32-bit Murmur3 runs (seeds 0x9747b28c / 0x85ebca6b)
    * packed into 64 bits — the same primitive Spark's `hash()` uses, zero
    * allocation per token.
    */
  def simhash64(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h1 = hashUtf8(s, 0x9747b28c)
        val h2 = hashUtf8(s, 0x85ebca6b)
        val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  private def hashUtf8(s: UTF8String, seed: Int): Int =
    Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
      s.numBytes(), seed)
}

/** `simhash64(array<string>) -> bigint` as a native Catalyst expression:
  * codegen'd (no UDF serialization, no Row boxing), null-safe, foldable
  * under constant inputs. Registered from
  * [[graft.Functions]].
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"simhash64 requires array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHashUtil.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.SimHashUtil.simhash64($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
