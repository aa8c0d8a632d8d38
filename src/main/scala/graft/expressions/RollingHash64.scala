package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helper for codegen (object without companion class → static
  * forwarder, callable from generated Java). */
object RollingHashUtil {

  /** Rabin-Karp polynomial rolling hash over UTF-8 bytes:
    * h = Σ b_i · B^(n-1-i) mod M, with B=257 and M=2^61-1 (Mersenne prime —
    * mod via shift/add, no division). The content fingerprint for
    * incremental / chunked dedup: the hash of a sliding window can be
    * rolled in O(1), so chunk boundaries (content-defined chunking) and
    * window fingerprints at 100 TB stay scan-local single-pass.
    */
  def rollingHash64(s: UTF8String): Long = {
    val M = (1L << 61) - 1
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      // h = (h * 257 + b) mod M, without overflow: h < 2^61, h*257 < 2^70 —
      // split into (h << 8 + h) and reduce each shift mod M.
      h = mulMod257(h) + (bytes(i) & 0xffL)
      if (h >= M) h -= M
      i += 1
    }
    h
  }

  /** (h * 257) mod (2^61-1) using shift-add reduction. */
  private def mulMod257(h: Long): Long = {
    val M = (1L << 61) - 1
    // h*257 = h*256 + h = (h << 8) + h; reduce (h << 8) mod M first:
    // for any x < 2^61, (x << 8) mod M = ((x << 8) & M) + ((x << 8) >>> 61)
    val shifted = h << 8
    val wrapped = (shifted & M) + ((h >>> 53) & 0xffL)
    var out = wrapped + h
    while (out >= M) out -= M
    out
  }
}

/** `rolling_hash64(string) -> bigint`: codegen'd Rabin-Karp fingerprint.
  * Registered alongside simhash64 from [[graft.Functions]]. */
case class RollingHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"rolling_hash64 requires string, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash64"

  override protected def nullSafeEval(input: Any): Any =
    RollingHashUtil.rollingHash64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.RollingHashUtil.rollingHash64($c)")

  override protected def withNewChildInternal(newChild: Expression): RollingHash64 =
    copy(child = newChild)
}
