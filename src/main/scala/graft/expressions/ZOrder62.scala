package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Static helper the generated code calls (object → static forwarders). */
object ZOrderUtil {

  /** Morton/Z-order interleave of the low 31 bits of each input: x bits
    * land on even positions, y bits on odd. The result is a NON-NEGATIVE
    * 62-bit long, so plain `ORDER BY zkey` is a valid space-filling-curve
    * sort (using all 32 bits per dimension would put the sign bit in play
    * and reverse the top half of the curve).
    *
    * Bit-twiddle: each operand spreads its bits apart with the classic
    * mask-shift cascade (Morton encoding via magic bits), then x | y<<1.
    */
  def interleave62(x: Long, y: Long): Long =
    spread31(x & 0x7fffffffL) | (spread31(y & 0x7fffffffL) << 1)

  /** Spread the low 31 bits of v so bit i lands at position 2i. */
  def spread31(v: Long): Long = {
    var x = v & 0x7fffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
}

/** `zorder62(bigint, bigint) -> bigint` — a native codegen'd Catalyst
  * expression producing a Morton (Z-order) clustering key. Sorting or
  * range-partitioning a table by this key co-locates rows that are close
  * in BOTH dimensions, so parquet row-group min/max stats prune scans for
  * predicates on either column — the multi-dimensional data-layout
  * technique (Z-ordering) table formats use for data skipping. The engine
  * exposes it as a plain expression: `df.sort(expr("zorder62(a, b)"))`
  * is a Z-ordered rewrite.
  */
case class ZOrder62(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zorder62 requires (bigint, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder62"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    ZOrderUtil.interleave62(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, y) => s"graft.expressions.ZOrderUtil.interleave62($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder62 =
    copy(left = newLeft, right = newRight)
}
