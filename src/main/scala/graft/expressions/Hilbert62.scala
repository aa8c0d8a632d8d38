package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType}

/** Static helper the generated code calls (object → static forwarders). */
object HilbertUtil {

  /** Hilbert-curve distance of (x, y) on the 2³¹×2³¹ grid (low 31 bits
    * of each input) — a NON-NEGATIVE 62-bit long, so `ORDER BY hkey` is
    * a valid space-filling-curve sort.
    *
    * The standard top-down quadrant walk (public xy2d algorithm): at
    * each level `s` the quadrant index (3·rx)⊕ry contributes s²
    * cells, then the sub-quadrant coordinates are rotated/reflected
    * into the canonical orientation. Consumed high bits are masked off
    * each step so the reflection `s-1-x` stays in range.
    *
    * Versus Morton ([[ZOrderUtil.interleave62]]): consecutive Hilbert
    * keys are ALWAYS Manhattan-adjacent cells (Morton jumps diagonally
    * at every quadrant boundary), so equal-size key ranges have smaller
    * bounding boxes — tighter per-file zone maps for the same file
    * count. HilbertSpec pins the adjacency property exhaustively.
    */
  def hilbert62(x0: Long, y0: Long): Long = {
    var x = x0 & 0x7fffffffL
    var y = y0 & 0x7fffffffL
    var d = 0L
    var s = 1L << 30
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // descend into the quadrant: strip the consumed bit, then rotate
      // (and reflect, in the rx=1 arm) into canonical orientation
      val xm = x & (s - 1)
      val ym = y & (s - 1)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - ym; y = s - 1 - xm }
        else { x = ym; y = xm }
      } else { x = xm; y = ym }
      s >>= 1
    }
    d
  }
}

/** `hilbert62(bigint, bigint) -> bigint` — a native codegen'd Catalyst
  * expression producing a Hilbert-curve clustering key: the
  * data-layout sibling of [[ZOrder62]] with strictly better locality
  * (no diagonal jumps), the curve lakehouse formats offer as the
  * z-order upgrade. `df.sort(expr("hilbert62(a, b)"))` is a
  * Hilbert-clustered rewrite.
  */
case class Hilbert62(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hilbert62 requires (bigint, bigint), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert62"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertUtil.hilbert62(x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, y) => s"graft.expressions.HilbertUtil.hilbert62($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Hilbert62 =
    copy(left = newLeft, right = newRight)
}
