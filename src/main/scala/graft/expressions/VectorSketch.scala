package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Static helper for the random-hyperplane (sign-random-projection) sketch.
  * Kept Java-callable so `doGenCode` emits a static call (same pattern as
  * [[SimHashUtil]] / [[MinHashUtil]]).
  */
object VectorSketchUtil {

  /** splitmix64 finalizer — a well-known public-domain mixing function. */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4b7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Deterministic hyperplane component g(plane, dim) ∈ [-1, 1): every
    * executor regenerates the identical planes from (i, j) alone — nothing
    * to broadcast, nothing random at runtime. */
  private def plane(i: Int, j: Int): Double =
    ((mix((i.toLong << 32) | (j.toLong & 0xffffffffL)) >>> 11).toDouble /
      (1L << 53).toDouble) * 2.0 - 1.0

  /** 64-bit sign sketch: bit i = [v · r_i >= 0] for 64 fixed pseudo-random
    * hyperplanes r_i. For unit-ish vectors, P(bit differs) = angle/π
    * (Goemans–Williamson / Charikar sign-random-projection), so hamming
    * distance estimates the angle and the SimHash banding machinery applies
    * unchanged to embeddings. */
  def hyperplaneSig64(v: ArrayData, isFloat: Boolean): Long = {
    val n = v.numElements()
    var out = 0L
    var i = 0
    while (i < 64) {
      var dot = 0.0
      var j = 0
      while (j < n) {
        // null components contribute 0 (skipped), like minhashSig skips
        // null shingles — without the check, UnsafeArrayData silently
        // yields 0.0 but GenericArrayData NPEs on unboxing
        if (!v.isNullAt(j)) {
          val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
          dot += x * plane(i, j)
        }
        j += 1
      }
      if (dot >= 0) out |= (1L << i)
      i += 1
    }
    out
  }
}

/** `hyperplane_sig64(array<float|double>) -> bigint` — the embedding analog
  * of [[SimHash64]]: a 64-bit angular sketch whose hamming distance tracks
  * cosine distance. Candidates for embedding near-dup dedup come from
  * pigeonhole banding over this signature (operators.Dedup); the exact
  * cosine verify runs only on candidates. */
case class HyperplaneSig64(child: Expression) extends UnaryExpression {

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig64 requires array<float> or array<double>, got ${other.catalogString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig64"

  override protected def nullSafeEval(input: Any): Any =
    VectorSketchUtil.hyperplaneSig64(input.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.VectorSketchUtil.hyperplaneSig64($c, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig64 =
    copy(child = newChild)
}
