package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** `vec_mean(array<float|double>) -> array<double>` — element-wise mean
  * over fixed-width vectors: the embedding-centroid aggregate (per-label /
  * per-cluster mean vectors for pooling, SemDeDup centroids, class
  * prototypes).
  *
  * Why a custom aggregate: Spark has no vector mean, and the
  * posexplode + groupBy(dim) formulation shuffles d rows per vector —
  * d=1024 turns a billion-vector aggregation into a trillion-row
  * exchange. This buffer is (sum-vector, count): partials combine on each
  * map task and only g·partitions d-wide buffers cross the wire, the
  * same distributive-aggregate contract as [[MinHashUnion]].
  *
  * Double-sum order across partitions is not deterministic — consumers
  * gating exact equality round the output (the same `round4` contract as
  * every built-in sum/avg gate in the catalog).
  */
case class VecMean(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VecMean.Buf]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"vec_mean requires array<float|double>, got ${other.catalogString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_mean"

  override def createAggregationBuffer(): VecMean.Buf =
    new VecMean.Buf(Array.empty, 0L)

  override def update(buffer: VecMean.Buf, input: InternalRow): VecMean.Buf = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (buffer.count == 0L && buffer.sums.isEmpty)
      buffer.sums = new Array[Double](n)
    require(buffer.sums.length == n,
      s"vector width mismatch: ${buffer.sums.length} vs $n")
    var i = 0
    while (i < n) {
      require(!arr.isNullAt(i), "vec_mean requires non-null elements")
      buffer.sums(i) +=
        (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
      i += 1
    }
    buffer.count += 1
    buffer
  }

  override def merge(buffer: VecMean.Buf, other: VecMean.Buf): VecMean.Buf = {
    if (other.count == 0L) return buffer
    if (buffer.count == 0L) return other
    require(buffer.sums.length == other.sums.length,
      s"vector width mismatch: ${buffer.sums.length} vs ${other.sums.length}")
    var i = 0
    while (i < buffer.sums.length) {
      buffer.sums(i) += other.sums(i)
      i += 1
    }
    buffer.count += other.count
    buffer
  }

  override def eval(buffer: VecMean.Buf): Any =
    if (buffer.count == 0L) null
    else new GenericArrayData(buffer.sums.map(_ / buffer.count))

  override def serialize(buffer: VecMean.Buf): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(buffer.count)
    out.writeInt(buffer.sums.length)
    buffer.sums.foreach(out.writeDouble)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): VecMean.Buf = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val count = in.readLong()
    val n = in.readInt()
    val sums = new Array[Double](n)
    var i = 0
    while (i < n) { sums(i) = in.readDouble(); i += 1 }
    new VecMean.Buf(sums, count)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): VecMean =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): VecMean =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): VecMean =
    copy(child = newChild)
}

object VecMean {

  /** Mutable partial state: running element sums + member count. */
  final class Buf(var sums: Array[Double], var count: Long)
}
