package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `minhash_union(array<string>) -> array<string>` — a custom Catalyst
  * AGGREGATE function: the element-wise minimum over MinHash signatures.
  *
  * Why this is semantically special: min-of-mins IS the signature of the
  * UNION of the underlying shingle sets, so the aggregate is fully
  * distributive — partial buffers on each map task, merged across the
  * exchange, no raw data movement. Grouping n documents into g groups
  * shuffles g·partitions m-wide arrays instead of the m·n exploded rows
  * the posexplode + groupBy(pos) formulation moves: an m× reduction in
  * shuffled row count for the group-sketch pipeline
  * ([[graft.operators.Dedup.groupMinhashSimilarity]]).
  *
  * Implemented as a TypedImperativeAggregate (the same extension class as
  * Spark's percentile/count-min sketches): a plain JVM `Array[String]`
  * buffer, tight-loop update/merge, compact length-prefixed
  * serialization for the partial-exchange format. Null signature entries
  * (empty shingle sets) stay null unless some member supplies a value;
  * signature widths must agree across rows.
  */
case class MinHashUnion(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[String]]
  with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_union requires array<string>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_union"

  /** Empty array = "no rows seen yet" (distinct from any real signature,
    * which always has m ≥ 1 entries). */
  override def createAggregationBuffer(): Array[String] = Array.empty

  override def update(buffer: Array[String],
                      input: InternalRow): Array[String] = {
    val v = child.eval(input)
    if (v == null) return buffer
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (buffer.isEmpty) {
      val fresh = new Array[String](n)
      var i = 0
      while (i < n) {
        fresh(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
        i += 1
      }
      fresh
    } else {
      require(buffer.length == n,
        s"signature width mismatch: ${buffer.length} vs $n")
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val s = arr.getUTF8String(i).toString
          if (buffer(i) == null || s.compareTo(buffer(i)) < 0) buffer(i) = s
        }
        i += 1
      }
      buffer
    }
  }

  override def merge(buffer: Array[String],
                     other: Array[String]): Array[String] = {
    if (other.isEmpty) return buffer
    if (buffer.isEmpty) return other
    require(buffer.length == other.length,
      s"signature width mismatch: ${buffer.length} vs ${other.length}")
    var i = 0
    while (i < buffer.length) {
      if (other(i) != null &&
          (buffer(i) == null || other(i).compareTo(buffer(i)) < 0))
        buffer(i) = other(i)
      i += 1
    }
    buffer
  }

  override def eval(buffer: Array[String]): Any =
    if (buffer.isEmpty) null
    else new GenericArrayData(buffer.map(s =>
      if (s == null) null else UTF8String.fromString(s)): Array[AnyRef])

  override def serialize(buffer: Array[String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.length)
    buffer.foreach { s =>
      if (s == null) out.writeInt(-1)
      else {
        val b = s.getBytes(StandardCharsets.UTF_8)
        out.writeInt(b.length)
        out.write(b)
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[String](n)
    var i = 0
    while (i < n) {
      val len = in.readInt()
      if (len >= 0) {
        val b = new Array[Byte](len)
        in.readFully(b)
        buf(i) = new String(b, StandardCharsets.UTF_8)
      }
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashUnion =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashUnion =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): MinHashUnion = copy(child = newChild)
}
