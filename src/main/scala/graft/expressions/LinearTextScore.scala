package graft.expressions

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Hashed-feature linear text classifier — the fastText-/DCLM-shaped
  * quality/domain filter of a pretraining pipeline: a model trained
  * offline scores every document at SCAN TIME, with no vocabulary table
  * and no shuffle. Features are the hashing trick: token → Murmur3
  * bucket in [0, D); the document logit is
  * `bias + Σ_tokens w[bucket(token)]` and the keep decision is a logit
  * threshold.
  *
  * The weights FILE is the loadable artifact (like the BPE merges file,
  * Bpe.scala): line 0 = bias, line i = weight of bucket i-1, so D is the
  * file's line count minus one. Only the PATH travels in the plan; each
  * executor loads and memoizes the vector once (ship via
  * `SparkContext.addFile` on a real cluster).
  *
  * Scale shape: one codegen'd scan-local expression per document — the
  * alternative explode→join-weights→re-aggregate formulation shuffles
  * O(tokens) rows to score what one in-loop pass computes for free.
  *
  * Determinism: the token hash is the same Murmur3_x86_32 path the
  * SimHash sketch uses (seed 42), the bucket is the UNSIGNED 32-bit hash
  * mod D, and the logit accumulates in token order — every piece is
  * DuckDB-replayable (SketchReplay), so the gate hash-compares scores,
  * not just decisions.
  */
object LinearTextScoreUtil {

  /** (bias, weights) per path. */
  private val cache = TrieMap.empty[String, (Double, Array[Double])]

  private[expressions] def load(path: String): (Double, Array[Double]) =
    cache.getOrElseUpdate(path, {
      val lines = Files.readAllLines(Paths.get(path)).asScala
        .map(_.trim).filter(_.nonEmpty)
      require(lines.size >= 2,
        s"weights file needs a bias line plus >= 1 bucket weight: $path")
      (lines.head.toDouble, lines.tail.map(_.toDouble).toArray)
    })

  def logit(text: UTF8String, path: UTF8String): Double = {
    val (bias, w) = load(path.toString)
    val d = w.length
    val words = text.toString.trim.toLowerCase.split("\\s+")
    var z = bias
    var i = 0
    while (i < words.length) {
      if (words(i).nonEmpty) {
        val u = UTF8String.fromString(words(i))
        val h = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject,
          u.getBaseOffset, u.numBytes(), 42)
        z += w(((h.toLong & 0xffffffffL) % d).toInt)
      }
      i += 1
    }
    z
  }
}

/** `hashed_logit(text, weights_path) -> double` — codegen'd scan-local
  * linear classifier logit; the path argument must be a constant string.
  * Apply `sigmoid` downstream if a probability is needed (the gate pins
  * the logit: cross-engine exp() is not bit-stable, a logit sum is). */
case class HashedLogit(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        "hashed_logit weights path must be a constant string")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"hashed_logit requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "hashed_logit"
  override protected def nullSafeEval(text: Any, path: Any): Any =
    LinearTextScoreUtil.logit(text.asInstanceOf[UTF8String],
      path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p) => s"graft.expressions.LinearTextScoreUtil.logit($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HashedLogit =
    copy(left = newLeft, right = newRight)
}

object LinearTextScore {

  def logitCol(text: org.apache.spark.sql.Column,
               weightsPath: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("hashed_logit", text,
      org.apache.spark.sql.functions.lit(weightsPath))

  /** Offline logistic-regression fit on a bounded driver-side sample —
    * the same train-on-sample contract as the IVF/PQ fits: fixed epoch
    * count, fixed iteration order, plain SGD on the hashed features, no
    * RNG. Returns (bias, weights) ready for [[writeWeights]]. */
  def learnWeights(sample: Seq[(String, Boolean)], d: Int = 256,
                   epochs: Int = 10, lr: Double = 0.1)
      : (Double, Array[Double]) = {
    require(d > 0 && epochs > 0)
    val feats = sample.map { case (text, label) =>
      val buckets = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .map { t =>
          val u = UTF8String.fromString(t)
          val h = Murmur3_x86_32.hashUnsafeBytes(u.getBaseObject,
            u.getBaseOffset, u.numBytes(), 42)
          ((h.toLong & 0xffffffffL) % d).toInt
        }
      (buckets, if (label) 1.0 else 0.0)
    }
    var bias = 0.0
    val w = new Array[Double](d)
    for (_ <- 1 to epochs) {
      feats.foreach { case (buckets, y) =>
        var z = bias
        buckets.foreach(b => z += w(b))
        val p = 1.0 / (1.0 + math.exp(-z))
        val g = p - y
        bias -= lr * g
        buckets.foreach(b => w(b) -= lr * g)
      }
    }
    (bias, w)
  }

  /** Persist (bias, weights) in the loadable line format. */
  def writeWeights(path: String, bias: Double,
                   weights: Array[Double]): Unit =
    Files.write(Paths.get(path),
      (bias.toString +: weights.map(_.toString).toSeq).asJava)
}
