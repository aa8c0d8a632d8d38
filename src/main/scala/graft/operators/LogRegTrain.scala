package graft.operators

import java.nio.file.Paths
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.expressions.LinearTextScore
import graft.functions.TextFunctions

/** Distributed FULL-CORPUS logistic-regression training over hashed
  * bag-of-words features — the trainer behind the LinearTextScore
  * quality/domain filter (reference analog: the keep/drop curation rules
  * in the `/root/reference/core` SQL scripts, here learned from labels
  * instead of hand-written).
  *
  * [[graft.expressions.LinearTextScore.learnWeights]] fits on a bounded
  * driver-side sample; this operator removes the cap: full-batch gradient
  * descent where EVERY epoch is one distributed pass over the corpus —
  * the shape that holds at 100 TB:
  *
  *   - forward pass is the scan-local codegen'd `hashed_logit`
  *     expression (no vocabulary table, no shuffle to score);
  *   - the gradient is an integer sum per feature bucket: explode
  *     token buckets, groupBy(bucket) over d+1 keys — map-side
  *     combinable, so the shuffle is O(partitions · d), not O(tokens);
  *   - per-epoch driver traffic is d+1 longs (the collect is bounded by
  *     the model size, like the IVF centroid fits), and the model ships
  *     back as a broadcast-sized weights artifact.
  *
  * Determinism (the gate hash-compares the trained weights cross-engine):
  * each document's gradient scalar (p − y) is quantized to integer
  * MILLI-units before aggregation — QSGD-style gradient quantization
  * (Alistarh et al., NeurIPS 2017, public knowledge) doing double duty:
  * the per-bucket aggregate becomes an exact integer sum (no FP
  * accumulation order to pin), and every epoch RE-SYNCS both engines to
  * identical integers, so cross-libm exp() ulp noise cannot compound
  * across epochs (same milli-vs-boundary-density argument as the DSIR
  * milli-nat gate, ImportanceWeights.scala). The weight update is then a
  * fixed IEEE sequence on exact inputs — `w − lr·((g/1000.0)/n)` — that
  * any engine reproduces bit-for-bit.
  */
object LogRegTrain {

  final case class Model(bias: Double, weights: Array[Double])

  /** token → Murmur3(seed 42) unsigned-mod-d bucket, exactly
    * LinearTextScoreUtil.logit's path: Spark's builtin `hash()` IS
    * `Murmur3_x86_32.hashUnsafeBytes` at seed 42 on UTF8String bytes. */
  private[graft] def bucketCol(tok: Column, d: Int): Column =
    hash(tok).cast(LongType).bitwiseAND(lit(0xffffffffL)) % d

  /** Per-doc feature buckets in token order, sentinel −1 prepended (the
    * bias "feature", present once per doc — its gradient sum IS the bias
    * gradient and its count IS the live doc count, so one aggregation
    * serves the whole update). */
  private def bucketsWithSentinel(text: Column, d: Int): Column =
    concat(array(lit(-1L)),
      transform(filter(TextFunctions.tokens(text), t => t =!= ""),
        t => bucketCol(t, d)))

  /** Full-batch GD fit: `epochs` distributed passes, each one scan of
    * `docs`. `labelCol` must be a 0/1 (or boolean-castable) column;
    * null-text rows are ignored. Starts from the zero model. */
  def fit(docs: DataFrame, textCol: String, labelCol: String,
          d: Int = 64, epochs: Int = 3, lr: Double = 0.5): Model = {
    require(d > 0 && epochs >= 0 && lr > 0.0,
      s"need d > 0, epochs >= 0, lr > 0; got d=$d epochs=$epochs lr=$lr")
    val spark = docs.sparkSession
    graft.Functions.ensure(spark)

    var bias = 0.0
    var w = Array.fill(d)(0.0)

    // Content-addressed weights file per epoch: executors memoize the
    // parsed vector BY PATH (LinearTextScoreUtil), so the path must
    // determine the bytes. Double.toString round-trips exactly, so the
    // executors reload precisely the driver's doubles.
    def writeEpochWeights(): String = {
      val sig = MessageDigest.getInstance("MD5")
        .digest((bias.toString + w.mkString(",")).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val p = Paths.get(sys.props("java.io.tmpdir"),
        s"graft_logreg_$sig.txt").toString
      LinearTextScore.writeWeights(p, bias, w)
      p
    }

    val base = docs.where(col(textCol).isNotNull)
      .select(col(textCol).as("text"),
        coalesce(col(labelCol).cast("double"), lit(0.0)).as("y"))

    for (_ <- 0 until epochs) {
      val z = LinearTextScore.logitCol(col("text"), writeEpochWeights())
      val p = lit(1.0) / (lit(1.0) + exp(-z))
      // milli-quantized per-doc gradient scalar (see scaladoc): Spark's
      // round(_, 0) and DuckDB's round() share half-away-from-zero
      val gm = round((p - col("y")) * lit(1000.0), 0).cast(LongType)
      val grads = base
        .select(gm.as("gm"), bucketsWithSentinel(col("text"), d).as("bs"))
        .select(col("gm"), explode(col("bs")).as("i"))
        .groupBy("i")
        .agg(sum("gm").as("gs"), count(lit(1)).as("n"))
        .collect()                                   // d+1 rows, bounded
      val gs = grads.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val nDocs = grads.collectFirst {
        case r if r.getLong(0) == -1L => r.getLong(2)
      }.getOrElse(0L).toDouble
      if (nDocs > 0) {
        // the exact IEEE sequence the oracle replays:
        //   wt − lr · ((gsum / 1000.0) / n)
        bias -= lr * ((gs.getOrElse(-1L, 0L).toDouble / 1000.0) / nDocs)
        val prev = w
        w = Array.tabulate(d)(i =>
          prev(i) - lr * ((gs.getOrElse(i.toLong, 0L).toDouble / 1000.0)
            / nDocs))
      }
    }
    Model(bias, w)
  }

  /** Model as a frame: (i, wt) per bucket plus the bias at i = −1 — the
    * gate surface (and a natural storage format for the weights table). */
  def modelFrame(spark: SparkSession, m: Model): DataFrame = {
    import spark.implicits._
    ((-1L, m.bias) +: m.weights.zipWithIndex.toSeq
      .map { case (wt, i) => (i.toLong, wt) })
      .toDF("i", "wt")
  }

  /** HASH-GATEABLE log-loss: per-document loss rounded to integer
    * MILLI-NATS (the training oracle's own sigmoid granularity) and
    * summed as a Long — no order-dependent double summation anywhere,
    * so the corpus total replays exactly cross-engine. Returns one row
    * (n_docs, loss_milli, mean_loss). */
  def logLossMilli(docs: DataFrame, textCol: String, labelCol: String,
                   m: Model): DataFrame = {
    val spark = docs.sparkSession
    graft.Functions.ensure(spark)
    val sig = MessageDigest.getInstance("MD5")
      .digest((m.bias.toString + m.weights.mkString(",")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val p = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_logreg_$sig.txt").toString
    LinearTextScore.writeWeights(p, m.bias, m.weights)
    val z = LinearTextScore.logitCol(col(textCol), p)
    val y = coalesce(col(labelCol).cast("double"), lit(0.0))
    val pr = lit(1.0) / (lit(1.0) + exp(-z))
    val eps = lit(1e-12)
    val lm = round(-(y * log(pr + eps) +
      (lit(1.0) - y) * log(lit(1.0) - pr + eps)) * 1000).cast("long")
    docs.where(col(textCol).isNotNull)
      .agg(count(lit(1)).as("n_docs"), sum(lm).as("loss_milli"))
      .select(col("n_docs"), col("loss_milli"),
        round(col("loss_milli") / (col("n_docs") * lit(1000.0)), 4)
          .as("mean_loss"))
  }

  /** Mean log-loss of `m` on `docs` (rounded to 6 dp — diagnostic
    * surface for specs; not hash-gated, so the rounding is cosmetic). */
  def logLoss(docs: DataFrame, textCol: String, labelCol: String,
              m: Model): Double = {
    val spark = docs.sparkSession
    graft.Functions.ensure(spark)
    val sig = MessageDigest.getInstance("MD5")
      .digest((m.bias.toString + m.weights.mkString(",")).getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val p = Paths.get(sys.props("java.io.tmpdir"),
      s"graft_logreg_$sig.txt").toString
    LinearTextScore.writeWeights(p, m.bias, m.weights)
    val z = LinearTextScore.logitCol(col(textCol), p)
    val y = coalesce(col(labelCol).cast("double"), lit(0.0))
    val pr = lit(1.0) / (lit(1.0) + exp(-z))
    val eps = lit(1e-12)
    docs.where(col(textCol).isNotNull)
      .agg(avg(-(y * log(pr + eps) +
        (lit(1.0) - y) * log(lit(1.0) - pr + eps))).as("ll"))
      .head().getDouble(0)
  }
}
