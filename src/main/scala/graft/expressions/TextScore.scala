package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers for codegen'd language-ID and quality scoring — the fast
  * twins of `TextFunctions.langId` / `TextFunctions.qualityScore`, whose
  * higher-order `filter` lambdas run interpreted per token per language.
  * Same tokenization (UTF8 lower/trim, Java regex split), same stopword
  * inventories (read from TextFunctions — single source of truth), same
  * IEEE operation order, same DuckDB-compatible rounding: byte-identical
  * output, pinned by TextScoreSpec. One pass over the tokens instead of
  * 6 interpreted HOF evaluations re-splitting the text.
  */
object TextScoreUtil {

  private val langs: Array[String] =
    graft.functions.TextFunctions.stopwords.map(_._1).toArray
  private val stopsets: Array[java.util.HashSet[String]] =
    graft.functions.TextFunctions.stopwords.map { case (_, ws) =>
      val s = new java.util.HashSet[String]()
      ws.foreach(s.add)
      s
    }.toArray
  private val enSet = stopsets(0) // stopwords.head = "en", like qualityScore

  /** Stopword-hit argmax with declared priority (strictly-greater
    * replaces, matching the HOF fold); all-zero → "und". */
  def langId(text: UTF8String): UTF8String = {
    val toks = MinHashUtil.tokenize(text)
    var bestIdx = 0
    var bestHits = 0
    var li = 0
    while (li < langs.length) {
      var hits = 0
      var i = 0
      while (i < toks.length) {
        if (stopsets(li).contains(toks(i))) hits += 1
        i += 1
      }
      if (hits > bestHits) { bestHits = hits; bestIdx = li }
      li += 1
    }
    UTF8String.fromString(if (bestHits == 0) "und" else langs(bestIdx))
  }

  /** `Rounding.roundCompat(_, 4)` as a scalar: identical op sequence
    * (scale, half-away-from-zero on the scaled binary, unscale). */
  private def round4(x: Double): Double = {
    val p = 10000.0
    val scaled = x * p
    (if (scaled >= 0) math.floor(scaled + 0.5) else math.ceil(scaled - 0.5)) / p
  }

  /** Composite quality in [0,1]: length saturation + English-stopword
    * ratio + mean-token-length saturation, every double op in the same
    * order as the Column formula (and the DuckDB oracle). Character counts
    * are code points, matching Spark's `length`. */
  def qualityScore(text: UTF8String): Double = {
    val toks = MinHashUtil.tokenize(text)
    val nTok = toks.length.toDouble
    val lenSat = math.min(1.0, nTok / 100.0)
    var hits = 0
    var i = 0
    while (i < toks.length) {
      if (enSet.contains(toks(i))) hits += 1
      i += 1
    }
    val denom = math.max(nTok, 1.0)
    val stopRatio = hits.toDouble / denom
    val noWs = text.toString.replaceAll("\\s+", "")
    val meanLen = noWs.codePointCount(0, noWs.length).toDouble / denom
    val lenOk = math.min(1.0, meanLen / 8.0)
    round4(0.4 * lenSat + 0.3 * stopRatio + 0.3 * lenOk)
  }
}

/** `lang_id(string) -> string` — codegen'd language ID. */
case class LangId(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lang_id requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"
  override protected def nullSafeEval(input: Any): Any =
    TextScoreUtil.langId(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.TextScoreUtil.langId($c)")
  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

/** `quality_score(string) -> double` — codegen'd quality scoring. */
case class QualityScore(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"quality_score requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quality_score"
  override protected def nullSafeEval(input: Any): Any =
    TextScoreUtil.qualityScore(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.TextScoreUtil.qualityScore($c)")
  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}
