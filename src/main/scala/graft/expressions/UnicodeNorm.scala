package graft.expressions

import java.text.Normalizer

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode text normalization for multilingual corpora — the step a
  * crawl pipeline runs before tokenizing or fingerprinting, because the
  * same visible text arrives in mixed forms (composed é vs e+combining
  * accent; the dedup stack would treat them as different documents).
  *
  * Two scan-local, codegen'd expressions:
  *   - `nfc_norm(s)`    — canonical composition (NFC): combining
  *                        sequences collapse to their precomposed
  *                        code points; visually-identical strings become
  *                        byte-identical. DuckDB's `nfc_normalize` is the
  *                        oracle twin.
  *   - `strip_accents(s)` — NFD decomposition, then remove combining
  *                        marks (Mn), then NFC re-compose: é→e, ü→u,
  *                        ñ→n. DuckDB's `strip_accents` agrees on Latin
  *                        accent sequences (the gate's fixture domain).
  *
  * Normalizing 100 TB is one pass, no shuffle — both expressions inline
  * into whole-stage codegen like the other graft text expressions.
  */
object UnicodeNormUtil {

  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(
      Normalizer.normalize(s.toString, Normalizer.Form.NFC))

  private val combining = "\\p{Mn}+".r

  def stripAccents(s: UTF8String): UTF8String = {
    val decomposed = Normalizer.normalize(s.toString, Normalizer.Form.NFD)
    val stripped = combining.replaceAllIn(decomposed, "")
    UTF8String.fromString(
      Normalizer.normalize(stripped, Normalizer.Form.NFC))
  }

  def nfkc(s: UTF8String): UTF8String =
    UTF8String.fromString(
      Normalizer.normalize(s.toString, Normalizer.Form.NFKC))

  // format-class invisibles crawled text actually carries: zero-width
  // space/joiners (200B-D), word joiner (2060), BOM (FEFF), soft hyphen
  // (00AD), directional marks (200E/200F)
  private val invisible =
    "[\\u200B\\u200C\\u200D\\u2060\\uFEFF\\u00AD\\u200E\\u200F]+".r

  def stripInvisible(s: UTF8String): UTF8String =
    UTF8String.fromString(invisible.replaceAllIn(s.toString, ""))
}

/** `nfc_norm(string) -> string` — canonical composition. */
case class NfcNorm(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfc_norm requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_norm"
  override protected def nullSafeEval(input: Any): Any =
    UnicodeNormUtil.nfc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.UnicodeNormUtil.nfc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfcNorm =
    copy(child = newChild)
}

/** `strip_accents(string) -> string` — NFD, drop Mn marks, NFC. */
case class StripAccents(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"strip_accents requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_accents"
  override protected def nullSafeEval(input: Any): Any =
    UnicodeNormUtil.stripAccents(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.UnicodeNormUtil.stripAccents($c)")
  override protected def withNewChildInternal(
      newChild: Expression): StripAccents =
    copy(child = newChild)
}

/** `nfkc_norm(string) -> string` — compatibility composition (NFKC):
  * ligatures (ﬁ→fi), fullwidth forms (Ａ→A), circled digits (①→1) and
  * other compatibility variants fold to their canonical text, the
  * normalization tokenizers and dedup fingerprints want for crawled
  * multilingual data. */
case class NfkcNorm(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"nfkc_norm requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "nfkc_norm"
  override protected def nullSafeEval(input: Any): Any =
    UnicodeNormUtil.nfkc(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.UnicodeNormUtil.nfkc($c)")
  override protected def withNewChildInternal(newChild: Expression): NfkcNorm =
    copy(child = newChild)
}

/** `strip_invisible(string) -> string` — remove format-class invisible
  * code points (zero-width space/joiners, word joiner, BOM, soft
  * hyphen, directional marks): the characters that make two visually
  * identical crawled strings hash differently and smuggle through
  * whitespace tokenizers. */
case class StripInvisible(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"strip_invisible requires string, got ${other.catalogString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "strip_invisible"
  override protected def nullSafeEval(input: Any): Any =
    UnicodeNormUtil.stripInvisible(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.UnicodeNormUtil.stripInvisible($c)")
  override protected def withNewChildInternal(
      newChild: Expression): StripInvisible =
    copy(child = newChild)
}
