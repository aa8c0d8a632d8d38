package graft.expressions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers for the MinHash dedup hot path. Kept Java-callable so
  * `doGenCode` emits plain static calls and both expressions stay inside
  * whole-stage codegen (same pattern as [[SimHashUtil]]).
  *
  * Why expressions and not higher-order functions: Spark's `transform` /
  * `aggregate` lambdas are CodegenFallback — every shingle walks an
  * interpreted expression tree with per-element allocations. A 100 TB
  * documents scan pays that ~50× overhead on every token. These helpers do
  * the identical computation (byte-for-byte: UTF8String lower/trim, Java
  * regex split, md5 hex minima) in one tight loop per document, and — more
  * importantly at scale — make the signature a PER-ROW projection: no
  * explode, no 300×-row shuffle, no hash-aggregate. Signatures at 100 TB are
  * scan-local; only the 32·m-byte signature column ever shuffles.
  */
object MinHashUtil {

  /** Tokens exactly as `split(trim(lower(text)), "\\s+")` produces them:
    * UTF8String lowercasing (locale-free), ASCII-space trim, Java regex
    * split with limit -1 (so "" yields a single empty token, matching the
    * built-in). */
  private[expressions] def tokenize(text: UTF8String): Array[String] =
    text.toLowerCase.trim.toString.split("\\s+", -1)

  /** Word k-shingles, first-occurrence-distinct — semantics of
    * `array_distinct(transform(sequence(...), i -> array_join(slice(toks,
    * i+1, k), " ")))` with the `size < k` whole-text fallback. */
  def wordShingles(text: UTF8String, k: Int): ArrayData = {
    val toks = tokenize(text)
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (toks.length < k) {
      out.add(UTF8String.fromString(toks.mkString(" ")))
    } else {
      val sb = new java.lang.StringBuilder(k * 12)
      var i = 0
      while (i <= toks.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out.add(UTF8String.fromString(sb.toString))
        i += 1
      }
    }
    new GenericArrayData(out.toArray[AnyRef](new Array[AnyRef](out.size)))
  }

  private val HEX = "0123456789abcdef".toCharArray

  private def md5Hex(md: MessageDigest, bytes: Array[Byte]): String = {
    md.reset()
    val d = md.digest(bytes)
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = HEX((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** m-entry MinHash signature: entry j = lexicographic min over the shingle
    * set of md5(j || ':' || shingle) in lowercase hex — byte-identical to
    * `array_min(transform(sh, s -> md5(concat(j, ':', s))))`, which is what
    * the DuckDB oracle replays. Null shingles are skipped (array_min
    * semantics); an all-null/empty input yields null entries. */
  def minhashSig(sh: ArrayData, m: Int): ArrayData = {
    val md = MessageDigest.getInstance("MD5")
    val n = sh.numElements()
    val mins = new Array[AnyRef](m)
    var j = 0
    while (j < m) {
      val prefix = (j.toString + ":").getBytes(StandardCharsets.UTF_8)
      var best: String = null
      var i = 0
      while (i < n) {
        if (!sh.isNullAt(i)) {
          val s = sh.getUTF8String(i).getBytes
          val buf = new Array[Byte](prefix.length + s.length)
          System.arraycopy(prefix, 0, buf, 0, prefix.length)
          System.arraycopy(s, 0, buf, prefix.length, s.length)
          val h = md5Hex(md, buf)
          if (best == null || h.compareTo(best) < 0) best = h
        }
        i += 1
      }
      mins(j) = if (best == null) null else UTF8String.fromString(best)
      j += 1
    }
    new GenericArrayData(mins)
  }
}

/** `word_shingles(text, k) -> array<string>` — codegen'd shingling for the
  * MinHash/Jaccard dedup path (reference: near-dup candidate unit; cf.
  * Broder's shingling). Registered from
  * [[graft.Functions]]. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression {
  require(k > 0, s"shingle size must be positive, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"word_shingles requires string, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.wordShingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinHashUtil.wordShingles($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** `minhash_sig(array<string>, m) -> array<string>` — the m md5-min MinHash
  * signature as a scan-local per-row projection (no explode/aggregate).
  * Portable across engines: the DuckDB oracle reproduces every byte. */
case class MinHashSig(child: Expression, m: Int) extends UnaryExpression {
  require(m > 0, s"signature size must be positive, got $m")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"minhash_sig requires array<string>, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashUtil.minhashSig(input.asInstanceOf[ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.expressions.MinHashUtil.minhashSig($c, $m)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHash {
  /** Validated integer-literal argument for the [[graft.Functions]]
    * builders: a non-literal size is a descriptive error at analysis. */
  private[graft] def intArg(e: Expression, what: String): Int = e.eval() match {
    case i: Int => i
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
}
