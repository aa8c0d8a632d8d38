package graft.expressions

import java.nio.file.{Files, Paths}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern substring scan against a LOADABLE phrase file — the
  * scale upgrade over per-phrase `replace()` passes for blocklist /
  * policy filtering: real blocklists hold thousands of phrases, and
  * p separate scans of 100 TB is p·corpus work, while an Aho-Corasick
  * automaton (Aho & Corasick 1975, CACM) matches ALL phrases in ONE
  * left-to-right pass — O(text + matches), independent of phrase count.
  *
  * Semantics: total count of every occurrence of every phrase,
  * overlaps included (each phrase counts at each position it ends — the
  * automaton's dict-suffix aggregation), matching byte-for-byte
  * case-sensitively; callers normalize case on the way in. Counts are
  * exact integers — trivially replayable by any engine that can
  * enumerate substring positions.
  *
  * Scale shape: same contract as [[BpeUtil]] — only the PATH travels in
  * the plan; each executor builds and memoizes the automaton once per
  * path (ship the file with `SparkContext.addFile` on a real cluster),
  * and the expression stays inside whole-stage codegen.
  */
object MultiMatchUtil {

  /** Aho-Corasick automaton over flat arrays (no per-node objects on
    * the match path). `out(v)` is the number of phrases ending at v
    * AGGREGATED through dict-suffix (fail) links at build time, so the
    * per-character match work is one goto + one integer add. */
  final class Automaton(patterns: Seq[String]) {
    private val gotoMaps =
      scala.collection.mutable.ArrayBuffer(
        new java.util.HashMap[Character, Integer]())
    private val outCounts = scala.collection.mutable.ArrayBuffer(0)
    private val failLinks = scala.collection.mutable.ArrayBuffer(0)

    patterns.foreach { p =>
      var s = 0
      p.foreach { ch =>
        val next = gotoMaps(s).get(ch)
        s = if (next != null) next.intValue()
            else {
              gotoMaps += new java.util.HashMap[Character, Integer]()
              outCounts += 0
              failLinks += 0
              val id = gotoMaps.size - 1
              gotoMaps(s).put(ch, id)
              id
            }
      }
      outCounts(s) += 1
    }
    // BFS fail links; aggregate output counts down the suffix chain
    locally {
      val queue = new java.util.ArrayDeque[Integer]()
      gotoMaps(0).values().asScala.foreach { v =>
        failLinks(v) = 0; queue.add(v)
      }
      while (!queue.isEmpty) {
        val u = queue.poll().intValue()
        outCounts(u) += outCounts(failLinks(u))
        gotoMaps(u).entrySet().asScala.foreach { e =>
          val (ch, v) = (e.getKey, e.getValue.intValue())
          var f = failLinks(u)
          while (f != 0 && !gotoMaps(f).containsKey(ch))
            f = failLinks(f)
          failLinks(v) =
            if (gotoMaps(f).containsKey(ch) && gotoMaps(f).get(ch) != v)
              gotoMaps(f).get(ch).intValue()
            else 0
          queue.add(v)
        }
      }
    }
    private val gotoArr: Array[java.util.HashMap[Character, Integer]] =
      gotoMaps.toArray
    private val outArr: Array[Int] = outCounts.toArray
    private val failArr: Array[Int] = failLinks.toArray

    /** Total (overlapping) occurrences of all phrases in `text`. */
    def count(text: String): Long = {
      var s = 0
      var total = 0L
      var i = 0
      while (i < text.length) {
        val ch = text.charAt(i)
        var n = gotoArr(s).get(ch)
        while (n == null && s != 0) {
          s = failArr(s)
          n = gotoArr(s).get(ch)
        }
        if (n != null) s = n.intValue()
        total += outArr(s)
        i += 1
      }
      total
    }
  }

  private val cache = TrieMap.empty[String, Automaton]

  /** Load + memoize the automaton for a phrase file (one phrase per
    * line; blanks and `#` comments skipped; duplicates count twice by
    * design — the file is the spec). */
  private[expressions] def automaton(path: String): Automaton =
    cache.getOrElseUpdate(path, {
      val phrases = Files.readAllLines(Paths.get(path)).asScala
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
      require(phrases.nonEmpty, s"phrase file $path has no phrases")
      new Automaton(phrases)
    })

  def count(text: UTF8String, path: UTF8String): Long =
    automaton(path.toString).count(text.toString)
}

/** `multi_match_count(text, phrases_path) -> bigint` — codegen'd
  * Aho-Corasick total match count; the path argument must be a constant
  * string. */
case class MultiMatchCount(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) if right.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, StringType) => TypeCheckResult.TypeCheckFailure(
        "multi_match_count phrases path must be a constant string")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"multi_match_count requires (string, string), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "multi_match_count"
  override protected def nullSafeEval(text: Any, path: Any): Any =
    MultiMatchUtil.count(text.asInstanceOf[UTF8String],
      path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, p) => s"graft.expressions.MultiMatchUtil.count($t, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MultiMatchCount =
    copy(left = newLeft, right = newRight)
}

object MultiMatch {

  /** Column form of `multi_match_count` (requires [[graft.Functions.ensure]] first). */
  def countCol(text: org.apache.spark.sql.Column,
               phrasesPath: String): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("multi_match_count", text,
      org.apache.spark.sql.functions.lit(phrasesPath))
}
