package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Winnowed document fingerprints (Schleimer, Wilkerson, Aiken: "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003 — the MOSS
  * algorithm): k-gram Rabin-Karp hashes, then the minimum hash of every
  * window of `w` consecutive k-grams. Guarantees: any shared substring of
  * length ≥ k + w - 1 contributes at least one IDENTICAL fingerprint to
  * both documents, while only ~2/(w+1) of positions are kept — the
  * substring-level dedup primitive (Lee et al., "Deduplicating Training
  * Data Makes Language Models Better") at a bounded density.
  *
  * One O(n) scan-local pass per document: hashes roll in O(1) (base 257,
  * mod 2^61-1 — the same constants as `rolling_hash64`, over code points
  * so the DuckDB oracle can replay with `ord`), window minima via a
  * monotonic deque. Output: sorted distinct fingerprint values.
  *
  * Degenerate inputs: text shorter than k yields the whole-text hash
  * (short docs still fingerprint); fewer than w k-grams yields the single
  * global minimum.
  */
object WinnowUtil {

  private val M = (1L << 61) - 1

  /** (a * b) mod (2^61-1) for a, b < 2^61: 128-bit product, then
    * 2^64 ≡ 8 and 2^61 ≡ 1 folding. */
  private def mulMod(a: Long, b: Long): Long = {
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    var r = ((hi << 3) | (lo >>> 61)) + (lo & M)
    while (r >= M) r -= M
    r
  }

  private def codepoints(s: UTF8String): Array[Long] = {
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    val cps = new Array[Long](n)
    var ci = 0
    var off = 0
    while (off < str.length) {
      val cp = str.codePointAt(off)
      cps(ci) = cp.toLong
      ci += 1
      off += Character.charCount(cp)
    }
    cps
  }

  /** Rolling k-gram hashes over the code points (Horner base 257 mod M);
    * requires cps.length >= k. */
  private def kgramHashes(cps: Array[Long], k: Int): Array[Long] = {
    val nh = cps.length - k + 1
    val hs = new Array[Long](nh)
    var pk = 1L
    var i = 0
    while (i < k - 1) { pk = mulMod(pk, 257); i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (mulMod(h, 257) + cps(i)) % M; i += 1 }
    hs(0) = h
    i = 1
    while (i < nh) {
      var t = h - mulMod(cps(i - 1), pk)
      if (t < 0) t += M
      h = (mulMod(t, 257) + cps(i + k - 1)) % M
      hs(i) = h
      i += 1
    }
    hs
  }

  def fingerprints(s: UTF8String, k: Int, w: Int): ArrayData = {
    val cps = codepoints(s)
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Long])
    if (n < k) {
      var h = 0L
      var i = 0
      while (i < n) { h = (mulMod(h, 257) + cps(i)) % M; i += 1 }
      return new GenericArrayData(Array(h))
    }
    val hs = kgramHashes(cps, k)
    val nh = hs.length
    var i = 0
    val out = new java.util.TreeSet[java.lang.Long]()
    if (nh <= w) {
      var min = hs(0)
      i = 1
      while (i < nh) { if (hs(i) < min) min = hs(i); i += 1 }
      out.add(min)
    } else {
      // monotonic deque of indices: head = index of the window minimum
      val dq = new Array[Int](nh)
      var head = 0
      var tail = 0 // exclusive
      i = 0
      while (i < nh) {
        while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) out.add(hs(dq(head)))
        i += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  /** Position-carrying variant: distinct (fingerprint, pos) selections,
    * where pos is the 0-based code-point offset of the selected k-gram
    * (LEFTMOST minimal hash within each window — the tie rule the oracle
    * replays with list_position). This is the span-reporting form: a
    * shared fingerprint's positions locate the duplicated passage in
    * both documents. Sorted by (fp, pos). */
  def fingerprintsPos(s: UTF8String, k: Int, w: Int): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    def rows(sel: Seq[(Long, Int)]): ArrayData =
      new GenericArrayData(sel.map { case (fp, pos) =>
        new GenericInternalRow(Array[Any](fp, pos))
      }.toArray[Any])
    val cps = codepoints(s)
    val n = cps.length
    if (n == 0) return rows(Seq.empty)
    if (n < k) {
      var h = 0L
      var i = 0
      while (i < n) { h = (mulMod(h, 257) + cps(i)) % M; i += 1 }
      return rows(Seq((h, 0)))
    }
    val hs = kgramHashes(cps, k)
    val nh = hs.length
    val sel = scala.collection.mutable.TreeSet.empty[(Long, Int)]
    if (nh <= w) {
      var best = 0
      var i = 1
      while (i < nh) { if (hs(i) < hs(best)) best = i; i += 1 }
      sel += ((hs(best), best))
    } else {
      // monotonic deque keeping the LEFTMOST minimum on ties (pop only
      // on strictly greater, so an earlier equal value stays ahead)
      val dq = new Array[Int](nh)
      var head = 0
      var tail = 0
      var i = 0
      while (i < nh) {
        while (tail > head && hs(dq(tail - 1)) > hs(i)) tail -= 1
        dq(tail) = i; tail += 1
        if (dq(head) <= i - w) head += 1
        if (i >= w - 1) sel += ((hs(dq(head)), dq(head)))
        i += 1
      }
    }
    rows(sel.toSeq)
  }
}

/** `winnow_fingerprints(text, k, w) -> array<bigint>` — codegen'd winnowed
  * fingerprint set; k and w must be constant positive ints with k > 0,
  * w > 0. */
case class WinnowFingerprints(first: Expression, second: Expression,
                              third: Expression) extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckFailure(
          "winnow_fingerprints k and w must be constants")
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprints requires (string, int, int), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fingerprints"
  override protected def nullSafeEval(t: Any, k: Any, w: Any): Any =
    WinnowUtil.fingerprints(t.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) =>
      s"graft.expressions.WinnowUtil.fingerprints($t, $k, $w)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WinnowFingerprints =
    copy(first = f, second = s, third = t)
}

/** `winnow_fingerprint_pos(text, k, w) -> array<struct<fp:bigint,pos:int>>`
  * — winnowed fingerprints with the selected k-gram's code-point offset
  * (leftmost-minimum tie rule). */
case class WinnowFingerprintPos(first: Expression, second: Expression,
                                third: Expression) extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (StringType, IntegerType, IntegerType)
          if second.foldable && third.foldable =>
        TypeCheckResult.TypeCheckSuccess
      case (StringType, IntegerType, IntegerType) =>
        TypeCheckResult.TypeCheckFailure(
          "winnow_fingerprint_pos k and w must be constants")
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"winnow_fingerprint_pos requires (string, int, int), got " +
          s"(${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }
  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fp", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("pos", IntegerType,
        nullable = false))),
    containsNull = false)
  override def prettyName: String = "winnow_fingerprint_pos"
  override protected def nullSafeEval(t: Any, k: Any, w: Any): Any =
    WinnowUtil.fingerprintsPos(t.asInstanceOf[UTF8String],
      k.asInstanceOf[Int], w.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k, w) =>
      s"graft.expressions.WinnowUtil.fingerprintsPos($t, $k, $w)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): WinnowFingerprintPos =
    copy(first = f, second = s, third = t)
}
