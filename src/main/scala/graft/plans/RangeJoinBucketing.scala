package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, Cast, EqualTo, Explode, Expression, GreaterThan, GreaterThanOrEqual, IntegralDivide, LessThan, Literal, Not, Sequence, Subtract}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Optimizer rule: rewrite a PURE time-range inner join —
  * `L ⋈ (L.ts >= R.start AND L.ts < R.end)` with no equi keys — into the
  * bucketed equi join of [[graft.operators.RangeJoin]], transparently.
  *
  * Without this, Catalyst plans the bare inequality condition as a
  * broadcast nested loop: O(|L|·|R|) comparisons, the plan that dies first
  * at scale. The rewrite manufactures the missing equi key inside the
  * logical plan: the point side gains `bucket = epoch div W`, the interval
  * side explodes to the buckets it overlaps (`sequence(start div W,
  * end div W)` under a Generate node), the join becomes a shuffled hash
  * join on the bucket, and the ORIGINAL predicate stays as the residual —
  * so results are identical by construction (truncating division is
  * monotone, so a contained point's bucket always lies within its
  * interval's bucket range; each pair meets exactly once because a point
  * has one bucket and the exploded buckets are distinct).
  *
  * WIDE-INTERVAL GUARD: an interval spanning more than
  * `graft.rangeJoin.maxBucketsPerRow` buckets (default 4096) would explode
  * to that many rows — an SCD2 open row with the 9999-12-31 sentinel
  * valid_to spans ~2.8e8 buckets at W=900, past Spark's max array length,
  * so the naive rewrite turns a slow-but-correct nested loop into a
  * runtime failure. The rule therefore splits the interval side: narrow
  * intervals take the bucketed equi path; wide intervals stay on the
  * original nested-loop predicate (tagged so the rule never re-fires on
  * that leg) and the two legs are unioned. Sentinel-heavy tables keep few
  * open rows relative to history, so the nested-loop leg stays small; see
  * the same hazard note on [[graft.operators.AsOfJoin]] /
  * [[graft.engine.Scd2]]. When NO wide rows exist, AQE's empty-relation
  * propagation erases the fallback leg at runtime (its broadcast stage
  * materializes empty → the inner join collapses and the union folds), so
  * the probe side is not scanned twice — asserted by
  * RangeJoinBucketingSpec on the final adaptive plan.
  *
  * Installed via `SparkSessionExtensions.injectOptimizerRule` (by
  * [[graft.GraftExtensions]], beside the [[graft.Functions]] table) or
  * `spark.experimental.extraOptimizations`.
  * Bucket width comes from `graft.rangeJoin.bucketSeconds` (default 900,
  * non-positive values fall back to the default — a zero width would make
  * IntegralDivide return null and silently empty the join);
  * pick ≈ the typical interval length — the explode fans out
  * len/width + 1 rows per interval.
  *
  * Deliberately narrow v1 pattern: inner join, exactly
  * `ts >= start AND ts < end`, all three TimestampType attributes, point
  * on the left — anything else is left untouched (an optimizer rule must
  * never fire on a plan it cannot prove equivalent).
  */
object RangeJoinBucketing extends Rule[LogicalPlan] {

  private val WidthConf = "graft.rangeJoin.bucketSeconds"
  private val MaxBucketsConf = "graft.rangeJoin.maxBucketsPerRow"

  /** Marks the wide-interval fallback leg so the fixed-point optimizer
    * batch cannot rewrite it again (its condition still matches the
    * pattern). */
  private[plans] val Rewritten = TreeNodeTag[Unit]("graft.rangeJoin.rewritten")

  private def confLong(key: String, default: Long): Long = {
    val v = try SQLConf.get.getConfString(key, default.toString).toLong
    catch { case _: NumberFormatException => default }
    if (v <= 0) default else v
  }

  private def width: Long = confLong(WidthConf, 900L)
  private def maxBuckets: Long = confLong(MaxBucketsConf, 4096L)

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case j @ Join(left, right, Inner,
        Some(cond @ And(
          GreaterThanOrEqual(ts: AttributeReference, start: AttributeReference),
          LessThan(ts2: AttributeReference, end: AttributeReference))), hint)
        if j.getTagValue(Rewritten).isEmpty &&
          ts.semanticEquals(ts2) &&
          ts.dataType == TimestampType &&
          start.dataType == TimestampType && end.dataType == TimestampType &&
          left.outputSet.contains(ts) &&
          right.outputSet.contains(start) && right.outputSet.contains(end) =>
      val w = Literal(width, LongType)
      // post-analysis construction: time-zone-aware nodes must carry the
      // session zone explicitly or the optimizer's resolution validation
      // rejects the rewritten plan
      val tz = Some(SQLConf.get.sessionLocalTimeZone)
      def bucketOf(e: Expression): Expression =
        IntegralDivide(Cast(e, LongType, tz), w)
      // rows with a null bound fall out of both legs, exactly as the
      // original inner-join condition (null) would drop them
      val wide = GreaterThan(
        Subtract(bucketOf(end), bucketOf(start)),
        Literal(maxBuckets, LongType))

      // narrow leg: bucketed equi join with the original cond as residual
      val lBucket = Alias(bucketOf(ts), "__graft_lbkt")()
      val left2 = Project(left.output :+ lBucket, left)
      val rBucket = AttributeReference("__graft_rbkt", LongType,
        nullable = true)()
      val right2 = Generate(
        Explode(Sequence(bucketOf(start), bucketOf(end), None, tz)),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(rBucket), child = Filter(Not(wide), right))
      val bucketedJoin = Join(left2, right2, Inner,
        Some(And(EqualTo(lBucket.toAttribute, rBucket), cond)), hint)

      // wide leg: the original (slow but bounded-output) nested-loop
      // predicate over only the wide rows; fresh output aliases keep the
      // union legs' expression ids disjoint
      val wideJoin = Join(left, Filter(wide, right), Inner, Some(cond), hint)
      wideJoin.setTagValue(Rewritten, ())
      val wideLeg = Project(
        j.output.map(a => Alias(a, a.name)(qualifier = a.qualifier)),
        wideJoin)

      Union(Seq(Project(j.output, bucketedJoin), wideLeg),
        byName = false, allowMissingCol = false)
  }
}
