package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalable global row numbering.
  *
  * The reference ranks with `row_number() over (order by ... desc)`
  * (mart/rating_slide.sql:7,20) — an empty-PARTITION window. Spark executes
  * that as a single-partition window: every row funnels through one task,
  * which is the canonical 100 TB cliff (SURVEY.md E35, §4.4).
  *
  * This operator computes the identical result distributed:
  * range-repartition + sort on the rank ordering (the same single exchange a
  * global ORDER BY pays), then contiguous indices from per-partition counts
  * — never funneling rows through one task.
  *
  * Index assignment (r19 — previously `RDD.zipWithIndex`): the sorted frame
  * takes `monotonically_increasing_id()` (= partitionId·2³³ + the row's
  * position within its partition, exactly the coordinates zipWithIndex
  * derives), one 1-row-per-partition partial aggregation collects the
  * per-partition row counts, and the rank is `running offset of the row's
  * partition + its local position + 1` via a broadcast join of the tiny
  * offsets table. Same ranks bit for bit (the ordering is total and the
  * frame is pinned, so both formulations read the same sorted row
  * positions), but the whole path stays in Tungsten with whole-stage
  * codegen — the old `.rdd.zipWithIndex().map(Row.fromSeq …)` round-trip
  * deserialized EVERY row to external objects and re-internalized it
  * through `createDataFrame`, a per-byte format conversion (and a codegen
  * break) this operator exists to avoid at 100 TB. The offsets ride a
  * broadcast JOIN, not a map literal: at cluster scale `parts` can be
  * thousands, and a thousands-entry literal in the plan is the same
  * plan-size hazard as an `isin` over collected ids.
  *
  * The ordering must be total (add a unique tiebreaker) for a deterministic
  * result — the same requirement the window form has.
  */
object GlobalRank {

  /** The size-adaptive rank-shuffle width `withRowNumber` defaults to:
    * one partition per ~32 MB of the optimizer's size estimate, floored
    * at 1 and capped at the session shuffle width. Exposed for tests
    * and for callers that want the derivation against a different frame
    * than the one they rank (e.g. pre-filter estimates). */
  def adaptiveParts(df: DataFrame): Int = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = BigInt(32L << 20)
    val cap = df.sparkSession.sessionState.conf.numShufflePartitions
    ((est / target) + 1).min(BigInt(math.max(1, cap))).max(BigInt(1)).toInt
  }

  def withRowNumber(df: DataFrame, rankCol: String, order: Seq[Column],
                    numPartitions: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    // loud-failure guards (ADVICE r19): withColumn would silently CLOBBER
    // an input column named like the internal helpers and the final
    // select would return the internal value
    require(!df.columns.exists(_.startsWith("__gr_")),
      s"input schema reserves no __gr_* names: ${df.columns.mkString(", ")}")
    // Scale-ADAPTIVE width (r20, guide §2): derive the rank-shuffle
    // partition count from the optimizer's size estimate instead of a
    // constant — a leaderboard-sized frame ranks in a handful of
    // partitions (fewer tiny tasks, fewer straggler slots) while a
    // 100 TB frame still fans out to the full session width (the
    // estimate grows with input size, and an over-estimate only means
    // full width, i.e. exactly the pre-r20 behavior). The result is
    // width-independent: ranks come from the total sort order, so any
    // partition count yields identical output. Catalyst estimates
    // without CBO stats can be far off in BOTH directions after joins
    // and aggregations — the clamp keeps either failure mode benign
    // (floor 1, cap session shuffle width).
    val parts = numPartitions.getOrElse(adaptiveParts(df))
    // persist the sorted+id'd frame so the upstream
    // aggregation/sort/shuffle executes once for the counts pass and
    // once-cached for the ranked read, and so the assigned ids are
    // pinned. Session-tracked: long-lived sessions call
    // OperatorCaches.releaseAll after consuming results.
    // The partition coordinate is spark_partition_id() (a documented,
    // layout-free API); only the WITHIN-partition position derives from
    // monotonically_increasing_id's documented "current implementation"
    // layout (position = low 33 bits), and the counts pass VALIDATES that
    // assumption per partition (min 0, max n-1, and the high bits agree
    // with the partition id) so an upstream layout change fails loudly
    // instead of corrupting ranks (ADVICE r19).
    val sorted = OperatorCaches.cache(df.repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__gr_mid", monotonically_increasing_id())
      .withColumn("__gr_pid", spark_partition_id().cast("long")))
    val pidOf = col("__gr_pid")
    val localOf = col("__gr_mid").bitwiseAND(lit((1L << 33) - 1))
    // one partial-aggregated count per partition (a `parts`-row shuffle),
    // collected to build the running offsets
    val counts = sorted.groupBy(pidOf)
      .agg(count(lit(1)).as("__gr_n"), min(localOf).as("__gr_lo"),
        max(localOf).as("__gr_hi"),
        max(shiftright(col("__gr_mid"), 33)).as("__gr_hipid"),
        min(shiftright(col("__gr_mid"), 33)).as("__gr_lopid"))
      .collect()
      .map { r =>
        require(r.getLong(2) == 0L && r.getLong(3) == r.getLong(1) - 1L &&
          r.getLong(4) == r.getLong(0) && r.getLong(5) == r.getLong(0),
          "monotonically_increasing_id no longer encodes " +
            s"(partition << 33 | position): partition ${r.getLong(0)} saw " +
            s"local [${r.getLong(2)}, ${r.getLong(3)}] of ${r.getLong(1)} " +
            s"rows, id-derived pid [${r.getLong(5)}, ${r.getLong(4)}]")
        (r.getLong(0), r.getLong(1))
      }
      .sortBy(_._1)
    val offsets = counts
      .scanLeft((-1L, 0L, 0L)) { case ((_, off, n), (pid, cnt)) =>
        (pid, off + n, cnt)
      }
      .drop(1)
      .map { case (pid, off, _) => (pid, off) }
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__gr_pid", "__gr_off")
    sorted.join(broadcast(offDf), "__gr_pid")
      .withColumn(rankCol, col("__gr_off") + localOf + 1L)
      .select(df.columns.map(col) :+ col(rankCol): _*)
  }
}
