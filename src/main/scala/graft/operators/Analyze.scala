package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ANALYZE-style table statistics: per-column row/null counts, distinct
  * counts, and min/max — the stats a cost-based optimizer (and a data-
  * quality dashboard) feeds on, computed in ONE aggregation pass and
  * returned long-form, one row per column.
  *
  * Two NDV modes, because the right plan flips with scale:
  *
  *   - `exactNdv = true` plans multiple `count(distinct)` through a single
  *     Expand: each input row is replicated once per distinct-aggregate,
  *     then a two-level hash aggregation dedups map-side. Exact, and fine
  *     while rows x columns fits the shuffle — it is the oracle-able gate
  *     mode.
  *   - `exactNdv = false` swaps in `approx_count_distinct` (HyperLogLog++,
  *     fixed-size sketch buffers, no Expand, no extra shuffle volume):
  *     the 100 TB mode, where an Expand x 6 of the corpus is exactly the
  *     kind of self-inflicted data explosion a stats pass must not cause.
  *     AnalyzeSpec pins the two modes within HLL error of each other.
  *
  * Min/max are cast to string so heterogeneous columns share one output
  * schema; callers pre-cast columns whose native string form is not
  * engine-portable (double/timestamp) — see the q_stats_analyze gate.
  */
object Analyze {

  def columnStats(df: DataFrame, cols: Seq[String],
                  exactNdv: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "columnStats needs at least one column")
    def ndv(c: Column): Column =
      if (exactNdv) countDistinct(c) else approx_count_distinct(c)
    val aggs: Seq[Column] = count(lit(1)).as("__rows") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__n_$c"),
        ndv(col(c)).as(s"__ndv_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map { c =>
      struct(
        lit(c).as("column"),
        col("__rows").as("n_rows"),
        (col("__rows") - col(s"__n_$c")).as("n_nulls"),
        col(s"__ndv_$c").as("ndv"),
        col(s"__min_$c").as("min_str"),
        col(s"__max_$c").as("max_str"))
    }: _*)
    one.select(explode(rows).as("s")).select(col("s.*")).orderBy("column")
  }

  /** Zone-map pruning accounting: lay `df` out as files of `rowsPerFile`
    * rows in the given total `order`, keep one (min, max) zone per file
    * on `valueCol`, and report — per half-open predicate range
    * [lo, hi) — how many files the zones alone would skip and how many
    * rows the surviving files force a reader to scan:
    * (pred_id, n_files, n_skipped, rows_scanned, rows_selected).
    *
    * This is the row-group/file-statistics pruning model every columnar
    * lake reader applies: `rows_scanned` vs `rows_selected` IS the
    * measured value of clustering by the predicate column — run it once
    * over a sort-clustered layout and once over arrival order and the
    * difference is the scan volume a 100 TB re-cluster buys. File
    * assignment uses the distributed GlobalRank (range-repartition +
    * zipWithIndex), never a single-partition window; the per-file zones
    * are one aggregation; every number is integer-exact. */
  /** Key-skew diagnosis — the measurement that decides WHETHER to salt
    * ([[Salting.saltedJoin]]) and how hard: bucket the key space the way
    * a hash shuffle would (`rolling_hash64(key) mod nBuckets` — the
    * replayable stand-in for the engine's partitioner) and report, per
    * bucket, the rows it would receive, the distinct keys behind them,
    * and the single heaviest key with its row count:
    * (bucket, n_rows, n_keys, top_key, top_key_rows).
    *
    * Read it like a shuffle post-mortem: `max(n_rows) / avg(n_rows)` is
    * the straggler factor a join/agg on this key would suffer, and
    * whether `top_key_rows ≈ n_rows` distinguishes ONE hot key (salt
    * that key) from many colliding keys (raise partitions). Cost: one
    * per-key aggregation (map-side combined) plus a bucket-sized
    * summary — the per-key frame never reaches the driver. All counts
    * integer-exact. */
  def keySkew(df: DataFrame, keyCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be positive: $nBuckets")
    graft.Functions.ensure(df.sparkSession)
    val perKey = df.select(col(keyCol).cast("string").as("key"))
      .where(col("key").isNotNull)
      .groupBy("key").agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", pmod(call_function("rolling_hash64",
        col("key")), lit(nBuckets.toLong)))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("bucket")
      .orderBy(desc("cnt"), asc("key"))
    perKey
      .withColumn("__rn", row_number().over(w))
      .groupBy("bucket")
      .agg(sum("cnt").as("n_rows"), count(lit(1)).as("n_keys"),
        max(when(col("__rn") === 1, col("key"))).as("top_key"),
        max(when(col("__rn") === 1, col("cnt"))).as("top_key_rows"))
      .orderBy("bucket")
  }

  /** Two-dimensional [[zoneMapPruning]]: per-file (min, max) zones on TWO
    * columns, pruned by a conjunctive box predicate
    * `[loA, hiA) × [loB, hiB)` — the measurement that shows what
    * Z-ordering actually buys: a single-column sort layout prunes only on
    * its lead column, while a Morton layout bounds BOTH columns per file,
    * so the same box skips most files. Same shape as the 1-D form:
    * GlobalRank file assignment, one aggregation for the zones,
    * bucket-sized accounting, integer-exact. */
  def zoneMapPruning2(df: DataFrame, colA: String, colB: String,
                      order: Seq[Column], rowsPerFile: Int,
                      ranges: Seq[(Int, Column, Column, Column, Column)])
      : DataFrame = {
    require(rowsPerFile > 0, s"rowsPerFile must be positive: $rowsPerFile")
    require(ranges.nonEmpty, "need at least one predicate box")
    // project BEFORE ranking (r20, guide §2.3): GlobalRank persists the
    // sorted frame, and that persist boundary blocks column pruning — so
    // ranking the caller's raw frame cached EVERY column sorted
    // (lineitem's 16 columns for this 2-column analysis; measured ~half
    // the gate's task time). The order expressions materialize as
    // columns of a slim projection, ranked by those values — same total
    // order, same ranks, same accounting. Order columns must be plain
    // expressions (all catalog callers comply); a SortOrder-wrapped
    // Column fails loudly at the alias.
    val ordNames = order.indices.map(i => s"__ord$i")
    val slim = df.select(col(colA).as("va") +: col(colB).as("vb") +:
      order.zip(ordNames).map { case (c, n) => c.as(n) }: _*)
    val ranked = GlobalRank.withRowNumber(slim, "__rn", ordNames.map(col))
      .select(col("va"), col("vb"),
        ((col("__rn") - 1) / rowsPerFile).cast("long").as("file_id"))
    val matchCols = ranges.map { case (id, loA, hiA, loB, hiB) =>
      count(when(col("va") >= loA && col("va") < hiA &&
        col("vb") >= loB && col("vb") < hiB, 1)).as(s"__m$id")
    }
    val files = ranked.groupBy("file_id").agg(
      min("va").as("min_a"),
      (max("va").as("max_a") +: min("vb").as("min_b") +:
        max("vb").as("max_b") +: count(lit(1)).as("n_rows") +:
        matchCols): _*)
    ranges.map { case (id, loA, hiA, loB, hiB) =>
      val skip = col("max_a") < loA || col("min_a") >= hiA ||
        col("max_b") < loB || col("min_b") >= hiB
      files.agg(
          count(lit(1)).as("n_files"),
          coalesce(sum(when(skip, 1L).otherwise(0L)), lit(0L))
            .as("n_skipped"),
          coalesce(sum(when(!skip, col("n_rows"))), lit(0L))
            .as("rows_scanned"),
          coalesce(sum(col(s"__m$id")), lit(0L)).as("rows_selected"))
        .select(lit(id).as("pred_id"), col("n_files"), col("n_skipped"),
          col("rows_scanned"), col("rows_selected"))
    }.reduce(_ union _)
  }

  /** Equi-join output cardinality WITHOUT running the join: aggregate
    * each side to per-key counts (map-side combined, key-sized), merge on
    * the key, and sum the count products — `Σ_k cnt_a(k)·cnt_b(k)` IS the
    * inner-join row count, exactly. The pre-flight check that catches a
    * many-to-many blowup before it happens: the per-key frame also yields
    * the worst single key (`max_key_pairs`), so "this join emits 4×10¹²
    * rows and key X alone contributes 10¹²" costs two aggregations
    * instead of a cluster-melting shuffle. Returns one row:
    * (join_rows, n_join_keys, max_key_pairs, max_key). */
  def joinCardinality(left: DataFrame, leftKey: String,
                      right: DataFrame, rightKey: String): DataFrame = {
    val a = left.select(col(leftKey).as("k")).where(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("ca"))
    val b = right.select(col(rightKey).as("k")).where(col("k").isNotNull)
      .groupBy("k").agg(count(lit(1)).as("cb"))
    a.join(b, "k")
      .select(col("k"), (col("ca") * col("cb")).as("pairs"))
      .agg(sum("pairs").as("join_rows"), count(lit(1)).as("n_join_keys"),
        max("pairs").as("max_key_pairs"),
        // deterministic argmax: ties on pairs resolve to the highest key
        max_by(col("k"), struct(col("pairs"), col("k"))).as("max_key"))
  }

  def zoneMapPruning(df: DataFrame, valueCol: String, order: Seq[Column],
                     rowsPerFile: Int,
                     ranges: Seq[(Int, Column, Column)]): DataFrame = {
    require(rowsPerFile > 0, s"rowsPerFile must be positive: $rowsPerFile")
    require(ranges.nonEmpty, "need at least one predicate range")
    // slim projection before the rank — same reasoning as the 2-D form
    val ordNames = order.indices.map(i => s"__ord$i")
    val slim = df.select(col(valueCol).as("v") +:
      order.zip(ordNames).map { case (c, n) => c.as(n) }: _*)
    val ranked = GlobalRank.withRowNumber(slim, "__rn", ordNames.map(col))
      .select(col("v"),
        ((col("__rn") - 1) / rowsPerFile).cast("long").as("file_id"))
    val matchCols = ranges.map { case (id, lo, hi) =>
      count(when(col("v") >= lo && col("v") < hi, 1)).as(s"__m$id")
    }
    val files = ranked.groupBy("file_id").agg(
      min("v").as("min_v"),
      (max("v").as("max_v") +: count(lit(1)).as("n_rows") +: matchCols): _*)
    ranges.map { case (id, lo, hi) =>
      val skip = col("max_v") < lo || col("min_v") >= hi
      files.agg(
          count(lit(1)).as("n_files"),
          coalesce(sum(when(skip, 1L).otherwise(0L)), lit(0L))
            .as("n_skipped"),
          coalesce(sum(when(!skip, col("n_rows"))), lit(0L))
            .as("rows_scanned"),
          coalesce(sum(col(s"__m$id")), lit(0L)).as("rows_selected"))
        .select(lit(id).as("pred_id"), col("n_files"), col("n_skipped"),
          col("rows_scanned"), col("rows_selected"))
    }.reduce(_ union _)
  }
}
