package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-selective tombstone rewrite — the vacuum shape that
  * survives 100 TB: every persisted index in this library stores its
  * big datasets PARTITIONED by a pruning key (centroid cell, doc/vec
  * bucket, term bucket), so physically removing a tombstone set only
  * ever needs to rewrite the partitions that CONTAIN tombstoned rows.
  * The previous whole-dataset staged swap rewrote the full live index
  * per vacuum — correct, but O(index) when the deletion set touches a
  * handful of cells; this is the one exception class the scaling
  * audit (SCALING_r15.json) named. Here the rewrite is O(affected
  * partitions):
  *
  *   1. ONE column-pruned scan (id + partition column only) semi-joins
  *      the ledger and groups by partition — yielding both the affected
  *      partition list (bounded by the fanout, collected) and the
  *      removed-row count;
  *   2. the anti-join rewrite reads ONLY the affected partitions (the
  *      partition filter is a literal list ≤ fanout values — never the
  *      tombstoned ids themselves) and writes them to a staging dir in
  *      the dataset's own layout;
  *   3. each affected partition LEAF swaps individually
  *      ([[graft.sources.Formats.publishLeaves]] — rename-aside,
  *      rename-in, drop); a partition whose every row was tombstoned
  *      has no staged leaf and is deleted outright. Untouched
  *      partitions' files are never opened, never moved.
  *
  * Root-level metadata (the `_compacted_batches` high-water marker,
  * `_SUCCESS`) is untouched by leaf swaps, so no marker carry is
  * needed — one less crash window than the whole-dir swap had.
  *
  * Crash contract: the ledger is cleared by the CALLER only after every
  * leaf swapped, so an interruption mid-pass leaves some partitions
  * vacuumed and some not — reads stay correct throughout (the
  * still-standing ledger masks whatever survived), and the next vacuum
  * converges (already-swapped partitions no longer contain tombstoned
  * rows, so they are simply not affected).
  *
  * A fully-purged dataset (no partition leaf survives) is left with one
  * zero-row schema-carrying file inside a literal `part=0/` leaf — the
  * same readable-AND-appendable empty layout the full-purge rewrite
  * uses ([[graft.sources.Formats.writeEmpty]]). That empty leaf is
  * staged and published FIRST, before any live leaf is removed, so at
  * every instant (including after a crash at any point) at least one
  * schema-carrying leaf exists — reads and the next vacuum never hit a
  * schema-inference failure.
  */
object SelectiveVacuum {

  /** Vacuum `ts` (a one-column tombstone frame whose column matches
    * `idCol`) out of the dataset at `dsPath`, partitioned by `part`.
    * `slices` is the per-partition file fanout for the rewritten
    * partitions (same clustered-write discipline as the builders).
    * Returns rows removed. */
  def apply(spark: SparkSession, dsPath: org.apache.hadoop.fs.Path,
            part: String, idCol: String, ts: DataFrame,
            slices: Int): Long = {
    val fs = dsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = spark.read.parquet(dsPath.toString)
    // one column-pruned scan serves the affected-partition list AND the
    // removed count (per-partition counts, bounded by the fanout)
    val perPart = base.select(col(part), col(idCol))
      .join(ts, Seq(idCol), "left_semi")
      .groupBy(part).agg(count(lit(1)).as("__n")).collect()
    if (perPart.isEmpty) return 0L
    val affected = perPart.map(_.get(0)).toSeq
    val removed = perPart.map(_.getLong(1)).sum
    def leaves(dir: org.apache.hadoop.fs.Path): Set[String] =
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith(s"$part=")).toSet
    val touched = affected.map(v => s"$part=$v")
    val emptyLeaf = s"$part=0"
    graft.sources.Formats.publishLeaves(spark, dsPath) { staged =>
      base.where(col(part).isin(affected: _*))
        .join(ts, Seq(idCol), "left_anti")
        .repartition(math.max(1, affected.size * slices), col(part),
          pmod(hash(col(idCol)), lit(slices)))
        .write.mode("overwrite").partitionBy(part).parquet(staged.toString)
      // full purge (every live leaf deleted, none staged back): stage the
      // empty layout and publish its leaf first, so every other live leaf
      // still exists during its swap window
      if (leaves(staged).nonEmpty || !leaves(dsPath).subsetOf(touched.toSet))
        touched
      else {
        graft.sources.Formats.writeEmpty(base, staged, Some(part))
        emptyLeaf +: touched.filterNot(_ == emptyLeaf)
      }
    }
    // converging fallback (e.g. a pre-existing broken state from older
    // layouts): if no leaf survived, restore the empty layout
    if (leaves(dsPath).isEmpty)
      graft.sources.Formats.publishLeaves(spark, dsPath) { staged =>
        graft.sources.Formats.writeEmpty(base, staged, Some(part))
        Seq(emptyLeaf)
      }
    removed
  }
}
