package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The lifecycle every persisted index kind shares, written once. A kind
  * ([[Similarity]], [[IvfPq]], [[SketchIndex]], [[MaxSim]], [[Bm25]],
  * [[PhraseSearch]]) supplies only its layout and encoding: its registry
  * name, the id column its delete input carries and the stored id column
  * the ledger is read as, its [[IndexBatches.FusedDataset]] table (marker
  * dataset last), and its own write, append, batch-dir encode, search and
  * recenter. The trait owns the rest:
  *
  *   - deletion: ids land in the [[TombstoneLedger]] at `<dir>/tombstones`
  *     (batch deletes append, streaming deletes overwrite their
  *     `(tag, batchId)` slot); reads mask them at once;
  *   - streaming batch dirs ([[IndexBatches]]): reads union the live ones
  *     into the base datasets, deduping on each dataset's natural key
  *     while any exist, and [[compactIndexBatches]] folds them;
  *   - vacuum: one rule for every kind, inside the fold of
  *     [[IndexBatches.foldAndPurge]] — with no live batch dirs, each
  *     PARTITIONED dataset goes through [[SelectiveVacuum]] (only the
  *     partitions holding tombstoned ids are rewritten); a flat dataset,
  *     or any dataset while live dirs exist, is rewritten staged. An
  *     empty ledger still pays compaction debt, so a vacuum always
  *     leaves no live batch dir;
  *   - the rebuild reset: a full `writeIndex` clears the ledger and the
  *     batch dirs, which refer to the pre-rebuild corpus.
  */
trait PersistedIndex {

  /** The registry name [[IndexMaintenance]] keys this kind under. */
  def kind: String

  /** The kind's layout: one entry per dataset in fold order, the marker
    * dataset last. */
  private[operators] def fusedDatasets: Seq[IndexBatches.FusedDataset]

  /** The dataset names in fold order, the marker dataset last. */
  final def datasets: Seq[String] = fusedDatasets.map(_.name)

  /** The column the delete input carries its ids under. */
  protected def deleteIdCol: String

  /** The stored id column the ledger is read as. */
  protected def storedIdCol: String

  /** EXACTLY-ONCE streaming ingestion of one micro-batch into
    * `<dir>/batches/<md5(tag)>/<batchId>` with OVERWRITE: a replayed
    * batch rewrites its own location instead of double-appending. */
  def appendBatchDir(df: DataFrame, dir: String, tag: String,
                     batchId: Long): Unit

  /** The dataset carrying the compaction high-water marker. */
  final def marker: String = datasets.last

  private def ledgerRoot(dir: String) = s"$dir/tombstones"

  /** Append-only deletion: `ids` land in the ledger, one tiny parquet
    * append regardless of index size; searches mask them at once and
    * [[vacuumIndex]] removes them physically. */
  def deleteFromIndex(ids: DataFrame, dir: String): Unit =
    TombstoneLedger.append(ids.select(col(deleteIdCol)), ledgerRoot(dir))

  /** EXACTLY-ONCE streaming deletion: the micro-batch's ids overwrite the
    * ledger slot of `(tag, batchId)`, so a replay never accretes rows. */
  def deleteBatchDir(ids: DataFrame, dir: String, tag: String,
                     batchId: Long): Unit =
    TombstoneLedger.appendBatch(ids.select(col(deleteIdCol)),
      ledgerRoot(dir), tag, batchId)

  /** Test seam: runs after [[vacuumIndex]] snapshots the ledger file list
    * and before it rewrites — the race window a concurrent
    * [[deleteFromIndex]] lands in. Production leaves it a no-op. */
  private[graft] var vacuumAfterSnapshotHook: () => Unit = () => ()

  /** Batch directories not yet folded into the base layout. */
  protected def liveBatchDirs(spark: SparkSession,
                              dir: String): Seq[String] =
    IndexBatches.live(spark, dir, marker)

  /** Fold every live batch dir into the base datasets behind staged
    * swaps, the merged high-water marker committing inside the staged
    * marker dataset. */
  def compactIndexBatches(spark: SparkSession, dir: String): Unit = {
    val live = liveBatchDirs(spark, dir)
    if (live.nonEmpty)
      IndexBatches.foldAndPurge(spark, dir, kind, live, None, fusedDatasets)
  }

  /** Physically remove the tombstoned ids, then clear exactly the ledger
    * files this pass enumerated: ONE listing feeds both the purge and the
    * cleanup, so a tombstone landing mid-pass survives and keeps masking.
    * Live batch dirs fold in the same rewrite (unfolded, they would
    * resurface a tombstoned id once its ledger file is cleared). Returns
    * the rows removed from the marker dataset. */
  def vacuumIndex(spark: SparkSession, dir: String): Long = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val consumed = TombstoneLedger.files(fs, ledgerRoot(dir))
    TombstoneLedger.dfFrom(spark, consumed, storedIdCol) match {
      case None =>
        compactIndexBatches(spark, dir)
        0L
      case Some(ts) =>
        vacuumAfterSnapshotHook()
        val removed = IndexBatches.foldAndPurge(spark, dir, kind,
          liveBatchDirs(spark, dir), Some(ts), fusedDatasets)
        TombstoneLedger.clear(fs, ledgerRoot(dir), consumed)
        removed
    }
  }

  /** The rebuild reset, run after a full `writeIndex`: standing
    * tombstones and batch dirs refer to the pre-rebuild corpus, and the
    * fresh marker dataset carries no high-water marker, so stale batch
    * dirs would otherwise resurrect as live. */
  protected def resetLifecycle(spark: SparkSession, dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    TombstoneLedger.reset(fs, ledgerRoot(dir))
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/batches"), true)
  }

  /** One dataset as searches read it: the base ∪ each live batch dir,
    * projected to the stored columns, `scan` applied per scan (so
    * partition and row filters push into every parquet read), deduped on
    * the natural key while live dirs exist (a batch counted in the base
    * AND a still-live dir after a crashed compaction collapses back to
    * one row), and, when `mask`, anti-joined with the ledger. The mask is
    * unhinted: AQE broadcasts the ledger while it is small. */
  protected def readLive(spark: SparkSession, dir: String, dataset: String,
                         live: Seq[String],
                         scan: DataFrame => DataFrame = identity,
                         mask: Boolean = true): DataFrame = {
    val d = fusedDatasets.find(_.name == dataset).get
    def read(p: String) =
      scan(spark.read.parquet(p).select(d.columns.map(col): _*))
    val all = live.foldLeft(read(s"$dir/$dataset")) { (acc, p) =>
      acc.union(read(if (d.batchNested) s"$p/$dataset" else p))
    }
    val deduped =
      if (live.isEmpty || d.dedupKeys.isEmpty) all
      else all.dropDuplicates(d.dedupKeys)
    if (mask) masked(deduped, ledger(spark, dir)) else deduped
  }

  /** The ledger's ids under the stored id column, None when empty. Each
    * read pays a schema-inference job, so a search masking two datasets
    * reads it once. */
  protected def ledger(spark: SparkSession, dir: String): Option[DataFrame] =
    TombstoneLedger.df(spark, ledgerRoot(dir), storedIdCol)

  /** `df` minus the `ledger`'s ids, matched on the stored id column. */
  protected def masked(df: DataFrame, ledger: Option[DataFrame]): DataFrame =
    ledger.fold(df)(ts => df.join(ts, Seq(storedIdCol), "left_anti"))
}
