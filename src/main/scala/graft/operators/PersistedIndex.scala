package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The lifecycle every persisted index kind shares, written once. A kind
  * ([[Similarity]], [[IvfPq]], [[SketchIndex]], [[MaxSim]], [[Bm25]],
  * [[PhraseSearch]]) supplies its layout, encode, fit and search: its
  * registry name, the id column its delete input carries and the stored
  * id column the ledger is read as, its [[IndexBatches.FusedDataset]]
  * table (marker dataset last), [[encode]] (the rows each dataset gains
  * from an input), its model (fit, [[readModel]], [[modelFiles]]) and its
  * search. The trait owns the rest:
  *
  *   - every dataset write, through the one layout writer
  *     ([[IndexBatches.writeDataset]]): the build ([[build]]), the base
  *     append ([[appendToIndex]]), the exactly-once batch slot
  *     ([[appendBatchDir]]) and the recenter commit ([[recenter]]);
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
  *   - the rebuild reset: a full [[build]] clears the ledger and the
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

  /** The kind's fitted model, what [[encode]] reads (centroids,
    * codebooks); `Unit` for the model-free kinds. */
  protected type Model

  /** The standing model of the index at `dir`. Appends encode against it
    * and never refit it: recentering is the out-of-band refresh. */
  protected def readModel(spark: SparkSession, dir: String): Model

  /** The model's own datasets by name, each written as one file beside
    * the layout. */
  protected def modelFiles(spark: SparkSession,
                           model: Model): Seq[(String, DataFrame)]

  /** The rows each layout dataset gains from `input`, by dataset name, in
    * the layout's columns and in write order (a frame `pin` caches is
    * best built by a plain write before a join reads it). `pin` caches a
    * frame that feeds more than one dataset; it is unpinned when the
    * write ends. */
  protected def encode(input: DataFrame, model: Model,
                       pin: DataFrame => DataFrame): Seq[(String, DataFrame)]

  /** Encode `input` and write each dataset to `path(d)`, shaped by
    * `how`; the frames `encode` pinned live for this call. */
  private def write(input: DataFrame, model: Model, how: IndexBatches.Write)
                   (path: IndexBatches.FusedDataset => String): Unit =
    pinned { pin =>
      for ((name, rows) <- encode(input, model, pin)) {
        val d = layout(name)
        IndexBatches.writeDataset(d, rows, path(d), how)
      }
    }

  private def layout(name: String) = fusedDatasets.find(_.name == name).get

  private def pinned[A](f: (DataFrame => DataFrame) => A): A = {
    val pins = scala.collection.mutable.Buffer.empty[DataFrame]
    try f { df => val c = OperatorCaches.cache(df); pins += c; c }
    finally pins.foreach(_.unpersist())
  }

  private def writeModel(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** A full build from a fitted `model`: its files, then every dataset
    * clustered to the layout, then the rebuild reset. */
  protected def build(input: DataFrame, dir: String, model: Model): Unit = {
    val spark = input.sparkSession
    modelFiles(spark, model).foreach { case (n, df) =>
      writeModel(df, s"$dir/$n") }
    write(input, model, IndexBatches.Clustered(dir))(d => s"$dir/${d.name}")
    resetLifecycle(spark, dir)
  }

  /** Incremental growth: `input` encodes against the STANDING model and
    * lands as extra files inside the standing leaves, O(batch) whatever
    * the index size, with no search-path change. Id discipline is the
    * caller's: a re-ingested id is stored twice. */
  def appendToIndex(input: DataFrame, dir: String): Unit =
    write(input, readModel(input.sparkSession, dir),
      IndexBatches.Append)(d => s"$dir/${d.name}")

  /** EXACTLY-ONCE streaming ingestion of one micro-batch into
    * `<dir>/batches/<md5(tag)>/<batchId>` with OVERWRITE: a replayed
    * batch rewrites its own location instead of double-appending.
    * `input` encodes against the standing model; each batch dataset is
    * partitioned like the base, so searches prune batch dirs too. */
  def appendBatchDir(input: DataFrame, dir: String, tag: String,
                     batchId: Long): Unit = {
    val root = s"$dir/batches/${IndexBatches.tagHash(tag)}/$batchId"
    write(input, readModel(input.sparkSession, dir), IndexBatches.Slot)(
      d => if (d.batchNested) s"$root/${d.name}" else root)
  }

  /** The recenter commit, after the kind refit `model` from the vectors
    * its index stores (`input`; live batch dirs must be compacted first,
    * their rows carry the old model's routing). Stages the model files
    * (first: a cell layout's fanout reads the staged centroids) and the
    * `rewrite` datasets re-encoded under one stage root beside `dir`,
    * runs `beforeSwap` over the staged datasets while the old ones are
    * still live, carries the compaction marker into the staged marker
    * dataset, then commits the datasets in layout order and the model
    * files last ([[graft.sources.Formats.commit]]: swap, refresh). The
    * ledger is untouched: pending deletes stay pending and keep masking.
    *
    * Crash contract: the directories cannot swap atomically. A crash
    * between swaps leaves data encoded under a model the reader has not
    * fully switched to, which degrades probe recall but never fabricates
    * a row, and re-running converges, since the refit reads only
    * model-independent columns. */
  protected def recenter[A](dir: String, model: Model, input: DataFrame,
                            rewrite: Seq[String] = datasets)
                           (beforeSwap: (String => DataFrame) => A): A = {
    val spark = input.sparkSession
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = graft.sources.Formats.stage(fs, new Path(dir)).toString
    val models = modelFiles(spark, model)
    models.foreach { case (n, df) => writeModel(df, s"$stage/$n") }
    val out = pinned { pin =>
      val rows = encode(input, model, pin).filter(r => rewrite.contains(r._1))
      for ((name, df) <- rows) IndexBatches.writeDataset(layout(name), df,
        s"$stage/$name", IndexBatches.Clustered(stage))
      beforeSwap(n => spark.read.schema(rows.toMap.apply(n).schema)
        .parquet(s"$stage/$n"))
    }
    if (rewrite.contains(marker))
      IndexBatches.writeMarker(fs, new Path(s"$stage/$marker"),
        IndexBatches.readMarker(fs, new Path(s"$dir/$marker")))
    val swapped = datasets.filter(rewrite.contains) ++ models.map(_._1)
    graft.sources.Formats.commit(spark,
      swapped.map(n => new Path(s"$stage/$n") -> new Path(s"$dir/$n")))
    fs.delete(new Path(stage), true)
    out
  }

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
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
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

  /** The rebuild reset, run after a full [[build]]: standing
    * tombstones and batch dirs refer to the pre-rebuild corpus, and the
    * fresh marker dataset carries no high-water marker, so stale batch
    * dirs would otherwise resurrect as live. */
  private def resetLifecycle(spark: SparkSession, dir: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    TombstoneLedger.reset(fs, ledgerRoot(dir))
    fs.delete(new Path(s"$dir/batches"), true)
  }

  /** One dataset as searches read it: the base ∪ each live batch dir,
    * projected to the stored columns, `scan` applied per scan (so
    * partition and row filters push into every parquet read), deduped on
    * the natural key while live dirs exist (a batch counted in the base
    * AND a still-live dir after a crashed compaction collapses back to
    * one row), and, when `mask`, anti-joined with the ledger. The mask is
    * unhinted: AQE broadcasts the ledger while it is small. Batch dirs
    * are written by the same layout writer as the base, so each reads
    * with the base's schema instead of inferring its own (one Spark job
    * per read saved). */
  protected def readLive(spark: SparkSession, dir: String, dataset: String,
                         live: Seq[String],
                         scan: DataFrame => DataFrame = identity,
                         mask: Boolean = true): DataFrame = {
    val d = layout(dataset)
    val base = spark.read.parquet(s"$dir/$dataset")
    def read(df: DataFrame) = scan(df.select(d.columns.map(col): _*))
    val all = live.foldLeft(read(base)) { (acc, p) =>
      acc.union(read(spark.read.schema(base.schema)
        .parquet(if (d.batchNested) s"$p/$dataset" else p)))
    }
    val deduped =
      if (live.isEmpty || d.dedupKeys.isEmpty) all
      else all.dropDuplicates(d.dedupKeys)
    if (!mask) deduped
    else TombstoneLedger.df(spark, ledgerRoot(dir), storedIdCol)
      .fold(deduped)(ts => deduped.join(ts, Seq(storedIdCol), "left_anti"))
  }
}
