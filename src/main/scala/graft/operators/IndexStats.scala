package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance readout for any persisted index — the signal the
  * lifecycle operators leave implicit: every kind accretes live
  * streaming batch dirs (until its compactIndexBatches folds them) and
  * pending tombstones (until its vacuum makes deletion physical), and
  * at 100 TB the decision "compact/vacuum NOW or keep serving" is made
  * from numbers, not intuition. One metadata pass per dataset (file
  * count + bytes from the FileSystem listing — no data read) plus one
  * tiny distinct-count job over the ledger; row counts are optional
  * (driver-side parquet-footer sums since r19 — no Spark job at all).
  *
  * Generic over the layout: callers name the kind's datasets
  * (e.g. `Seq("sketches", "vectors")` for [[SketchIndex]],
  * `Seq("tokens", "doctokens")` for the MaxSim token index,
  * `Seq("postings", "doclens")` for [[Bm25]]) — the batches/ and
  * tombstones/ conventions are shared by all six kinds.
  */
object IndexStats {

  /** One row per dataset: (dataset, n_files, bytes, n_rows) plus the
    * index-level maintenance counters repeated on each row
    * (live_batch_dirs — dirs [[IndexBatches.live]] would fold;
    * pending_tombstones — distinct ids the next vacuum would remove).
    * `countRows = false` skips the footer-read row counts for a pure
    * metadata listing.
    *
    * `markerDataset` names the dataset carrying the compaction
    * high-water marker (the one each kind's compact writes it into:
    * `sketches`, `tokens`, `postings`, `assignments`, `pqcodes`);
    * when None it defaults to `datasets.head`, which matches the
    * scaladoc orderings above — but a caller listing datasets in any
    * other order MUST name it, or already-folded batch dirs count as
    * live and `due` over-reports compaction pressure. */
  def stats(spark: SparkSession, dir: String, datasets: Seq[String],
            countRows: Boolean = true,
            markerDataset: Option[String] = None): DataFrame = {
    import spark.implicits._
    require(datasets.nonEmpty, "name at least one dataset")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leafFiles(p: String): Seq[org.apache.hadoop.fs.FileStatus] = {
      val root = new org.apache.hadoop.fs.Path(p)
      if (!fs.exists(root)) return Nil
      val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) out += f
      }
      out.result()
    }
    val liveBatches = IndexBatches.live(spark, dir,
      markerDataset.getOrElse(datasets.head)).size
    val tombstones = TombstoneLedger.df(spark, s"$dir/tombstones", "id")
      .map(_.count()).getOrElse(0L)
    datasets.map { ds =>
      val files = leafFiles(s"$dir/$ds")
      // driver-side footer sums (r19): same number the Spark count job
      // produced (both read only footers and skip hidden files), zero
      // jobs — stats() now runs exactly ONE job (the ledger distinct)
      val rows =
        if (!countRows || files.isEmpty) -1L
        else IndexBatches.footerRows(spark, s"$dir/$ds")
      (ds, files.size.toLong, files.map(_.getLen).sum, rows,
        liveBatches.toLong, tombstones)
    }.toDF("dataset", "n_files", "bytes", "n_rows",
      "live_batch_dirs", "pending_tombstones")
  }

  /** The maintenance decision, as data: true when the index is due for
    * compaction (live batch dirs past `maxLiveBatches`) or vacuum
    * (pending tombstones past `maxTombstones`).
    *
    * METADATA-ONLY unless genuinely ambiguous: live-batch detection is
    * a directory listing, and the tombstone check resolves from
    * parquet-footer row counts ([[TombstoneLedger.pendingExceeds]] —
    * files' sum ≤ threshold proves not-due, any single file over the
    * threshold proves due and short-circuits the footer scan), both
    * with no Spark job: a janitor sweeping dozens of indexes, idle OR
    * clearly in debt, runs zero jobs. Only a threshold strictly inside
    * the [max-file, sum] sandwich — possible when re-deleted ids recur
    * across files — pays the one exact distinct-count job. */
  def due(spark: SparkSession, dir: String, datasets: Seq[String],
          maxLiveBatches: Int = 16, maxTombstones: Long = 100000L,
          markerDataset: Option[String] = None)
      : (Boolean, Boolean) = {
    val liveBatches = IndexBatches.live(spark, dir,
      markerDataset.getOrElse(datasets.head)).size
    (liveBatches > maxLiveBatches,
      TombstoneLedger.exceeds(spark, s"$dir/tombstones", maxTombstones))
  }
}
