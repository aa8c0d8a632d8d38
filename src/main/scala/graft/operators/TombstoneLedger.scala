package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Append-only deletion ledger for persisted index layouts — the
  * right-to-be-forgotten primitive shared by index kinds: a delete is
  * one tiny parquet append naming the ids, the data files are never
  * rewritten on the delete path, reads anti-join the ledger, and a
  * vacuum pass physically rewrites and clears EXACTLY the ledger files
  * it consumed (single-enumeration discipline: one file listing feeds
  * both the anti-join and the end-of-pass cleanup, so a tombstone
  * landing mid-pass is neither applied nor deleted — it survives to the
  * next pass while reads keep masking its id).
  *
  * Layout: flat `*.parquet` appends under the ledger root for batch
  * deletes; streaming deletes may write batch-scoped SUBDIRECTORIES
  * (overwrite-by-placement idempotency) — one recursive enumeration
  * serves both. Every index kind reaches it through [[PersistedIndex]].
  */
object TombstoneLedger {

  /** The stored ledger row: one bigint `id`. Every index id column is an
    * integral id, and a fixed schema lets [[dfFrom]] read the ledger
    * without a schema-inference job. */
  private val Schema = StructType(Seq(StructField("id", LongType)))

  /** `ids` (single integral column, any name) as the stored ledger rows,
    * distinct; any other column type fails here, before it is stored. */
  private def rows(ids: DataFrame): DataFrame = {
    val t = ids.schema.map(_.dataType)
    require(t.size == 1 &&
        Seq(ByteType, ShortType, IntegerType, LongType).contains(t.head),
      s"ledger ids must be one integral column, got ${t.mkString(", ")}")
    ids.toDF("id").select(col("id").cast(LongType).as("id")).distinct()
  }

  /** Append `ids` (single column, any name) to the ledger at `root` as
    * one distinct-deduped parquet file, stored under the column name
    * `id`. */
  def append(ids: DataFrame, root: String): Unit =
    rows(ids).coalesce(1).write.mode("append").parquet(root)

  /** EXACTLY-ONCE streaming append: the micro-batch's ids land in the
    * batch-scoped ledger dataset `<root>/<md5(tag)>-<batchId>` with
    * OVERWRITE, so a replayed batch (foreachBatch is at-least-once)
    * rewrites its own location instead of accreting ledger rows —
    * idempotency by placement, the same contract as the index batch
    * dirs ([[PersistedIndex.appendBatchDir]]). */
  def appendBatch(ids: DataFrame, root: String, tag: String,
                  batchId: Long): Unit =
    rows(ids).coalesce(1).write.mode("overwrite")
      .parquet(s"$root/${IndexBatches.tagHash(tag)}-$batchId")

  /** Every parquet leaf file under the ledger — ONE enumeration, to be
    * reused for both the read and the consumed-set cleanup. */
  def files(fs: org.apache.hadoop.fs.FileSystem, root: String)
      : Seq[org.apache.hadoop.fs.Path] = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) return Nil
    val out = Seq.newBuilder[org.apache.hadoop.fs.Path]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out += f.getPath
    }
    out.result()
  }

  /** The ledger read over an EXPLICIT file list (from [[files]]),
    * distinct ids under the caller's column name; None when empty. Read
    * with the stored [[Schema]], so building the frame starts no job. */
  def dfFrom(spark: SparkSession, fs: Seq[org.apache.hadoop.fs.Path],
             asCol: String): Option[DataFrame] =
    if (fs.isEmpty) None
    else Some(spark.read.schema(Schema).parquet(fs.map(_.toString): _*)
      .select(col("id").as(asCol)).distinct())

  /** Convenience: enumerate-and-read in one step (for READ paths that
    * never clean up; vacuum passes must use [[files]] + [[dfFrom]]). */
  def df(spark: SparkSession, root: String, asCol: String)
      : Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dfFrom(spark, files(fs, root), asCol)
  }

  /** Driver-side answer to "do pending tombstones exceed `threshold`?"
    * from the ledger files' parquet-footer row counts alone. Each file
    * is distinct-deduped at append time, so a SINGLE file's row count
    * bounds the distinct total from BELOW — one file over the threshold
    * proves DUE and short-circuits the scan (the deep-in-debt index the
    * janitor targets resolves on its first large footer, not after
    * reading every file); the files' SUM bounds it from above — sum ≤
    * threshold proves NOT due. Either way no Spark job runs (the
    * janitor's pass over a many-index serving tier must be
    * metadata-only). Returns None only for a threshold strictly inside
    * the [max-file, sum] sandwich — possible when re-deleted ids recur
    * across files — where the caller must pay the exact distinct
    * count. Driver IO is at most one footer read per ledger file,
    * bounded by the delete calls since the last vacuum. */
  def pendingExceeds(conf: org.apache.hadoop.conf.Configuration,
                     ledgerFiles: Seq[org.apache.hadoop.fs.Path],
                     threshold: Long): Option[Boolean] = {
    var sum = 0L
    val it = ledgerFiles.iterator
    while (it.hasNext) {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile
        .fromPath(it.next(), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      val n = try r.getRecordCount finally r.close()
      if (n > threshold) return Some(true) // single-file lower bound
      sum += n
    }
    if (sum <= threshold) Some(false) else None
  }

  /** Whether the ledger at `root` holds more than `threshold` distinct
    * ids: [[pendingExceeds]] from footers, and the one exact
    * distinct-count job only when the footers cannot decide. */
  def exceeds(spark: SparkSession, root: String, threshold: Long): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val ledgerFiles =
      files(new org.apache.hadoop.fs.Path(root).getFileSystem(conf), root)
    pendingExceeds(conf, ledgerFiles, threshold).getOrElse(
      dfFrom(spark, ledgerFiles, "id").map(_.count()).getOrElse(0L) > threshold)
  }

  /** Delete exactly the consumed files, then drop batch-scoped subdirs
    * the pass emptied (a concurrent delete into a fresh dir survives; a
    * non-empty dir stays). */
  def clear(fs: org.apache.hadoop.fs.FileSystem, root: String,
            consumed: Seq[org.apache.hadoop.fs.Path]): Unit = {
    consumed.foreach(p => fs.delete(p, false))
    val p = new org.apache.hadoop.fs.Path(root)
    if (fs.exists(p))
      fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filter(d => !fs.listStatus(d).exists(
          _.getPath.getName.endsWith(".parquet")))
        .foreach(d => fs.delete(d, true))
  }

  /** Reset the ledger entirely — a full index rebuild invalidates
    * standing tombstones (they refer to the pre-rebuild corpus). */
  def reset(fs: org.apache.hadoop.fs.FileSystem, root: String): Unit =
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
}
