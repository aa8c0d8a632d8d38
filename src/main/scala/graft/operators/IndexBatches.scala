package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once streaming batch directories for persisted indexes — the
  * machinery Similarity's ANN index introduced, factored out (the same
  * move as [[TombstoneLedger]]) so every index kind shares ONE
  * implementation of the contract:
  *
  *   - a micro-batch lands in `<dir>/batches/<md5(tag)>/<batchId>` with
  *     OVERWRITE — foreachBatch is at-least-once, and a replayed batch
  *     REWRITES its own location instead of double-appending
  *     (idempotency by placement, no hot-path marker);
  *   - readers union the LIVE batch dirs — those above the compaction
  *     high-water marker — into the base dataset;
  *   - compaction folds live dirs into the base layout behind the
  *     caller's crash-safe staged rewrite, carrying the marker
  *     (`_compacted_batches`: tag-hash → highest folded batchId) INSIDE
  *     the staged directory so it commits atomically with the data it
  *     describes; batch-dir deletion afterwards is best-effort — a
  *     crash between swap and delete leaves dirs the marker already
  *     suppresses, never a double count.
  */
object IndexBatches {

  def tagHash(tag: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(tag.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString

  /** (tagHash, batchId) of a batch dir path, None for foreign files. */
  def batchDirKey(p: String): Option[(String, Long)] = {
    val parts = p.split('/')
    if (parts.length < 2) return None
    try Some((parts(parts.length - 2), parts(parts.length - 1).toLong))
    catch { case _: NumberFormatException => None }
  }

  /** How [[writeDataset]] shapes and places one dataset's rows. */
  private[operators] sealed trait Write

  /** A build or a staged rewrite: overwrite, a partitioned dataset
    * clustered to fanout·slices on (partition, hash(sliceKey) % slices)
    * so every core writes while the layout stays at `slices` files per
    * leaf, a flat one to `fanout` files (`fanout <= 0` = the plan's own
    * partitioning). The fanout is read against `modelDir`, the directory
    * holding the model files the rows were encoded with. */
  private[operators] final case class Clustered(modelDir: String)
      extends Write

  /** A base append: new files inside the standing leaves, no shuffle — a
    * shuffle per small batch costs more than the files it saves. */
  private[operators] case object Append extends Write

  /** An exactly-once micro-batch slot: overwrite (a replay rewrites its
    * slot instead of accreting), each leaf clustered to one file — the
    * upstream frame usually arrives hash-partitioned by id, and an
    * unclustered dynamic-partition write would emit up to tasks × leaves
    * tiny files, each charging a footer read to every later search that
    * unions the live dirs. A flat dataset is one file. */
  private[operators] case object Slot extends Write

  /** The one write every persisted index dataset goes through — build,
    * append, batch slot, fold and recenter staging — shaped by the
    * dataset's [[FusedDataset]] row and partitioned like the base layout
    * so partition pruning prunes every copy. */
  private[operators] def writeDataset(d: FusedDataset, rows: DataFrame,
                                      path: String, how: Write): Unit = {
    val shaped = (how, d.partitionCol) match {
      case (Clustered(modelDir), Some(part)) =>
        val n = math.max(1, d.fanout(rows.sparkSession, modelDir))
        val s = slices(rows.sparkSession, n)
        rows.repartition(n * s, col(part), pmod(hash(col(d.sliceKey)), lit(s)))
      case (Clustered(modelDir), None) =>
        val n = d.fanout(rows.sparkSession, modelDir)
        if (n > 0) rows.repartition(n) else rows
      case (Slot, Some(part)) => rows.repartition(col(part))
      case (Slot, None) => rows.coalesce(1)
      case (Append, _) => rows
    }
    val w = shaped.write.mode(if (how == Append) "append" else "overwrite")
    d.partitionCol.fold(w)(w.partitionBy(_)).parquet(path)
  }

  /** The compaction high-water marker stored inside `base`. The marker
    * is the ONLY thing suppressing already-folded batch dirs whose
    * best-effort delete failed: silently discarding it (or any valid
    * line) would resurrect those batches and double-count rows in every
    * subsequent read. Blank lines are tolerated; any other unparseable
    * line means real corruption — fail loudly rather than serve
    * duplicated data. */
  def readMarker(fs: org.apache.hadoop.fs.FileSystem,
                 base: org.apache.hadoop.fs.Path): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(base, "_compacted_batches")
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").split("\n")
      .filter(_.trim.nonEmpty)
      .map { ln =>
        ln.split("\t", 2) match {
          case Array(t, id) if scala.util.Try(id.trim.toLong).isSuccess =>
            t -> id.trim.toLong
          case _ => throw new IllegalStateException(
            s"corrupt compaction marker $p: unparseable line " +
              s"'${ln.take(80)}' — refusing to treat folded batches as " +
              "live (would double-count); repair or remove the marker")
        }
      }.toMap
    finally in.close()
  }

  /** Write the marker file into `into` (a staged directory about to be
    * swapped in, so the marker commits atomically with the data). */
  def writeMarker(fs: org.apache.hadoop.fs.FileSystem,
                  into: org.apache.hadoop.fs.Path,
                  hw: Map[String, Long]): Unit = {
    if (hw.isEmpty) return
    val out = fs.create(
      new org.apache.hadoop.fs.Path(into, "_compacted_batches"), true)
    try out.write(hw.map { case (t, id) => s"$t\t$id" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Merge standing high-waters with the batch dirs folded this pass. */
  def mergedMarker(fs: org.apache.hadoop.fs.FileSystem,
                   base: org.apache.hadoop.fs.Path,
                   folded: Seq[String]): Map[String, Long] = {
    val f = folded.flatMap(batchDirKey)
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).max }
    (readMarker(fs, base) ++ f)
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).max }
  }

  /** One dataset of a [[foldAndPurge]] pass — the per-kind parameters
    * that used to vary across the hand-copied fused vacuums:
    *
    *   - `name`: the dataset subdirectory under the index dir (and, when
    *     `batchNested`, under each batch dir);
    *   - `columns`: the stored projection, including the partition
    *     column when the layout is partitioned;
    *   - `dedupKeys`: the natural key the fold deduplicates on across
    *     base ∪ batches (empty = the kind's contract has no read-side
    *     dedup — e.g. IVF-flat and phrase postings, where id discipline
    *     is the caller's);
    *   - `partitionCol`/`fanout`/`sliceKey`: the clustered-write
    *     discipline of [[writeDataset]]'s [[Clustered]] shape (`fanout
    *     <= 0` leaves a flat dataset's plan partitioning as-is, for tiny
    *     datasets like BM25 doclens). The fanout is a function of the
    *     session and the model dir, evaluated only by a write: a
    *     cell-partitioned layout reads it from the centroids' footer
    *     ([[centroidFanout]]), which a search never needs;
    *   - `batchNested`: whether a batch dir carries this dataset as a
    *     SUBDIRECTORY (multi-dataset kinds) or IS the dataset
    *     (single-dataset kinds, whose rows land at the batch root). */
  final case class FusedDataset(name: String, columns: Seq[String],
                                dedupKeys: Seq[String],
                                partitionCol: Option[String],
                                fanout: (SparkSession, String) => Int,
                                sliceKey: String,
                                batchNested: Boolean = true)

  /** The fanout of a cell-partitioned dataset: one partition per
    * centroid, counted from the centroids' parquet footers. */
  private[operators] def centroidFanout(spark: SparkSession,
                                        dir: String): Int =
    math.max(1, footerRows(spark, s"$dir/centroids").toInt)

  /** The bound on one [[concurrently]] pass: 6 h covers any plausible
    * rewrite. */
  private val TimeoutSec = 21600L

  /** Run independent Spark job chains concurrently — the staging
    * harness every fused vacuum shares (first written inline in MaxSim;
    * collapsed here when the third copy appeared). Discipline, not the
    * global pool + Await(Inf) shortcut: a DEDICATED pool sized to the
    * task count (blocking Spark actions on ExecutionContext.global
    * starve unrelated callers of the shared pool), a BOUNDED await (a
    * hung Spark job must not hang the maintenance pass forever —
    * [[TimeoutSec]]), and fail-fast sibling CANCELLATION via per-pass
    * job groups (a failure in one task cancels the others' running jobs
    * instead of letting them burn the cluster, and the pool is shut down
    * NOW so no sibling submits another job while the caller unwinds). A
    * single task runs inline — no pool, no job-group ceremony. Bench's
    * staging warm-ups run through it too. */
  private[graft] def concurrently[A](spark: SparkSession, kind: String,
      tasks: Seq[(String, () => A)]): Map[String, A] = {
    if (tasks.size == 1) return Map(tasks.head._1 -> tasks.head._2())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      tasks.size,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-$kind")
        t.setDaemon(true); t
      })
    implicit val ec: scala.concurrent.ExecutionContextExecutorService =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val grp = s"graft-$kind-${java.util.UUID.randomUUID()}"
    try {
      val futures = tasks.map { case (name, f) =>
        scala.concurrent.Future {
          spark.sparkContext.setJobGroup(s"$grp-$name", s"$kind: $name",
            interruptOnCancel = true)
          try name -> f()
          finally spark.sparkContext.clearJobGroup()
        }
      }
      try scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration(TimeoutSec,
          java.util.concurrent.TimeUnit.SECONDS)).toMap
      catch { case e: Throwable =>
        pool.shutdownNow()
        tasks.foreach { case (name, _) =>
          spark.sparkContext.cancelJobGroup(s"$grp-$name") }
        throw e
      }
    } finally pool.shutdown()
  }

  /** The fused fold∖ledger maintenance rewrite every persisted index
    * kind shares ([[PersistedIndex]] is its only caller):
    *
    *   - with `ts = None` this is batch COMPACTION: fold live batch
    *     dirs into each base dataset ((base ∪ batches), deduped on the
    *     kind's natural key) behind crash-safe staged swaps;
    *   - with `ts = Some(ledger)` it is the vacuum: the purge FUSES into
    *     the same fold — (base ∪ batches) dedup ∖ ledger, ONE staged
    *     rewrite per dataset, each byte written once (the old
    *     compact-then-vacuum shape rewrote both datasets twice back to
    *     back — ~45% of a maintenance gate's cost when profiled). The
    *     ledger frame has one column, the stored id column the purge
    *     matches on. With no live batch dirs the fold is a purge of the
    *     base alone, and each PARTITIONED dataset is purged in place by
    *     [[SelectiveVacuum]] instead (only the partitions holding a
    *     tombstoned id are rewritten), concurrently with the staging of
    *     the flat ones; it is neither staged nor swapped here.
    *
    * The natural-key dedup runs only while live batch dirs exist, as the
    * searches' does: the base alone never holds the crash-window
    * duplicates it collapses.
    *
    * Removed-row counting never adds wall-clock. (The tempting
    * alternative — `Dataset.observe` metrics riding the keep write
    * itself — does NOT work on this Spark: a V1 `DataFrameWriter`
    * action completes an Observation with an EMPTY row, because the
    * write's child plan executes under a nested execution whose
    * collected metrics the command-level listener event never sees;
    * verified empirically against 4.1.2 and in
    * `ObservationManager.tryComplete`'s bytecode, which completes any
    * registered observation found in `qe.logical` with `Row.empty` when
    * `qe.observedMetrics` lacks it.) Instead:
    *
    *   - a dataset purged in place returns its own count;
    *   - a staged rewrite WITHOUT dedup gets a genuinely job-free count:
    *     removed = physical merged rows − staged keep rows, both from
    *     parquet FOOTER sums — base ∪ batch footers driver-side (the
    *     same metadata-only discipline as
    *     [[TombstoneLedger.pendingExceeds]]), staged footers bounded by
    *     the write fanout this pass itself chose;
    *   - a staged rewrite WITH dedup needs the post-dedup distinct count,
    *     which no footer can give — that one id-column-pruned count job
    *     runs CONCURRENTLY with the staging rewrites, so its wall-clock
    *     hides entirely under max(rewrites) (the rewrites read strictly
    *     more bytes). The returned count is POST-DEDUP logical rows
    *     removed from the last dataset — when a re-ingested id left
    *     duplicate rows across base and batch dirs, physical rows can
    *     exceed it (the duplicates were collapsing in the fold
    *     regardless of the purge).
    *
    * Staging runs CONCURRENTLY across datasets ([[concurrently]] —
    * wall-clock max(datasets), not the sum, when single rewrites
    * underutilize the cluster); swaps are SEQUENTIAL in `datasets`
    * order with the marker dataset LAST: the merged high-water marker
    * commits INSIDE the last dataset's staged dir (atomic with the data
    * it describes), so a crash between swaps leaves the marker unset
    * and the batch dirs still live, where read-side dedup absorbs the
    * already-folded rows. Batch dirs are deleted only after every swap
    * (best-effort — the marker already suppresses survivors), and the
    * LEDGER IS NOT TOUCHED here: the caller clears exactly the files it
    * enumerated, after this returns (single-enumeration discipline — a
    * tombstone landing mid-pass survives and keeps masking).
    *
    * A full purge (no surviving rows) leaves each dataset in its
    * readable-AND-appendable empty layout: the staged dir is checked
    * for data leaves after the write (a dynamic-partition write of zero
    * rows emits none) and re-staged via the schema-carrying zero-row
    * forms the kinds already use. */
  def foldAndPurge(spark: SparkSession, dir: String, kind: String,
                   live: Seq[String], ts: Option[DataFrame],
                   datasets: Seq[FusedDataset]): Long = {
    require(datasets.nonEmpty && (live.nonEmpty || ts.isDefined),
      "foldAndPurge needs a dataset, and a live batch dir or a ledger")
    val hConf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hConf)
    val tsKeys = ts.fold(Seq.empty[String])(_.columns.toSeq)
    def fanout(d: FusedDataset) = d.fanout(spark, dir)
    def dedupKeys(d: FusedDataset) = if (live.isEmpty) Nil else d.dedupKeys
    def rawMergedOf(d: FusedDataset): DataFrame = {
      val sel = d.columns.map(col)
      live.foldLeft(
          spark.read.parquet(s"$dir/${d.name}").select(sel: _*)) {
        (acc, p) =>
          val bp = if (d.batchNested) s"$p/${d.name}" else p
          acc.union(spark.read.parquet(bp).select(sel: _*))
      }
    }
    def stage(d: FusedDataset): org.apache.hadoop.fs.Path = {
      // purge BEFORE dedup: tsKeys ⊆ dedupKeys for every dedup kind
      // (doc_id ⊆ (term,doc_id)/(doc_id,tok); vec_id/cand_id equal
      // their kinds' keys), so a dedup group is wholly tombstoned or
      // wholly live and the anti-join commutes with dropDuplicates —
      // identical keep set, but the dedup exchange never carries the
      // tombstoned rows (guide §2.3: shuffle fewer bytes; the anti-join
      // is a broadcast against the small ledger, applied at scan side)
      val merged0 = rawMergedOf(d)
      val purged = ts match {
        case None => merged0
        case Some(t) => merged0.join(t, tsKeys, "left_anti")
      }
      val keep =
        if (dedupKeys(d).nonEmpty) purged.dropDuplicates(dedupKeys(d))
        else purged
      val tmp = graft.sources.Formats.stage(fs,
        new org.apache.hadoop.fs.Path(s"$dir/${d.name}"))
      writeDataset(d, keep, tmp.toString, Clustered(dir))
      // full-purge edge, detected from the staged dir itself (the
      // empty-keep decision no longer needs a pre-write count job): a
      // zero-row write emits no data leaves, which would brick later
      // reads on schema inference — re-stage the schema-carrying empty
      // layout (Filter(false) folds to an empty local relation, so the
      // fixup never re-runs the fold)
      val hasData = fs.exists(tmp) && fs.listStatus(tmp).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
      if (!hasData) graft.sources.Formats.writeEmpty(keep, tmp, d.partitionCol)
      tmp
    }
    // with no live batch dirs (so a ledger), a partitioned dataset is
    // purged in place
    def inPlace(d: FusedDataset) = live.isEmpty && d.partitionCol.isDefined
    def purgeInPlace(d: FusedDataset): Long =
      SelectiveVacuum(spark, new org.apache.hadoop.fs.Path(s"$dir/${d.name}"),
        d.partitionCol.get, tsKeys.head, ts.get, slices(spark, fanout(d)))
    val staged = datasets.filterNot(inPlace)
    val last = datasets.last
    val lastStaged = !inPlace(last)
    // the count dataset is the LAST one (the marker carrier — the kinds'
    // documented "returns rows removed" dataset). Staged with dedup, the
    // count is a distinct-id job joining the concurrent harness (hidden
    // under max(rewrites)); staged without dedup it resolves from
    // footers after staging, zero jobs.
    val countTask: Seq[(String, () => Any)] =
      if (ts.isDefined && lastStaged && dedupKeys(last).nonEmpty)
        // semi-join BEFORE the dedup (same commuting argument as the
        // keep path: tsKeys ⊆ dedupKeys, groups are wholly tombstoned
        // or wholly live) — the post-dedup removed count is identical,
        // but the distinct exchange carries only the TOMBSTONED rows'
        // keys instead of re-shuffling the whole merged corpus (the
        // old shape paid a second full-corpus dedup shuffle for a
        // count whose answer only involves the dead rows)
        Seq("__removed" -> (() => rawMergedOf(last)
          .select(last.dedupKeys.map(col): _*)
          .join(ts.get, tsKeys, "left_semi")
          .dropDuplicates(last.dedupKeys)
          .count()))
      else Nil
    val results = concurrently[Any](spark, kind,
      datasets.map(d => d.name -> (() =>
        (if (inPlace(d)) purgeInPlace(d) else stage(d)): Any)) ++
        countTask)
    def tmpOf(d: FusedDataset) =
      results(d.name).asInstanceOf[org.apache.hadoop.fs.Path]
    val removed: Long = ts match {
      case None => 0L
      case Some(_) if !lastStaged || dedupKeys(last).nonEmpty =>
        results(if (lastStaged) "__removed" else last.name)
          .asInstanceOf[Long]
      case Some(_) =>
        // no read-side dedup: physical merged rows minus staged keep
        // rows, both from parquet footers (metadata-only — base and
        // batch footer IO is the same class as the janitor's
        // TombstoneLedger bounds; the staged side is bounded by this
        // pass's own write fanout)
        val mergedRows = parquetRowCount(fs, hConf,
          new org.apache.hadoop.fs.Path(s"$dir/${last.name}")) +
          live.map { p =>
            val bp = if (last.batchNested) s"$p/${last.name}" else p
            parquetRowCount(fs, hConf, new org.apache.hadoop.fs.Path(bp))
          }.sum
        mergedRows - parquetRowCount(fs, hConf, tmpOf(last))
    }
    // an in-place rewrite leaves the marker at its dataset root untouched
    if (lastStaged)
      writeMarker(fs, tmpOf(last), mergedMarker(fs,
        new org.apache.hadoop.fs.Path(s"$dir/${last.name}"), live))
    graft.sources.Formats.commit(spark, staged.map(d =>
      tmpOf(d) -> new org.apache.hadoop.fs.Path(s"$dir/${d.name}")))
    live.foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    removed
  }

  /** Per-partition file fanout of a rewrite over `fanout` partitions:
    * every core writes while the layout stays at this many files per
    * leaf. */
  private[operators] def slices(spark: SparkSession, fanout: Int): Int =
    math.max(1, spark.sparkContext.defaultParallelism / math.max(1, fanout))

  /** Driver-side row count of a tiny metadata dataset (centroid /
    * codebook class — one or a few files by construction) from parquet
    * footers: the r19 replacement for the `read.parquet(...).count()`
    * Spark jobs the vacuum/fold paths used to launch just to derive a
    * write fanout — same value, zero jobs (guide §1.2: don't pay a
    * distributed action for driver-side metadata). */
  private[operators] def footerRows(spark: SparkSession,
                                    path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = p.getFileSystem(conf)
    // every caller derives a write fanout from a by-construction-present
    // metadata dataset — a missing dir means a corrupt index, and
    // proceeding with fanout clamped to 1 would hide it (ADVICE r19;
    // the old read.parquet(...).count() threw AnalysisException here)
    require(fs.exists(p),
      s"footerRows: metadata dataset missing at $path — corrupt index")
    parquetRowCount(fs, conf, p)
  }

  /** Driver-side row count of a parquet dataset from its file FOOTERS —
    * no Spark job; IO is one footer read per leaf file. The walk skips
    * hidden (`.`/`_`-prefixed) path components, matching Spark's reader
    * visibility — a crashed leaf swap's dot-prefixed rename-aside must
    * not count rows a scan would never see. */
  private def parquetRowCount(fs: org.apache.hadoop.fs.FileSystem,
                              conf: org.apache.hadoop.conf.Configuration,
                              root: org.apache.hadoop.fs.Path): Long = {
    if (!fs.exists(root)) return 0L
    def hidden(n: String) = n.startsWith(".") || n.startsWith("_")
    var sum = 0L
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (!hidden(n)) {
          if (st.isDirectory) walk(st.getPath)
          else if (n.endsWith(".parquet")) {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(st.getPath, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try sum += r.getRecordCount finally r.close()
          }
        }
      }
    walk(root)
    sum
  }

  /** Batch directories not yet folded into `<dir>/<baseDataset>`. */
  def live(spark: SparkSession, dir: String,
           baseDataset: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/batches")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val hw = readMarker(fs,
      new org.apache.hadoop.fs.Path(s"$dir/$baseDataset"))
    fs.listStatus(root).filter(_.isDirectory).toSeq.flatMap { tagDir =>
      fs.listStatus(tagDir.getPath).filter(_.isDirectory).toSeq
        .map(_.getPath.toString)
        .filter(p => batchDirKey(p) match {
          case Some((t, id)) => hw.get(t).forall(id > _)
          case None => false
        })
    }.sorted
  }
}
