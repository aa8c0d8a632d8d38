package graft.operators

import org.apache.spark.sql.SparkSession

/** The consumer [[IndexStats]] was missing: a cadence maintenance pass
  * that turns the readout into action. Every persisted index kind
  * accretes live streaming batch dirs (each one a per-search union +
  * dedup tax) and pending tombstones (each vacuum deferral a per-search
  * anti-join over a growing ledger) — at 100 TB an index nobody
  * maintains degrades EVERY search it serves. This pass runs
  * OUT-OF-BAND on a schedule (cron, an orchestrator step, a warehouse
  * janitor) — deliberately NOT inside the ingesting stream's
  * foreachBatch, where a compaction rewrite would serialize the stream
  * behind an O(index)-shaped job and a slow vacuum would back-pressure
  * ingestion; the streaming sinks stay O(batch) and maintenance debt is
  * paid on the side, which is the only shape that holds when the index
  * is 100 TB and the micro-batch is 100 MB.
  *
  * Generic over the six index kinds: each [[PersistedIndex]] names its
  * datasets and marker dataset and owns its compact/vacuum; thresholds
  * come from the caller's policy. A due VACUUM subsumes a due compaction
  * (every kind's vacuum folds live batch dirs first, by the
  * resurface-ordering contract), so the pass never runs both jobs. */
object IndexMaintenance {

  /** The registry: every persisted index kind in this library, by name. */
  val kinds: Map[String, PersistedIndex] =
    Seq(Similarity, IvfPq, SketchIndex, MaxSim, Bm25, PhraseSearch)
      .map(k => k.kind -> k).toMap

  /** What one pass did: which debts were due, and what was paid. */
  final case class Report(compactionDue: Boolean, vacuumDue: Boolean,
                          compacted: Boolean, vacuumedRows: Long)

  /** One cadence pass over one index: consult [[IndexStats.due]]
    * (a metadata listing plus one tiny ledger count — no data read
    * when nothing is due, so an idle pass is near-free) and run
    * exactly the maintenance that is due. Search results are
    * IDENTICAL before and after by each kind's contracts (compaction
    * folds what reads already union; vacuum makes physical what the
    * ledger already masks) — the maintenance gate pins that
    * equivalence against a hash-exact oracle. */
  def maintain(spark: SparkSession, dir: String, kind: String,
               maxLiveBatches: Int = 16,
               maxTombstones: Long = 100000L): Report = {
    val k = kinds.getOrElse(kind, throw new IllegalArgumentException(
      s"unknown index kind '$kind' — one of ${kinds.keys.toSeq.sorted}"))
    val (compactionDue, vacuumDue) = IndexStats.due(spark, dir,
      k.datasets, maxLiveBatches, maxTombstones,
      markerDataset = Some(k.marker))
    if (vacuumDue) // subsumes compaction: every vacuum folds batches first
      Report(compactionDue, vacuumDue, compacted = compactionDue,
        vacuumedRows = k.vacuumIndex(spark, dir))
    else if (compactionDue) {
      k.compactIndexBatches(spark, dir)
      Report(compactionDue, vacuumDue, compacted = true, vacuumedRows = 0L)
    } else Report(compactionDue, vacuumDue,
      compacted = false, vacuumedRows = 0L)
  }

  /** What one warehouse sweep touched: every index dir found, its
    * detected kind, and the pass's [[Report]]. */
  final case class SweepEntry(dir: String, kind: String, report: Report)

  /** Detect which registry kind owns the index at `path` from its
    * dataset layout: the kind with the most datasets, among those whose
    * datasets are all present (bm25's {postings, doclens} beats phrase's
    * {postings}). Detection needs only a directory listing — no marker
    * file, no data read, and pre-existing indexes written by any version
    * of the six builders are sweepable as-is. Returns None for a
    * directory that is not an index (a warehouse root legitimately
    * holds other datasets). */
  def detectKind(fs: org.apache.hadoop.fs.FileSystem,
                 path: org.apache.hadoop.fs.Path): Option[String] = {
    val names = fs.listStatus(path).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    kinds.values.filter(_.datasets.forall(names))
      .maxByOption(_.datasets.size).map(_.kind)
  }

  /** The warehouse janitor: one sweep over a root directory holding
    * MANY persisted indexes pays every index's due debt under one
    * policy — the 100 TB deployment shape (a serving tier hosts dozens
    * of indexes; nobody schedules a cron entry per index). Walks the
    * root's direct children, detects each index's kind from its layout
    * ([[detectKind]]), and runs [[maintain]] on each; children that are
    * not indexes (other warehouse datasets, `_`/`.`-prefixed metadata)
    * are skipped. Passes run SEQUENTIALLY by design: the janitor is the
    * out-of-band, off-peak path, and one index's O(affected partitions)
    * rewrite at a time bounds the cluster resources maintenance can
    * take from serving — wall-clock is not the janitor's contract,
    * bounded interference is. Returns one [[SweepEntry]] per index
    * found (idle entries included, so the caller can alert on an index
    * that is never due yet keeps growing — a threshold misconfig). */
  def sweep(spark: SparkSession, warehouseRoot: String,
            maxLiveBatches: Int = 16,
            maxTombstones: Long = 100000L): Seq[SweepEntry] = {
    val root = new org.apache.hadoop.fs.Path(warehouseRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName.toString) // deterministic sweep order
      .toSeq
      .flatMap { p =>
        detectKind(fs, p).map { kind =>
          SweepEntry(p.toString, kind,
            maintain(spark, p.toString, kind, maxLiveBatches,
              maxTombstones))
        }
      }
  }
}
