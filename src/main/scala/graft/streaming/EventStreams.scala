package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** Structured Streaming pipelines over the events stream — an extension
  * beyond reference parity (the reference is batch-only, SURVEY.md §7.4);
  * batch twins are oracled in EventQueries.
  *
  * Scale design: watermark + tumbling windows keep state bounded to
  * (windows in flight × group cardinality); sessionization state is one
  * small case class per active user, dropped on timeout — no unbounded
  * driver or executor state.
  */
object EventStreams {

  /** Tumbling 1-hour rollup with a 2-hour watermark — the streaming twin of
    * q_events_window (same groupBy(window, event_type) agg). */
  def hourlyRollup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("cnt"), col("total_value"))

  /** Tumbling-window approximate distinct users — the streaming form of
    * the q_sketch_hll contract. Per-window state is ONE fixed-size HLL
    * sketch buffer (KBs) regardless of user cardinality, vs. an exact
    * distinct whose state grows with users-per-window — the difference
    * between bounded and unbounded streaming state at 100 TB/day. The
    * sketch buffer serializes into the state store and merges across
    * micro-batches exactly like any partial aggregate. */
  def hourlyDistinctUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id))")
        .as("approx_users"),
        count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"), col("approx_users"),
        col("n_events"))

  case class Event(user_id: Long, ts: Timestamp, event_type: String,
                   value: Double)
  case class SessionState(start: Long, lastSeen: Long, events: Int,
                          total: Double)
  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Int,
                     total_value: Double)

  /** Gap-based sessionization (30-min inactivity) via
    * flatMapGroupsWithState — custom per-key state, emitted on timeout.
    * State is O(active users); the shuffle key is user_id. Ties at one
    * timestamp fold in arrival order; use [[sessionizeKeyed]] when the
    * result must be hash-reproducible under ties. */
  def sessionize(events: Dataset[Event],
                 gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    sessionizeKeyed(
      events.map(e => KeyedEvent(e.user_id, 0L, e.ts, e.value)),
      gapMs / 1000L)
  }

  case class KeyedEvent(user_id: Long, event_id: Long, ts: Timestamp,
                        value: Double)

  /** [[sessionize]] under the batch operator's exact contract, for the
    * driver replay gate: a TOTAL per-key event order — (ts, event_id) —
    * so the per-session value fold is deterministic even when timestamps
    * tie (IEEE addition commutes but does not associate; an unordered
    * fold is a hash hazard), SECOND-granularity gap tests via truncating
    * division (matching Sessionize.assign's cast arithmetic and DuckDB
    * date_diff boundary counting), and microsecond-exact session bounds
    * carried through the state. */
  def sessionizeKeyed(events: Dataset[KeyedEvent],
                      gapSeconds: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._

    // Timestamp <-> microseconds, exactly (getTime alone truncates to
    // millis — the events fixture carries real microsecond components,
    // and a session bound off by sub-millis fails the driver hash).
    // Local defs: they compile into the state closure instead of
    // dragging the (non-serializable) enclosing module along.
    def usOf(t: Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    def tsOf(us: Long): Timestamp = {
      val t = new Timestamp(us / 1000000L * 1000L)
      t.setNanos((us % 1000000L).toInt * 1000)
      t
    }

    def fn(userId: Long, rows: Iterator[KeyedEvent],
           state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, tsOf(s.start), tsOf(s.lastSeen),
          s.events, s.total))
      } else {
        var closed = List.empty[Session]
        // Total event-time order within the batch; state carries across
        // batches (a session spanning a micro-batch boundary merges).
        rows.toSeq.sortBy(e => (usOf(e.ts), e.event_id)).foreach { e =>
          val t = usOf(e.ts)
          state.getOption match {
            case Some(s)
                if t / 1000000L - s.lastSeen / 1000000L <= gapSeconds =>
              state.update(SessionState(s.start, t, s.events + 1,
                s.total + e.value))
            case Some(s) =>
              closed ::= Session(userId, tsOf(s.start), tsOf(s.lastSeen),
                s.events, s.total)
              state.update(SessionState(t, t, 1, e.value))
            case None =>
              state.update(SessionState(t, t, 1, e.value))
          }
        }
        // the supremum of event times that could still continue this
        // session (second-truncated gap): time out only past it
        state.setTimeoutTimestamp(
          (state.get.lastSeen / 1000000L + gapSeconds + 1L) * 1000L)
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming exact-dedup: drop events whose id reappears within the
    * watermark horizon — the streaming twin of Dedup.exactDuplicates.
    * State is bounded by the watermark (ids older than the horizon are
    * evicted), so it survives unbounded streams. */
  def dedupWithinWatermark(events: DataFrame, idCols: Seq[String],
                           watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** Streaming CONTENT dedup: drop documents whose normalized-text
    * fingerprint (md5 after lowercase/punctuation/whitespace collapse —
    * the same `TextFunctions.normFingerprint` the batch
    * `Dedup.exactDuplicates` keys on) already arrived inside the
    * watermark horizon. This is the streaming ingest gate of a curation
    * pipeline: a crawl emitting the same page under different ids/urls is
    * collapsed at arrival, before anything downstream pays for it.
    * Fingerprinting is scan-local; state holds one fingerprint per
    * distinct document and is evicted past the horizon, so it survives
    * unbounded streams. */
  def dedupByFingerprint(docs: DataFrame, textCol: String,
                         watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp",
        graft.functions.TextFunctions.normFingerprint(col(textCol)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Batch REPLAY of [[dedupByFingerprint]] — the auditable twin: over a
    * bounded table with an explicit arrival order, keep exactly the
    * FIRST row per normalized-content fingerprint (row_number = 1 in
    * `arrivalCols` order — supply a total order; the id column as the
    * last tiebreak makes the replay deterministic). This is what the
    * streaming gate's semantics reduce to on a replayable log, so it
    * both oracle-checks the streaming path and serves as the backfill
    * form (reprocess a day's crawl with identical keep decisions).
    *
    * Scale shape: one window partitioned by fingerprint; the rn = 1
    * filter plans a partial WindowGroupLimit below the exchange, so a
    * fingerprint shared by a million crawl copies forwards one row per
    * map task, never a hot reducer. Output: input columns plus `fp`. */
  def dedupByFingerprintReplay(docs: DataFrame, textCol: String,
                               arrivalCols: Seq[String]): DataFrame = {
    require(arrivalCols.nonEmpty, "arrivalCols must supply a total order")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("fp").orderBy(arrivalCols.map(col): _*)
    docs
      .withColumn("fp",
        graft.functions.TextFunctions.normFingerprint(col(textCol)))
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Batch REPLAY of Spark's global watermark accounting: which rows of
    * a replayable log would a streaming query with `withWatermark(ts,
    * delay)` treat as LATE (event time strictly below the watermark at
    * arrival)? The watermark is what Structured Streaming maintains —
    * the max event time seen over the arrival prefix, minus the delay —
    * with arrival order made explicit (`orderCol`, a total order), so
    * the replay is deterministic and engine-checkable. Backfills use
    * this to reproduce the exact drop set of the live stream.
    *
    * Scale shape: the running max over a global arrival order is the
    * same cliff as a global running sum — a windowed `max() OVER (ORDER
    * BY ...)` collapses to ONE partition. This replays it as the
    * distributed prefix scan of Packing.packByBudget: range-repartition
    * on the arrival order, per-partition maxes (one long per partition
    * to the driver), broadcast exclusive prefix maxes, partition-local
    * running max. Every row gets the exact global watermark without a
    * single-task window.
    *
    * @param tsUsCol event time in MICROSECONDS (`unix_micros(ts)`) —
    *                integer math keeps both engines bit-exact
    * @return input columns plus `late` */
  def watermarkLateReplay(events: DataFrame, orderCol: String,
                          tsUsCol: String, delayUs: Long,
                          numPartitions: Option[Int] = None): DataFrame = {
    require(delayUs >= 0, s"watermark delay must be non-negative: $delayUs")
    val spark = events.sparkSession
    val parts = numPartitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    val sorted = events.repartitionByRange(parts, col(orderCol))
      .sortWithinPartitions(col(orderCol))
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tIdx = sorted.schema.fieldIndex(tsUsCol)
    // one long per partition to the driver — bounded by partition count
    val partMax = rdd.mapPartitionsWithIndex { (pid, it) =>
      var m = Long.MinValue
      it.foreach(r => m = math.max(m, r.getLong(tIdx)))
      Iterator((pid, m))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partMax.scanLeft(Long.MinValue)(math.max)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        "late", org.apache.spark.sql.types.BooleanType, nullable = false))
    val flagged = rdd.mapPartitionsWithIndex { (pid, it) =>
      var wm = offsets(pid) // max event time BEFORE this row
      it.map { r =>
        val ts = r.getLong(tIdx)
        val late = wm != Long.MinValue && ts < wm - delayUs
        wm = math.max(wm, ts)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ late)
      }
    }
    spark.createDataFrame(flagged, schema)
  }

  /** Stream-static enrichment: join the stream against a batch dimension
    * table — the canonical streaming-lookup shape (event → hub/satellite
    * attributes). The static side is re-planned per micro-batch, so a
    * dimension refreshed in place is picked up without restarting the
    * query; `broadcast` keeps the stream side shuffle-free (dimensions are
    * hub-sized — for a dimension too big to broadcast, pre-bucket both
    * sides instead). */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
             joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)

  /** Stream-stream interval join: right events correlated to the left
    * event of the same key that they follow within `within` — e.g. every
    * purchase within an hour of the click that led to it. Both sides are
    * watermarked and the time-range condition lets Spark evict buffered
    * state past `watermark + within`, so state stays bounded on unbounded
    * streams (an unconstrained stream-stream join would buffer forever).
    * Column names must be disjoint between the two sides (the equi key is
    * passed per side).
    */
  def joinWithin(left: DataFrame, leftKey: String, leftTs: String,
                 right: DataFrame, rightKey: String, rightTs: String,
                 watermark: String, within: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) &&
          col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"))

  /** Streaming duplicate-graph maintenance: a stream of near-dup PAIRS
    * (from an incremental miner — Dedup.incrementalLshPairs per batch)
    * folds into a standing (id, canonical) labels table via
    * [[graft.operators.ConnectedComponents.incrementalCanonicalize]] —
    * each micro-batch pays O(batch) propagation, the labels table is
    * rewritten once per batch through the crash-safe directory swap, and
    * after any prefix of batches the table equals a full recompute over
    * every pair seen (the incremental operator's pinned equivalence,
    * exercised across REAL micro-batch boundaries in StreamingSpec).
    * This is the missing streaming leg of the dedup stack: pairs arrive
    * continuously, dedup DECISIONS stay current continuously. */
  def componentsSink(pairs: DataFrame, tablePath: String,
                     checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{ConnectedComponents, OperatorCaches}
    batchSink(pairs, checkpointDir) { (batch, _) =>
      val spark = batch.sparkSession
      val dir = new java.io.File(tablePath)
      val labels =
        if (dir.exists()) spark.read.parquet(tablePath)
        else spark.emptyDataFrame
          .select(lit(0L).as("id"), lit(0L).as("canonical")).limit(0)
      val updated = ConnectedComponents.incrementalCanonicalize(labels, batch)
      graft.sources.Formats.publish(spark,
        new org.apache.hadoop.fs.Path(tablePath))(staged =>
        updated.write.mode("overwrite").parquet(staged.toString))
      // the batch's session is the stream's own clone, never adopted, so
      // this releases exactly the pins this batch made
      OperatorCaches.releaseAll(spark)
    }
  }

  /** Streaming ingestion into any persisted index: each micro-batch
    * lands through `index.appendBatchDir` in a batch-scoped directory
    * under the index, written with OVERWRITE, so foreachBatch's
    * at-least-once replay rewrites the same location instead of
    * double-storing the batch — exactly-once by idempotent placement,
    * no marker on the hot path. Quantized kinds encode against their
    * STANDING model (deliberately not refit — recentering is the
    * out-of-band refresh). The kind's search unions live batch dirs
    * transparently; `compactIndexBatches` folds them into the base
    * layout on whatever cadence suits. State is O(0) — the index IS
    * the state. */
  def indexSink(index: graft.operators.PersistedIndex, df: DataFrame,
                indexDir: String, checkpointDir: Option[String] = None,
                tagOverride: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(df, checkpointDir)(index.appendBatchDir(_, indexDir,
      batchTag(checkpointDir, tagOverride), _))

  /** The scaffold every sink runs through: optional checkpoint, Append
    * mode, `foreachBatch` with the empty-batch skip, AvailableNow
    * trigger. `perBatch` gets each non-empty micro-batch and its id. */
  private def batchSink(df: DataFrame, checkpointDir: Option[String])
      (perBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = checkpointDir.fold(df.writeStream)(
      df.writeStream.option("checkpointLocation", _))
    writer.outputMode(OutputMode.Append)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
          if (!batch.isEmpty) perBatch(batch.toDF(), batchId)
          ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** The tag that scopes the index sinks' batch placement: normally the
    * checkpoint location (the identity that survives a restart);
    * un-checkpointed callers running several one-shot queries against
    * one target pass distinct tagOverrides so their batch-0 locations
    * don't collide. */
  private def batchTag(checkpointDir: Option[String],
                       tagOverride: Option[String]): String =
    tagOverride.orElse(checkpointDir).getOrElse("uncheckpointed")

  /** Streaming deletion for any persisted index — every kind (IVF,
    * IVF-PQ, sketch, MaxSim tokens, BM25, phrase) carries its tombstone
    * ledger at `<indexDir>/tombstones` with the shared [[graft.operators
    * .TombstoneLedger]] contract, so one sink serves all six: each
    * micro-batch of delete-request ids (a single-column frame, any
    * name — the ledger normalizes to `id` and each search path renames
    * at read) lands in a batch-scoped ledger dataset (overwrite by
    * (tag, batchId), exactly-once by placement); the kind's search
    * masks the ids immediately and its vacuum makes removals physical
    * out-of-band. */
  def tombstoneSink(ids: DataFrame, indexDir: String,
                    checkpointDir: Option[String] = None,
                    tagOverride: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(ids, checkpointDir)(graft.operators.TombstoneLedger.appendBatch(
      _, s"$indexDir/tombstones", batchTag(checkpointDir, tagOverride), _))

  /** Streaming corpus-drift maintenance: each micro-batch of documents
    * aggregates to token counts
    * ([[graft.operators.DriftMonitor.tokenCounts]] — slice membership
    * evaluated per arriving row) and folds token-wise into the standing
    * counts table at `tablePath`
    * ([[graft.operators.DriftMonitor.mergeCounts]]), committed through
    * the same crash-safe directory swap as the other sinks. State is
    * O(vocabulary), never O(stream); after any prefix of batches the
    * table equals a full recompute over every document seen (the
    * merge-fold equivalence pinned in DriftMonitorSpec, exercised here
    * across REAL micro-batch boundaries), so the
    * `jsFromCounts`/drift readouts stay current continuously — the
    * streaming leg of the ingestion guardrail. */
  def driftSink(docs: DataFrame, textCol: String,
                slicePred: org.apache.spark.sql.Column, tablePath: String,
                checkpointDir: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(docs, checkpointDir)(
      driftFold(_, _, textCol, slicePred, tablePath, checkpointDir))

  /** One [[driftSink]] micro-batch fold, idempotent under foreachBatch's
    * at-least-once contract: a `_committed_batch` marker (query tag +
    * highest batchId folded in) is written INSIDE the swap directory, so
    * it commits atomically with the counts it describes. A batch
    * replayed after a crash between the directory swap and the
    * checkpoint commit sees marker >= its own id and skips — without
    * this, the replay folds its token counts in a second time and
    * permanently skews every downstream drift/JS readout. (The other
    * sinks recompute or upsert per key, so replay is benign there; a
    * merge-fold is the one shape that needs the marker.)
    *
    * The marker is scoped by `queryTag` — the checkpoint location,
    * which is exactly the identity that survives a restart: batchIds
    * restart from 0 for every UN-checkpointed query (which can never
    * replay, having nothing to restart from), so only a matching tag
    * may suppress a fold. */
  def driftFold(batch: DataFrame, batchId: Long, textCol: String,
                slicePred: org.apache.spark.sql.Column, tablePath: String,
                queryTag: Option[String]): Unit = {
    import graft.operators.DriftMonitor
    val spark = batch.sparkSession
    val livePath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = livePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = fs.exists(livePath)
    if (live && queryTag.exists(t => readBatchMarker(fs, livePath)
        .exists { case (tag, id) => tag == t && id >= batchId })) return
    val counts = DriftMonitor.tokenCounts(batch, textCol, slicePred)
    val merged =
      if (live) DriftMonitor.mergeCounts(spark.read.parquet(tablePath),
        counts)
      else counts
    graft.sources.Formats.publish(spark, livePath) { staged =>
      merged.write.mode("overwrite").parquet(staged.toString)
      writeBatchMarker(fs, staged, queryTag.getOrElse(""), batchId)
    }
  }

  /** `_committed_batch` sits behind Spark's hidden-file convention
    * (leading underscore), so the parquet scan of the counts table never
    * sees it. Two lines: query tag, batchId. Absent or unreadable →
    * None (pre-marker tables never suppress a fold). */
  private def readBatchMarker(fs: org.apache.hadoop.fs.FileSystem,
                              dir: org.apache.hadoop.fs.Path)
      : Option[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_committed_batch")
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val lines = new String(in.readAllBytes(), "UTF-8").split("\n", 2)
      if (lines.length < 2) None
      else Some((lines(0), lines(1).trim.toLong))
    } catch { case _: NumberFormatException => None }
    finally in.close()
  }

  private def writeBatchMarker(fs: org.apache.hadoop.fs.FileSystem,
                               dir: org.apache.hadoop.fs.Path,
                               tag: String, id: Long): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(dir, "_committed_batch"), true)
    try out.write(s"$tag\n$id".getBytes("UTF-8"))
    finally out.close()
  }

  /** Streaming SCD2 sink: historize a stream of dimension updates into a
    * parquet warehouse table via `foreachBatch` + the batch merge engine
    * ([[graft.engine.Scd2.merge]]) — the streaming upsert path that turns
    * a CDC/update feed into a versioned dimension without a rewrite job.
    *
    * Each micro-batch: dedup the batch to its LATEST row per key (ordered
    * by `orderCol` — a batch can carry several updates for one key), read
    * the current table, run the same close-out/insert merge the batch
    * pipeline uses, and publish the whole table directory crash-safely
    * ([[graft.sources.Formats.publish]] — stage, rename aside, rename in,
    * drop; no delete-before-rename window that could lose the
    * dimension). One merge per micro-batch, and each micro-batch writes
    * the WHOLE merged table to the stage before the swap: cost O(table),
    * not O(open ∪ batch). The partition-incremental path, which rewrites
    * only the open and the closing partitions, is the batch
    * pipeline's `Warehouse.putScd2`.
    *
    * `checkpointDir` persists stream progress so a restarted query resumes
    * from the last committed batch instead of reprocessing the source;
    * production callers should always pass it (the merge itself is
    * idempotent per (key, loadTs), so a replayed batch converges, but the
    * checkpoint is what bounds the replay).
    *
    * Returns the started query; callers own its lifecycle.
    */
  def scd2Sink(updates: DataFrame, tablePath: String, pk: Seq[String],
               attrs: Seq[String], orderCol: String,
               checkpointDir: Option[String] = None): org.apache.spark.sql
      .streaming.StreamingQuery = {
    import graft.engine.Scd2
    import org.apache.spark.sql.expressions.Window
    batchSink(updates, checkpointDir) { (batch, _) =>
      val spark = batch.sparkSession
      val w = Window.partitionBy(pk.map(col): _*)
        .orderBy(col(orderCol).desc)
      val deduped = batch
        .withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
      val latest = deduped.select((pk ++ attrs).map(col): _*)
      val loadTs = deduped.agg(max(orderCol)).head.get(0).toString
      val dir = new java.io.File(tablePath)
      val target =
        if (dir.exists()) spark.read.parquet(tablePath)
        else Scd2.stamp(latest.limit(0), loadTs)
      val merged = Scd2.merge(target, latest, pk, attrs, loadTs)
      // materialize before the swap — merged still reads tablePath
      graft.sources.Formats.publish(spark,
        new org.apache.hadoop.fs.Path(tablePath))(staged =>
        merged.write.mode("overwrite").parquet(staged.toString))
    }
  }

  /** Convenience: run a streaming DataFrame to an in-memory sink and block
    * until all available data is processed (dev/test harness). */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                  outputMode: OutputMode = OutputMode.Append): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode).trigger(
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
