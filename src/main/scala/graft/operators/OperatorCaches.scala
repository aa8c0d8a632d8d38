package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Root-session resolution for cache/checkpoint tracking: gates may run
  * under a `newSession()` CHILD session (the scoped-SQLConf pattern —
  * shared SparkContext, private conf), but their pinned blocks must
  * release with the PARENT the driver calls `releaseAll` on.
  * [[adopt]] records that lineage; [[rootOf]] follows it to a fixpoint.
  * Links are weak-keyed by the child, so a discarded scoped session
  * never outlives its garbage collection here. */
private[operators] object SessionLineage {
  private val parents = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, SparkSession]())

  def adopt(child: SparkSession, root: SparkSession): Unit =
    if (child ne root) parents.put(child, root)

  def rootOf(s: SparkSession): SparkSession = {
    var cur = s
    var hops = 0
    while (hops < 64) {
      val p = parents.get(cur)
      if (p == null || (p eq cur)) return cur
      cur = p
      hops += 1
    }
    cur
  }
}

/** The one pass-scoped pin registry. Every per-call intermediate an
  * operator or a query pipeline pins — the iterative operators' persisted
  * frames and lineage-truncating checkpoints ([[Dedup]], [[Graph]],
  * [[GlobalRank]], [[ConnectedComponents]], [[SuffixArray]]), staging
  * frames a pipeline re-reads, pre-mutation search snapshots — goes
  * through [[cache]], [[checkpointed]] or [[checkpointedLazy]], which
  * register it under the ROOT session, and [[releaseAll]] unpins all of
  * it — or, inside a [[releasing]] block, under that block, which unpins
  * it when the block ends. These intermediates back lazily returned
  * results, so they cannot unpersist eagerly; long-lived sessions running
  * many independent passes — the driver's Verify/Bench sessions run 300+
  * gates back to back — call [[releaseAll]] after consuming each pass, or
  * the CacheManager's pinned blocks crowd the executors' storage memory
  * (MEMORY_AND_DISK degrades to disk churn under that pressure, read as
  * random straggler queries). Cached frames recompute if re-used after
  * release; checkpointed snapshots do NOT — they are pass-scoped.
  * Deliberately does NOT touch the cross-gate memo
  * (`graft.queries.SessionMemo`) — those frames are shared across
  * queries by design and pay for themselves. */
object OperatorCaches {

  private type Queue[A] = java.util.concurrent.ConcurrentLinkedQueue[A]

  /** One set of pins: persisted frames, and checkpoint RDDs held by
    * WeakReference — the set must not be the thing keeping a checkpoint
    * RDD alive: a caller that never releases (an external library user)
    * drops their result frame, the RDD becomes unreachable, and
    * ContextCleaner reclaims its blocks on GC exactly as if the tracking
    * were absent. [[release]] unpins whatever is still alive, eagerly. */
  private final class Pins {
    val frames = new Queue[DataFrame]()
    val rdds =
      new Queue[java.lang.ref.WeakReference[org.apache.spark.rdd.RDD[_]]]()

    def release(): Unit = {
      var df = frames.poll()
      while (df != null) { df.unpersist(blocking = false); df = frames.poll() }
      var ref = rdds.poll()
      while (ref != null) {
        val rdd = ref.get()
        if (rdd != null) rdd.unpersist(blocking = false)
        ref = rdds.poll()
      }
    }
  }

  // keyed by ROOT SparkSession (SessionLineage): gates may checkpoint
  // under a scoped child session (s.newSession() for a low-fan-out
  // SQLConf, registered via adoptSession), and releaseAll on the parent
  // must still reach those pins — but two INDEPENDENT root sessions on
  // one SparkContext must never release each other's in-flight
  // non-recomputable snapshots.
  private val sessions = scala.collection.concurrent.TrieMap
    .empty[SparkSession, Pins]

  // the pins of the [[releasing]] block running on this thread, if any
  private val scope = new ThreadLocal[Pins]

  private def pinsOf(s: SparkSession): Pins = Option(scope.get).getOrElse(
    sessions.getOrElseUpdate(SessionLineage.rootOf(s), new Pins))

  /** Runs `body` and then unpins exactly what it pinned on this thread:
    * its [[cache]], [[checkpointed]] and [[checkpointedLazy]] calls
    * register with this block, not with the session, so pins taken
    * earlier by the caller — or concurrently by other threads — survive
    * it, and [[releaseAll]] does not reach into it. For work whose
    * results are fully materialized elsewhere once `body` returns (a
    * warehouse load writes each table before its block ends). */
  def releasing[A](body: => A): A = {
    val outer = scope.get
    val pins = new Pins
    scope.set(pins)
    try body
    finally {
      scope.set(outer)
      pins.release()
    }
  }

  /** Register a `newSession()` CHILD as releasing with `root`: caches
    * and checkpoints the child's queries pin are unpinned by
    * `releaseAll(root)` — and ONLY by it; an independent sibling root
    * session on the same SparkContext can never release them. Call this
    * right after creating a scoped-SQLConf child session whose work
    * routes through this registry. */
  def adoptSession(child: SparkSession, root: SparkSession): Unit =
    SessionLineage.adopt(child, root)

  /** persist(MEMORY_AND_DISK) + remember, so [[releaseAll]] can unpin
    * later. Strong references by design — a persisted plan lives in the
    * shared CacheManager until an explicit unpersist, so GC alone could
    * never release it; release-then-reuse recomputes. */
  def cache(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinsOf(df.sparkSession).frames.add(p)
    p
  }

  /** Eager localCheckpoint + remember the pinned checkpoint RDD, so
    * [[releaseAll]] can unpin it later. localCheckpoint severs lineage —
    * unlike [[cache]] frames the result CANNOT recompute after release,
    * so this is for snapshots that are consumed within the pass and must
    * not survive it (pre-mutation search results over an index dir the
    * same gate then vacuums, streaming temp views dropped in `finally`,
    * an iterative operator's lineage truncation). */
  def checkpointed(df: DataFrame): DataFrame = checkpoint(df, eager = true)

  /** [[checkpointed]] with LAZY materialization: the snapshot pins on
    * the caller's FIRST action over it instead of paying a dedicated
    * materialization job. Same release tracking and same
    * cannot-recompute-after-release contract; the caller owns running
    * an action before any input mutation it needs severing from (the
    * MaxSim search fuses its candidate-id collect with the
    * materialization this way — one job instead of two, severed before
    * the search returns). */
  def checkpointedLazy(df: DataFrame): DataFrame =
    checkpoint(df, eager = false)

  /** `Dataset.localCheckpoint` pins its RDD outside the CacheManager, so
    * `df.unpersist` never reaches it; we reach through the LogicalRDD the
    * checkpoint returns and fail LOUDLY if the plan shape ever stops
    * matching (a silent fallback would reintroduce the exact per-gate
    * leak class this registry exists to close). */
  private def checkpoint(df: DataFrame, eager: Boolean): DataFrame = {
    val cp = df.localCheckpoint(eager)
    val rdd = cp.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case other => throw new IllegalStateException(
        "localCheckpoint no longer yields a LogicalRDD plan — the " +
          s"tracked-checkpoint release seam cannot unpin it: $other")
    }
    pinsOf(cp.sparkSession).rdds.add(new java.lang.ref.WeakReference(rdd))
    cp
  }

  /** Unpersist every intermediate pinned for `s` (resolved to its root
    * session — a scoped child's pins release with the parent; an
    * independent sibling session's never do). Safe at any point AFTER a
    * pass's results are consumed. */
  def releaseAll(s: SparkSession): Unit =
    sessions.remove(SessionLineage.rootOf(s)).foreach(_.release())
}
