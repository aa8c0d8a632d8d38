package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one cross-gate memo: derived values several gates share — the
  * vault hubs, links and satellites, the corpus fingerprints and spans,
  * the ANN fits and exact baselines — built once per (session, sf dir,
  * name) and reused by every gate after. The catalog-level analog of the
  * reference's temp staging tables. Memoizing is exact because every
  * builder is deterministic over (session, dir).
  *
  * Keys hold the session strongly: a memoized DataFrame references its
  * session anyway, so a weak key could never be collected while its
  * value lives. [[evict]] is the release. No lock is held while a value
  * builds, so builds nest (a link frame builds its hubs) and distinct
  * keys build concurrently (Bench's three family warm-ups overlap). Two
  * racing builds of ONE key both run; the first stored wins and the
  * loser's persisted frame is released.
  *
  * Per-pass pins belong to `graft.operators.OperatorCaches` instead;
  * its `releaseAll` never touches this memo. */
object SessionMemo {

  /** `persisted`: the memo pinned it ([[frame]]) and [[evict]] unpins it. */
  private final class Entry(val value: Any, val persisted: Boolean)

  private val memo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Entry]

  private def memoize(s: SparkSession, dir: String, name: String)
                     (build: => Entry): Any = {
    val key = (s, dir, name)
    memo.get(key).getOrElse {
      val e = build
      memo.putIfAbsent(key, e) match {
        case Some(winner) => release(e); winner
        case None => e
      }
    }.value
  }

  private def release(e: Entry): Unit =
    if (e.persisted) e.value.asInstanceOf[DataFrame].unpersist(blocking = false)

  /** The memoized `name` value for (`s`, `dir`). The builder owns any
    * materialization (a localCheckpoint, a driver-local fit). */
  def apply[V](s: SparkSession, dir: String, name: String)(build: => V): V =
    memoize(s, dir, name)(new Entry(build, persisted = false))
      .asInstanceOf[V]

  /** The memoized `name` frame for (`s`, `dir`), persisted
    * MEMORY_AND_DISK (lazily: the first action over it fills the blocks). */
  def frame(s: SparkSession, dir: String, name: String)
           (build: => DataFrame): DataFrame =
    memoize(s, dir, name)(new Entry(
      build.persist(StorageLevel.MEMORY_AND_DISK), persisted = true))
      .asInstanceOf[DataFrame]

  /** Forget every entry `s` holds (all dirs), unpersisting the
    * [[frame]] ones; the next call rebuilds. Other sessions' entries
    * stay. */
  def evict(s: SparkSession): Unit =
    memo.keys.filter(_._1 eq s).foreach(k => memo.remove(k).foreach(release))
}
