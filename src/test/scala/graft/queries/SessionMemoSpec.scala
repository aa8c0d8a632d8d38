package graft.queries

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** The cross-gate memo: builds nest, distinct keys build at the same
  * time, and `evict` releases exactly one session's entries. Each test
  * works in its own child sessions and evicts them at the end. */
class SessionMemoSpec extends SparkSpec {

  test("a nested build returns") {
    val s = spark.newSession()
    try {
      val v = SessionMemo(s, "dir", "outer") {
        SessionMemo(s, "dir", "inner")(1) + 1
      }
      assert(v == 2)
      assert(SessionMemo(s, "dir", "inner")(-1) == 1)
    } finally SessionMemo.evict(s)
  }

  test("two distinct keys build at the same time") {
    val s = spark.newSession()
    val pool = Executors.newFixedThreadPool(2)
    val aStarted, bStarted = new CountDownLatch(1)
    // each build signals its own latch, then waits for the other's: a
    // memo that holds one lock across a build makes one of them wait
    // out the timeout
    def build(name: String, mine: CountDownLatch, other: CountDownLatch) =
      pool.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean = SessionMemo(s, "dir", name) {
          mine.countDown()
          other.await(20, TimeUnit.SECONDS)
        }
      })
    try {
      val a = build("a", aStarted, bStarted)
      val b = build("b", bStarted, aStarted)
      assert(a.get(60, TimeUnit.SECONDS), "build a never saw build b start")
      assert(b.get(60, TimeUnit.SECONDS), "build b never saw build a start")
    } finally {
      pool.shutdownNow()
      SessionMemo.evict(s)
    }
  }

  test("evict unpersists frame entries and forgets apply entries") {
    val s = spark.newSession()
    val builds = new AtomicInteger
    def counted(): Int = SessionMemo(s, "dir", "n")(builds.incrementAndGet())
    try {
      val f = SessionMemo.frame(s, "dir", "f")(s.range(0, 10).toDF("id"))
      assert(f.count() == 10)
      assert(f.storageLevel == StorageLevel.MEMORY_AND_DISK)
      assert(SessionMemo.frame(s, "dir", "f")(s.range(0, 1).toDF("id")) eq f)
      assert(counted() == 1 && counted() == 1)
      SessionMemo.evict(s)
      assert(f.storageLevel == StorageLevel.NONE,
        "evict left a memoized frame pinned")
      assert(counted() == 2, "evict kept an apply entry")
      val g = SessionMemo.frame(s, "dir", "f")(s.range(0, 3).toDF("id"))
      assert((g ne f) && g.count() == 3, "evict kept a frame entry")
    } finally SessionMemo.evict(s)
  }

  test("evict leaves a second session's entries alone") {
    val sA = spark.newSession()
    val sB = spark.newSession()
    try {
      val fA = SessionMemo.frame(sA, "dir", "f")(sA.range(0, 5).toDF("id"))
      val fB = SessionMemo.frame(sB, "dir", "f")(sB.range(0, 7).toDF("id"))
      assert(fA.count() == 5 && fB.count() == 7)
      assert(SessionMemo(sB, "dir", "n")(1) == 1)
      SessionMemo.evict(sA)
      assert(fA.storageLevel == StorageLevel.NONE)
      assert(fB.storageLevel == StorageLevel.MEMORY_AND_DISK,
        "evicting one session unpinned another's frame")
      assert(SessionMemo.frame(sB, "dir", "f")(sB.range(0, 1).toDF("id"))
        eq fB)
      assert(SessionMemo(sB, "dir", "n")(2) == 1,
        "evicting one session forgot another's entry")
    } finally {
      SessionMemo.evict(sA)
      SessionMemo.evict(sB)
    }
  }
}
