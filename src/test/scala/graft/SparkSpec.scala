package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: one JVM-wide [[Sessions.local]]
  * session. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf001 = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs, counted by a listener. A fence
    * job tagged with a local property runs after `f`; the listener bus
    * delivers events in order, so once the fence is seen every job `f`
    * started has been counted. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.fence") != null))
          fenced.countDown()
        else started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty("graft.fence", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.fence", null)
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the fence job never reached the listener")
      started.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = Sessions.local(4)
}
