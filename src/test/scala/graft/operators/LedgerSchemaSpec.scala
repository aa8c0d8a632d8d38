package graft.operators

import graft.SparkSpec

/** The ledger's stored schema: ids land as bigint, a non-integral id
  * column is refused at append, and reading a non-empty ledger builds its
  * frame without a Spark job (no schema inference). */
class LedgerSchemaSpec extends SparkSpec {

  import spark.implicits._

  private def ledgerRoot(name: String) = java.nio.file.Files
    .createTempDirectory(name).toString + "/tombstones"

  /** Spark jobs started while `f` runs, counted by a listener. A fence
    * job tagged with a local property runs after `f`; the listener bus
    * delivers events in order, so once the fence is seen every job `f`
    * started has been counted. */
  private def jobsDuring(f: => Unit): Int = {
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

  test("building the frame over a non-empty ledger starts no Spark job") {
    val root = ledgerRoot("graft_ledger_jobs")
    TombstoneLedger.append(Seq(1L, 2L).toDF("vec_id"), root)
    TombstoneLedger.appendBatch(Seq(3L).toDF("vec_id"), root, "t", 0L)
    var ledger: Option[org.apache.spark.sql.DataFrame] = None
    assert(jobsDuring {
      ledger = TombstoneLedger.df(spark, root, "cand_id")
    } == 0)
    assert(ledger.get.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("ids are stored as bigint; a non-integral id column is refused") {
    val root = ledgerRoot("graft_ledger_types")
    TombstoneLedger.append(Seq(1, 2).toDF("doc_id"), root)
    assert(spark.read.parquet(root).schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    val e = intercept[IllegalArgumentException](
      TombstoneLedger.append(Seq("a").toDF("doc_id"), root))
    assert(e.getMessage.contains("integral"))
  }
}
