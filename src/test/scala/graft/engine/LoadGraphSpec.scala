package graft.engine

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.concurrent.Eventually.eventually
import org.scalatest.concurrent.PatienceConfiguration.Timeout
import org.scalatest.time.SpanSugar._

import graft.SparkSpec
import PipelineFixtures.{land, rowsOf}
import Runner.{InsertOnlyNew, TableSpec, Warehouse}

/** `Runner.runLoad` schedules specs by their declared inputs: the graph
  * run must equal the one-spec-at-a-time fold, the declared inputs must
  * be exactly what each transform reads, and a failing spec must stop the
  * load cleanly. */
class LoadGraphSpec extends SparkSpec {

  private val loads = Seq("8.7" -> "2024-01-01 00:00:00",
                          "8.8" -> "2024-02-01 00:00:00")

  private def warehouse(persisted: Boolean, prefix: String): Warehouse =
    if (persisted) new Warehouse(spark, Some(
      java.nio.file.Files.createTempDirectory(prefix).toString))
    else new Warehouse(spark)

  /** Two loads of `specs` through the graph, and through the serial fold
    * `specs.foreach(sp => runLoad(wh, Seq(sp), ts))`, equal table for
    * table and row for row. */
  private def assertGraphEqualsSerial(specs: Seq[TableSpec],
                                      persisted: Boolean): Unit = {
    val graph = warehouse(persisted, "graft_graph")
    val serial = warehouse(persisted, "graft_serial")
    for ((rating, ts) <- loads) {
      land(graph, rating)
      Runner.runLoad(graph, specs, ts)
      land(serial, rating)
      specs.foreach(sp => Runner.runLoad(serial, Seq(sp), ts))
    }
    specs.foreach { sp =>
      val got = rowsOf(graph(sp.name))
      assert(got == rowsOf(serial(sp.name)),
        s"${sp.name}: graph load diverged from the serial fold")
      assert(got.nonEmpty, s"${sp.name} is empty")
    }
  }

  for (persisted <- Seq(false, true)) {
    val mode = if (persisted) "persisted" else "in memory"
    test(s"graph-scheduled load equals the serial per-spec fold ($mode)") {
      assertGraphEqualsSerial(Pipeline.allSpecs, persisted)
    }
    test(s"SQL-text registry: graph load equals the serial per-spec fold ($mode)") {
      assertGraphEqualsSerial(Pipeline.withSqlTransform(
        "movie_employee_link", Pipeline.movieEmployeeLinkSql), persisted)
    }
  }

  /** Records every table name a transform looks up. */
  private final class RecordingWarehouse(s: SparkSession)
      extends Warehouse(s) {
    val reads: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
    override def apply(name: String): DataFrame = { reads.add(name); super.apply(name) }
    override def get(name: String): Option[DataFrame] = { reads.add(name); super.get(name) }
  }

  /** Reads movie_info_sat, outside the programmatic mart's inputs, in a
    * CTE body behind a subquery; `cur` is the text's own CTE. */
  private val sqlReadingSat =
    """WITH cur AS (SELECT movie_id FROM movie_info_sat)
      |SELECT DISTINCT l.movie_emp_link_id, h.movie_nm,
      |       h.movie_duration, e.emp_nm
      |FROM movie_hub h
      |JOIN movie_emp_link l ON h.movie_id = l.movie_id
      |JOIN employee_hub e ON e.emp_id = l.emp_id
      |WHERE h.movie_id IN (SELECT movie_id FROM cur)""".stripMargin

  private def sqlSpec(sqlText: String): TableSpec =
    Pipeline.withSqlTransform("movie_employee_link", sqlText)
      .find(_.name == "movie_employee_link").get

  test("a SQL-text spec's inputs are the tables its text reads") {
    assert(sqlSpec(Pipeline.movieEmployeeLinkSql).inputs.sorted ==
      Seq("employee_hub", "movie_emp_link", "movie_hub"))
    assert(sqlSpec(sqlReadingSat).inputs.sorted ==
      Seq("employee_hub", "movie_emp_link", "movie_hub", "movie_info_sat"))
  }

  test("SQL-text registry reading a table outside the replaced spec's inputs: graph load equals the serial fold") {
    assertGraphEqualsSerial(Pipeline.withSqlTransform(
      "movie_employee_link", sqlReadingSat), persisted = false)
  }

  test("each spec's declared inputs are exactly the tables its transform reads") {
    val wh = new RecordingWarehouse(spark)
    for ((rating, ts) <- loads) { land(wh, rating); Pipeline.runLoad(wh, ts) }
    (Pipeline.allSpecs ++ Seq(Pipeline.movieEmployeeLinkSql, sqlReadingSat)
        .map(sqlSpec)).foreach { sp =>
      wh.reads.clear()
      sp.transform(wh)
      assert(wh.reads.asScala.toSet == sp.inputs.toSet,
        s"${sp.name} declares ${sp.inputs.sorted} but reads " +
          wh.reads.asScala.toSeq.sorted)
    }
  }

  test("runLoad rejects duplicate spec names and inputs only a later spec produces") {
    val wh = new Warehouse(spark)
    land(wh, "8.7")
    val ts = loads.head._2
    val dup = intercept[IllegalArgumentException](
      Runner.runLoad(wh, Pipeline.allSpecs :+ Pipeline.coreSpecs.head, ts))
    assert(dup.getMessage.contains("duplicate spec names: genre_hub"))
    val late = intercept[IllegalArgumentException](
      Runner.runLoad(wh, Pipeline.martSpecs ++ Pipeline.coreSpecs, ts))
    assert(late.getMessage.contains("which a later spec produces"))
    assert(wh.names.toSet == Set(Pipeline.RawMovieImdb, Pipeline.RawMovieMeta,
        Pipeline.RawActorImdb, Pipeline.RawActorMeta),
      "a rejected load must not run any spec")
  }

  private def schedulerThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSet
      .filter(t => t.getName.startsWith("graft-load-") && t.isAlive)

  test("a failing spec stops the load: original exception, no later start, jobs cancelled") {
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[(String, Long)]()
    @volatile var failedAt = Long.MaxValue
    val boom = new IllegalStateException("boom")
    def spec(name: String, inputs: Seq[String])(body: Warehouse => DataFrame) =
      TableSpec(name, StructType(Seq(StructField("id", LongType))),
        pk = Seq("id"), attrs = Nil, InsertOnlyNew, inputs,
        wh => { started.add(name -> System.nanoTime()); body(wh) })
    // 4 tasks of 30 s each unless cancelled; the kill check keeps a
    // cancelled task from running on after its job has failed
    val slowId = udf { (x: Long) =>
      Thread.sleep(20)
      if (TaskContext.get().isInterrupted()) throw new TaskKilledException
      x
    }
    val specs = Seq(
      spec("slow", Nil)(wh =>
        wh.spark.range(0, 6000, 1, 4).select(slowId(col("id")).as("id"))),
      spec("fails", Nil) { _ =>
        // fail while the sibling's job is running
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (sc.statusTracker.getActiveJobIds.isEmpty &&
               System.nanoTime() < deadline) Thread.sleep(10)
        failedAt = System.nanoTime()
        throw boom
      },
      spec("after_slow", Seq("slow"))(_("slow")),
      spec("after_fails", Seq("fails"))(_("fails")),
      spec("after_both", Seq("slow", "fails"))(_("slow")))
    val wh = new Warehouse(spark)
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException](
      Runner.runLoad(wh, specs, loads.head._2))
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom, s"expected the spec's own exception, got $thrown")
    val ran = started.asScala.toSeq
    assert(ran.map(_._1).toSet == Set("slow", "fails"),
      s"only the independent specs may start, ran ${ran.map(_._1)}")
    assert(ran.forall(_._2 <= failedAt), "a spec started after the failure")
    // the jobs have ended once runLoad returns; the status tracker hears
    // of it through the asynchronous listener bus
    eventually(Timeout(30.seconds)) {
      assert(sc.statusTracker.getActiveJobIds.isEmpty,
        "a job of the failed load is still running")
    }
    assert(schedulerThreads.isEmpty, s"live scheduler threads: $schedulerThreads")
    assert(seconds < 25, s"the sibling's job was not cancelled ($seconds s)")
    assert(wh.get("slow").isEmpty && wh.get("fails").isEmpty)
  }

  test("a failed persisted load leaves the tables it did not reach readable at their previous version") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fail").toString
    val wh = new Warehouse(spark, Some(dir))
    land(wh, loads.head._1)
    Pipeline.runLoad(wh, loads.head._2)
    def live(name: String) = rowsOf(spark.read.parquet(s"$dir/$name"))
    val before = Pipeline.allSpecs.map(sp => sp.name -> live(sp.name)).toMap
    val inMap = Pipeline.allSpecs.map(sp => sp.name -> rowsOf(wh(sp.name))).toMap
    val boom = new IllegalStateException("movie_info_sat transform failed")
    val specs = Pipeline.allSpecs.map { sp =>
      if (sp.name == "movie_info_sat") sp.copy(transform = _ => throw boom)
      else sp
    }
    land(wh, loads(1)._1)
    val thrown = intercept[IllegalStateException](
      Runner.runLoad(wh, specs, loads(1)._2))
    assert(thrown eq boom)
    // every live directory still reads back, whatever point its spec
    // reached; the failed spec and everything downstream of it keep the
    // previous load's rows, on disk and in the warehouse
    Pipeline.allSpecs.foreach(sp => live(sp.name))
    for (n <- Seq("movie_info_sat", "movie_data", "genre_metrics", "rating_slide")) {
      assert(live(n) == before(n), s"$n changed on disk")
      assert(rowsOf(wh(n)) == inMap(n), s"$n changed in the warehouse")
    }
    assert(schedulerThreads.isEmpty)
  }
}
