package graft.engine

import org.apache.spark.sql.functions._

import graft.SparkSpec
import Runner.Warehouse

/** End-to-end Data Vault pipeline over mini raw fixtures in the reference's
  * own schemas (SURVEY.md §5.2 #4): preprocess → 7 core tables → 5 marts,
  * across two loads with a rating change in between.
  */
class PipelineSpec extends SparkSpec {

  import spark.implicits._
  import PipelineFixtures.{land, rowsOf}

  private def load(wh: Warehouse, rating: String, ts: String): Warehouse = {
    land(wh, rating)
    Pipeline.runLoad(wh, ts)
  }

  private lazy val wh: Warehouse = {
    val w = new Warehouse(spark)
    load(w, "8.7", "2024-01-01 00:00:00")
    load(w, "8.8", "2024-02-01 00:00:00") // Matrix rating changes
    w
  }

  test("hubs hold distinct business keys") {
    assert(wh("movie_hub").count() == 2)
    assert(wh("genre_hub").count() == 3) // Action, Sci-Fi, Crime
    assert(wh("employee_hub").count() == 5)
  }

  test("preprocess repaired the rotated actor row") {
    assert(wh("employee_hub").filter(col("emp_nm") === "Val Kilmer")
      .count() == 1)
  }

  test("links join hubs correctly") {
    assert(wh("movie_genre_link")
      .filter(col("valid_to") === Scd2.OpenEnd).count() == 4)
    assert(wh("movie_emp_link")
      .filter(col("valid_to") === Scd2.OpenEnd).count() == 5)
  }

  test("satellite versioned the rating change") {
    val matrixSat = wh("movie_info_sat").filter(col("rating").isin("8.7", "8.8"))
    assert(matrixSat.count() == 2)
    assert(matrixSat.filter(col("valid_to") === Scd2.OpenEnd)
      .select("rating").as[String].collect().toSeq == Seq("8.8"))
  }

  test("genre_metrics aggregates per genre over current rows") {
    val gm = wh("genre_metrics").collect()
      .map(r => r.getAs[String]("genre") -> r.getAs[Int]("genre_movie_quant"))
      .toMap
    assert(gm == Map("Action" -> 2, "Sci-Fi" -> 1, "Crime" -> 1))
  }

  test("rating_slide ranks by current rating") {
    val rs = wh("rating_slide").orderBy("current_place").collect()
    assert(rs.map(_.getAs[String]("movie_name")).toSeq ==
      Seq("The Matrix", "Heat"))
  }

  test("marts accrete: changed Matrix satellite row re-keyed nothing (stable pk)") {
    // movie_data pk = title_item_id = md5(movie_id||url): unchanged by the
    // rating update → mart keeps the first-load row (J62 semantics).
    val md = wh("movie_data")
    assert(md.count() == 2)
    assert(md.filter(col("movie_name") === "The Matrix")
      .select("rating").as[String].head() == "8.7")
  }

  test("SCD2 history partitions freeze: a later load rewrites only the open + close-date partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2_part")
      .toString
    val w = new Warehouse(spark, Some(dir))
    load(w, "8.7", "2024-01-01 00:00:00")
    load(w, "8.8", "2024-02-01 00:00:00") // closes Matrix v1 → 2024-02-01
    val satDir = java.nio.file.Paths.get(dir, "movie_info_sat")
    def filesOf(part: String): Map[String, (Long, Long)] = {
      val d = satDir.resolve(s"valid_to_date=$part").toFile
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> ((f.length(), f.lastModified()))).toMap
    }
    val frozen = filesOf("2024-02-01")
    assert(frozen.nonEmpty, "expected a closed partition after load 2")
    load(w, "8.9", "2024-03-01 00:00:00") // closes Matrix v2 → 2024-03-01
    assert(filesOf("2024-02-01") == frozen,
      "a frozen closed partition was rewritten by a later load")
    assert(filesOf("2024-03-01").nonEmpty &&
      filesOf("9999-12-31").nonEmpty)
    // and the partitioned table equals the in-memory run, row for row
    val mem = new Warehouse(spark)
    load(mem, "8.7", "2024-01-01 00:00:00")
    load(mem, "8.8", "2024-02-01 00:00:00")
    load(mem, "8.9", "2024-03-01 00:00:00")
    val key = Seq("title_item_id", "valid_from", "valid_to").map(col)
    val got = w("movie_info_sat").orderBy(key: _*).collect().toSeq
    val want = mem("movie_info_sat")
      .select(w("movie_info_sat").columns.map(col): _*)
      .orderBy(key: _*).collect().toSeq
    assert(got == want, "partitioned SCD2 table diverged from in-memory run")
  }

  test("two SCD2 loads on the same day keep both loads' closed rows") {
    // dynamic partition overwrite replaces the WHOLE close-date partition —
    // the second same-day load's slice must carry the rows the first
    // same-day load closed, or they silently vanish
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2_day")
      .toString
    val w = new Warehouse(spark, Some(dir))
    load(w, "8.7", "2024-01-01 00:00:00")
    load(w, "8.8", "2024-02-01 08:00:00") // closes Matrix v1 at 02-01
    load(w, "8.9", "2024-02-01 16:00:00") // closes Matrix v2, SAME day
    val mem = new Warehouse(spark)
    load(mem, "8.7", "2024-01-01 00:00:00")
    load(mem, "8.8", "2024-02-01 08:00:00")
    load(mem, "8.9", "2024-02-01 16:00:00")
    val key = Seq("title_item_id", "valid_from", "valid_to").map(col)
    val got = w("movie_info_sat").orderBy(key: _*).collect().toSeq
    val want = mem("movie_info_sat")
      .select(w("movie_info_sat").columns.map(col): _*)
      .orderBy(key: _*).collect().toSeq
    assert(got == want,
      "same-day double load diverged from the in-memory run")
    // both same-day closures must exist in the close-date partition
    val closed = w("movie_info_sat")
      .where(col("valid_to").cast("date") === lit("2024-02-01"))
      .count()
    assert(closed == 2L, s"expected both same-day closures, got $closed")
  }

  test("a fresh Warehouse over an existing persistDir fully rewrites SCD2 tables") {
    // restart scenario: the new process's merge target is empty (the
    // Warehouse map starts blank), so an incremental partition write
    // would orphan the previous process's closed partitions on disk —
    // putScd2 must detect the absent in-memory target and rewrite fully
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2_restart")
      .toString
    val w1 = new Warehouse(spark, Some(dir))
    load(w1, "8.7", "2024-01-01 00:00:00")
    load(w1, "8.8", "2024-02-01 00:00:00") // leaves a closed partition
    val w2 = new Warehouse(spark, Some(dir)) // new process, same dir
    load(w2, "9.0", "2024-03-01 00:00:00")
    val mem = new Warehouse(spark)
    load(mem, "9.0", "2024-03-01 00:00:00")
    val key = Seq("title_item_id", "valid_from", "valid_to").map(col)
    val got = w2("movie_info_sat").orderBy(key: _*).collect().toSeq
    val want = mem("movie_info_sat")
      .select(w2("movie_info_sat").columns.map(col): _*)
      .orderBy(key: _*).collect().toSeq
    assert(got == want,
      "restarted warehouse kept orphaned history from the previous process")
  }

  test("SQL-text registry execution matches the programmatic transform") {
    // the reference's executing form: meta.etl_tab_script stores SQL
    // strings run via dynamic SQL (ddl.py:559-570). Swap one mart's
    // transform for registered SQL text and run the SAME two loads — the
    // mart must be row-identical to the programmatic pipeline's.
    val specs = Pipeline.withSqlTransform("movie_employee_link",
      Pipeline.movieEmployeeLinkSql)
    val w = new Warehouse(spark)
    def loadSql(rating: String, ts: String): Unit = {
      land(w, rating)
      Runner.runLoad(w, specs, ts)
    }
    loadSql("8.7", "2024-01-01 00:00:00")
    loadSql("8.8", "2024-02-01 00:00:00")
    val cols = wh("movie_employee_link").columns.map(col)
    val key = Seq(col("movie_emp_link_id"))
    val got = w("movie_employee_link").select(cols: _*)
      .orderBy(key: _*).collect().toSeq
    val want = wh("movie_employee_link").orderBy(key: _*).collect().toSeq
    assert(got == want,
      "SQL-text registry run diverged from the programmatic transform")
    assert(got.nonEmpty)
  }

  test("a persisted load whose SCD2 tables end up empty succeeds and equals the in-memory run") {
    // both actor sources empty: movie_emp_link and emp_movie_l_sat merge
    // to zero rows, and a zero-row partitioned write leaves no part file
    // for a read-back to infer a schema from
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2_empty")
      .toString
    val w = new Warehouse(spark, Some(dir))
    val mem = new Warehouse(spark)
    for (wh <- Seq(w, mem)) {
      land(wh, "8.7", withActors = false)
      Pipeline.runLoad(wh, "2024-01-01 00:00:00")
      land(wh, "8.8", withActors = false)
      Pipeline.runLoad(wh, "2024-02-01 00:00:00")
    }
    assert(w("movie_emp_link").count() == 0L)
    assert(w("emp_movie_l_sat").count() == 0L)
    assert(w("movie_info_sat").count() == 3L)
    Pipeline.allSpecs.foreach { sp =>
      assert(rowsOf(w(sp.name)) == rowsOf(mem(sp.name)),
        s"${sp.name}: persisted run diverged from the in-memory run")
    }
  }

  test("a persisted load that closes every open SCD2 row leaves no open partition behind") {
    // load 2 has no actors, so it closes every open movie_emp_link and
    // emp_movie_l_sat row: the open sentinel partition must go with them
    val dir = java.nio.file.Files.createTempDirectory("graft_scd2_close_all")
      .toString
    val w = new Warehouse(spark, Some(dir))
    val mem = new Warehouse(spark)
    for (wh <- Seq(w, mem)) {
      land(wh, "8.7")
      Pipeline.runLoad(wh, "2024-01-01 00:00:00")
      land(wh, "8.8", withActors = false)
      Pipeline.runLoad(wh, "2024-02-01 00:00:00")
    }
    for (n <- Seq("movie_emp_link", "emp_movie_l_sat")) {
      assert(w(n).count() > 0L, s"$n lost its closed history")
      assert(w(n).where(col("valid_to") === Scd2.OpenEnd).count() == 0L,
        s"$n kept open rows the load closed")
      assert(!new java.io.File(s"$dir/$n/valid_to_date=${Scd2.OpenEndDate}")
        .exists(), s"$n kept its emptied open partition")
    }
    Pipeline.allSpecs.foreach { sp =>
      assert(rowsOf(w(sp.name)) == rowsOf(mem(sp.name)),
        s"${sp.name}: persisted run diverged from the in-memory run")
    }
  }

  test("a persisted load releases the operator pins it took, and only those") {
    import graft.operators.OperatorCaches
    import org.apache.spark.storage.StorageLevel
    val dir = java.nio.file.Files.createTempDirectory("graft_load_pins")
      .toString
    val w = new Warehouse(spark, Some(dir))
    land(w, "8.7")
    // the caller's own pins, taken before the load
    val cached = OperatorCaches.cache(spark.range(10).toDF("id"))
    cached.count()
    val snapshot = OperatorCaches.checkpointed(spark.range(5).toDF("id"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Pipeline.runLoad(w, "2024-01-01 00:00:00")
    // rating_slide's rank pins its sorted frame during the load
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before, s"the load left pinned RDDs ${after -- before}")
    assert(cached.storageLevel != StorageLevel.NONE,
      "the load released the caller's cached frame")
    assert(snapshot.count() == 5L, "the load released the caller's checkpoint")
    OperatorCaches.releaseAll(spark)
    assert(cached.storageLevel == StorageLevel.NONE)
  }
}
