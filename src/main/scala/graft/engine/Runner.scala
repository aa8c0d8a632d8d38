package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

import graft.operators.OperatorCaches

/** Metadata-driven warehouse runner — the Spark re-expression of the
  * reference's `meta.etl_tab_script` / `meta.etl_col` registries plus the
  * `stg_checker` dispatch loop (ddl.py:54-65,463-558;
  * etl_layer_transfer.py:26-65).
  *
  * Each [[TableSpec]] declares what the metadata rows declared: the target
  * schema, the primary key, which columns the SCD2 change predicate compares,
  * the transform, and the load mode. The reference's mode rule (ddl.py:526):
  * SCD2 iff the name doesn't contain 'hub' and the schema isn't 'data_mart' —
  * here an explicit enum, same assignments.
  *
  * The reference runs its scripts one after another, but the data only
  * needs the hub → link → satellite → mart lineage (links/sats join hubs
  * loaded moments earlier — core/movie_emp_link.sql:26-27 — and
  * emp_movie_l_sat joins the just-loaded movie_emp_link,
  * core/emp_movie_l_sat.sql:41). Each spec declares the tables its
  * transform reads, and the runner loads the specs as that dependency
  * graph: a spec starts once every earlier spec producing one of its
  * inputs has finished, so independent specs run concurrently.
  */
object Runner {

  sealed trait LoadMode
  /** Links + satellites: close-out + versioned insert (ddl.py:527-549). */
  case object Scd2Merge extends LoadMode
  /** Hubs + marts: append rows with unseen pk only (ddl.py:551-556). */
  case object InsertOnlyNew extends LoadMode

  /** One row of the metadata registry: meta.etl_tab_script ∪ meta.etl_col. */
  final case class TableSpec(
      name: String,
      schema: StructType,           // declared target schema (pre-validity)
      pk: Seq[String],
      attrs: Seq[String],           // change-predicate columns (SCD2 only)
      mode: LoadMode,
      inputs: Seq[String],          // warehouse tables `transform` reads
      transform: Warehouse => DataFrame)

  /** Raised by a load once one of its specs has failed. A spec still
    * running checks it before it materializes a table and again before it
    * publishes one (the swap into place, or the in-memory update), and
    * stops there: a spec caught between two jobs changes no table. The
    * load rethrows the first failure, not this stop. */
  final class Abort {
    @volatile private var raised = false
    private[engine] def raise(): Unit = raised = true
    def check(): Unit = if (raised)
      throw new IllegalStateException("another spec of this load failed")
  }
  object Abort {
    /** For writes outside a load: never raised. */
    val Never: Abort = new Abort
  }

  /** The warehouse: named tables, in memory or parquet-backed. Plays the
    * role of the stg/data_mart schemas. Safe for concurrent loads: specs
    * running side by side read and replace entries of the one table map. */
  class Warehouse(val spark: SparkSession,
                  persistDir: Option[String] = None) {
    private val tables = mutable.LinkedHashMap.empty[String, DataFrame]

    def apply(name: String): DataFrame = tables.synchronized(tables(name))
    def get(name: String): Option[DataFrame] =
      tables.synchronized(tables.get(name))
    /** A snapshot of the table names, in first-load order. */
    def names: Seq[String] = tables.synchronized(tables.keys.toList)
    private def update(name: String, df: DataFrame): Unit =
      tables.synchronized(tables(name) = df)

    def put(name: String, df: DataFrame,
            abort: Abort = Abort.Never): Unit = persistDir match {
      case Some(dir) =>
        // Pipeline breaker, like the reference's CREATE TEMP TABLE temp_
        // (ddl.py:559-570): materialize so both merge legs and downstream
        // consumers read a stable snapshot instead of recomputing lineage.
        // The crash-safe publish (SURVEY §7.4 "atomic-enough"; a real
        // lakehouse commit protocol — Delta/Iceberg — slots in there
        // unchanged) leaves either the old or the new table intact.
        val dst = new org.apache.hadoop.fs.Path(s"$dir/$name")
        abort.check()
        graft.sources.Formats.publish(spark, dst) { staged =>
          df.write.mode("overwrite").parquet(staged.toString)
          abort.check()
        }
        // read back with the schema just written: no footer-inference job
        update(name, spark.read.schema(df.schema).parquet(dst.toString))
      case None => updateInMemory(name, df, abort)
    }

    private def updateInMemory(name: String, df: DataFrame,
                               abort: Abort): Unit = {
      abort.check()
      val materialized = df.localCheckpoint(eager = true)
      abort.check()
      update(name, materialized)
    }

    /** SCD2 leg of `put`: history partitioned by the `valid_to` DATE, so
      * closed history freezes into immutable partitions and an incremental
      * load rewrites ONLY `affectedDates`, the partitions the merge can
      * touch — the open sentinel partition (`valid_to_date=9999-12-31`,
      * rows still open or newly inserted) and the loadTs close-date
      * partition (rows the run just closed, plus any closed earlier the
      * same day — each affected partition is replaced whole, so the slice
      * keeps them). At 100 TB this turns the SCD2 write from O(table) into
      * O(open + changed): years of closed history are never rewritten —
      * PipelineSpec asserts the frozen partition's files are untouched
      * across a later load.
      *
      * The incremental slice is published leaf by leaf
      * ([[graft.sources.Formats.publishLeaves]]): each affected partition
      * swaps in over its live copy, and an affected partition the slice
      * left empty is deleted — an open partition whose every row this
      * load closed must not stay behind. Each swap is atomic-enough on
      * its own; the table is not. A crash between two swaps leaves a mix
      * of old and new partitions, so the open partition swaps last: the
      * table then reads as the previous load's, with the rows this load
      * closed showing twice (closed, and still open in the old open
      * partition) and its new versions not yet in — no earlier row is
      * lost. A restarted process, whose fresh Warehouse holds no merge
      * target, rewrites the table in full. A lakehouse table format
      * upgrades this to a table-grain commit unchanged.
      */
    def putScd2(name: String, df: DataFrame, affectedDates: Seq[String],
                abort: Abort = Abort.Never): Unit = persistDir match {
      case Some(dir) =>
        import org.apache.hadoop.fs.Path
        import org.apache.spark.sql.functions.{col, lit, to_date}
        import graft.sources.Formats
        val dst = new Path(s"$dir/$name")
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val withPart = df.withColumn("valid_to_date",
          to_date(col(Scd2.ValidTo)))
        // Incremental ONLY when THIS process holds the merge target: the
        // merged frame was computed against `tables(name)`, so if the name
        // is absent from the map (fresh Warehouse over a dir a previous
        // process wrote), the merge treated the snapshot as all-new and a
        // partition-scoped write would leave the previous process's closed
        // partitions on disk as orphaned history. Full rewrite heals that.
        val incremental = get(name).nonEmpty && fs.exists(dst)
        // the slice derives from a scan of dst; it is written beside it,
        // so no write plan reads the path it replaces
        val out = if (incremental) withPart.where(col("valid_to_date")
          .isin(affectedDates.map(d => to_date(lit(d))): _*)) else withPart
        def write(staged: Path): Unit = {
          abort.check()
          out.write.partitionBy("valid_to_date")
            .mode("overwrite").parquet(staged.toString)
          abort.check()
        }
        if (incremental) Formats.publishLeaves(spark, dst) { staged =>
          write(staged)
          // the open partition last: see the crash note above
          affectedDates.distinct.sortBy(_ == Scd2.OpenEndDate)
            .map(d => s"valid_to_date=$d")
        } else Formats.publish(spark, dst)(write)
        // the written schema also reads a table whose rows all fell away:
        // a zero-row partitioned write leaves no part file to infer from
        update(name, spark.read.schema(withPart.schema)
          .parquet(dst.toString).drop("valid_to_date"))
      case None => updateInMemory(name, df, abort)
    }
  }

  /** The reference's EXECUTING form of the registry: `meta.etl_tab_script`
    * rows are SQL STRINGS run via dynamic SQL into temp_ staging tables
    * (ddl.py:559-570). The programmatic `transform` closure is the
    * preferred Spark mapping (SURVEY.md §2 H56); this constructor adds
    * mechanism-level parity for registries that hold SQL text: every
    * table the text reads ([[sqlInputs]]) is registered as a temp view,
    * then the text runs through `spark.sql` — Catalyst compiles it to the
    * same optimized plan the equivalent DataFrame code would build (same
    * optimizer rules, same physical strategies), so a SQL-text registry
    * row is a first-class [[TableSpec]] transform. */
  def sqlTransform(sqlText: String): Warehouse => DataFrame = {
    val inputs = sqlInputs(sqlText)
    wh =>
      // temp views are session-wide: concurrent SQL specs must not
      // re-point a view between another spec's registration and its
      // analysis
      SqlViews.synchronized {
        inputs.foreach(n => wh(n).createOrReplaceTempView(n))
        // RDD boundary = the reference's CREATE TEMP TABLE temp_ step: the
        // text's result becomes a standalone relation with fresh attribute
        // ids, not a live view subtree — necessary because the merge
        // unions the snapshot with a target derived from the same lineage
        // (shared expression ids crash Union's constraint rewrite), and
        // faithful because dynamic SQL in the reference lands in a temp
        // table before the merge reads it. Lazy (nothing runs until the
        // load consumes it); the row-conversion cost is the temp-table
        // write this models.
        val df = wh.spark.sql(sqlText)
        wh.spark.createDataFrame(df.rdd, df.schema)
      }
  }
  private object SqlViews

  /** The warehouse tables a SQL text reads — the `inputs` of a SQL-text
    * spec: every relation its parsed plan names, in subqueries and CTE
    * bodies too, minus the text's own CTE names. */
  def sqlInputs(sqlText: String): Seq[String] = {
    // CTE bodies are inner children, which `collect` does not enter
    def nodes(plan: LogicalPlan): Seq[LogicalPlan] =
      plan.collectWithSubqueries {
        case w: UnresolvedWith => w +: w.cteRelations.flatMap(c => nodes(c._2))
        case p => Seq(p)
      }.flatten
    val all = nodes(CatalystSqlParser.parsePlan(sqlText))
    val ctes = all.collect { case w: UnresolvedWith => w.cteRelations.map(_._1) }
      .flatten.toSet
    all.collect { case r: UnresolvedRelation => r.multipartIdentifier.mkString(".") }
      .filterNot(ctes).distinct
  }

  /** Run one load cycle (= one `etl_layer_transfer.py` run) over the specs
    * as a dependency graph: a spec starts once every earlier spec that
    * produces one of its `inputs` has finished; specs with no such
    * dependency between them run concurrently, each on a thread of its
    * own.
    *
    * On the first failure no further spec starts. The Spark jobs running
    * at that moment are cancelled through a job tag of this load
    * (callers' job groups are left alone), and the load's [[Abort]] is
    * raised, so a sibling that is between jobs stops before its next table
    * write or swap. Once every started spec has stopped, the original
    * exception is rethrown. Tables the load did not reach keep their
    * previous version.
    *
    * Each spec releases the operator pins it took
    * ([[graft.operators.OperatorCaches.releasing]]) once its table is
    * written; pins the caller took before the load survive it.
    *
    * @param loadTs frozen once per run — PG current_timestamp is
    *               transaction-stable (SURVEY.md H49)
    */
  def runLoad(wh: Warehouse, specs: Seq[TableSpec], loadTs: String): Warehouse = {
    val producer = specs.map(_.name).zipWithIndex.toMap
    require(producer.size == specs.size, "duplicate spec names: " +
      specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
        .mkString(", "))
    val deps = specs.zipWithIndex.map { case (sp, i) =>
      sp.inputs.flatMap(in => producer.get(in).filter(_ != i).map { j =>
        require(j < i, s"${sp.name} reads $in, which a later spec produces")
        j
      }).toSet
    }
    runGraph(wh, specs, deps, loadTs)
    wh
  }

  /** Runs `specs(i)` on a new thread once every spec in `deps(i)` has
    * finished. The threads are created by the caller, so each inherits
    * the caller's Spark local properties. Every dependency points to an
    * earlier spec, so the earliest waiting spec is always startable and
    * the loop cannot stall. */
  private def runGraph(wh: Warehouse, specs: Seq[TableSpec],
                       deps: Seq[Set[Int]], loadTs: String): Unit = {
    val sc = wh.spark.sparkContext
    val tag = s"graft-load-${java.util.UUID.randomUUID()}"
    val abort = new Abort
    val finished =
      new java.util.concurrent.LinkedBlockingQueue[(Int, Option[Throwable])]
    val threads = mutable.ArrayBuffer.empty[Thread]
    var waiting = specs.indices.toVector
    var done = Set.empty[Int]
    var failure: Option[Throwable] = None
    try {
      while (failure.isEmpty && done.size < specs.size) {
        val (ready, blocked) = waiting.partition(deps(_).subsetOf(done))
        waiting = blocked
        ready.foreach { i =>
          val t = new Thread(() => finished.put(i -> (
            try { sc.addJobTag(tag); loadSpec(wh, specs(i), loadTs, abort); None }
            catch { case e: Throwable => Some(e) })),
            s"graft-load-${specs(i).name}")
          t.setDaemon(true)
          threads += t
          t.start()
        }
        val (i, err) = finished.take()
        done += i
        failure = err
      }
    } finally {
      if (failure.nonEmpty || done.size < specs.size) {
        abort.raise()
        sc.cancelJobsWithTag(tag)
      }
      threads.foreach(_.join())
    }
    failure.foreach(throw _)
  }

  private def loadSpec(wh: Warehouse, spec: TableSpec, loadTs: String,
                       abort: Abort): Unit = OperatorCaches.releasing {
    val snapshot = Scd2.reconcile(spec.transform(wh), spec.schema)
    spec.mode match {
      case Scd2Merge =>
        val target = wh.get(spec.name).getOrElse(
          emptyTarget(wh.spark, spec))
        val merged = Scd2.merge(target, snapshot, spec.pk, spec.attrs,
          loadTs)
        // the merge can only touch the open sentinel partition and the
        // partition of rows it closes at loadTs — everything else is
        // frozen history (see Warehouse.putScd2)
        wh.putScd2(spec.name, merged,
          Seq(loadTs.take(10), Scd2.OpenEndDate), abort)
      case InsertOnlyNew =>
        val merged = wh.get(spec.name) match {
          case Some(target) => Scd2.insertOnlyNew(target, snapshot, spec.pk)
          case None => snapshot
        }
        wh.put(spec.name, merged, abort)
    }
  }

  private def emptyTarget(spark: SparkSession, spec: TableSpec): DataFrame = {
    val withValidity = StructType(spec.schema.fields ++
      Seq(org.apache.spark.sql.types.StructField(Scd2.ValidFrom,
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField(Scd2.ValidTo,
            org.apache.spark.sql.types.TimestampType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      withValidity)
  }
}
