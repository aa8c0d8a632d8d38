package perfbench

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.{MartQueries, Pipeline, Runner, Scd2}
import graft.engine.Runner.{Scd2Merge, TableSpec, Warehouse}
import graft.operators.AsOfJoin

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The JVM side of the benchmark: drives the warehouse through its public
  * functions for one workload and writes every timed operation, its
  * output digests and the run context to a JSON file. Verdicts and the
  * reported metrics are computed from that file by `perfbench/run.py`.
  *
  * Usage: perfbench.Harness <workload> <inputsDir> <workDir> <seconds>
  *          <trace 0|1> <outFile> <seed> [inject,...]
  */
object Harness {

  final case class Conf(workload: String, inputs: String, work: String,
                        seconds: Double, trace: Boolean, out: String,
                        seed: Long, inject: Set[String])

  /** One timed operation: a load, a query, a gate or a pass over the
    * gates. Queries keep their result rows, loads their table digests,
    * gates the directory their output was written to. */
  final class Op(val id: Int, val kind: String, val cls: String,
                 val params: Map[String, Any], val traced: Boolean) {
    var ms: Double = 0.0
    var error: Option[String] = None
    var columns: Seq[String] = Nil
    var rows: Seq[Seq[Any]] = Nil
    val digests = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    var outputDir: Option[String] = None
    def json: String = Json.obj(
      "id" -> id, "kind" -> kind, "class" -> cls, "params" -> params,
      "ms" -> ms, "error" -> error, "traced" -> traced,
      "columns" -> columns, "rows" -> rows, "digests" -> digests,
      "output_dir" -> outputDir)
  }

  val RawTables: Seq[String] = Seq(Pipeline.RawMovieImdb, Pipeline.RawMovieMeta,
    Pipeline.RawActorImdb, Pipeline.RawActorMeta)

  /** The persisted-index lifecycle gates `catalog_index` times: append,
    * tombstone, search and vacuum of an IVF vector index over the whole
    * input table. */
  val Gates: Seq[String] = Seq("q_ann_index_delete")

  val QueryClasses: Seq[String] = Seq("pit", "history", "mart", "mart_asof")
  val Marts: Seq[String] = Seq("movie_data", "rating_slide", "genre_metrics",
    "movie_employee_link")

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** Load timestamps: one load a week from 2024-01-01. */
  def loadTs(j: Int): String =
    LocalDateTime.of(2024, 1, 1, 0, 0).plusWeeks(j).format(TsFormat)

  /** As-of instants over loads 0..n-1: each load time and three days on. */
  def instants(n: Int): Seq[String] = (0 until n).flatMap(j => Seq(loadTs(j),
    LocalDateTime.of(2024, 1, 1, 0, 0).plusWeeks(j).plusDays(3).format(TsFormat)))

  def main(argv: Array[String]): Unit = {
    val c = Conf(argv(0), argv(1), argv(2), argv(3).toDouble, argv(4) == "1",
      argv(5), argv(6).toLong,
      if (argv.length > 7) argv(7).split(",").filter(_.nonEmpty).toSet else Set.empty)
    val h = new Harness(c)
    val code = try { h.run(); 0 } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] harness failed: $e")
        e.printStackTrace()
        2
    } finally h.close()
    System.exit(code)
  }
}

final class Harness(c: Harness.Conf) {
  import Harness._

  private val cpus = java.lang.Runtime.getRuntime.availableProcessors
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    .config("spark.local.dir", s"${c.work}/spark-local")
    .config("spark.sql.warehouse.dir", s"${c.work}/spark-warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private val tracer: Option[Tracer] =
    if (c.trace) Some(new Tracer(spark.sparkContext)) else None
  tracer.foreach(spark.sparkContext.addSparkListener)

  private val ops = mutable.ArrayBuffer.empty[Op]
  private val injected = mutable.Set.empty[String]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var setupS = 0.0
  private var measureS = 0.0
  // VmHWM right after the latest timed operation, before its output checks
  private var peakRssMb = 0.0
  private var ctx0: (Long, Double) = (0L, 0.0)
  private var ctx1: (Long, Double) = (0L, 0.0)
  private var lastWarehouse: Option[Warehouse] = None

  def close(): Unit = try spark.stop() catch { case _: Throwable => () }

  private def newOp(kind: String, cls: String, params: Map[String, Any],
                    traced: Boolean): Op = {
    val op = new Op(ops.size, kind, cls, params, traced)
    ops += op
    op
  }

  /** The first op of class `cls` throws inside its timed region when the
    * run was started with `throw:<cls>` (used by the self-test). */
  private def maybeThrow(cls: String): Unit =
    if (c.inject.contains(s"throw:$cls") && injected.add(s"throw:$cls"))
      throw new IllegalStateException(s"injected failure in $cls")

  /** The first op of class `cls` reports a wrong output when the run was
    * started with `digest:<cls>` (used by the self-test). */
  private def corrupt(cls: String): Boolean =
    c.inject.contains(s"digest:$cls") && injected.add(s"digest:$cls")

  /** Time `body` as `op`; an exception marks the op failed and untimed. */
  private def timed(op: Op)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try {
      body
      op.ms = (System.nanoTime() - t0) / 1e6
      peakRssMb = RunContext.peakRssMb()
    } catch {
      case e: Throwable =>
        op.error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(400))
        System.err.println(s"[perfbench] op ${op.id} ${op.cls} failed: ${op.error.get}")
    }
  }

  private def span[T](traced: Boolean, name: String, run: Long)(body: => T): T =
    tracer.filter(_ => traced) match {
      case Some(t) => t.span(name, run)(body)
      case None => body
    }

  def run(): Unit = {
    Files.createDirectories(Paths.get(c.work))
    c.workload match {
      case "vault_initial" => vaultInitial()
      case "vault_incremental" => vaultIncremental()
      case "catalog_index" => catalogIndex()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val out = Json.obj(
      "workload" -> c.workload,
      "setup_s" -> setupS,
      "measure_s" -> measureS,
      "cpus" -> cpus,
      "peak_rss_mb" -> peakRssMb,
      "steal_ticks" -> (ctx1._1 - ctx0._1),
      "gc_s" -> (ctx1._2 - ctx0._2),
      "extra" -> extra,
      "layers" -> layers,
      "ops" -> Json.Raw(ops.map(_.json).mkString("[\n", ",\n", "\n]")))
    Files.writeString(Paths.get(c.out), out)
    phase("done")
    tracer.foreach(t => Files.writeString(Paths.get(s"${c.work}/spans.json"), t.spansJson))
  }

  // ---- measurement loop ------------------------------------------------

  private def sinceJvmStart: Double = (System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] $name at $sinceJvmStart%.1f s")

  /** Set-up ends here: its time is the time since the JVM started. */
  private def endSetup(): Unit = {
    setupS = sinceJvmStart
    phase("measure")
    ctx0 = (RunContext.stealTicks(), RunContext.gcSeconds())
  }

  /** Run `step` until `seconds` have passed, at least once. A traced run
    * makes exactly three steps, untraced, traced, untraced, so it reports
    * its own tracing overhead against untraced steps on either side. */
  private def measure(step: (Int, Boolean) => Unit): Unit = {
    endSetup()
    val t0 = System.nanoTime()
    val deadline = t0 + (c.seconds * 1e9).toLong
    if (c.trace) Seq(false, true, false).zipWithIndex.foreach { case (t, i) => step(i, t) }
    else {
      var i = 0
      while (i == 0 || System.nanoTime() < deadline) { step(i, false); i += 1 }
    }
    measureS = (System.nanoTime() - t0) / 1e9
    ctx1 = (RunContext.stealTicks(), RunContext.gcSeconds())
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }

  private def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }

  // ---- vault: loads ----------------------------------------------------

  private def loadDir(j: Int) = s"${c.inputs}/load_$j"

  /** The number of generated loads; the workloads take their history
    * length from the inputs. */
  private def loadCount: Int =
    Iterator.from(0).takeWhile(j => Files.isDirectory(Paths.get(loadDir(j)))).size

  private def land(wh: Warehouse, j: Int): Unit =
    RawTables.foreach(n => wh.put(n, spark.read.parquet(s"${loadDir(j)}/$n.parquet")))

  private def layerOf(spec: TableSpec): String =
    if (spec.mode == Scd2Merge) "engine.scd2"
    else if (Pipeline.martSpecs.exists(_.name == spec.name)) "engine.marts"
    else "engine.hubs"

  /** One load: landing, then `Pipeline.runLoad`. Traced, each spec runs
    * alone through `Runner.runLoad` in `Pipeline.allSpecs` order (the
    * order `runLoad` itself runs them in), inside a span per layer and
    * per spec. */
  private def load(wh: Warehouse, j: Int, run: Long, traced: Boolean): Unit = {
    val ts = loadTs(j)
    tracer.filter(_ => traced) match {
      case None =>
        land(wh, j)
        Pipeline.runLoad(wh, ts)
      case Some(t) =>
        t.span("load", run) {
          t.span("engine.landing", run)(land(wh, j))
          val groups = Pipeline.allSpecs.foldLeft(List.empty[(String, List[TableSpec])]) {
            case ((l, ss) :: rest, sp) if l == layerOf(sp) => (l, ss :+ sp) :: rest
            case (acc, sp) => (layerOf(sp), List(sp)) :: acc
          }.reverse
          groups.foreach { case (layer, specs) =>
            t.span(layer, run) {
              specs.foreach(sp =>
                t.span(s"engine.spec.${sp.name}", run)(Runner.runLoad(wh, Seq(sp), ts)))
            }
          }
        }
    }
  }

  /** The same loads through the in-memory `Runner.Warehouse(spark)` path. */
  private def memLoads(wh: Warehouse, loads: Seq[Int]): Unit =
    loads.foreach { j => land(wh, j); Pipeline.runLoad(wh, loadTs(j)) }

  /** Digest and invariant counts of every pipeline table. The digest is
    * (rows, sum of xxhash64 over all columns): order-independent, and
    * equal for equal tables whichever path wrote them. */
  private def tableChecks(wh: Warehouse): Map[String, Map[String, Any]] =
    inParallel(Pipeline.allSpecs) { sp =>
      val df = wh(sp.name)
      val h = sum(xxhash64(df.columns.sorted.map(col).toSeq: _*).cast(DecimalType(38, 0)))
      val row = if (sp.mode == Scd2Merge) {
        val w = Window.partitionBy(sp.pk.map(col): _*)
        val open = col(Scd2.ValidTo) === Scd2.OpenEnd
        df.withColumn("_open_n", sum(when(open, 1).otherwise(0)).over(w))
          .withColumn("_prev_to", lag(col(Scd2.ValidTo), 1)
            .over(w.orderBy(col(Scd2.ValidFrom))))
          .agg(count(lit(1)), h,
            sum(when(open && col("_open_n") > 1, 1).otherwise(0)),
            sum(when(col(Scd2.ValidFrom) >= col(Scd2.ValidTo), 1).otherwise(0)),
            sum(when(col("_prev_to") > col(Scd2.ValidFrom), 1).otherwise(0)),
            lit(0L))
          .first()
      } else {
        df.agg(count(lit(1)), h, lit(0L), lit(0L), lit(0L),
          count(lit(1)) - countDistinct(struct(sp.pk.map(col): _*))).first()
      }
      def n(i: Int): Long = if (row.isNullAt(i)) 0L else row.getAs[Number](i).longValue
      sp.name -> Map[String, Any](
        "digest" -> s"${n(0)}:${Option(row.get(1)).getOrElse(0)}",
        "open_dups" -> n(2), "bad_intervals" -> n(3), "overlaps" -> n(4),
        "pk_dups" -> n(5))
    }.toMap

  /** `f` over `xs` on up to `cpus` threads, results in order. */
  private def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cpus)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  /** The parquet files of the SCD2 tables, for a traced load's write
    * accounting from a listing before and after it. */
  private def scd2Files(whDir: String): Map[String, Long] =
    Pipeline.allSpecs.filter(_.mode == Scd2Merge).flatMap { sp =>
      val p = Paths.get(whDir, sp.name)
      if (!Files.exists(p)) Nil
      else Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toSeq
    }.toMap

  /** Per-layer metrics of one traced load. */
  private def loadLayers(t: Tracer, run: Long, whDir: String,
                         before: Map[String, Long], wh: Warehouse, ts: String): Unit = {
    val spans = t.allSpans.filter(_.run == run)
    def agg(name: String, full: Boolean): Unit = {
      val ss = spans.filter(_.name == name)
      val ws = ss.flatMap(t.workUnder)
      layers(s"$name.wall_s") = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
      layers(s"$name.jobs") = ws.map(_.jobs.get).sum.toDouble
      if (full) {
        layers(s"$name.tasks") = ws.map(_.tasks.get).sum.toDouble
        layers(s"$name.cpu_s") = ws.map(_.cpuNs.get).sum / 1e9
        layers(s"$name.shuffle_bytes") = ws.map(_.shuffleBytes.get).sum.toDouble
        layers(s"$name.driver_s") = ss.map(t.driverSeconds).sum
      }
    }
    agg("engine.landing", full = false)
    layers("engine.landing.bytes_written") = spans.filter(_.name == "engine.landing")
      .flatMap(t.workUnder).map(_.outputBytes.get).sum.toDouble
    Seq("engine.hubs", "engine.scd2", "engine.marts").foreach(agg(_, full = true))
    Pipeline.allSpecs.foreach(sp => agg(s"engine.spec.${sp.name}", full = false))
    layers("engine.load.self_s") = spans.filter(_.name == "load").map(s =>
      t.selfSeconds(s, spans.filter(_.parent == s.id))).sum
    val fresh = scd2Files(whDir).filter { case (f, _) => !before.contains(f) }
    layers("engine.scd2.bytes_written") = fresh.values.sum.toDouble
    layers("engine.scd2.files_written") = fresh.size.toDouble
    layers("engine.scd2.partitions_rewritten") =
      fresh.keys.map(f => Paths.get(f).getParent.toString).toSet.size.toDouble
    val rowsWritten = spans.filter(_.name == "engine.scd2").flatMap(t.workUnder)
      .map(_.outputRows.get).sum
    val at = lit(ts).cast(TimestampType)
    val changed = Pipeline.allSpecs.filter(_.mode == Scd2Merge).map { sp =>
      wh(sp.name).where(col(Scd2.ValidFrom) === at || col(Scd2.ValidTo) === at).count()
    }.sum
    layers("engine.scd2.rows_written") = rowsWritten.toDouble
    layers("engine.scd2.rows_changed") = changed.toDouble
    layers("engine.scd2.rows_written_per_changed") = rowsWritten.toDouble / math.max(1L, changed)
  }

  /** One measured load into the warehouse `prepare` returns. The load is
    * checked (digests, invariants) outside its timed region. */
  private def measuredLoad(i: Int, traced: Boolean, j: Int,
                           prepare: String => Warehouse): Unit = {
    val whDir = s"${c.work}/wh/op_$i"
    rm(whDir)
    val wh = prepare(whDir)
    val op = newOp("load", c.workload, Map("load" -> j, "ts" -> loadTs(j)), traced)
    phase(s"load $i")
    val before = if (traced) scd2Files(whDir) else Map.empty[String, Long]
    timed(op) {
      maybeThrow(c.workload)
      load(wh, j, op.id.toLong, traced)
    }
    phase(s"check $i")
    if (op.error.isEmpty) {
      if (traced) tracer.foreach(loadLayers(_, op.id.toLong, whDir, before, wh, loadTs(j)))
      tableChecks(wh).foreach { case (k, v) => op.digests(k) = v }
      if (corrupt(c.workload)) {
        val k = op.digests.keys.head
        op.digests(k) = op.digests(k) + ("digest" -> "0:corrupted")
      }
      op.digests("_storage") = Map("bytes" -> dirBytes(whDir),
        "raw_bytes" -> dirBytes(loadDir(j)))
      extra("warehouse_dir") = whDir
      lastWarehouse = Some(wh)
    }
    if (i > 0) rm(s"${c.work}/wh/op_${i - 1}")
  }

  /** Traced load runs also time each query class a few times over the
    * last loaded warehouse, so the read layer is measured there too. */
  private def readProbes(loads: Int): Unit = (tracer, lastWarehouse) match {
    case (Some(_), Some(wh)) =>
      val rnd = new scala.util.Random(c.seed)
      val ids = movieIds(wh)
      (0 until 3).foreach(_ => QueryClasses.foreach { cls =>
        collectOp(newOp("probe", cls, params(cls, rnd, ids, loads), traced = true), wh)
      })
      readLayers(wh, ids, loads)
    case _ => ()
  }

  /** `vault_initial`: one full load into an empty parquet warehouse. The
    * in-memory reference run of the same load comes first and also warms
    * the JVM. */
  private def vaultInitial(): Unit = {
    val mem = new Warehouse(spark)
    memLoads(mem, Seq(0))
    val reference = tableChecks(mem)
    measure { (i, traced) => measuredLoad(i, traced, 0, d => new Warehouse(spark, Some(d))) }
    extra("reference") = reference
    readProbes(1)
  }

  /** `vault_incremental`: one load onto a pre-built history. The history
    * comes from the in-memory reference run and is written into each
    * fresh parquet warehouse through its public write path, so the new
    * Warehouse holds every table as its merge target and the load takes
    * the incremental branches (`Scd2.merge` over existing versions, the
    * partition-scoped `putScd2`, the `insertOnlyNew` anti-joins). */
  private def vaultIncremental(): Unit = {
    val last = loadCount - 1
    val mem = new Warehouse(spark)
    memLoads(mem, 0 until last)
    val history = (RawTables ++ Pipeline.allSpecs.map(_.name)).map(n => n -> mem(n))
    val scd2 = Pipeline.allSpecs.filter(_.mode == Scd2Merge).map(_.name).toSet
    def restore(dir: String): Warehouse = {
      val wh = new Warehouse(spark, Some(dir))
      history.foreach { case (n, df) =>
        if (scd2(n)) wh.putScd2(n, df, Nil) else wh.put(n, df)
      }
      wh
    }
    memLoads(mem, Seq(last))
    extra("reference") = tableChecks(mem)
    measure { (i, traced) => measuredLoad(i, traced, last, restore) }
    readProbes(loadCount)
  }

  // ---- vault: queries --------------------------------------------------

  private def movieIds(wh: Warehouse): Seq[String] =
    wh("movie_hub").select("movie_id").orderBy("movie_id").collect().map(_.getString(0)).toSeq

  private def params(cls: String, rnd: scala.util.Random, ids: Seq[String],
                     loads: Int): Map[String, Any] = cls match {
    case "pit" | "mart_asof" =>
      val is = instants(loads)
      Map("ts" -> is(rnd.nextInt(is.size)))
    case "history" => Map("movie_id" -> ids(rnd.nextInt(ids.size)))
    case "mart" => Map("mart" -> Marts(rnd.nextInt(Marts.size)))
  }

  /** The four read classes, each over the warehouse's own tables. Every
    * result is small and exactly comparable: doubles are either summed as
    * rounded integers or rounded to four places as the gates do. */
  private def query(wh: Warehouse, cls: String, p: Map[String, Any]): DataFrame = cls match {
    case "pit" =>
      val ts = lit(p("ts").toString).cast(TimestampType)
      AsOfJoin.validAt(wh("movie_info_sat"), ts)
        .join(AsOfJoin.validAt(wh("movie_genre_link"), ts).select("movie_id", "genre_id"), "movie_id")
        .join(wh("genre_hub"), "genre_id")
        .groupBy("genre_nm")
        .agg(count(lit(1)).as("n"), countDistinct("movie_id").as("movies"),
          sum(floor(col("rating").cast(DoubleType) * 10 + 0.5).cast(LongType)).as("rating_x10"))
    case "history" =>
      wh("movie_info_sat").where(col("movie_id") === p("movie_id").toString)
        .select(col("title_item_id"), col("scr_nm"), col("rating"),
          col(Scd2.ValidFrom).cast(StringType).as("valid_from"),
          col(Scd2.ValidTo).cast(StringType).as("valid_to"))
    case "mart" =>
      val df = wh(p("mart").toString)
      val aggs = count(lit(1)).as("n") +: df.schema.fields.toSeq.map { f =>
        f.dataType match {
          case StringType => sum(length(coalesce(col(f.name), lit("")))).as(f.name)
          case DoubleType => sum(floor(col(f.name) * 10000 + 0.5).cast(LongType)).as(f.name)
          case _ => sum(col(f.name).cast(LongType)).as(f.name)
        }
      }
      df.agg(aggs.head, aggs.tail: _*)
    case "mart_asof" =>
      val ts = lit(p("ts").toString).cast(TimestampType)
      MartQueries.genreMetrics(AsOfJoin.validAt(wh("movie_info_sat"), ts),
          wh("movie_hub"),
          AsOfJoin.validAt(wh("movie_genre_link"), ts).select("movie_id", "genre_id"),
          wh("genre_hub"), tiebreakCol = Some("movie_id"))
        .withColumn("average_rating",
          graft.functions.Rounding.round4(col("average_rating")))
  }

  private def collectOp(op: Op, wh: Warehouse): Unit = {
    timed(op) {
      maybeThrow(op.cls)
      val rows = span(op.traced, s"read.${op.cls}", op.id.toLong) {
        val d = query(wh, op.cls, op.params)
        op.columns = d.columns.toSeq
        d.collect().toSeq
      }
      op.rows = rows.map(_.toSeq)
    }
    if (op.error.isEmpty && corrupt(op.cls))
      op.rows = op.rows :+ op.columns.map(_ => "corrupted")
  }

  private def readLayers(wh: Warehouse, ids: Seq[String], loads: Int): Unit =
    tracer.foreach { t =>
      QueryClasses.foreach { cls =>
        val ss = t.allSpans.filter(_.name == s"read.$cls")
        val ws = ss.map(s => t.workUnder(s))
        layers(s"read.$cls.p50_ms") = median(ss.map(s => (s.endNs - s.startNs) / 1e6))
        layers(s"read.$cls.jobs") = median(ws.map(_.map(_.jobs.get).sum.toDouble))
        layers(s"read.$cls.bytes_read") = median(ws.map(_.map(_.inputBytes.get).sum.toDouble))
        layers(s"read.$cls.files_read") = query(wh, cls,
          params(cls, new scala.util.Random(c.seed), ids, loads)).inputFiles.length.toDouble
      }
    }

  // ---- catalog: index lifecycle gates ---------------------------------

  /** `catalog_index`: passes over the index lifecycle gates through
    * `SparkEntry.queries`, each gate timed like the repository's gate
    * bench (build the frame, count it, release operator caches). Each gate
    * works on a private clone of an index built once per JVM, so the
    * index builds fall in set-up and a pass times the mutations. */
  private def catalogIndex(): Unit = {
    val sfDir = s"${c.inputs}/sf"
    val queries = graft.SparkEntry.queries
    extra("oracle_sql") = Gates.map(g => g -> graft.SparkEntry.oracleSql(g)).toMap
    def pass(p: Int, traced: Boolean, keep: Boolean): Unit = {
      val op = newOp("gate_pass", c.workload, Map("pass" -> p), traced)
      val gates = Gates.map { g =>
        val gop = newOp("gate", g, Map("pass" -> p), traced)
        var df: DataFrame = null
        timed(gop) {
          if (keep) maybeThrow(g)
          span(traced, s"queries.gate.$g", p.toLong) {
            df = queries(g)(spark, sfDir)
            df.count()
          }
        }
        if (gop.error.isEmpty && keep) {
          // the output dump for the oracle check is not timed
          val d = s"${c.work}/gates/pass_$p/$g"
          (if (corrupt(g)) df.limit(0) else df).coalesce(1).write.mode("overwrite").parquet(d)
          gop.outputDir = Some(d)
        }
        // releasing the gate's operator caches is part of its time
        val t0 = System.nanoTime()
        span(traced, s"queries.gate.$g", p.toLong) {
          graft.operators.OperatorCaches.releaseAll(spark)
        }
        if (gop.error.isEmpty) gop.ms += (System.nanoTime() - t0) / 1e6
        gop
      }
      op.ms = gates.map(_.ms).sum
      if (gates.exists(_.error.isDefined)) op.error = Some("a gate failed")
      if (!keep) ops --= op +: gates
    }
    // set-up: one pass builds the index snapshots every later pass clones,
    // and warms the JVM
    pass(-1, traced = false, keep = false)
    // storage is the size of those index snapshots; the clones in the same
    // directory share their files through hard links
    val snapshots = Files.list(Paths.get(sys.props("java.io.tmpdir"))).iterator().asScala
      .filter(_.getFileName.toString.startsWith("graft_fixture_")).map(_.toString).toSeq
    extra("storage") = Map("bytes" -> snapshots.map(dirBytes).sum, "raw_bytes" -> dirBytes(sfDir))
    measure { (i, traced) => pass(i, traced, keep = true) }
    tracer.foreach { t =>
      val gateSpans = t.allSpans.filter(_.name.startsWith("queries.gate."))
      val ws = gateSpans.flatMap(t.workUnder)
      layers("operators.index.jobs_per_gate") = ws.map(_.jobs.get).sum.toDouble / Gates.size
      layers("operators.index.tasks_per_gate") = ws.map(_.tasks.get).sum.toDouble / Gates.size
      layers("operators.index.driver_s") = gateSpans.map(t.driverSeconds).sum
      layers("operators.index.shuffle_bytes") = ws.map(_.shuffleBytes.get).sum.toDouble
      Gates.foreach { g =>
        val ss = t.allSpans.filter(_.name == s"queries.gate.$g")
        layers(s"queries.gate.$g.wall_s") = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
        layers(s"queries.gate.$g.jobs") = ss.map(s => t.workUnder(s).map(_.jobs.get).sum).sum.toDouble
      }
    }
  }
}

