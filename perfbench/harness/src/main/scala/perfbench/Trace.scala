package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. `parent` is the id of
  * the enclosing span (0 at the top); `run` groups the spans of one
  * operation (a load, a query, a gate pass). */
final case class Span(id: Long, name: String, parent: Long, run: Long,
                      startNs: Long, var endNs: Long = 0L)

/** Spark work attributed to one span: every job whose submitting thread
  * carried the span's id in the [[Tracer.Property]] local property. */
final class SparkWork {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val inputBytes = new AtomicLong
  val outputBytes = new AtomicLong
  val outputRows = new AtomicLong
  /** (startMs, endMs) of each job, for the driver-only share of a span. */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
}

/** Spans kept in memory plus a SparkListener that charges each job and
  * task to the span that submitted it. Spans nest per thread; several
  * client threads may trace concurrently. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Property

  private val nextId = new AtomicLong(1)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]
  private val work = new ConcurrentHashMap[Long, SparkWork]
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val jobSpan = new ConcurrentHashMap[Int, (Long, Long)]

  def span[T](name: String, run: Long)(body: => T): T = {
    val parent = Option(sc.getLocalProperty(Property)).map(_.toLong).getOrElse(0L)
    val s = Span(nextId.getAndIncrement(), name, parent, run, System.nanoTime())
    spans.add(s)
    sc.setLocalProperty(Property, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      sc.setLocalProperty(Property, if (parent == 0L) null else parent.toString)
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def workOf(id: Long): SparkWork = work.computeIfAbsent(id, _ => new SparkWork)

  /** Spark work of a span and every span nested in it. */
  def workUnder(root: Span): Seq[SparkWork] = {
    val kids = allSpans.groupBy(_.parent)
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root).flatMap(s => Option(work.get(s.id)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Property)))
    id.foreach { v =>
      val sid = v.toLong
      workOf(sid).jobs.incrementAndGet()
      jobSpan.put(e.jobId, (sid, e.time))
      e.stageIds.foreach(st => stageSpan.put(st, sid))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (sid, start) =>
      workOf(sid).jobIntervals.add((start, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageSpan.get(e.stageId)).filter(_ => m != null).foreach { sid =>
      val w = workOf(sid)
      w.tasks.incrementAndGet()
      w.cpuNs.addAndGet(m.executorCpuTime)
      w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
      w.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      w.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      w.outputRows.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  /** Wall time of `s` not covered by any Spark job of it or its children:
    * planning, file listing, renames and other driver-side work. */
  def driverSeconds(s: Span): Double = {
    val startMs = s.startNs / 1000000L
    val endMs = s.endNs / 1000000L
    // listener job times are epoch ms; span times are monotonic ns
    val offset = Tracer.epochOffsetMs
    val ivs = workUnder(s).flatMap(_.jobIntervals.asScala)
      .map { case (a, b) => (a - offset, b - offset) }
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (endMs - startMs - covered) / 1000.0)
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfSeconds(s: Span, kids: Seq[Span]): Double = {
    val childNs = kids.map(k => k.endNs - k.startNs).sum
    math.max(0.0, (s.endNs - s.startNs - childNs) / 1e9)
  }

  def spansJson: String = {
    val kids = allSpans.groupBy(_.parent)
    allSpans.sortBy(_.id).map { s =>
      val w = Option(work.get(s.id))
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> (s.startNs - Tracer.t0) / 1e6,
        "end_ms" -> (s.endNs - Tracer.t0) / 1e6,
        "self_s" -> selfSeconds(s, kids.getOrElse(s.id, Nil)),
        "jobs" -> w.map(_.jobs.get).getOrElse(0L),
        "tasks" -> w.map(_.tasks.get).getOrElse(0L))
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val Property = "perfbench.span"
  val t0: Long = System.nanoTime()
  /** epoch ms minus monotonic ms, to put listener times on the span clock. */
  lazy val epochOffsetMs: Long = System.currentTimeMillis() - System.nanoTime() / 1000000L
}

/** Run context recorded with every run, traced or not, so runs hit by
  * CPU steal or long GC can be told apart. */
object RunContext {
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        if (f.length > 7) f(7) else 0L
      } finally src.close()
    } catch { case _: Throwable => 0L }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** Peak resident set of this JVM in MiB (VmHWM). */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
      finally src.close()
    } catch { case _: Throwable => 0.0 }
}

/** Minimal JSON writer for the harness's result files. */
object Json {
  /** Pre-rendered JSON, embedded as is. */
  final case class Raw(s: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Raw(s) => s
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case n: java.math.BigDecimal => str(n.toPlainString)
    case n: BigDecimal => str(n.bigDecimal.toPlainString)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
