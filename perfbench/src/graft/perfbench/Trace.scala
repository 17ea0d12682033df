package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region around a call into a layer. Counters are filled by the
  * span's own code (rows, files) and by [[Attribution]] (task CPU, bytes,
  * jobs) for every Spark job the span's thread starts. */
final class Span(val id: Long, @volatile var parent: Long, @volatile var trace: Long,
                 val name: String, val start: Long) {
  @volatile var end: Long = 0L
  private val counters = new ConcurrentHashMap[String, java.lang.Long]()
  def add(key: String, v: Long): Unit =
    counters.merge(key, v, (a: java.lang.Long, b: java.lang.Long) => a + b)
  def counter(key: String): Long =
    Option(counters.get(key)).map(_.longValue).getOrElse(0L)
  def addAll(other: Span): Unit = other.counters.forEach((k, v) => add(k, v))
  def toJson: String = {
    val cs = counters.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"id":$id,"parent":$parent,"trace":$trace,"name":"$name",""" +
      s""""start_ns":$start,"end_ns":$end,"counters":$cs}"""
  }
}

/** In-memory span recorder. Spans are kept until the run ends and written
  * out in one piece; a disabled tracer runs the wrapped code untouched.
  *
  * Attribution: a span sets the Spark local property [[Tracer.Prop]] to its
  * id on the calling thread, so every job that thread starts carries the id
  * to the listener bus. The current span is an inheritable thread-local, as
  * Spark's local properties are, so work the program fans out to threads
  * it spawns is parented to the span that spawned them. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val traces = new AtomicLong(0)
  private val recorded = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()

  /** Epoch nanoseconds minus `System.nanoTime`: places times the listener
    * bus reports (epoch milliseconds) on the spans' clock. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def span(id: Long): Option[Span] = Option(byId.get(id))
  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)
  def clear(): Unit = { recorded.clear(); byId.clear() }
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** A span built from outside events rather than timed around a call. */
  def record(name: String, parent: Long, trace: Long, start: Long, end: Long): Span = {
    val s = new Span(ids.incrementAndGet(), parent, trace, name, start)
    s.end = end
    byId.put(s.id, s)
    recorded.add(s)
    s
  }
  def newTrace(): Long = traces.incrementAndGet()

  /** Time `f` as span `name`; `root` starts a new trace (one per trigger
    * or query), otherwise the span joins the current thread's trace. */
  def apply[T](name: String, root: Boolean = false)(f: Span => T): T = {
    if (!enabled) return f(Tracer.Off)
    val parent = Option(current.get)
    val trace =
      if (root || parent.isEmpty) traces.incrementAndGet() else parent.get.trace
    val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
      trace, name, System.nanoTime())
    byId.put(s.id, s)
    val prevProp = sc.getLocalProperty(Tracer.Prop)
    current.set(s)
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    try f(s)
    finally {
      s.end = System.nanoTime()
      recorded.add(s)
      current.set(parent.orNull)
      sc.setLocalProperty(Tracer.Prop, prevProp)
    }
  }
}

object Tracer {
  val Prop = "perfbench.span"
  /** Sink for counters when tracing is off. */
  val Off = new Span(0, 0, 0, "off", 0)
}

/** A Spark job seen by [[Attribution]] in job mode: its span (task
  * counters land there), the long call site of its result stage, and the
  * SQL execution and micro-batch it belongs to (-1 when none). */
final case class JobRecord(span: Span, site: String, execution: Long, batch: Long)

/** SparkListener that charges task metrics to the span that started the
  * job, and keeps run-wide totals for work no span claimed. Stage-to-span
  * links come from the job's properties (the submitting thread's local
  * properties at submission).
  *
  * In job mode ([[jobMode]]) every job becomes a span of its own, timed by
  * the scheduler's submission and completion times, so work submitted on
  * threads the benchmark does not own (the statement set's micro-batch and
  * fan-out threads) is still timed and counted; [[jobs]] returns them with
  * their call sites for the caller to name. */
final class Attribution(tracer: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobRecords = new ConcurrentHashMap[Int, JobRecord]()
  private val executionSites = new ConcurrentHashMap[Long, String]()
  /** Run-wide counters (all jobs, attributed or not). */
  val total = new Span(-1, 0, 0, "total", 0)
  @volatile var jobMode = false

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toLong).filter(_ > 0).flatMap(tracer.span)

  private def longProp(props: java.util.Properties, key: String): Long =
    Option(props).flatMap(p => Option(p.getProperty(key)))
      .flatMap(_.toLongOption).getOrElse(-1L)

  /** Jobs recorded in job mode, in submission order. */
  def jobs: Seq[JobRecord] = jobRecords.asScala.toSeq.sortBy(_._1).map(_._2)

  /** The long call site of a SQL execution, for jobs whose own call site
    * names no program frame (broadcasts run on Spark's own threads). */
  def executionSite(id: Long): String = Option(executionSites.get(id)).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.add("jobs", 1)
    val target =
      if (jobMode) {
        val s = new Span(0, 0, 0, "job", tracer.fromEpochMs(e.time))
        val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
        jobRecords.put(e.jobId, JobRecord(s, site,
          longProp(e.properties, "spark.sql.execution.id"),
          longProp(e.properties, "streaming.sql.batchId")))
        Some(s)
      } else spanOf(e.properties)
    target.foreach { s =>
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
      s.add("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobRecords.get(e.jobId)).foreach(_.span.end = tracer.fromEpochMs(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (!jobMode) spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites.put(x.executionId, x.details)
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val targets = total +: Option(stageSpan.get(e.stageId)).toSeq
    val m = e.taskMetrics
    targets.foreach { s =>
      s.add("tasks", 1)
      if (m != null) {
        s.add("cpu_ns", m.executorCpuTime)
        s.add("shuffle_bytes", m.shuffleWriteMetrics.bytesWritten)
        s.add("input_bytes", m.inputMetrics.bytesRead)
        s.add("input_records", m.inputMetrics.recordsRead)
        s.add("bytes_written", m.outputMetrics.bytesWritten)
      }
    }
  }
}
