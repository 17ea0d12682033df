package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import graft.{Bench, SparkEntry, Tables}
import graft.compile.{CompiledPipeline, CompilerOptions, PipelineCompiler, StreamingBridge}
import graft.operators.{DedupIndex, GenStore}
import graft.spec.{SttmParser, SttmSpec}
import graft.streaming.{ChangelogSink, SnapshotStore, StreamingPipeline}
import graft.streaming.StreamingPipeline.StatementSet

/** Measurement side of the pipeline benchmark (`perfbench/run.py` drives
  * it; see perfbench/README.md).
  *
  *   Main --workload W --data DIR --work DIR --seconds S --trace 0|1 --out F
  *
  * Runs passes of the workload until `--seconds` would be exceeded (at least
  * one), checks the outputs of the last pass outside the timed region, and
  * writes raw samples (set-up times, pass walls, per-trigger progress, per
  * query times, spans) to F as one JSON object. Statistics are computed by
  * run.py. With `--trace 1` it makes one untraced pass and one traced pass
  * of the same work, so the record carries the tracing overhead. */
object Main {

  final case class Args(workload: String, data: String, work: String,
                        seconds: Double, trace: Boolean, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("out"))
  }

  /** Failed operations against attempted ones, plus the check outcomes. */
  final class Ledger {
    var attempted = 0L
    var failed = 0L
    val checks = ArrayBuffer.empty[String]
    val errors = ArrayBuffer.empty[String]
    def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
    def check(name: String, got: (Long, String), want: (Long, String)): Unit = {
      val ok = got == want
      op(ok)
      checks += s"""{"name":"$name","ok":$ok,"rows":${got._1},""" +
        s""""got":"${got._2}","want":"${want._2}","want_rows":${want._1}}"""
    }
    def error(what: String, e: Throwable): Unit = {
      op(false)
      errors += Json.str(s"$what: ${e.getClass.getName}: " +
        String.valueOf(e.getMessage).take(300))
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    val curation = a.workload == "curation_batch"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      // the operator library's bench settings for curation; the statement
      // set's settings (q_stream_sttm_compiled) for ingest
      .config("spark.sql.shuffle.partitions", if (curation) cpus.toString else "8")
      .config("spark.sql.adaptive.enabled", curation.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext, enabled = a.trace)
    val attribution = new Attribution(tracer)
    spark.sparkContext.addSparkListener(attribution)
    val ledger = new Ledger
    val body =
      try {
        if (curation) new Curation(spark, a, tracer, attribution, ledger).run()
        else new Ingest(spark, a, tracer, attribution, ledger).run()
      } catch {
        case e: Throwable =>
          ledger.error("run", e)
          e.printStackTrace()
          ""
      }
    PerfbenchBus.drain(spark.sparkContext)
    val spans = tracer.spans.map(_.toJson).mkString("[", ",", "]")
    val json =
      s"""{"workload":"${a.workload}","cpus":$cpus,"trace":${a.trace},""" +
        s""""attempted":${ledger.attempted},"failed":${ledger.failed},""" +
        s""""checks":${ledger.checks.mkString("[", ",", "]")},""" +
        s""""errors":${ledger.errors.mkString("[", ",", "]")},""" +
        s"""$body"spans":$spans,"totals":${attribution.total.toJson}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), json + "\n")
    spark.stop()
  }

  /** Passes of `pass` until another one would overrun `seconds` (at least
    * one). Returns the pass results in order. */
  def timed[T](seconds: Double)(pass: () => (T, Double)): Seq[(T, Double)] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[(T, Double)]
    def elapsed = (System.nanoTime() - t0) / 1e9
    do out += pass()
    while (elapsed + out.map(_._2).max <= seconds)
    out.toSeq
  }

  /** `f`'s wall seconds and the run-wide listener counters it consumed
    * (executor CPU seconds, jobs, tasks), as a JSON fragment: the counters
    * to set beside wall time when the host's speed drifts. */
  def measured[T](sc: org.apache.spark.SparkContext, attribution: Attribution)(
      f: => T): (T, Double, String) = {
    val keys = Seq("cpu_ns", "jobs", "tasks")
    PerfbenchBus.drain(sc)
    val before = keys.map(attribution.total.counter)
    val (r, wall) = secondsOf(f)
    PerfbenchBus.drain(sc)
    val used = keys.map(attribution.total.counter).zip(before).map { case (x, y) => x - y }
    (r, wall, f""""cpu_s":${used(0) / 1e9}%.6f,"jobs":${used(1)},"tasks":${used(2)}""")
  }

  /** Logs the end of a run phase with the JVM's uptime, to jvm.log. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name done at ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
  def nums(xs: Seq[Double]): String = xs.map(x => f"$x%.6f").mkString("[", ",", "]")
}

/** The bundled demo STTM workbook -> StreamingBridge statement set over a
  * file backlog, drained by `StreamingPipeline.runSet` with AvailableNow
  * and one file per trigger. */
final class Ingest(spark: SparkSession, a: Main.Args, tracer: Tracer,
                   attribution: Attribution, ledger: Main.Ledger) {
  import Main._
  import Ingest._

  private val eventsIn = s"${a.data}/events_in"

  final case class Setup(session: SparkSession, pipeline: CompiledPipeline,
                         set: StatementSet, source: DataFrame)

  final case class Trigger(batch: Long, rows: Long, startMs: Long,
                           triggerMs: Long, addBatchMs: Long)

  /** One drain of a backlog: its triggers, wall seconds and counters. */
  final case class Drain(triggers: Seq[Trigger], wall: Double, counters: String)

  private def resource(path: String): String = {
    val in = getClass.getResourceAsStream(path)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Session, STTM parse + compile, bridge (with static dim-view planning)
    * and the source definition: everything before the first trigger. */
  def setup(backlog: String = eventsIn): Setup = {
    val s2 = spark.newSession()
    s2.read.parquet(s"${a.data}/customer.parquet").createOrReplaceTempView("customer")
    val pipeline = tracer("compile.sttm", root = true) { _ =>
      PipelineCompiler.compile(
        SttmSpec(SttmParser.mappingFromCsv(resource("/graft/demo_sttm.csv")),
          SttmParser.matrixFromCsv(resource("/graft/demo_matrix.csv"))),
        CompilerOptions(payloadCol = "props"))
    }
    val set = tracer("compile.bridge", root = true) { _ =>
      StreamingBridge.toStatementSet(pipeline, streamTable = "events", s2, nBuckets = 8)
    }
    val source = s2.readStream
      .schema(s2.read.parquet(backlog).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(backlog)
    Setup(s2, pipeline, set, source)
  }

  /** Store and sink directories of a drain into `work`. */
  private def roots(set: StatementSet, work: String): Seq[String] =
    set.xrefs.map(x => StreamingPipeline.xrefStorePath(work, x.name)) ++
      set.sinks.map(sd => StreamingPipeline.sinkPath(work, sd.name))

  /** The statement set with a span around each view transform and sink
    * emit, the layer calls `runSet` takes from its caller. Both return lazy
    * frames, so these spans time plan construction; the row work of a view
    * and of an emit runs inside the jobs of the layer that consumes them.
    * The first view of a trigger also snapshots the store and sink
    * manifests, which is how folds are counted. */
  private def tracedSet(set: StatementSet, work: String,
                        manifests: ArrayBuffer[Seq[(Int, Set[String])]]): StatementSet = {
    val first = set.views.head.name
    def batch = Option(spark.sparkContext.getLocalProperty(BatchIdProp))
      .flatMap(_.toLongOption).getOrElse(-1L)
    set.copy(
      views = set.views.map(v => v.copy(transform = raw => {
        if (v.name == first) {
          manifests.synchronized(manifests += roots(set, work).map(segState))
          // the query pinned its start() call site on this thread; clear
          // it so the jobs that follow (and the fan-out threads spawned
          // later) carry the stack that submits them
          spark.sparkContext.clearCallSite()
        }
        tracer("compile.view_emit") { s => s.add("batch", batch); v.transform(raw) }
      })),
      sinks = set.sinks.map(sd => sd.copy(emit = (views, deltas) =>
        tracer(sinkLayer(sd.name)) { s => s.add("batch", batch); sd.emit(views, deltas) })))
  }

  /** Drain the backlog once into a fresh work dir; returns the triggers.
    * A traced drain runs the same `runSet` over [[tracedSet]] and turns the
    * run's Spark jobs and triggers into spans. */
  def drain(st: Setup, work: String, traced: Boolean, foldBudget: Int): Drain = {
    GenStore.deleteRecursively(java.nio.file.Paths.get(work))
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        if (d.containsKey("addBatch"))
          progress.add(Trigger(e.progress.batchId, e.progress.numInputRows,
            java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
            d.get("triggerExecution"), d.get("addBatch")))
      }
    }
    val manifests = ArrayBuffer.empty[Seq[(Int, Set[String])]]
    val set = {
      val s = if (traced) tracedSet(st.set, work, manifests) else st.set
      s.copy(xrefs = s.xrefs.map(_.copy(maxLiveSegments = foldBudget)))
    }
    st.session.streams.addListener(listener)
    if (traced) { PerfbenchBus.drain(spark.sparkContext); attribution.jobMode = true }
    val (pass, wall, counters) = measured(spark.sparkContext, attribution) {
      tracer("pass", root = true) { sp =>
        val q = StreamingPipeline.runSet(st.source, set, work,
          sinkOpts = StreamingPipeline.SinkOptions(maxLiveSegments = foldBudget))
        try q.awaitTermination()
        finally q.stop()
        sp
      }
    }
    attribution.jobMode = false
    st.session.streams.removeListener(listener)
    val triggers = progress.asScala.toSeq.sortBy(_.batch)
    if (!traced) Drain(triggers, wall, counters)
    else {
      spanTriggers(pass, triggers)
      manifests += roots(st.set, work).map(segState)
      val folds = manifests.toSeq.sliding(2).collect { case Seq(x, y) =>
        x.zip(y).map { case (b, e) => foldsBetween(b, e) }.sum }.sum
      val sinkFiles =
        st.set.sinks.map(sd => filesUnder(StreamingPipeline.sinkPath(work, sd.name))).sum
      Drain(triggers, wall, s"""$counters,"folds":$folds,"sink_files":$sinkFiles""")
    }
  }

  /** Spans of a traced drain: one `trigger` span per progress event (one
    * trace each), every Spark job named by the layer that submitted it, and
    * the view/emit spans moved under their trigger. `processSet` runs the
    * shared scan before the first view transform, so a job that ended
    * before that transform began is the scan; any other job is named by its
    * call site. */
  private def spanTriggers(pass: Span, triggers: Seq[Trigger]): Unit = {
    val byBatch = triggers.map { t =>
      val start = tracer.fromEpochMs(t.startMs)
      t.batch -> tracer.record("trigger", pass.id, tracer.newTrace(), start,
        start + t.triggerMs * 1000000L)
    }.toMap
    def under(batch: Long, s: Span): Unit = byBatch.get(batch).foreach { t =>
      s.parent = t.id
      s.trace = t.trace
    }
    val calls = tracer.spans.filter(s => s.name.startsWith("compile.") && s.trace == pass.trace)
    calls.foreach(s => under(s.counter("batch"), s))
    val viewStart = calls.filter(_.name == "compile.view_emit")
      .groupBy(_.counter("batch")).map { case (b, ss) => b -> ss.map(_.start).min }
    attribution.jobs.foreach { j =>
      val layer =
        if (viewStart.get(j.batch).exists(j.span.end <= _)) "streaming.scan"
        else layerOf(j.site)
          .orElse(layerOf(attribution.executionSite(j.execution)))
          .getOrElse("streaming.other")
      val s = tracer.record(layer, pass.id, pass.trace, j.span.start,
        math.max(j.span.start, j.span.end))
      s.addAll(j.span)
      under(j.batch, s)
    }
  }

  /** Latest row per key of a changelog sink (the `batch` column orders). */
  private def latestPerKey(df: DataFrame, pk: Seq[String]): DataFrame = {
    val w = Window.partitionBy(pk.map(col): _*).orderBy(col(ChangelogSink.BatchCol).desc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", ChangelogSink.BatchCol)
  }

  /** Streamed outputs against CompiledPipeline.run over the whole backlog. */
  def check(st: Setup, work: String, tag: String): Unit = {
    val s3 = spark.newSession()
    s3.read.parquet(s"${a.data}/customer.parquet").createOrReplaceTempView("customer")
    s3.read.parquet(eventsIn).createOrReplaceTempView("events")
    val batch = st.pipeline.run(s3)
    val (xrefs, sinks) = (st.pipeline.xrefs ++ st.pipeline.fgacs).partition(_.isUpsertXref)
    xrefs.foreach { t =>
      val want = batch(t.name)
      val got = new SnapshotStore(StreamingPipeline.xrefStorePath(work, t.name)).read(s3)
        .map(_.select(want.columns.map(col): _*))
      ledger.check(s"$tag.${t.name}",
        got.map(Bench.resultFingerprint).getOrElse((-1L, "missing")),
        Bench.resultFingerprint(want))
    }
    sinks.foreach { t =>
      val want = batch(t.name)
      val got = latestPerKey(
        ChangelogSink.read(s3, StreamingPipeline.sinkPath(work, t.name)), t.pk)
        .select(want.columns.map(col): _*)
      ledger.check(s"$tag.${t.name}", Bench.resultFingerprint(got),
        Bench.resultFingerprint(want))
    }
  }

  private def triggersJson(ts: Seq[Trigger]): String =
    ts.map(t => s"""[${t.batch},${t.rows},${t.triggerMs},${t.addBatchMs}]""")
      .mkString("[", ",", "]")

  private def passJson(d: Drain): String =
    s"""{"wall_s":${d.wall},"events":${d.triggers.map(_.rows).sum},${d.counters},""" +
      s""""triggers":${triggersJson(d.triggers)}}"""

  private def runPass(work: String, traced: Boolean,
                      setups: ArrayBuffer[Double]): (Drain, Setup) = {
    val (st, s) = secondsOf(setup())
    setups += s
    val d = drain(st, work, traced, FoldBudget)
    d.triggers.foreach(_ => ledger.op(true))
    (d, st)
  }

  def run(): String = {
    // JIT and codegen warm-up on a separate backlog, untimed and unchecked,
    // so every measured set-up and drain runs warm; with a fold budget of 1
    // its triggers fold and compact, so the fold code is warm too
    drain(setup(s"${a.data}/warm_in"), s"${a.work}/warm", traced = false,
      foldBudget = 1)
    phase("warm-up")
    // set-up is measured several times per run; its median is reported
    val setups = ArrayBuffer.empty[Double]
    (1 to 8).foreach(_ => setups += secondsOf(setup())._2)
    phase("set-ups")
    val work = s"${a.work}/stream"
    if (!a.trace) {
      var last: Setup = null
      val passes = timed(a.seconds) { () =>
        val (d, st) = runPass(work, traced = false, setups)
        last = st
        (d, d.wall)
      }.map(_._1)
      phase("timed drains")
      check(last, work, "stream")
      phase("check")
      s""""setup_s":${Json.nums(setups.toSeq)},""" +
        s""""passes":${passes.map(passJson).mkString("[", ",", "]")},"""
    } else {
      val (plain, st0) = runPass(work, traced = false, setups)
      check(st0, work, "untraced")
      tracer.clear()
      val (traced, st1) = runPass(s"${a.work}/traced", traced = true, setups)
      check(st1, s"${a.work}/traced", "traced")
      s""""setup_s":${Json.nums(setups.toSeq)},""" +
        s""""passes":[${passJson(plain)}],"traced_pass":${passJson(traced)},"""
    }
  }
}

object Ingest {
  /** Local property Spark sets to the micro-batch id on the threads that
    * run a trigger (the fan-out threads inherit it). */
  val BatchIdProp = "streaming.sql.batchId"

  /** `maxLiveSegments` of the XREF store and the sinks in the measured
    * drains: past 4 fresh segments a store or sink folds them, so a drain
    * of 10 one-file triggers folds at its 5th and 10th trigger. Two fold
    * triggers of 10 put the p90 trigger on the faster of them, rather
    * than on the single fold trigger the default budget of 8 gives. */
  val FoldBudget = 4

  def sinkLayer(name: String): String =
    if (name.toUpperCase.contains("QUAR")) "compile.quarantine_emit" else "compile.fgac_emit"

  /** The layer a Spark job belongs to: the first frame of its long call
    * site (innermost first) in a class of the streaming layers. Folds and
    * compactions are their own layer, whichever store or sink runs them. */
  def layerOf(site: String): Option[String] =
    site.linesIterator.map(_.trim).flatMap { frame =>
      val at = frame.indexOf('(')
      val qualified = if (at < 0) frame else frame.substring(0, at)
      val dot = qualified.lastIndexOf('.')
      val (cls, method) =
        if (dot < 0) (qualified, "") else (qualified.substring(0, dot), qualified.substring(dot + 1))
      val folding = method.toLowerCase.contains("fold") || method.contains("compact")
      if (cls.startsWith("graft.streaming.SnapshotStore"))
        Some(if (folding) "streaming.fold"
          else if (method.contains("readBuckets") || method.contains("readLeafs"))
            "streaming.xref_delta"
          else "streaming.xref_merge")
      else if (cls.startsWith("graft.streaming.ChangelogSink"))
        Some(if (folding) "streaming.fold" else "streaming.sink_append")
      else if (cls.startsWith("graft.streaming.StreamingPipeline") && method == "processSet")
        Some("streaming.scan")
      else None
    }.nextOption()

  def segState(dir: String): (Int, Set[String]) =
    GenStore.read(dir).map(s => (s.gen, s.segs.toSet)).getOrElse((0, Set.empty))

  /** Folds and compactions between two manifest states: merged segments
    * created, plus one per generation advanced. */
  def foldsBetween(before: (Int, Set[String]), after: (Int, Set[String])): Long =
    (after._2 -- before._2).count(_.startsWith("m-")) + math.max(0, after._1 - before._1)

  def filesUnder(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val w = java.nio.file.Files.walk(p)
      try w.filter(_.toString.endsWith(".parquet")).count() finally w.close()
    }
  }
}

/** One registered operator query per curation family over the generated
  * corpus, each materialized with `queryExecution.toRdd.count()`. */
final class Curation(spark: SparkSession, a: Main.Args, tracer: Tracer,
                     attribution: Attribution, ledger: Main.Ledger) {
  import Main._

  /** One query per family: dedup, near-dup, ANN, substring, BPE. */
  val names = Seq("q_incr_dedup", "q_simhash_neardup", "q_ann_ivfpq",
    "q_substring_dedup", "q_bpe_encode")
  private val indexDir = s"${a.work}/incr_dedup_index"

  /** The stored near-dup index q_incr_dedup matches against. The registered
    * query keeps it in a shared cache keyed on the data dir's basename; the
    * benchmark builds the same index (same operator, same corpus slice) in
    * its own work dir, so every run pays the build in set-up and no other
    * dataset can serve it. */
  def setup(): Unit = tracer("operators.index_build", root = true) { _ =>
    GenStore.deleteRecursively(java.nio.file.Paths.get(indexDir))
    DedupIndex.build(Tables.documents(spark, a.data).filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", indexDir)
  }

  def query(name: String): DataFrame =
    if (name == "q_incr_dedup")
      DedupIndex.matchBatch(
          Tables.documents(spark, a.data).filter(col("doc_id") % 5 === 0),
          "doc_id", "text", indexDir)
        .orderBy("new_id")
    else SparkEntry.queries(name)(spark, a.data)

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(df: DataFrame): Long =
      collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }.size.toLong
  }

  /** One pass: every query once; the pass record as JSON and its wall. */
  def pass(traced: Boolean): (String, Double) = {
    SparkEntry.resetMemos(spark)
    val (qs, _, counters) = measured(spark.sparkContext, attribution)(names.map { n =>
      val (_, s) = secondsOf(tracer(s"operators.$n", root = true) { sp =>
        val df = query(n)
        df.queryExecution.toRdd.count()
        if (traced) sp.add("exchanges", Plans.exchanges(df))
      })
      ledger.op(true)
      s
    })
    (s"""{"wall_s":${qs.sum},$counters,"queries":${Json.nums(qs)}}""", qs.sum)
  }

  private val oracleOut = s"${a.data}/oracle"

  /** Start perfbench/oracle.py on each query's DuckDB mirror
    * (`SparkEntry.oracleSql`) over the same corpus. It runs while the
    * untimed warm-up does, and is waited for before anything is timed. */
  def startOracle(): Process = {
    val sqlFile = s"${a.work}/oracle_sql.json"
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(a.work))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sqlFile),
      names.map(n => s"${Json.str(n)}:${Json.str(oracle(n))}").mkString("{", ",", "}"))
    new ProcessBuilder("python3", "perfbench/oracle.py",
        "--data", a.data, "--sql", sqlFile, "--out", oracleOut)
      .inheritIO().redirectOutput(ProcessBuilder.Redirect.DISCARD).start()
  }

  /** Each query's result against its DuckDB mirror; `rc` is the exit code
    * of the oracle run. */
  def check(fingerprints: Map[String, ((Long, String), StructType)], rc: Int): Unit = {
    val oracle = SparkEntry.oracleSql
    names.foreach { n =>
      val (got, schema) = fingerprints(n)
      val want =
        try {
          if (rc != 0) sys.error(s"oracle.py exited $rc")
          val w = spark.read.parquet(s"$oracleOut/$n-${md5(oracle(n)).take(12)}.parquet")
          // the mirror's column types can differ in width (INT vs BIGINT);
          // compare values under the Spark result's types
          val byName = w.columns.map(c => c.toLowerCase -> c).toMap
          Bench.resultFingerprint(w.select(schema.fields.map(f =>
            col(byName.getOrElse(f.name.toLowerCase, f.name)).cast(f.dataType).as(f.name)): _*))
        } catch { case e: Throwable => (-1L, s"oracle error: ${e.getMessage}") }
      ledger.check(s"oracle.$n", got, want)
    }
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def run(): String = {
    // An untimed warm-up pass fingerprints each result for the oracle check
    // (the timed passes run the same plans on the same corpus) while the
    // DuckDB mirrors run. The queries that need no index and one index
    // build run before the timed set-ups, so JIT warm-up lands in none.
    def fingerprint(n: String) = { val df = query(n); n -> (Bench.resultFingerprint(df), df.schema) }
    val (indexed, plain) = names.partition(_ == "q_incr_dedup")
    val oracle = startOracle()
    val (warm, rc) =
      try {
        SparkEntry.resetMemos(spark)
        val fps = plain.map(fingerprint)
        setup()
        (fps, oracle.waitFor())
      } finally oracle.destroy()
    phase("warm-up and oracle")
    val setups = (1 to 3).map(_ => secondsOf(setup())._2)
    phase("set-ups")
    val fingerprints = (warm ++ indexed.map(fingerprint)).toMap
    val body =
      if (!a.trace) {
        val passes = timed(a.seconds)(() => pass(false)).map(_._1)
        s""""setup_s":${Json.nums(setups)},"passes":${passes.mkString("[", ",", "]")},"""
      } else {
        val (plain, _) = pass(false)
        tracer.clear()
        val (traced, _) = tracer("pass", root = true)(_ => pass(true))
        s""""setup_s":${Json.nums(setups)},"passes":[$plain],"traced_pass":$traced,"""
      }
    phase("timed passes")
    check(fingerprints, rc)
    phase("check")
    body + s""""query_names":${names.map(Json.str).mkString("[", ",", "]")},""" +
      s""""corpus_rows":${Tables.documents(spark, a.data).count() + Tables.embeddings(spark, a.data).count()},"""
  }
}
