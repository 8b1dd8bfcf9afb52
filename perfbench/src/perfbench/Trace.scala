package perfbench

import scala.collection.mutable
import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Task-metric totals of one span, filled from Spark's own counters. */
final class SpanMetrics {
  var busyMs = 0L; var cpuNs = 0L; var gcMs = 0L; var jobs = 0
  var rowsIn = 0L; var rowsOut = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var bytesWritten = 0L
  var failedTasks = 0
}

/** One Spark job run inside a span. */
final case class JobRec(id: Int, callSite: String, executionId: String,
                        submitMs: Long, endMs: Long = 0L)

/** One call into a layer: name, wall interval, parent span and run id. */
final case class Span(id: Long, name: String, parent: Long, runId: String,
                      startNs: Long, var endNs: Long = 0L) {
  val m = new SpanMetrics
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Benchmark-owned tracer. Spans are kept in memory and written when the
  * run ends. A span's id travels to Spark as a thread-local job property
  * set before each call into a layer; a SparkListener adds the task
  * metrics of every job carrying that property to the span, so the
  * per-layer numbers come from Spark's counters and the program is
  * unchanged. With `enabled = false` no listener is registered and
  * `span` only runs its body — the untraced configuration that end-to-end
  * metrics are measured in. `recording` switches span recording off for
  * the untraced calls a traced run interleaves to measure the overhead. */
final class Tracer(val enabled: Boolean, val runId: String) {
  @volatile var recording: Boolean = enabled
  private val Prop = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Long, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val jobSpan = mutable.Map.empty[Int, (Span, Int)]
  private var nextId = 1L
  val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private var attached: Option[(SparkSession, SparkListener, StreamingQueryListener)] = None
  private val lock = new Object

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
      id.flatMap(s => byId.get(s.toLong)).foreach { sp =>
        sp.m.jobs += 1
        e.stageIds.foreach(stageSpan(_) = sp)
        // a job's call site is the name of its last stage, e.g.
        // "count at Curate.scala:37"
        val site = if (e.stageInfos.isEmpty) "?" else e.stageInfos.maxBy(_.stageId).name
        val exec = Option(e.properties.getProperty("spark.sql.execution.id")).getOrElse("")
        sp.jobs += JobRec(e.jobId, site, exec, e.time)
        jobSpan(e.jobId) = (sp, sp.jobs.size - 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.remove(e.jobId).foreach { case (sp, i) =>
        sp.jobs(i) = sp.jobs(i).copy(endMs = e.time)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { sp =>
        val m = sp.m
        if (e.reason != Success) m.failedTasks += 1
        val t = e.taskMetrics
        if (t != null) {
          m.busyMs += t.executorRunTime
          m.cpuNs += t.executorCpuTime
          m.gcMs += t.jvmGCTime
          m.rowsIn += t.inputMetrics.recordsRead
          m.rowsOut += t.outputMetrics.recordsWritten
          m.bytesWritten += t.outputMetrics.bytesWritten
          m.shuffleWriteBytes += t.shuffleWriteMetrics.bytesWritten
          m.spillBytes += t.diskBytesSpilled
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Register the listeners on `spark` (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    detach()
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
    attached = Some((spark, listener, streamListener))
  }

  /** Wait for queued listener events, then unregister. */
  def detach(): Unit = attached.foreach { case (spark, l, sl) =>
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(l)
    spark.streams.removeListener(sl)
    attached = None
  }

  /** Run `body` as one call into a layer. The job property is set on the
    * calling thread (inside `foreachBatch` for the stream workload). */
  def span[T](sc: SparkContext, name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val parent = Option(sc.getLocalProperty(Prop)).map(_.toLong).getOrElse(0L)
      val sp = lock.synchronized {
        val s = Span(nextId, name, parent, runId, System.nanoTime())
        nextId += 1; spans += s; byId(s.id) = s; s
      }
      sc.setLocalProperty(Prop, sp.id.toString)
      try body
      finally {
        sp.endNs = System.nanoTime()
        sc.setLocalProperty(Prop, if (parent == 0L) null else parent.toString)
      }
    }

  def all: Seq[Span] = lock.synchronized(spans.toList)

  /** The spans as JSON lines (written once, when the run ends). */
  def dump(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      // adaptive execution runs a query's shuffle and broadcast stages as
      // jobs of their own, named after an internal closure: label them
      // with the call site of their query's result job
      val siteOf = s.jobs.filterNot(_.callSite.startsWith("$"))
        .map(j => j.executionId -> j.callSite).toMap
      val jobs = s.jobs.map { j =>
        val label =
          if (j.callSite.startsWith("$")) siteOf.getOrElse(j.executionId, j.callSite)
          else j.callSite
        s"""{"job":${j.id},"call_site":${Json.str(label)},"ms":${j.endMs - j.submitMs}}""" }
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run_id":${Json.str(s.runId)},"start_s":${(s.startNs - t0) / 1e9},""" +
        s""""end_s":${(s.endNs - t0) / 1e9},"busy_core_s":${s.m.busyMs / 1e3},""" +
        s""""cpu_s":${s.m.cpuNs / 1e9},"gc_s":${s.m.gcMs / 1e3},""" +
        s""""rows_in":${s.m.rowsIn},"rows_out":${s.m.rowsOut},""" +
        s""""shuffle_write_bytes":${s.m.shuffleWriteBytes},""" +
        s""""spill_bytes":${s.m.spillBytes},"bytes_written":${s.m.bytesWritten},""" +
        s""""failed_tasks":${s.m.failedTasks},"jobs":[${jobs.mkString(",")}]}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Per-layer metric names and their aggregation from spans. */
object Layers {
  /** Spans where the work is: full field set. */
  val mainSpans = Seq("ingest.parse_split", "silver.chain", "gold.window5m",
    "streaming.fold", "ext.curate.run", "ext.curate.materialize")
  /** Spans that do little work by design: reduced field set. */
  val smallSpans = Seq("gold.hourly", "gold.daily", "quality.suite",
    "warehouse.fact_load", "warehouse.dim_upsert")
  val mainFields = Seq("wall_s", "busy_core_s", "idle_core_s", "cpu_s", "gc_s",
    "jobs", "rows_in", "rows_out", "shuffle_write_mb", "spill_mb", "bytes_written_mb")
  val smallFields = Seq("wall_s", "busy_core_s", "jobs", "rows_out",
    "shuffle_write_mb", "bytes_written_mb")
  val streamingProgress = Seq("latestOffset", "getBatch", "queryPlanning",
    "walCommit", "commitOffsets")
  /** Layers whose single-threaded wall the traced backfill run records. */
  val local1Layers = Seq("ingest", "silver", "gold", "quality", "warehouse")

  /** Every per-layer metric name with its unit, in BENCHMARK.json order. */
  val all: Seq[(String, String)] = {
    def unit(f: String) =
      if (f.endsWith("_s")) "s" else if (f.endsWith("_mb")) "MB" else "count"
    mainSpans.flatMap(s => mainFields.map(f => s"$s.$f" -> unit(f))) ++
      smallSpans.flatMap(s => smallFields.map(f => s"$s.$f" -> unit(f))) ++
      streamingProgress.map(p => s"streaming.${p}_ms" -> "ms") ++
      Seq("streaming.input_lag_ms" -> "ms", "streaming.batch_rows" -> "count",
        "streaming.state_mb" -> "MB", "generator.late_ms" -> "ms",
        "silver.keep_ratio" -> "ratio", "ext.exact_removed_per_injected" -> "ratio",
        "ext.near_removed_per_injected" -> "ratio",
        "ext.persisted_rdds_left" -> "count", "spark.failed_tasks" -> "count",
        "trace.overhead_pct" -> "%", "local1.backfill_events_per_s" -> "1/s",
        "local1.speedup" -> "ratio") ++
      local1Layers.map(l => s"local1.$l.wall_s" -> "s")
  }

  /** Mean per call of each field over the spans named `name`. */
  def fields(spans: Seq[Span], name: String, cores: Int): Map[String, Double] = {
    val ss = spans.filter(_.name == name)
    if (ss.isEmpty) Map.empty
    else {
      val n = ss.size.toDouble
      def mean(f: Span => Double) = ss.map(f).sum / n
      val mb = 1024.0 * 1024.0
      Map(
        "wall_s" -> mean(_.wallS),
        "busy_core_s" -> mean(_.m.busyMs / 1e3),
        "idle_core_s" -> mean(s => s.wallS * cores - s.m.busyMs / 1e3),
        "cpu_s" -> mean(_.m.cpuNs / 1e9),
        "gc_s" -> mean(_.m.gcMs / 1e3),
        "jobs" -> mean(_.m.jobs.toDouble),
        "rows_in" -> mean(_.m.rowsIn.toDouble),
        "rows_out" -> mean(_.m.rowsOut.toDouble),
        "shuffle_write_mb" -> mean(_.m.shuffleWriteBytes / mb),
        "spill_mb" -> mean(_.m.spillBytes / mb),
        "bytes_written_mb" -> mean(_.m.bytesWritten / mb))
    }
  }

  /** Span-derived per-layer metrics (zero for spans the workload bypasses). */
  def fromSpans(spans: Seq[Span], cores: Int): Map[String, Double] = {
    val span = (mainSpans.map(_ -> mainFields) ++ smallSpans.map(_ -> smallFields))
      .flatMap { case (s, fs) =>
        val v = fields(spans, s, cores)
        fs.map(f => s"$s.$f" -> v.getOrElse(f, 0.0))
      }
    (span :+ ("spark.failed_tasks" -> spans.map(_.m.failedTasks).sum.toDouble)).toMap
  }
}
