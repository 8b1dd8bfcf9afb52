package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --result <file>
  *   perfbench.Main --selftest --work <dir>
  *
  * Writes one JSON result object to `--result` (see [[Run.resultJson]]);
  * `perfbench/run.py` builds the classes, starts this JVM and prints the
  * result. */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartS = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a.getOrElse("work", sys.error("--work is required")))
    Files.createDirectories(work)
    if (argv.contains("--selftest")) { SelfTest.run(work); return }
    val run = new Run(
      workload = a("workload"), seed = a("seed").toLong,
      seconds = a("seconds").toDouble, traced = a("trace") == "1",
      work = work, jvmStartS = jvmStartS)
    val wl: Workload = run.workload match {
      case "medallion_backfill" => new Backfill(run)
      case "stream_open_loop" => new StreamOpenLoop(run)
      case "curate_corpus" => new CurateCorpus(run)
      case w => sys.error(s"unknown workload $w")
    }
    try wl.execute()
    finally run.stopSession()
    Files.write(Paths.get(a("result")), run.resultJson.getBytes("UTF-8"))
  }
}

/** One workload: set-up (timed, repeated), an unmeasured warm-up, the
  * measured phase and the output checks. */
trait Workload {
  def execute(): Unit
}

/** State and bookkeeping shared by every workload of one run. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val traced: Boolean, val work: Path, val jvmStartS: Double) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val tracer = new Tracer(traced, s"$workload-$seed")
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  private val phases = mutable.ArrayBuffer.empty[(String, Double)]
  private var phaseStart = System.nanoTime()

  /** Close the current phase under `name` (phase wall times go to info). */
  def phase(name: String): Unit = {
    val now = System.nanoTime()
    phases += name -> (now - phaseStart) / 1e9
    phaseStart = now
  }

  def newSession(cores: Int = cores): SparkSession = {
    stopSession()
    val s = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    spark = s
    s
  }

  def stopSession(): Unit = if (spark != null) {
    tracer.detach()
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark = null
  }

  /** Set up `reps` times — fresh session plus fresh inputs each time —
    * and record `setup_s` as the JVM start plus the median repetition.
    * Returns the last repetition's ground truth; its session stays open. */
  def setup[T](reps: Int = 3)(gen: (SparkSession, Path) => T): (T, Path) = {
    var last: (T, Path) = null
    val times = (0 until reps).map { r =>
      val dir = work.resolve(s"inputs-$r")
      val t0 = System.nanoTime()
      val s = newSession()
      last = (gen(s, dir), dir)
      (System.nanoTime() - t0) / 1e9
    }
    (0 until reps - 1).foreach(r => Run.deleteTree(work.resolve(s"inputs-$r")))
    phase("setup")
    metric("setup_s", jvmStartS + Run.median(times), "s")
    info("setup_reps_s") = times.map(t => f"$t%.3f").mkString("[", ",", "]")
    info("jvm_start_s") = f"$jvmStartS%.3f"
    last
  }

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Record one output check; a failed check is a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    checks(name) = ok
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] check failed: $name $detail")
    }
  }

  /** Run one measured operation; an exception counts as a failed one. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception =>
      failed += 1
      System.err.println(s"[perfbench] operation failed: $e")
      e.printStackTrace()
      None
    }
  }

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Per-layer metrics: every name in [[Layers.all]], zero where the
    * workload bypasses the layer, plus the span-derived ones. */
  def layerMetrics(extra: Map[String, Double]): Unit = {
    tracer.detach()
    val fromSpans = Layers.fromSpans(tracer.all, cores)
    metrics.clear()
    Layers.all.foreach { case (n, u) =>
      metric(n, extra.getOrElse(n, fromSpans.getOrElse(n, 0.0)), u)
    }
    tracer.dump(work.resolve("spans.jsonl"))
    info("spans_file") = work.resolve("spans.jsonl").toString
  }

  def resultJson: String = {
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    info("nproc") = cores.toString
    info("max_heap_mb") = (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString
    info("load_avg_1m") = f"$load%.2f"
    info("phase_s") = phases.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ")
    info("checks") = checks.map { case (k, v) => s"$k=${if (v) "ok" else "FAIL"}" }
      .mkString(" ")
    Json.obj(Seq(
      "correct" -> (failed == 0 && checks.nonEmpty).toString,
      "attempted" -> math.max(attempted, 1L).toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) })))
  }
}

object Run {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile, `q` in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val ps = Files.walk(root).toArray.map(_.asInstanceOf[Path]).sortBy(-_.getNameCount)
      ps.foreach(Files.deleteIfExists)
    }

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else Files.walk(root).toArray.map(_.asInstanceOf[Path])
      .filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Run `body` repeatedly until `seconds` have passed (at least
    * `minReps` times); returns each repetition's result. Each repetition
    * starts from a collected heap, so none pays for its predecessor's
    * garbage. */
  def repeatFor[T](seconds: Double, minReps: Int)(body: Int => T): Seq[T] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[T]
    while (out.size < minReps || System.nanoTime() < end) {
      System.gc()
      out += body(out.size)
    }
    out.toList
  }
}
