package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ingest.JsonIngest
import graft.model.Schemas
import graft.streaming.StreamingPipeline

/** `stream_open_loop`: one generator thread drops pre-built JSON files
  * into a file source on a fixed schedule (open loop: the schedule never
  * waits for the stream), then drops one burst backlog that the stream
  * drains under the source's `maxFilesPerTrigger` cap. The unmeasured
  * warm-up (a bulk drop, then an open-loop ramp) runs on the same query,
  * so the latency sample starts on a warm query with no backlog. A
  * benchmark-owned `foreachBatch` parses and splits each micro-batch,
  * appends bronze and dead-letter, and folds the batch into gold state
  * with `StreamingPipeline.mergeGoldBatch`. */
final class StreamOpenLoop(run: Run) extends Workload {
  import StreamOpenLoop._

  private val tr = run.tracer
  /** batch id -> (body start ms, body end ms) */
  private val batchTimes = new ConcurrentHashMap[Long, (Long, Long)]()
  /** Set once the generator drops the first measured file. */
  @volatile private var measuring = false

  def execute(): Unit = {
    val steady = math.max(20, (run.seconds * 1000 / IntervalMs).toInt)
    val lead = WarmupFiles + RampFiles // files before the first measured one
    val (truth, in) = run.setup() { (_, dir) =>
      Gen.stream(dir, run.seed, lead + steady, BurstFiles, PerFile, IntervalMs, Sensors,
        LateShare, MalformedShare)
    }
    run.info("input") = s"files=${truth.files} warmup_files=$WarmupFiles " +
      s"ramp_files=$RampFiles steady_files=$steady burst_files=$BurstFiles " +
      s"per_file=$PerFile valid=${truth.valid} malformed=${truth.malformed} " +
      s"late=${truth.late} sha256=${truth.digest}"
    val spark = run.spark
    tr.attach(spark)
    def staged(k: Int) = in.resolve(f"batch-$k%05d.json")

    val base = run.work.resolve("stream")
    Files.createDirectories(base.resolve("src"))
    def drop(k: Int): Unit = Files.move(staged(k),
      base.resolve(s"src/${staged(k).getFileName}"), StandardCopyOption.ATOMIC_MOVE)
    val q = start(spark, base, id => run.traced && measuring && id % 2 == 0)
    // unmeasured warm-up on the measured query itself, so the steady phase
    // starts on a planned, JIT-warm query with no backlog: a bulk drop
    // drained in capped batches, then an open-loop ramp at the steady rate
    (0 until WarmupFiles).foreach(drop)
    q.processAllAvailable()
    run.phase("warmup")

    // open loop: file k is due at t0 + k * interval, whatever the stream does
    val t0 = System.currentTimeMillis() + 200
    val due = Array.tabulate(lead + steady)(k => t0 + (k - WarmupFiles) * IntervalMs)
    val dropped = new Array[Long](lead + steady)
    val gen = new Thread(() => {
      for (k <- WarmupFiles until lead + steady) {
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (k == lead) measuring = true
        drop(k); dropped(k) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.start(); gen.join()
    q.processAllAvailable()
    val beforeBurst = batchTimes.keySet.asScala.toSet
    val tBurst = System.currentTimeMillis()
    (lead + steady until truth.files).foreach(drop)
    q.processAllAvailable()
    q.stop()
    val heapMb = run.retainedHeapMb()
    run.phase("measure")
    q.exception.foreach(e => throw e)

    val batchOf = fileBatches(base.resolve("ckpt"))
    run.attempted += truth.files
    val unprocessed = (0 until truth.files).count(k => !batchOf.contains(staged(k).getFileName.toString))
    run.failed += unprocessed
    run.check("every_file_processed", unprocessed == 0, s"$unprocessed files unprocessed")
    val steadyLat = (lead until lead + steady).flatMap { k =>
      batchOf.get(staged(k).getFileName.toString).map(b => (b, (batchTimes.get(b)._2 - due(k)).toDouble, k))
    }
    val burstBatches = batchTimes.keySet.asScala.toSet -- beforeBurst
    val drained = (burstBatches.map(b => batchTimes.get(b)._2) + tBurst).max
    val catchup = BurstFiles.toDouble * PerFile / ((drained - tBurst) / 1e3)
    val lat = steadyLat.map(_._2)
    val measured = steadyLat.map(_._1).toSet ++ burstBatches
    run.info("latency_sample_files") = lat.size.toString
    run.info("steady_batches") = steadyLat.map(_._1).distinct.size.toString
    run.info("burst_batches") = burstBatches.size.toString
    run.info("batch_ms") = measured.toSeq.sorted.map { b =>
      val (s, e) = batchTimes.get(b); e - s }.mkString(" ")

    checks(spark, truth, base)
    run.phase("checks")

    if (!run.traced) {
      run.metric("retained_heap_mb", heapMb, "MB")
      run.metric("throughput_per_s", catchup, "1/s")
      run.metric("latency_p50_ms", Run.median(lat), "ms")
      run.metric("latency_p95_ms", Run.percentile(lat, 0.95), "ms")
    } else {
      val (tracedLat, plainLat) = steadyLat.partition(_._1 % 2 == 0)
      val progress = tr.progress.map(_.progress)
        .filter(p => p.id == q.id && measured(p.batchId)).toSeq
      def meanDur(k: String) = progress.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / progress.size
      val firstDue = steadyLat.groupBy(_._1).map { case (b, ls) =>
        batchTimes.get(b)._1 - ls.map(l => due(l._3)).min }
      run.layerMetrics(Layers.streamingProgress.map(p => s"streaming.${p}_ms" -> meanDur(p)).toMap ++
        Map(
          "streaming.input_lag_ms" -> firstDue.sum.toDouble / firstDue.size,
          "streaming.batch_rows" -> batchOf.values.count(measured).toDouble * PerFile / measured.size,
          "streaming.state_mb" -> Run.dirBytes(base.resolve("gold/data")) / (1024.0 * 1024.0),
          "generator.late_ms" -> (lead until lead + steady).map(k => (dropped(k) - due(k)).toDouble).sum / steady,
          "trace.overhead_pct" ->
            (Run.median(tracedLat.map(_._2)) / Run.median(plainLat.map(_._2)) - 1) * 100))
    }
  }

  /** Start the measured query over `dir/src`; gold state in `dir/gold`. */
  private def start(spark: SparkSession, dir: Path, traceBatch: Long => Boolean): StreamingQuery = {
    val sc = spark.sparkContext
    def o(p: String) = dir.resolve(p).toString
    StreamingPipeline.fileSource(spark, o("src"), Some(MaxFilesPerTrigger))
      .writeStream
      .option("checkpointLocation", o("ckpt"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t0 = System.currentTimeMillis()
        tr.recording = traceBatch(id)
        val res = tr.span(sc, "ingest.parse_split") {
          val res = JsonIngest.parseAndSplit(batch, "value", Schemas.sensorSchema)
          res.valid.write.mode("append").parquet(o("bronze"))
          res.deadLetter.write.mode("append").json(o("dead_letter"))
          res
        }
        tr.span(sc, "streaming.fold") {
          StreamingPipeline.mergeGoldBatch(res.valid, o("gold"), id, "event_time",
            Seq("sensor_id", "sensor_type"), "value", "5 minutes")
        }
        batchTimes.put(id, (t0, System.currentTimeMillis()))
        ()
      }
      .start()
  }

  /** File name -> batch id, from the file source's metadata log. */
  private def fileBatches(ckpt: Path): Map[String, Long] = {
    val entry = """"path":"([^"]+)".*"batchId":(\d+)""".r.unanchored
    Files.list(ckpt.resolve("sources/0")).iterator().asScala.toSeq
      .filterNot(_.getFileName.toString.startsWith("."))
      .flatMap(f => Files.readAllLines(f).asScala)
      .collect { case entry(path, b) => path.substring(path.lastIndexOf('/') + 1) -> b.toLong }
      .toMap
  }

  private def checks(spark: SparkSession, t: Gen.StreamTruth, dir: Path): Unit = {
    import spark.implicits._
    val bronze = spark.read.parquet(dir.resolve("bronze").toString).count()
    val dead = spark.read.json(dir.resolve("dead_letter").toString).count()
    run.check("bronze_equals_valid", bronze == t.valid, s"$bronze vs ${t.valid}")
    run.check("dead_equals_malformed", dead == t.malformed, s"$dead vs ${t.malformed}")
    // exactly-once: stored gold state == batch recomputation over every
    // delivered valid event, from the generator's own record of them
    val profiles = graft.bench.EventGenerator.profiles
    val ref = t.sensor.indices.map { i =>
      (f"sensor-${t.sensor(i)}%03d", profiles(t.sensor(i) % profiles.size).sensorType,
        new java.sql.Timestamp(t.epochMs(i)), t.value(i))
    }.toDF("sensor_id", "sensor_type", "event_time", "value")
      .groupBy(window(col("event_time"), "5 minutes"), col("sensor_id"), col("sensor_type"))
      .agg(count(lit(1)).as("rn"), sum("value").as("rs"), min("value").as("rlo"),
        max("value").as("rhi"))
      .select(col("window.start").as("window_start"), col("sensor_id"), col("sensor_type"),
        col("rn"), col("rs"), col("rlo"), col("rhi"))
    val gold = spark.read.parquet(dir.resolve("gold/data").toString)
    val bad = ref.join(gold, Seq("window_start", "sensor_id", "sensor_type"), "full_outer")
      .filter(col("rn").isNull || col("n").isNull || col("rn") =!= col("n") ||
        col("rlo") =!= col("min_v") || col("rhi") =!= col("max_v") ||
        abs(col("rs") - col("sum_v")) > lit(1e-6) * (abs(col("rs")) + 1))
      .count()
    run.check("gold_state_equals_recomputation", bad == 0, s"$bad mismatching groups")
  }
}

object StreamOpenLoop {
  val IntervalMs = 200L
  val PerFile = 400 // 2,000 events/s
  val BurstFiles = 50
  val MaxFilesPerTrigger = 10
  val WarmupFiles = 20 // two capped batches: the fold's merge-with-state plan runs too
  val RampFiles = 30 // six seconds of open loop before the latency sample starts
  val Sensors = 100
  val LateShare = 0.05
  val MalformedShare = 0.01
}
