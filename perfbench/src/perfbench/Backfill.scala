package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.gold.Gold
import graft.ingest.JsonIngest
import graft.model.Schemas
import graft.quality.Quality
import graft.silver.Silver
import graft.warehouse.Warehouse

/** `medallion_backfill`: closed loop, one pass at a time over a JSON
  * backlog — ingest → bronze + dead-letter, silver, gold (5-min, hourly,
  * daily), quality on bronze and silver, warehouse fact load and sensor
  * dimension upsert. Every output is a real parquet/JSON write. */
final class Backfill(run: Run) extends Workload {
  import Backfill._

  def execute(): Unit = {
    val (truth, in) = run.setup() { (s, dir) =>
      Gen.backfill(s, dir, run.seed, Sensors, Ticks, NFiles, ResentShare, MalformedShare)
    }
    run.info("input") = s"events=${truth.events} resent=${truth.resent} " +
      s"malformed=${truth.malformed} lines=${truth.lines} files=${truth.files} " +
      s"sha256=${truth.digest}"
    val spark = run.spark
    run.tracer.attach(spark)
    val outRoot = run.work.resolve("out")
    def out(i: Int) = outRoot.resolve(s"pass-$i")

    // unmeasured warm-up: one full-size pass, so that the measured passes
    // start from compiled plans (the first full pass runs slow: JIT, codegen)
    val warm = run.work.resolve("warmup")
    pass(spark, run.tracer, in, warm, record = false)
    Run.deleteTree(warm)
    run.phase("warmup")

    // traced runs interleave untraced passes (U T T U ...) to measure the
    // overhead without bias from any residual warm-up trend
    val walls = Run.repeatFor(run.seconds, if (run.traced) 4 else 3) { i =>
      val rec = run.traced && (i % 4 == 1 || i % 4 == 2)
      if (i > 0) Run.deleteTree(out(i - 1))
      run.op(pass(spark, run.tracer, in, out(i), rec)).map(w => (w, rec, out(i)))
    }.flatten
    val last = walls.last._3
    val heapMb = run.retainedHeapMb()
    run.phase("measure")
    val untraced = walls.filterNot(_._2).map(_._1)
    run.info("passes") = walls.size.toString
    run.info("pass_s") = walls.map(w => f"${w._1}%.3f").mkString("[", ",", "]")

    checks(spark, truth, last)
    run.phase("checks")

    if (!run.traced) {
      run.metric("retained_heap_mb", heapMb, "MB")
      run.metric("throughput_per_s", truth.lines / Run.median(untraced), "1/s")
      run.metric("latency_p50_ms", Run.median(untraced) * 1e3, "ms")
      run.metric("latency_p95_ms", Run.percentile(untraced, 0.95) * 1e3, "ms")
    } else {
      val traced = walls.filter(_._2).map(_._1)
      val overhead = (Run.median(traced) / Run.median(untraced) - 1) * 100
      val silverRows = spark.read.parquet(last.resolve("silver").toString).count()
      val bronzeRows = spark.read.parquet(last.resolve("bronze").toString).count()
      val local = local1(in, truth.lines, Run.median(untraced))
      run.layerMetrics(local ++ Map(
        "silver.keep_ratio" -> silverRows.toDouble / bronzeRows,
        "trace.overhead_pct" -> overhead))
      run.info("silver_expected_keep_ratio") =
        f"${truth.events.toDouble / (truth.events + truth.resent)}%.6f"
    }
  }

  /** The single-threaded baseline: one traced pass at local[1]. */
  private def local1(in: Path, lines: Long, wallN: Double): Map[String, Double] = {
    run.tracer.detach()
    val s1 = run.newSession(cores = 1)
    val t = new Tracer(true, run.tracer.runId + "-local1")
    t.attach(s1)
    val w = pass(s1, t, in, run.work.resolve("local1"), record = true)
    t.detach()
    val spans = t.all
    Map("local1.backfill_events_per_s" -> lines / w,
      "local1.speedup" -> w / wallN) ++
      Layers.local1Layers.map(l =>
        s"local1.$l.wall_s" -> spans.filter(_.name.startsWith(l + ".")).map(_.wallS).sum)
  }

  private def checks(spark: SparkSession, t: Gen.BackfillTruth, o: Path): Unit = {
    def read(p: String) = spark.read.parquet(o.resolve(p).toString)
    val bronze = read("bronze").count()
    val dead = spark.read.json(o.resolve("dead_letter").toString).count()
    run.check("bronze_plus_dead_equals_lines", bronze + dead == t.lines, s"$bronze+$dead vs ${t.lines}")
    run.check("dead_equals_malformed", dead == t.malformed, s"$dead vs ${t.malformed}")
    val silver = read("silver")
    val silverRows = silver.count()
    run.check("silver_equals_distinct_keys", silverRows == t.events, s"$silverRows vs ${t.events}")
    val g5 = read("gold_5m")
    def total(df: DataFrame, c: String) = df.agg(sum(c)).head().getLong(0)
    run.check("gold_5m_total", total(g5, "reading_count") == silverRows)
    run.check("gold_hourly_total", total(read("gold_hourly"), "reading_count") == silverRows)
    run.check("gold_daily_total", total(read("gold_daily"), "total_readings") == silverRows)
    // independent reference: a plain groupBy over the generator's frame
    val ref = graft.bench.EventGenerator.events(spark, t.sensors, t.ticks, seed = run.seed)
      .groupBy(col("sensor_id"), col("sensor_type"), window(col("event_time"), "5 minutes"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"), min("value").as("lo"),
        max("value").as("hi"))
      .select(col("sensor_id"), col("sensor_type"), col("window.start").as("window_start"),
        col("n"), col("s"), col("lo"), col("hi"))
    val bad = ref.join(g5, Seq("sensor_id", "sensor_type", "window_start"), "full_outer")
      .filter(col("n").isNull || col("reading_count").isNull ||
        col("n") =!= col("reading_count") || col("lo") =!= col("min_value") ||
        col("hi") =!= col("max_value") ||
        abs(col("s") - col("avg_value") * col("reading_count")) > lit(1e-6) * (abs(col("s")) + 1))
      .count()
    run.check("gold_5m_equals_reference", bad == 0, s"$bad mismatching groups")
    val quality = Seq(read("bronze"), silver).flatMap(df => Quality.run(df, qualityChecks))
    run.check("quality_suite_clean", quality.forall(_.failed == 0), quality.mkString(","))
    val factPath = o.resolve("warehouse/fact_readings").toString
    val before = spark.read.parquet(factPath).count()
    Warehouse.idempotentPartitionLoad(fact(silver), factPath, Seq("event_date"))
    val after = spark.read.parquet(factPath).count()
    run.check("fact_reload_idempotent", before == after && after == silverRows,
      s"$before -> $after")
    val dim = read("warehouse/dim_sensor").count()
    run.check("dim_has_every_sensor", dim == t.sensors, s"$dim vs ${t.sensors}")
  }
}

object Backfill {
  val Sensors = 100
  val Ticks = 300L // 30,000 readings
  val NFiles = 16
  val ResentShare = 0.05
  val MalformedShare = 0.01

  private val dimSchema = StructType(Seq(
    StructField("sensor_id", StringType), StructField("sensor_type", StringType),
    StructField("location", StringType), StructField("last_seen", TimestampType)))

  val qualityChecks: Seq[Quality.Check] =
    Quality.notNull(Seq("sensor_id", "sensor_type", "value", "event_time")) ++ Seq(
      Quality.inSet("sensor_type", graft.bench.EventGenerator.profiles.map(_.sensorType)),
      Quality.perTypeRange("sensor_type", "value", Schemas.sensorPhysicalRanges))

  def fact(silver: DataFrame): DataFrame =
    silver.select(col("sensor_id"), col("sensor_type"), col("event_time"),
      col("value"), col("is_anomaly"), col("zscore"),
      to_date(col("event_time")).as("event_date"))

  /** One full pass; returns its wall seconds, from the first JSON read to
    * the completed warehouse load. */
  def pass(spark: SparkSession, tr: Tracer, in: Path, out: Path, record: Boolean): Double = {
    val sc = spark.sparkContext
    def o(p: String) = out.resolve(p).toString
    tr.recording = record
    val t0 = System.nanoTime()
    tr.span(sc, "ingest.parse_split") {
      val res = JsonIngest.parseAndSplit(spark.read.text(in.resolve("events").toString),
        "value", Schemas.sensorSchema)
      res.valid.write.partitionBy("sensor_type").parquet(o("bronze"))
      res.deadLetter.write.json(o("dead_letter"))
    }
    tr.span(sc, "silver.chain") {
      val bronze = spark.read.parquet(o("bronze"))
      val filtered = Silver.nullFilter(bronze, Seq("sensor_id", "sensor_type", "value", "event_time"))
      val deduped = Silver.dedupLatest(filtered, Seq("sensor_id", "event_time"),
        Seq(col("ingestion_time").desc))
      val ranged = Silver.rangeAnomaly(deduped, "sensor_type", "value", Schemas.sensorValueRanges)
      Silver.zscoreFlags(ranged, Seq("sensor_id"), Seq(col("event_time").asc), "value")
        .write.parquet(o("silver"))
    }
    val silver = spark.read.parquet(o("silver"))
    tr.span(sc, "gold.window5m") {
      Gold.withHealthPct(Gold.windowAgg(silver, Seq("sensor_id", "sensor_type"),
        "event_time", "value", "5 minutes", approxPercentiles = true)).write.parquet(o("gold_5m"))
    }
    tr.span(sc, "gold.hourly") {
      Gold.locationHourly(silver, "location", "sensor_type", "event_time", "value",
        "sensor_id", approxPercentiles = true, approxDistinct = true).write.parquet(o("gold_hourly"))
    }
    tr.span(sc, "gold.daily") {
      Gold.dailySummary(silver, "sensor_type", "event_time", "value", "sensor_id")
        .write.parquet(o("gold_daily"))
    }
    tr.span(sc, "quality.suite") {
      val results = Quality.run(spark.read.parquet(o("bronze")), qualityChecks) ++
        Quality.run(silver, qualityChecks)
      require(results.nonEmpty)
    }
    tr.span(sc, "warehouse.fact_load") {
      Warehouse.idempotentPartitionLoad(fact(silver), o("warehouse/fact_readings"),
        Seq("event_date"))
    }
    tr.span(sc, "warehouse.dim_upsert") {
      val staging = silver.groupBy("sensor_id")
        .agg(max("sensor_type").as("sensor_type"), max("location").as("location"),
          max("event_time").as("last_seen"))
      val dim = spark.read.schema(dimSchema).json(in.resolve("dim").toString)
      Warehouse.upsertDim(dim, staging, "sensor_id", stagingWins = Seq("location"),
        dimWins = Seq("sensor_type"), maxMergeCols = Seq("last_seen"))
        .write.parquet(o("warehouse/dim_sensor"))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    tr.recording = tr.enabled
    wall
  }
}
