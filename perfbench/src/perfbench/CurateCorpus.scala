package perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.Curate

/** `curate_corpus`: closed loop, one pass at a time — `Curate.run` over
  * a seeded synthetic corpus, then a parquet write of its `chunks`. */
final class CurateCorpus(run: Run) extends Workload {
  import CurateCorpus._

  def execute(): Unit = {
    val (truth, in) = run.setup() { (s, dir) =>
      val t = Gen.corpus(dir.resolve("json"), run.seed, Docs, LowShare, ExactShare,
        NearShare, EditRate)
      s.read.schema(docSchema).json(dir.resolve("json").toString)
        .write.parquet(dir.resolve("docs.parquet").toString)
      t
    }
    run.info("input") = s"docs=${truth.docs} exact_copies=${truth.exactCopies} " +
      s"near_copies=${truth.nearCopies} pass_gate=${truth.passGate} " +
      s"exact_copies_passing_gate=${truth.exactCopiesPassingGate} " +
      s"near_copies_passing_gate=${truth.nearCopiesPassingGate} sha256=${truth.digest}"
    val spark = run.spark
    run.tracer.attach(spark)
    val docsPath = in.resolve("docs.parquet")
    def out(i: Int) = run.work.resolve(s"out/pass-$i")

    // unmeasured warm-up: one full-size pass, so that the measured passes
    // start from compiled plans (the first full pass runs slow: JIT, codegen)
    pass(spark, docsPath, run.work.resolve("warmup/out"), record = false)
    Run.deleteTree(run.work.resolve("warmup"))
    run.phase("warmup")
    // traced runs interleave untraced passes (U T T U ...) to measure the
    // overhead without bias from any residual warm-up trend
    val passes = Run.repeatFor(run.seconds, if (run.traced) 4 else 3) { i =>
      if (i > 0) Run.deleteTree(out(i - 1))
      run.op(pass(spark, docsPath, out(i), record = run.traced && (i % 4 == 1 || i % 4 == 2)))
    }.flatten
    val heapMb = run.retainedHeapMb()
    run.phase("measure")
    val walls = passes.filterNot(_.traced).map(_.wall)
    run.info("passes") = passes.size.toString
    run.info("pass_s") = passes.map(p => f"${p.wall}%.3f").mkString("[", ",", "]")

    val stats = passes.head.stats.toMap
    run.check("stage_counts_repeat", passes.forall(_.stats == passes.head.stats),
      passes.map(_.stats).distinct.mkString(" | "))
    run.check("input_docs", stats("input_docs") == truth.docs)
    run.check("gate_keeps_good_english", stats("quality_lang_kept") == truth.passGate,
      s"${stats("quality_lang_kept")} vs ${truth.passGate}")
    val exactRemoved = stats("quality_lang_kept") - stats("after_exact_dedup")
    run.check("exact_removed_equals_injected", exactRemoved == truth.exactCopiesPassingGate,
      s"$exactRemoved vs ${truth.exactCopiesPassingGate}")
    val chunks = spark.read.parquet(passes.last.out.toString)
    run.check("chunks_written", chunks.count() == stats("chunks"))
    val survivors = chunks.select(col("id").as("doc_id")).distinct()
    val docs = spark.read.parquet(docsPath.toString)
    val dupTexts = survivors.join(docs, "doc_id").groupBy(md5(col("text")))
      .count().filter(col("count") > 1).count()
    run.check("no_exact_duplicate_survives", dupTexts == 0, s"$dupTexts duplicated texts")
    val ids = survivors.collect().map(_.getLong(0))
    run.check("survivors_pass_gate", ids.length == stats("after_neardup_dedup") &&
      ids.forall(i => truth.passIds.get(i.toInt)), s"${ids.length} survivors")
    run.phase("checks")

    if (!run.traced) {
      val median = Run.median(walls)
      run.metric("retained_heap_mb", heapMb, "MB")
      run.metric("throughput_per_s", truth.docs / median, "1/s")
      run.metric("latency_p50_ms", median * 1e3, "ms")
      run.metric("latency_p95_ms", Run.percentile(walls, 0.95) * 1e3, "ms")
    } else {
      val (traced, plain) = passes.partition(_.traced)
      val nearRemoved = stats("after_exact_dedup") - stats("after_neardup_dedup")
      run.layerMetrics(Map(
        "ext.exact_removed_per_injected" -> exactRemoved.toDouble / truth.exactCopiesPassingGate,
        "ext.near_removed_per_injected" -> nearRemoved.toDouble / truth.nearCopiesPassingGate,
        "ext.persisted_rdds_left" -> passes.map(_.rddsLeft.toDouble).sum / passes.size,
        "trace.overhead_pct" ->
          (Run.median(traced.map(_.wall)) / Run.median(plain.map(_.wall)) - 1) * 100))
    }
  }

  private def pass(spark: SparkSession, docsPath: Path, out: Path, record: Boolean): Pass = {
    val sc = spark.sparkContext
    val tr = run.tracer
    tr.recording = record
    val before = sc.getPersistentRDDs.size
    val t0 = System.nanoTime()
    val res = tr.span(sc, "ext.curate.run") {
      Curate.run(spark, spark.read.parquet(docsPath.toString))
    }
    tr.span(sc, "ext.curate.materialize") { res.chunks.write.parquet(out.toString) }
    val wall = (System.nanoTime() - t0) / 1e9
    tr.recording = tr.enabled
    Pass(wall, res.stats, sc.getPersistentRDDs.size - before, record, out)
  }
}

object CurateCorpus {
  final case class Pass(wall: Double, stats: Seq[(String, Long)], rddsLeft: Int,
                        traced: Boolean, out: Path)

  val Docs = 2000
  val LowShare = 0.2
  val ExactShare = 0.05
  val NearShare = 0.05
  val EditRate = 0.1

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
}
