package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import org.apache.spark.sql.SparkSession
import graft.bench.EventGenerator

/** Seeded input generators. Every generator writes plain files whose bytes
  * depend only on the seed and the stated sizes and shares, and returns
  * its ground truth (injected counts) with a SHA-256 digest of what it
  * wrote. The program under test receives only the files. */
object Gen {

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    .withZone(ZoneOffset.UTC)

  private def jsonLine(sensor: String, tpe: String, epochMs: Long, value: Double,
                       unit: String, location: String): String =
    s"""{"sensor_id":"$sensor","sensor_type":"$tpe","timestamp":"${
      tsFmt.format(Instant.ofEpochMilli(epochMs))}","value":$value,""" +
      s""""unit":"$unit","location":"$location"}"""

  /** A proper prefix of a JSON object line: never valid JSON, because the
    * only closing brace is the last character. */
  private def malformed(line: String, rnd: SplittableRandom): String =
    line.substring(0, 5 + rnd.nextInt(line.length / 2))

  private def writeLines(path: Path, lines: Iterable[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  /** SHA-256 over every regular file under `dir`, in name order. */
  def digest(dir: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val files = Files.walk(dir).filter(Files.isRegularFile(_)).sorted().toArray
    files.foreach { f =>
      val p = f.asInstanceOf[Path]
      md.update(dir.relativize(p).toString.getBytes(UTF_8))
      md.update(Files.readAllBytes(p))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  // ---------------------------------------------------------------- backfill

  final case class BackfillTruth(events: Long, resent: Long, malformed: Long,
                                 lines: Long, files: Int, sensors: Int,
                                 ticks: Long, digest: String)

  /** `nSensors * ticks` readings from the program's seeded
    * [[graft.bench.EventGenerator]], written as JSON lines into `nFiles`
    * files under `dir/events`, plus a sensor-dimension seed under
    * `dir/dim`. The files hold contiguous time blocks, but the blocks are
    * assigned to file names in a seeded random order (out-of-order
    * files). A `resentShare` of readings is sent a second time, byte for
    * byte, in a file that arrives later; a `malformedShare` of extra lines
    * are truncated JSON. */
  def backfill(spark: SparkSession, dir: Path, seed: Long, nSensors: Int,
               ticks: Long, nFiles: Int, resentShare: Double,
               malformedShare: Double): BackfillTruth = {
    val rows = EventGenerator.events(spark, nSensors, ticks, seed = seed)
      .select("sensor_id", "sensor_type", "event_time", "value", "unit", "location")
      .collect()
    val rnd = new SplittableRandom(seed)
    val n = rows.length
    // arrival slot of each time block: a seeded permutation
    val slotOfBlock = {
      val a = (0 until nFiles).toArray
      for (i <- a.indices.reverse) {
        val j = rnd.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    val files = Array.fill(nFiles)(scala.collection.mutable.ArrayBuffer.empty[String])
    var resent = 0L; var bad = 0L
    var i = 0
    while (i < n) {
      val r = rows(i)
      val line = jsonLine(r.getString(0), r.getString(1),
        r.getTimestamp(2).getTime, r.getDouble(3), r.getString(4), r.getString(5))
      val slot = slotOfBlock((i.toLong * nFiles / n).toInt)
      files(slot) += line
      if (rnd.nextDouble() < resentShare) {
        val later = slot + 1 + rnd.nextInt(math.max(1, nFiles - slot - 1))
        files(math.min(later, nFiles - 1)) += line
        resent += 1
      }
      if (rnd.nextDouble() < malformedShare) {
        files(slot) += malformed(line, rnd); bad += 1
      }
      i += 1
    }
    Files.createDirectories(dir.resolve("events"))
    files.zipWithIndex.foreach { case (ls, k) =>
      writeLines(dir.resolve(f"events/events-$k%04d.json"), ls)
    }
    // sensor dimension seed for the upsert: every other sensor, with a
    // stale location and a last_seen before any event
    Files.createDirectories(dir.resolve("dim"))
    writeLines(dir.resolve("dim/sensors.json"), (0 until nSensors by 2).map { s =>
      val p = EventGenerator.profiles(s % EventGenerator.profiles.size)
      s"""{"sensor_id":"${f"sensor-$s%03d"}","sensor_type":"${p.sensorType}",""" +
        s""""location":"decommissioned","last_seen":"2024-01-01 00:00:00"}"""
    })
    BackfillTruth(n, resent, bad, n + resent + bad, nFiles, nSensors, ticks, digest(dir))
  }

  // ------------------------------------------------------------------ stream

  /** Valid events of the stream, columnar, for the exactly-once reference. */
  final class StreamTruth(val files: Int, val steadyFiles: Int,
                          val burstFiles: Int, val perFile: Int,
                          val sensor: Array[Int], val epochMs: Array[Long],
                          val value: Array[Double], val malformed: Long,
                          val late: Long, val digest: String) {
    def valid: Int = sensor.length
  }

  val streamBaseEpochMs = 1718445600000L // 2024-06-15 10:00 UTC

  /** `steadyFiles + burstFiles` pre-built JSON files of `perFile` readings
    * each, named in drop order. File k's readings carry event times in
    * the file's own interval slot; a `lateShare` of them are stamped 6 to
    * 15 minutes earlier (late events), and a `malformedShare` of extra
    * lines are truncated JSON. */
  def stream(dir: Path, seed: Long, steadyFiles: Int, burstFiles: Int,
             perFile: Int, intervalMs: Long, nSensors: Int,
             lateShare: Double, malformedShare: Double): StreamTruth = {
    val rnd = new SplittableRandom(seed)
    val profiles = EventGenerator.profiles
    val total = steadyFiles + burstFiles
    val sensor = new Array[Int](total * perFile)
    val epoch = new Array[Long](total * perFile)
    val value = new Array[Double](total * perFile)
    var bad = 0L; var late = 0L; var e = 0
    Files.createDirectories(dir)
    for (k <- 0 until total) {
      val lines = scala.collection.mutable.ArrayBuffer.empty[String]
      for (j <- 0 until perFile) {
        val s = (k * perFile + j) % nSensors
        val p = profiles(s % profiles.size)
        var t = streamBaseEpochMs + k * intervalMs + j * intervalMs / perFile
        if (rnd.nextDouble() < lateShare) { t -= 360000L + rnd.nextLong(540000L); late += 1 }
        val g = math.sqrt(-2 * math.log(1 - rnd.nextDouble())) *
          math.cos(2 * math.Pi * rnd.nextDouble())
        val v = math.round(math.max(p.lo, math.min(p.hi, p.base + p.noise * g)) * 100) / 100.0
        val line = jsonLine(f"sensor-$s%03d", p.sensorType, t, v, p.unit,
          s"floor-${s % 5 + 1}-zone-${"ABCD"(s / 5 % 4)}")
        lines += line
        sensor(e) = s; epoch(e) = t; value(e) = v; e += 1
        if (rnd.nextDouble() < malformedShare) { lines += malformed(line, rnd); bad += 1 }
      }
      writeLines(dir.resolve(f"batch-$k%05d.json"), lines)
    }
    new StreamTruth(total, steadyFiles, burstFiles, perFile, sensor, epoch,
      value, bad, late, digest(dir))
  }

  // ------------------------------------------------------------------ corpus

  final case class CorpusTruth(docs: Int, exactCopies: Int, nearCopies: Int,
                               exactCopiesPassingGate: Int,
                               nearCopiesPassingGate: Int, passGate: Int,
                               passIds: java.util.BitSet, digest: String)

  private val syllables = Seq("ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi",
    "pe", "sa", "do", "fu", "gi", "ha", "jo", "be", "co", "ly", "ma", "no")

  /** Content vocabulary: 400 pseudo-words, none of them a stopword. */
  private val vocab: Array[String] =
    (for (a <- syllables; b <- syllables) yield a + b).take(400).toArray

  private val langs = Seq("en" -> 0.50, "de" -> 0.15, "fr" -> 0.15,
    "es" -> 0.12, "zh" -> 0.08)

  private def stopwords(lang: String): Seq[String] = lang match {
    case "en" => graft.ext.TextAnalysis.enStopwords
    case l => graft.ext.TextAnalysis.langStopwords.toMap.getOrElse(l, Nil)
  }

  /** `nDocs` documents in the style of the `documents` testdata (doc_id,
    * text, lang, source, n_chars), as JSON lines. Originals are "good"
    * (60-100 tokens, ~30% stopwords of their language: quality score
    * >= 0.5) or "low" (5-12 content tokens, no stopwords: score <= 0.12),
    * so the quality gate (score >= 0.35 and lang = en) passes exactly the
    * good English docs. An `exactShare` of docs are byte copies of an
    * original; a `nearShare` are copies with each token replaced by
    * another content word at `editRate` (at least one edit). Copies take
    * higher doc ids than their original. */
  def corpus(dir: Path, seed: Long, nDocs: Int, lowShare: Double,
             exactShare: Double, nearShare: Double, editRate: Double): CorpusTruth = {
    val rnd = new SplittableRandom(seed)
    def pickLang(): String = {
      val u = rnd.nextDouble(); var acc = 0.0
      langs.find { case (_, p) => acc += p; u < acc }.map(_._1).getOrElse("en")
    }
    def word(): String = vocab(rnd.nextInt(vocab.length))
    val nExact = (nDocs * exactShare).toInt
    val nNear = (nDocs * nearShare).toInt
    val nOrig = nDocs - nExact - nNear
    val text = new Array[String](nDocs)
    val lang = new Array[String](nDocs)
    val pass = new Array[Boolean](nDocs)
    for (i <- 0 until nOrig) {
      val l = pickLang()
      val sw = stopwords(l)
      val low = rnd.nextDouble() < lowShare
      val toks =
        if (low) Seq.fill(5 + rnd.nextInt(8))(word())
        else Seq.fill(60 + rnd.nextInt(41))(
          if (sw.nonEmpty && rnd.nextDouble() < 0.3) sw(rnd.nextInt(sw.size)) else word())
      text(i) = toks.mkString(" "); lang(i) = l; pass(i) = !low && l == "en"
    }
    var exactPass = 0; var nearPass = 0
    for (i <- nOrig until nDocs) {
      val o = rnd.nextInt(nOrig)
      lang(i) = lang(o); pass(i) = pass(o)
      if (i < nOrig + nExact) {
        text(i) = text(o); if (pass(o)) exactPass += 1
      } else {
        val toks = text(o).split(" ")
        val forced = rnd.nextInt(toks.length)
        for (t <- toks.indices if t == forced || rnd.nextDouble() < editRate) {
          var w = word(); while (w == toks(t)) w = word()
          toks(t) = w
        }
        text(i) = toks.mkString(" "); if (pass(o)) nearPass += 1
      }
    }
    Files.createDirectories(dir)
    writeLines(dir.resolve("docs.json"), (0 until nDocs).map { i =>
      s"""{"doc_id":$i,"text":${Json.str(text(i))},"lang":"${lang(i)}",""" +
        s""""source":"src${rnd.nextInt(20)}","n_chars":${text(i).length}}"""
    })
    val passIds = new java.util.BitSet(nDocs)
    pass.indices.foreach(i => if (pass(i)) passIds.set(i))
    CorpusTruth(nDocs, nExact, nNear, exactPass, nearPass, pass.count(identity),
      passIds, digest(dir))
  }
}
