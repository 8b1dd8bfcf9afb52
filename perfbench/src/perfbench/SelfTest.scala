package perfbench

import java.nio.file.Path

/** Generator self-test: each generator, run twice with one seed, writes
  * byte-identical inputs, and run with another seed writes different
  * ones. Exits non-zero on any failure. */
object SelfTest {
  def run(work: Path): Unit = {
    val r = new Run("selftest", 0L, 0.0, traced = false, work, 0.0)
    val spark = r.newSession()
    def digests(name: String)(gen: (Long, Path) => String): Unit = {
      val a = gen(7L, work.resolve(s"$name-a"))
      val b = gen(7L, work.resolve(s"$name-b"))
      val c = gen(8L, work.resolve(s"$name-c"))
      r.check(s"${name}_same_seed_identical", a == b, s"$a vs $b")
      r.check(s"${name}_other_seed_differs", a != c, a)
    }
    try {
      digests("backfill")((s, d) => Gen.backfill(spark, d, s, 20, 200L, 4, 0.05, 0.01).digest)
      digests("stream")((s, d) => Gen.stream(d, s, 10, 5, 50, 100L, 20, 0.05, 0.01).digest)
      digests("corpus")((s, d) => Gen.corpus(d, s, 500, 0.2, 0.05, 0.05, 0.1).digest)
    } finally r.stopSession()
    r.checks.foreach { case (k, ok) => println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $k") }
    if (r.failed > 0) sys.exit(1)
  }
}
