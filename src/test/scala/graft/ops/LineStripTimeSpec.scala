package graft.ops

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.{CurateMain, CurateReference, SharedSpark}

/** No corpus takes the curation chain down: `CurateMain.run` on each of
  * [[HostileCorpus]]'s corpora finishes inside a wall bound that leaves
  * room for a loaded host, and its stats equal the direct counts of the
  * standalone ops. On a 4-core box, a strip that scanned the removed set
  * once per line took 284 s on the 128,000-newline doc, and one that
  * re-split the doc once per kept line (a lambda reading a column the
  * optimizer inlined under `CurateMain`'s empty-text filter) took 21 s on
  * 20,000 kept lines.
  */
class LineStripTimeSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val BoundNanos = 30L * 1000 * 1000 * 1000
  private val Seed = 21L

  /** `afterStrip`: the docs the strip leaves non-empty. */
  private def curateInTime(corpus: Random => HostileCorpus.Corpus, afterStrip: Long): Unit = {
    import spark.implicits._
    val c = corpus(new Random(Seed))
    val docs = c.docs.toDF("doc_id", "text")
    // one item that shares its k-grams with a normal doc, so the
    // decontamination gate has something to match
    val bench = Seq(HostileCorpus.normalDoc(new Random(Seed))).toDF("text")
    val args = CurateMain.Args()
    val t0 = System.nanoTime()
    val (out, stats) = CurateMain.run(spark, docs, Some(bench), args)
    val took = System.nanoTime() - t0
    try {
      assert(took < BoundNanos, s"${c.name}: took ${took / 1000000} ms")
      assert(stats.inputDocs == c.docs.count(_._2 != null))
      assert(stats.afterLineStrip == afterStrip, stats)
      assert(stats == CurateReference.directStats(spark, docs, bench, args))
    } finally out.unpersist()
  }

  test("one doc of 128,000 newlines beside a normal doc") {
    curateInTime(HostileCorpus.newlines(_), afterStrip = 1)
  }

  test("two twin docs of 64,000 distinct lines") {
    curateInTime(HostileCorpus.twins(_), afterStrip = 0)
  }

  test("one doc of 10^6 copies of one word") {
    curateInTime(_ => HostileCorpus.oneWord(), afterStrip = 1)
  }

  test("one doc that is a single 50 MB line") {
    curateInTime(HostileCorpus.longLine(_), afterStrip = 1)
  }

  test("one doc of 10^5 distinct lines") {
    curateInTime(HostileCorpus.distinctLines(_), afterStrip = 1)
  }

  test("one doc of 10^5 distinct lines between two blank lines") {
    curateInTime(HostileCorpus.keptLines(_), afterStrip = 1)
  }

  test("1,000 docs sharing one boilerplate line") {
    curateInTime(HostileCorpus.sharedBoilerplate(_), afterStrip = 1000)
  }

  test("null, empty and whitespace-only docs") {
    curateInTime(HostileCorpus.blanks(_), afterStrip = 4)
  }
}
