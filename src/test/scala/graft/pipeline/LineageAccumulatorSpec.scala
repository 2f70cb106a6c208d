package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import LineageAccumulator.Figures

class LineageAccumulatorSpec extends AnyFunSuite {

  private def page(url: String, bucket: Int, tables: Int = 0, bytes: Long = 10L, status: String = "ok") =
    ExtractedPage(url, bucket, "en", "", tables, 0, "", Seq.empty, None, status, bytes)

  /** Drains `rows` through the fold, as the shuffle writer does. */
  private def task(acc: LineageAccumulator, partitionId: Int, rows: Seq[ExtractedPage]): Seq[ExtractedPage] =
    LineageAccumulator.folding(rows.iterator, acc, partitionId).toList

  private val part0 = Seq(page("https://a.org/2", 0, tables = 2), page("https://a.org/1", 1, bytes = 5L),
    page("https://a.org/3", 0, status = "error:NullPointerException"))
  private val part1 = Seq(page("https://b.org/1", 0, tables = 1, bytes = 7L))

  test("the fold passes rows through unchanged and folds them by bucket") {
    val acc = new LineageAccumulator
    assert(task(acc, 0, part0) == part0)
    assert(acc.value == Map(0 -> Map(
      0 -> Figures(2, 2, 20, 1, "https://a.org/2", "https://a.org/3"),
      1 -> Figures(1, 0, 5, 0, "https://a.org/1", "https://a.org/1"))))
  }

  test("lineage rows sum the partitions of each bucket") {
    val acc = new LineageAccumulator
    task(acc, 0, part0)
    task(acc, 1, part1)
    assert(acc.lineageRows("v") == Seq(
      LineageRow(0, 3, 3, 27, 1, "https://a.org/2", "https://b.org/1", "v"),
      LineageRow(1, 1, 0, 5, 0, "https://a.org/1", "https://a.org/1", "v")))
  }

  test("figures two attempts add for the same partition count once") {
    val acc = new LineageAccumulator
    task(acc, 0, part0)
    val once = acc.lineageRows("v")
    task(acc, 0, part0) // a retried or speculative attempt of partition 0
    assert(acc.lineageRows("v") == once)
  }

  test("task copies merged in either order count each partition once") {
    def attempt(partitionId: Int, rows: Seq[ExtractedPage]): LineageAccumulator = {
      val a = new LineageAccumulator
      task(a, partitionId, rows)
      a
    }
    val orders = Seq(
      Seq(attempt(0, part0), attempt(1, part1), attempt(0, part0)),
      Seq(attempt(0, part0), attempt(0, part0), attempt(1, part1)),
      Seq(attempt(1, part1), attempt(0, part0), attempt(1, part1)))
    val merged = orders.map { copies =>
      val driver = new LineageAccumulator
      copies.foreach(driver.merge)
      driver.value
    }
    assert(merged.distinct.size == 1)
    val reference = new LineageAccumulator
    task(reference, 0, part0)
    task(reference, 1, part1)
    assert(merged.head == reference.value)
  }

  test("an empty task adds no bucket, and a reset copy is zero") {
    val acc = new LineageAccumulator
    assert(task(acc, 3, Seq.empty).isEmpty)
    assert(acc.isZero && acc.lineageRows("v").isEmpty)
    task(acc, 0, part0)
    assert(!acc.isZero && acc.copyAndReset().isZero)
    assert(acc.copy().value == acc.value)
  }

  test("the fold reports once when hasNext is asked again after exhaustion") {
    val acc = new LineageAccumulator
    val it = LineageAccumulator.folding(part1.iterator, acc, 5)
    it.foreach(_ => ())
    assert(!it.hasNext && !it.hasNext)
    assert(acc.value.keySet == Set(5))
  }

  test("url range is in the UTF-8 byte order of Spark's min and max, null urls ignored") {
    // U+E000 sorts before U+1F600 in UTF-8, after it in UTF-16 (String.compareTo)
    val bmp = "https://x.org/\uE000"
    val astral = "https://x.org/\uD83D\uDE00"
    val acc = new LineageAccumulator
    task(acc, 0, Seq(page(astral, 0), page(null, 0), page(bmp, 0), page(null, 1)))
    task(acc, 1, Seq(page(astral, 0)))
    val rows = acc.lineageRows("v")
    assert(rows.map(r => (r.bucket, r.rows_out, r.url_min, r.url_max)) ==
      Seq((0, 4L, bmp, astral), (1, 1L, null, null)))
  }
}
