package graft.html

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{ExtractJob, Page}

/** Building a row is linear in its width: one-row pages whose row spans
  * 80,000 grid columns extract to one `ok` row well inside a wall bound
  * that leaves room for a loaded host (a quadratic row build took 48–52 s
  * on a 4-core box).
  */
class WideRowTimeSpec extends AnyFunSuite {

  private val BoundNanos = 10L * 1000 * 1000 * 1000

  private def extractOneRow(cells: String): Unit = {
    val html = s"<html><body><table><tr>$cells</tr></table></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val t0 = System.nanoTime()
    val r = ExtractJob.extractPage(
      Page("https://example.com/wide.html", null, html, "", "en"), 0, ExtractJob.Config())
    val took = System.nanoTime() - t0
    assert(r.status == "ok")
    assert(r.n_tables == 1 && r.n_table_rows == 1)
    assert(took < BoundNanos, s"took ${took / 1000000} ms")
  }

  test("a row of 80 colspan=1000 cells extracts to one ok row in bounded time") {
    extractOneRow("<td colspan=\"1000\">x</td>" * 80)
  }

  test("a row of 80,000 cells extracts to one ok row in bounded time") {
    extractOneRow("<td>x</td>" * 80000)
  }
}
