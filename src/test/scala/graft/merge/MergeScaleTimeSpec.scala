package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** A two-run merge is linear in table height and in row width: a
  * 40,000-row table and a 40,000-column table each merge with the default
  * settings well inside a wall bound that leaves room for a loaded host (a
  * quadratic merge took 29–86 s on a 4-core box).
  */
class MergeScaleTimeSpec extends AnyFunSuite {

  private val BoundNanos = 10L * 1000 * 1000 * 1000

  private def mergeTwoRuns(rows: List[RowData]): Fragment = {
    val doc = TableDoc(List(TableData(List(Fragment(rows, 1)))))
    val t0 = System.nanoTime()
    val merged = MergePipeline.mergeGroup(
      List((doc.copy(uuid = Some("u0")), 0), (doc.copy(uuid = Some("u1")), 0)),
      MergeConfig().toSettings)
    val took = System.nanoTime() - t0
    assert(took < BoundNanos, s"took ${took / 1000000} ms")
    merged.get.tables.head.fragments.head
  }

  test("a 40,000-row table merges in bounded time") {
    val rows = List.tabulate(40000) { i =>
      RowData(Vector("a" -> Cell.Str(s"a$i"), "b" -> Cell.Str(s"b$i"), "c" -> Cell.Str(s"c${i % 7}")))
    }
    val f = mergeTwoRuns(rows)
    assert(f.rows.size == 40000)
    assert(f.rows.forall(_.agreementLevel.contains(2)))
  }

  test("a 40,000-column row merges in bounded time") {
    val row = RowData(Vector.tabulate(40000)(i => (s"c$i", Cell.Str(s"v$i"): Cell)))
    val f = mergeTwoRuns(List(row))
    assert(f.rows.size == 1)
    assert(f.rows.head.columns.size == 40000)
    assert(f.rows.head.agreementLevel.contains(2))
  }
}
