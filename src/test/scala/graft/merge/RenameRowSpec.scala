package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.core._

/** `ColumnsAligner.renameRow` against its `indexWhere` fold
  * ([[RenameRowFold]]) on random mappings that drop columns, rename onto
  * other columns and map columns onto themselves.
  */
class RenameRowSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }

  private val key: Gen[String] = for {
    n <- Gen.choose(1, 2)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
  } yield cs.mkString

  // empty strings, strings ending with "." and multi-values exercise every
  // branch of appendColumnValue
  private val cell: Gen[Cell] = Gen.oneOf(
    Gen.const(Cell.Null),
    Gen.oneOf("", "x", "y.", "z").map(Cell.Str(_)),
    Gen.oneOf("p", "q").map(s => Cell.Multi(List(ValueWithAgreement(s, 1)))))

  // rows read from JSON may repeat a name
  private val row: Gen[RowData] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.zip(key, cell))).map(cs => RowData(cs.toVector))

  private val mapping: Gen[Analyzers.Mapping] =
    Gen.listOf(Gen.zip(key, Gen.frequency(3 -> key, 1 -> Gen.const(Analyzers.RemoveColumn)))).map { kvs =>
      val m = Analyzers.emptyMapping
      kvs.foreach { case (k, v) => m(k) = v }
      m
    }

  test("renameRow equals the indexWhere fold") {
    check(Prop.forAll(mapping, row) { (m, r) =>
      ColumnsAligner.renameRow(m, r) == RenameRowFold.renameRow(m, r)
    })
  }
}
