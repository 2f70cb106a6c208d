package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {

  private def slurp(res: String): String = {
    val in = getClass.getResourceAsStream(res)
    require(in != null, s"missing $res")
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  for (name <- Seq("birds_a", "birds_b", "birds_c")) {
    test(s"round-trip $name matches reference model_dump byte-for-byte") {
      val input = slurp(s"/graft/golden/model/$name.input.json")
      val expected = slurp(s"/graft/golden/model/$name.expected.json")
      val doc = TableDoc.fromJsonString(input)
      assert(TableDoc.toJsonString(doc) == expected)
      // and the canonical form is a fixed point
      val again = TableDoc.fromJsonString(TableDoc.toJsonString(doc))
      assert(TableDoc.toJsonString(again) == expected)
    }
  }

  test("dict-update keeps original position for existing keys") {
    val cols = Vector("a" -> (Cell.Str("1"): Cell), "b" -> (Cell.Str("2"): Cell))
    val updated = new RowBuilder(cols)
    updated.put("a", Cell.Str("9"))
    assert(updated.result() == Vector("a" -> Cell.Str("9"), "b" -> Cell.Str("2")))
    val appended = new RowBuilder(cols)
    appended.put("c", Cell.Str("3"))
    assert(appended.result().map(_._1) == Vector("a", "b", "c"))
  }

  test("is_empty_value semantics (schema.py:83-90)") {
    assert(Cell.Null.isEmptyValue)
    assert(Cell.Str("").isEmptyValue)
    assert(Cell.Str("  No Data ").isEmptyValue)
    assert(Cell.Str("none").isEmptyValue)
    assert(!Cell.Str("0").isEmptyValue)
    assert(Cell.Multi(List(ValueWithAgreement("none", 1), ValueWithAgreement(" ", 2))).isEmptyValue)
    assert(!Cell.Multi(List(ValueWithAgreement("x", 1))).isEmptyValue)
  }

  test("row normalize lowercases and maps no-data sentinels") {
    val r = RowData(Vector(
      "a" -> Cell.Str("  Hello   World "),
      "b" -> Cell.Str("Not Identified"),
      "c" -> Cell.Multi(List(ValueWithAgreement("X Y", 2)))
    ))
    val n = r.normalize(rowAgreement = true)
    assert(n.get("a").contains(Cell.Str("hello world")))
    assert(n.get("b").contains(Cell.Str("")))
    assert(n.get("c").contains(Cell.Multi(List(ValueWithAgreement("x y", 2)))))
    assert(n.agreementLevel.contains(1))
  }

  test("columnNames dedups preserving first-seen order") {
    val rows = List(
      RowData(Vector("b" -> (Cell.Str("1"): Cell), "a" -> (Cell.Str("2"): Cell))),
      RowData(Vector("a" -> (Cell.Str("3"): Cell), "c" -> (Cell.Str("4"): Cell)))
    )
    assert(RowData.columnNames(rows) == Vector("b", "a", "c"))
  }
}
