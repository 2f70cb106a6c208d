package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Unit tests for the deterministic spaCy-replacement components — no
  * reference golden possible (the reference needs spaCy models), so these
  * pin OUR documented semantics (SURVEY.md §7.4 hard part 4).
  */
class TransformersSpec extends AnyFunSuite {

  private def row(pairs: (String, String)*): RowData =
    RowData(pairs.toVector.map { case (k, v) => (k, Cell.Str(v): Cell) })

  private def strCell(r: RowData, k: String): String =
    r.get(k) match { case Some(Cell.Str(s)) => s; case other => fail(s"$k: $other") }

  test("F6 reverser: keeps reversed fragment only when known-word score improves") {
    val reversedRows = List(
      row("a" -> "xoF nretnaL"), // "Lantern Fox" reversed
      row("a" -> "gorF ssalG"))
    val frag = Fragment(reversedRows, 1)
    val out = FragmentValuesReverser.transformFragment(frag)
    assert(strCell(out.rows.head, "a") == "Lantern Fox")
    assert(strCell(out.rows(1), "a") == "Glass Frog")
    // already-correct text stays untouched
    val ok = Fragment(List(row("a" -> "Lantern Fox")), 1)
    assert(FragmentValuesReverser.transformFragment(ok) == ok)
  }

  test("F7 split: conjunction column names split at the conjunction token") {
    val t = new SplitColumnTransformer("en")
    assert(t.findConjunctionSplit("usual_and_scientific_names").contains(("usual", "scientific_names")))
    assert(t.findConjunctionSplit("a_or_b").contains(("a", "b")))
    assert(t.findConjunctionSplit("and_b").isEmpty) // conjunction must be interior
    assert(t.findConjunctionSplit("a_and").isEmpty)
    assert(t.findConjunctionSplit("plain_name").isEmpty)
  }

  test("F7 split: cell value splits at similarity-maximizing point") {
    val t = new SplitColumnTransformer("en")
    val frag = Fragment(List(
      row("common_and_scientific_names" -> "Lantern Fox (Vulpes lucerna)", "other" -> "x")), 1)
    val out = t.transformFragment(frag)
    assert(out.rows.head.columnNames == Vector("common", "scientific_names", "other"))
    val left = strCell(out.rows.head, "common")
    val right = strCell(out.rows.head, "scientific_names")
    assert(left.nonEmpty && right.nonEmpty)
    assert((left + " " + right).contains("Fox") || (left + " " + right).contains("Vulpes"))
    // single-token values put everything left, empty right
    val frag2 = Fragment(List(row("a_and_b" -> "single")), 1)
    val out2 = t.transformFragment(frag2)
    assert(strCell(out2.rows.head, "a") == "single")
    assert(strCell(out2.rows.head, "b") == "")
  }

  test("A5 column-name semantic analyzer renames via schema when values echo the column name") {
    val schema = ColumnSchema.parse("scientific_name:str status:str")
    val analyzer = new ColumnNameSemanticLoadTimeAnalyzer(0.3, Some(schema))
    val rows = List(
      row("0" -> "scientific name Vulpes", "1" -> "status stable"),
      row("0" -> "scientific name Rana", "1" -> "status declining"))
    val mapping = analyzer.buildMapping(List("0", "1"), rows)
    assert(mapping.get("0").contains("scientific_name"))
    assert(mapping.get("1").contains("status"))
  }

  test("A7 value semantic analyzer maps numeric to opposing semantic columns") {
    val analyzer = new ColumnValueSemanticMergeTimeAnalyzer(0.3, None)
    val left = List(row("species_name" -> "species name alpha"))
    val right = List(row("0" -> "species name alpha"))
    val mapping = analyzer.buildMapping(List("species_name"), List("0"), left, right)
    assert(mapping.get("0").contains("species_name"))
  }

  test("greedy assignment is 1-1 with stable tie order") {
    val m = Analyzers.greedyAssignment(List(
      (0.9, "a", "x"), (0.9, "b", "x"), (0.8, "a", "y"), (0.7, "b", "y")))
    assert(m.toMap == Map("a" -> "x", "b" -> "y"))
  }

  test("semantic scorer basic sanity: identical > related > unrelated") {
    val same = SemanticScorer.similarity("scientific name", "scientific name")
    val related = SemanticScorer.similarity("scientific name", "scientific names here")
    val unrelated = SemanticScorer.similarity("scientific name", "zzz qqq 123")
    assert(same > 0.99)
    assert(related > unrelated)
    assert(unrelated < 0.3)
  }
}
