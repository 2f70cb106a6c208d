package graft.stats

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Cell, TableDoc, ValueWithAgreement}

/** Port of the reference's stats suite
  * (/root/reference/tests/test_stats.py:1-671): paper/global counters,
  * unique-row and shared-value accounting, type inference, the
  * collect-unique-columns first-wins rule, and the format_stats report.
  */
class StatsEdgeSpec extends AnyFunSuite {

  private def paper(tablesJson: String): TableDoc =
    TableDoc.fromJsonString(s"""{"citation": null, "tables": [$tablesJson]}""")

  private def stats(tablesJson: String): PaperStatsRow =
    Stats.paperStats("p", paper(tablesJson))

  // --- compute_paper_stats (test_stats.py:19-108)

  test("empty paper") {
    val s = Stats.paperStats("p", paper(""))
    assert(s.tables == 0 && s.fragments == 0 && s.rows == 0 && s.columns == 0)
    assert(s.rows_with_agreement == 0)
    assert(Stats.paperPercentages(s)._1.isEmpty) // agreement_percentage None
  }

  test("paper with one table one row") {
    val s = stats("""{"rows": [{"family": "Apiaceae"}], "page": 1}""")
    assert(s.tables == 1 && s.fragments == 1 && s.rows == 1 && s.columns == 1)
    assert(s.rows_with_agreement == 0)
    assert(Stats.paperPercentages(s)._1.contains(0.0))
  }

  test("paper with agreement levels (>1 counts)") {
    val s = stats(
      """{"page": 1, "rows": [
        |  {"family": "Apiaceae", "agreement_level_": 0},
        |  {"family": "Rosaceae", "agreement_level_": 2},
        |  {"family": "Lamiaceae", "agreement_level_": 3}]}""".stripMargin)
    assert(s.tables == 1 && s.fragments == 1 && s.rows == 3 && s.columns == 1)
    assert(s.rows_with_agreement == 2)
    val agree = Stats.paperPercentages(s)._1.get
    assert(math.abs(agree - (2.0 / 3) * 100) < 1e-3)
  }

  test("multiple tables") {
    val s = Stats.paperStats("p", TableDoc.fromJsonString(
      """{"citation": null, "tables": [
        |  {"page": 1, "rows": [{"family": "Apiaceae"}, {"family": "Rosaceae"}]},
        |  {"page": 2, "rows": [{"family": "Lamiaceae", "agreement_level_": 2}]}]}""".stripMargin))
    assert(s.tables == 2 && s.fragments == 2 && s.rows == 3 && s.columns == 1)
    assert(s.rows_with_agreement == 1)
    assert(math.abs(Stats.paperPercentages(s)._1.get - (1.0 / 3) * 100) < 1e-9)
  }

  test("table with multiple fragments counts each") {
    val s = stats(
      """{"table_fragments": [
        |  {"page": 1, "rows": [{"family": "Apiaceae"}]},
        |  {"page": 2, "rows": [{"family": "Rosaceae"}]}]}""".stripMargin)
    assert(s.tables == 1 && s.fragments == 2 && s.rows == 2)
  }

  test("columns counts unique across fragments") {
    val s = Stats.paperStats("p", TableDoc.fromJsonString(
      """{"citation": null, "tables": [
        |  {"page": 1, "rows": [{"family": "Apiaceae", "genus": "Ammi"}]},
        |  {"page": 2, "rows": [{"family": "Rosaceae", "color": "red"}]}]}""".stripMargin))
    assert(s.columns == 3)
  }

  // --- infer_type (test_stats.py:111-129)

  test("infer_type int / float / bool / str / agreement list") {
    assert(Stats.inferColumnType("42") == "int")
    assert(Stats.inferColumnType("3.14") == "float")
    assert(Stats.inferColumnType("true") == "bool")
    assert(Stats.inferColumnType("False") == "bool")
    assert(Stats.inferColumnType("Apiaceae") == "str")
    // agreement-list cells infer from the first value (reference
    // __main__.py:56: value[0].value)
    val cell = Cell.Multi(List(ValueWithAgreement("99", 2)))
    assert(Stats.inferColumnType(cell.strings.head) == "int")
  }

  // --- unique_rows (test_stats.py:253-338)

  test("unique rows: no row_ attribute -> 0") {
    val s = stats("""{"page": 1, "rows": [{"family": "Apiaceae"}, {"family": "Rosaceae"}]}""")
    assert(s.unique_rows == 0)
  }

  test("unique rows: single table distinct row_ values") {
    val s = stats(
      """{"page": 1, "rows": [
        |  {"family": "Apiaceae", "row_": 1}, {"family": "Rosaceae", "row_": 1},
        |  {"family": "Lamiaceae", "row_": 2}, {"family": "Asteraceae", "row_": 2},
        |  {"family": "Fabaceae", "row_": 2}]}""".stripMargin)
    assert(s.unique_rows == 2)
  }

  test("unique rows: summed per table, not globally distinct") {
    val s = Stats.paperStats("p", TableDoc.fromJsonString(
      """{"citation": null, "tables": [
        |  {"page": 1, "rows": [
        |    {"family": "Apiaceae", "row_": 1}, {"family": "Rosaceae", "row_": 1},
        |    {"family": "Lamiaceae", "row_": 2}, {"family": "Asteraceae", "row_": 2},
        |    {"family": "Fabaceae", "row_": 2}]},
        |  {"page": 2, "rows": [
        |    {"family": "Poaceae", "row_": 1}, {"family": "Cyperaceae", "row_": 2},
        |    {"family": "Orchidaceae", "row_": 3}, {"family": "Bromeliaceae", "row_": 4}]}]}""".stripMargin))
    assert(s.unique_rows == 6)
  }

  test("unique rows: distinct across fragments of one table") {
    val s = stats(
      """{"table_fragments": [
        |  {"page": 1, "rows": [{"family": "Apiaceae", "row_": 1}, {"family": "Rosaceae", "row_": 2}]},
        |  {"page": 2, "rows": [{"family": "Lamiaceae", "row_": 2}, {"family": "Asteraceae", "row_": 3}]}]}""".stripMargin)
    assert(s.unique_rows == 3)
  }

  // --- row_value_strings (test_stats.py:372-410)

  private def firstRow(tablesJson: String) =
    paper(tablesJson).tables.head.fragments.head.rows.head

  test("row_value_strings: plain strings") {
    val r = firstRow("""{"page": 1, "rows": [{"family": "Apiaceae", "genus": "Ammi", "row_": 1}]}""")
    assert(Stats.rowValueStrings(r) == Set(("family", "Apiaceae"), ("genus", "Ammi")))
  }

  test("row_value_strings: agreement list unwraps values") {
    val r = firstRow(
      """{"page": 1, "rows": [{"family": [{"value": "Apiaceae", "agreement_level": 2}], "row_": 1}]}""")
    assert(Stats.rowValueStrings(r) == Set(("family", "Apiaceae")))
  }

  test("row_value_strings: skips empty strings") {
    val r = firstRow("""{"page": 1, "rows": [{"family": "", "genus": "Ammi", "row_": 1}]}""")
    assert(Stats.rowValueStrings(r) == Set(("genus", "Ammi")))
  }

  test("row_value_strings: skips nulls") {
    val r = firstRow("""{"page": 1, "rows": [{"family": null, "genus": "Ammi", "row_": 1}]}""")
    assert(Stats.rowValueStrings(r) == Set(("genus", "Ammi")))
  }

  // --- count_shared_values (test_stats.py:413-543)

  private def shared(tablesJson: String): (Long, Long) =
    Stats.countSharedValues(TableDoc.fromJsonString(
      s"""{"citation": null, "tables": [$tablesJson]}""").tables)

  test("count_shared_values: spec example (one of two groups shares)") {
    val (inGroups, withShared) = shared(
      """{"page": 1, "rows": [
        |  {"family": "v 1", "row_": 1}, {"family": "v 2", "row_": 1},
        |  {"family": "v 3", "row_": 2}, {"family": "v 3", "row_": 2}]}""".stripMargin)
    assert(inGroups == 4 && withShared == 2)
  }

  test("count_shared_values: all shared") {
    val (inGroups, withShared) = shared(
      """{"page": 1, "rows": [
        |  {"family": "Apiaceae", "row_": 1}, {"family": "Apiaceae", "row_": 1},
        |  {"family": "Rosaceae", "row_": 2}, {"family": "Rosaceae", "row_": 2}]}""".stripMargin)
    assert(inGroups == 4 && withShared == 4)
  }

  test("count_shared_values: none shared") {
    val (inGroups, withShared) = shared(
      """{"page": 1, "rows": [
        |  {"family": "Apiaceae", "row_": 1}, {"family": "Rosaceae", "row_": 1},
        |  {"family": "Lamiaceae", "row_": 2}, {"family": "Asteraceae", "row_": 2}]}""".stripMargin)
    assert(inGroups == 4 && withShared == 0)
  }

  test("count_shared_values: singleton groups are ignored") {
    val (inGroups, withShared) = shared(
      """{"page": 1, "rows": [
        |  {"family": "Apiaceae", "row_": 1}, {"family": "Rosaceae", "row_": 2},
        |  {"family": "Lamiaceae", "row_": 3}]}""".stripMargin)
    assert(inGroups == 0 && withShared == 0)
  }

  test("count_shared_values: rows without row_ are ignored") {
    val (inGroups, withShared) = shared(
      """{"page": 1, "rows": [{"family": "Apiaceae"}, {"family": "Apiaceae"}]}""")
    assert(inGroups == 0 && withShared == 0)
  }

  test("count_shared_values: groups span fragments of one table") {
    val (inGroups, withShared) = shared(
      """{"table_fragments": [
        |  {"page": 1, "rows": [{"family": "Apiaceae", "row_": 1}]},
        |  {"page": 2, "rows": [{"family": "Apiaceae", "row_": 1}]}]}""".stripMargin)
    assert(inGroups == 2 && withShared == 2)
  }

  test("count_shared_values: tables are independent") {
    val (inGroups, withShared) = Stats.countSharedValues(TableDoc.fromJsonString(
      """{"citation": null, "tables": [
        |  {"page": 1, "rows": [{"family": "Apiaceae", "row_": 1}, {"family": "Apiaceae", "row_": 1}]},
        |  {"page": 2, "rows": [{"family": "Rosaceae", "row_": 1}, {"family": "Asteraceae", "row_": 1}]}]}""".stripMargin).tables)
    assert(inGroups == 4 && withShared == 2)
  }

  test("shared_values_percentage in paper stats; None when no groups") {
    val s = stats(
      """{"page": 1, "rows": [
        |  {"family": "v 1", "row_": 1}, {"family": "v 2", "row_": 1},
        |  {"family": "v 3", "row_": 2}, {"family": "v 3", "row_": 2}]}""".stripMargin)
    assert(s.rows_in_shared_groups == 4 && s.rows_with_shared_values == 2)
    assert(Stats.paperPercentages(s)._3.contains(50.0))
    val none = stats(
      """{"page": 1, "rows": [{"family": "Apiaceae", "row_": 1}, {"family": "Rosaceae", "row_": 2}]}""")
    assert(none.rows_in_shared_groups == 0)
    assert(Stats.paperPercentages(none)._3.isEmpty)
  }

  // --- GlobalStats accumulation (test_stats.py:165-218, 585-640)

  test("global agreement percentage: None at zero rows, accumulates across papers") {
    assert(GlobalStatsRow.accumulate(Nil).globalAgreementPercentage.isEmpty)
    val a = Stats.paperStats("a", paper(
      """{"page": 1, "rows": [
        |  {"family": "Apiaceae", "agreement_level_": 2},
        |  {"family": "Rosaceae", "agreement_level_": 0}]}""".stripMargin))
    val b = Stats.paperStats("b", paper(
      """{"page": 1, "rows": [
        |  {"family": "Lamiaceae", "agreement_level_": 3},
        |  {"family": "Asteraceae", "agreement_level_": 1}]}""".stripMargin))
    val g = GlobalStatsRow.accumulate(Seq(a, b))
    assert(g.rows == 4 && g.rows_with_agreement == 2)
    assert(g.globalAgreementPercentage.contains(50.0))
  }

  test("global shared values percentage accumulates; None when no groups") {
    val a = Stats.paperStats("a", paper(
      """{"page": 1, "rows": [{"family": "v 1", "row_": 1}, {"family": "v 2", "row_": 1}]}"""))
    val b = Stats.paperStats("b", paper(
      """{"page": 1, "rows": [{"family": "v 3", "row_": 1}, {"family": "v 3", "row_": 1}]}"""))
    val g = GlobalStatsRow.accumulate(Seq(a, b))
    assert(g.rows_in_shared_groups == 4 && g.rows_with_shared_values == 2)
    assert(g.globalSharedValuesPercentage.contains(50.0))
    val solo = GlobalStatsRow.accumulate(Seq(Stats.paperStats("a", paper(
      """{"page": 1, "rows": [{"family": "Apiaceae", "row_": 1}]}"""))))
    assert(solo.globalSharedValuesPercentage.isEmpty)
  }

  // --- collect_unique_columns (test_stats.py:341-369)

  test("collect_unique_columns: semantic only, numeric names excluded") {
    val cols = Stats.uniqueColumns(Seq(paper(
      """{"page": 1, "rows": [{"species": "Apiaceae", "count": "42", "1": "ignored"}]}""")))
    assert(cols == Map("species" -> "str", "count" -> "int"))
    assert(!cols.contains("1"))
  }

  test("collect_unique_columns: first type wins across papers") {
    val a = paper("""{"page": 1, "rows": [{"species": "Apiaceae", "count": "42"}]}""")
    val b = paper("""{"page": 1, "rows": [{"species": "Rosaceae", "count": "100"}]}""")
    val cols = Stats.uniqueColumns(Seq(a, b))
    assert(cols.keySet == Set("species", "count"))
  }

  test("collect_unique_columns: first NON-empty fragment per table, then stop") {
    val doc = paper(
      """{"table_fragments": [
        |  {"page": 1, "rows": []},
        |  {"page": 2, "rows": [{"species": "Apiaceae"}]},
        |  {"page": 3, "rows": [{"later": "x"}]}]}""".stripMargin)
    assert(Stats.uniqueColumns(Seq(doc)) == Map("species" -> "str"))
  }

  // --- format_stats (test_stats.py:132-162, 221-250, 643-671)

  private val emptyGlobal = GlobalStatsRow(0, 0, 0, 0, 0, 0, 0, 0)

  test("format_stats with columns appends the sorted unique-column list") {
    val g = GlobalStatsRow(1, 1, 2, 2, 0, 0, 0, 0)
    val out = Stats.formatStats(g, Nil, Some(Map("species" -> "str", "count" -> "int")))
    assert(out.contains("Unique Columns:"))
    assert(out.contains("species:str"))
    assert(out.contains("count:int"))
  }

  test("format_stats without columns omits the section") {
    val g = GlobalStatsRow(1, 1, 2, 2, 0, 0, 0, 0)
    assert(!Stats.formatStats(g, Nil).contains("Unique Columns:"))
  }

  test("format_stats shows global agreement percentage at two decimals") {
    val g = GlobalStatsRow(1, 1, 1, 4, 0, 2, 0, 0)
    assert(Stats.formatStats(g, Nil).contains("Global agreement percentage: 50.00%"))
  }

  test("percentage formatting is CPython f'{p:.2f}' (HALF_EVEN on the exact binary value)") {
    // CPython reference outputs: 12.125 -> '12.12' (exact binary half,
    // rounds to even; Java's %.2f HALF_UP gives '12.13'), 12.375 -> '12.38'
    // (even is up here), 2.675 -> '2.67' (binary value is just below the
    // half), 0.005 -> '0.01' (just above), 50.0 -> '50.00'
    assert(Stats.py2f(12.125) == "12.12")
    assert(Stats.py2f(12.375) == "12.38")
    assert(Stats.py2f(2.675) == "2.67")
    assert(Stats.py2f(0.005) == "0.01")
    assert(Stats.py2f(50.0) == "50.00")
  }

  test("format_stats omits global agreement percentage when None") {
    assert(!Stats.formatStats(emptyGlobal, Nil).contains("Global agreement percentage"))
  }

  test("format_stats shows global shared values percentage") {
    val g = GlobalStatsRow(1, 1, 1, 4, 0, 0, 4, 2)
    assert(Stats.formatStats(g, Nil).contains("Global shared values percentage: 50.00%"))
  }

  test("format_stats omits global shared values percentage when None") {
    assert(!Stats.formatStats(emptyGlobal, Nil).contains("Global shared values percentage"))
  }

  test("writeReport streams the same text formatStats builds, in sorted order") {
    val spark = graft.SharedSpark.spark
    import spark.implicits._
    val a = Stats.paperStats("a", paper(
      """{"page": 1, "rows": [{"family": "x", "agreement_level_": 2}]}"""))
    val b = Stats.paperStats("b", TableDoc.fromJsonString(
      """{"citation": null, "tables": [
        |  {"page": 1, "rows": [{"family": "y"}]},
        |  {"page": 2, "rows": [{"family": "z"}]}]}""".stripMargin))
    val perDoc = Seq(a, b)
    val ds = spark.createDataset(perDoc)
    val w = new java.io.StringWriter()
    Stats.writeReport(spark, ds, w, sortMode = "desc")
    // desc by tables: b (2 tables) before a (1 table)
    val want = Stats.formatStats(GlobalStatsRow.accumulate(perDoc), Seq(b, a)) + "\n"
    assert(w.toString == want)
  }

  test("writeReport with columns streams the unique-column block formatStats appends") {
    val spark = graft.SharedSpark.spark
    import spark.implicits._
    val docs = Seq(
      paper("""{"page": 1, "rows": [{"species": "Apiaceae", "count": "42"}]}"""),
      paper("""{"page": 1, "rows": [{"species": "Rosaceae", "flag": "true"}]}"""))
    val perDoc = docs.zipWithIndex.map { case (d, i) => Stats.paperStats(s"p$i", d) }
    val columns = Stats.uniqueColumns(docs)
    val w = new java.io.StringWriter()
    Stats.writeReport(spark, spark.createDataset(perDoc), w, sortMode = "asc", columns = Some(columns))
    val want = Stats.formatStats(GlobalStatsRow.accumulate(perDoc), perDoc, Some(columns)) + "\n"
    assert(w.toString == want)
    assert(want.contains("Unique Columns:\ncount:int\nflag:bool\nspecies:str"))
  }

  test("format_stats per-paper block carries counters and percentages") {
    val s = stats(
      """{"page": 1, "rows": [
        |  {"family": "Apiaceae", "agreement_level_": 2},
        |  {"family": "", "agreement_level_": 0}]}""".stripMargin)
    val out = Stats.formatStats(GlobalStatsRow.accumulate(Seq(s)), Seq(s))
    assert(out.contains("- p:"))
    assert(out.contains("    Tables: 1"))
    assert(out.contains("    Rows with agreement > 1: 1"))
    assert(out.contains("    Agreement percentage: 50.00%"))
    assert(out.contains("    Empty rows percentage: 50.00%"))
  }
}
