package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Cell, TableDoc}

/** Port of the reference's TablesFileLoader suite
  * (/root/reference/tests/test_tablesfile_loader.py:20-141): the load
  * phases apply the configured pretransformers / tablesfile transformer
  * and leave untargeted rows intact.
  */
class LoaderSpec extends AnyFunSuite {

  private def doc(tablesJson: String): TableDoc =
    TableDoc.fromJsonString(s"""{"citation": null, "tables": [$tablesJson]}""")

  private def rowsOf(d: TableDoc): List[List[(String, String)]] =
    d.tables.head.fragments.head.rows.map(_.columns.toList.map {
      case (k, Cell.Str(v)) => (k, v)
      case (k, c) => (k, c.toString)
    })

  test("load returns a parsed doc through the default phases") {
    val loaded = MergePipeline.load(
      doc("""{"table_fragments": [{"rows": [{"species": "Ammi majus"}], "page": 1}]}"""),
      MergeConfig().toSettings.copy(pretransformers = Nil))
    assert(loaded.tables.size == 1)
    assert(rowsOf(loaded) == List(List("species" -> "Ammi majus")))
  }

  test("load applies FilterTitleRows as a pretransformer") {
    val loaded = MergePipeline.load(
      doc(
        """{"table_fragments": [{"rows": [
          |  {"0": "Figure 1. Species list"},
          |  {"0": "Ammi majus", "1": "Apiaceae"}], "page": 1}]}""".stripMargin),
      MergeConfig().toSettings.copy(pretransformers = List(FilterTitleRowsTransformer)))
    assert(rowsOf(loaded) == List(List("0" -> "Ammi majus", "1" -> "Apiaceae")))
  }

  test("load applies the safe compactor: same-column consecutive tables become one") {
    val loaded = MergePipeline.load(
      TableDoc.fromJsonString(
        """{"citation": null, "tables": [
          |  {"table_fragments": [{"rows": [{"species": "Ammi majus"}], "page": 1}]},
          |  {"table_fragments": [{"rows": [{"species": "Rosa canina"}], "page": 2}]}]}""".stripMargin),
      MergeConfig().toSettings.copy(pretransformers = Nil,
        tablesFileTransformer = SafeConsecutiveFragmentsCompactor))
    // same columns on consecutive pages -> compacted into ONE table with
    // both fragments preserved (reference asserts exactly this shape)
    assert(loaded.tables.size == 1)
    assert(loaded.tables.head.fragments.map(_.page) == List(1, 2))
    assert(loaded.tables.head.fragments.flatMap(_.rows).map(_.columns) ==
      List(Vector("species" -> Cell.Str("Ammi majus")),
        Vector("species" -> Cell.Str("Rosa canina"))))
  }

  test("load applies FilterEmptyRows as a pretransformer") {
    val loaded = MergePipeline.load(
      doc(
        """{"table_fragments": [{"rows": [
          |  {"0": ""},
          |  {"0": "Ammi majus", "1": "Apiaceae"},
          |  {"0": "", "1": ""}], "page": 1}]}""".stripMargin),
      MergeConfig().toSettings.copy(pretransformers = List(FilterEmptyRowsTransformer)))
    assert(rowsOf(loaded) == List(List("0" -> "Ammi majus", "1" -> "Apiaceae")))
  }

  test("load preserves rows when nothing matches a title") {
    val loaded = MergePipeline.load(
      doc(
        """{"table_fragments": [{"rows": [
          |  {"0": "Ammi majus", "1": "Apiaceae"},
          |  {"0": "Rosa canina", "1": "Rosaceae"}], "page": 1}]}""".stripMargin),
      MergeConfig().toSettings) // defaults: title + empty filters on
    assert(rowsOf(loaded) == List(
      List("0" -> "Ammi majus", "1" -> "Apiaceae"),
      List("0" -> "Rosa canina", "1" -> "Rosaceae")))
  }
}
