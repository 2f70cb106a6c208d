package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.core.JVal
import graft.core.JVal._
import graft.core.Text.ColType._

/** Port of the reference settings suite
  * (/root/reference/tests/test_settings.py:1-326): the field-mapping /
  * defaults / unknown-attribute / serialization precedence matrix, expressed
  * over the engine's MergeConfig ⇄ MergeSettingsJson round-trip (the
  * settings.tablemerge.json contract) and ColumnSchema's settings-dict form.
  */
class MergeSettingsSpec extends AnyFunSuite {

  private def dict(json: String): JObj = JVal.parse(json) match {
    case o: JObj => o
    case other => fail(s"expected object, got $other")
  }

  private def toDict(c: MergeConfig): JObj = dict(MergeSettingsJson.toJson(c))

  private def bool(o: JObj, k: String): Boolean =
    o.get(k) match {
      case Some(JBool(v)) => v
      case other => fail(s"$k: expected bool, got $other")
    }

  private def str(o: JObj, k: String): String =
    o.get(k) match {
      case Some(JStr(v)) => v
      case other => fail(s"$k: expected string, got $other")
    }

  // --- from_args field mapping + extras tolerance (test_settings.py:7-56):
  // the engine's external-settings entry point is fromJson; unknown keys in
  // the document must be ignored, known keys mapped.

  test("settings document maps fields and ignores extras") {
    val settings = MergeSettingsJson.fromJson(
      """{
        |  "readers": {"u1": "pdfplumber"},
        |  "drop_empty_columns": false,
        |  "drop_empty_tables": true,
        |  "only_semantic_columns": true,
        |  "remove_header_rows": false,
        |  "filter_title_rows": true,
        |  "jaccard_column_alignment": true,
        |  "threshold": 0.7,
        |  "column_name_semantic_alignment": false,
        |  "column_value_semantic_alignment": false,
        |  "semantic_language": "es",
        |  "column_aliases": {"familia": "family"},
        |  "schema": "family:str",
        |  "output_directory": ".",
        |  "metadata_only": false,
        |  "export_settings": false,
        |  "workers": 4,
        |  "paper": null,
        |  "settings": false
        |}""".stripMargin)
    assert(settings.distinctReaders.contains(Map("u1" -> "pdfplumber")))
    assert(!settings.dropEmptyColumns)
    assert(settings.useJaccard)
    assert(settings.threshold == 0.7)
    assert(settings.semanticLanguage == "es")
    assert(settings.aliases == Vector("familia" -> "family"))
    assert(settings.schemaStr.contains("family:str"))
  }

  test("from empty document yields the reference defaults") {
    val settings = MergeSettingsJson.fromJson("{}")
    assert(settings == MergeConfig())
    // the reference's documented defaults (test_settings.py:160-172)
    assert(settings.distinctReaders.isEmpty) // agreement_method == simple-count
    assert(settings.dropEmptyColumns)
    assert(settings.dropEmptyTables)
    assert(!settings.onlySemanticColumns)
    assert(!settings.removeHeaderRows)
    assert(settings.hints.isEmpty)
    assert(settings.schemaStr.isEmpty)
  }

  test("unknown attributes are ignored") {
    val settings = MergeSettingsJson.fromJson(
      """{"readers": {"u1": "camelot"}, "unknown_field": "ignored"}""")
    assert(settings.distinctReaders.contains(Map("u1" -> "camelot")))
  }

  test("simple fields survive the round trip") {
    val c = MergeConfig(
      distinctReaders = Some(Map("u1" -> "pdfplumber", "u2" -> "pymupdf")),
      dropEmptyColumns = false,
      dropEmptyTables = false,
      onlySemanticColumns = true,
      removeHeaderRows = true,
      hints = List("species", "family"),
      schemaStr = Some("family:str,count:int"))
    val back = MergeSettingsJson.fromJson(MergeSettingsJson.toJson(c))
    assert(back == c)
    val d = toDict(c)
    assert(str(d, "agreement_method") == "distinct-readers")
    assert(!bool(d, "drop_empty_columns"))
    assert(!bool(d, "drop_empty_tables"))
    assert(bool(d, "only_semantic_columns"))
    assert(bool(d, "remove_header_rows"))
    assert(d.get("hints").contains(JArr(Vector(JStr("species"), JStr("family")))))
    assert(str(d, "schema") == "family:str,count:int")
  }

  test("to_dict simple fields") {
    val d = toDict(MergeConfig(
      distinctReaders = Some(Map("u1" -> "pdfplumber")),
      dropEmptyColumns = false,
      dropEmptyTables = true,
      onlySemanticColumns = true,
      removeHeaderRows = true))
    assert(str(d, "agreement_method") == "distinct-readers")
    assert(!bool(d, "drop_empty_columns"))
    assert(bool(d, "drop_empty_tables"))
    assert(bool(d, "only_semantic_columns"))
    assert(bool(d, "remove_header_rows"))
  }

  test("to_dict pretransformers") {
    val d = toDict(MergeConfig(filterTitleRows = true, stripLeadingRowNumbers = true))
    assert(bool(d, "filter_title_rows"))
    assert(bool(d, "strip_leading_row_numbers"))
    assert(!bool(d, "fix_reversed_column_values"))
    assert(!bool(d, "normalize_punctuation"))
    assert(!bool(d, "split_conjunction_columns"))
  }

  test("to_dict: no title filter when disabled") {
    val d = toDict(MergeConfig(filterTitleRows = false))
    assert(!bool(d, "filter_title_rows"))
  }

  test("to_dict: language travels with the reverser") {
    val d = toDict(MergeConfig(semanticLanguage = "es", fixReversedColumnValues = true))
    assert(bool(d, "fix_reversed_column_values"))
    assert(str(d, "semantic_language") == "es")
  }

  test("to_dict tablesfile transformer: explode") {
    val d = toDict(MergeConfig(transformTablesFile = Some("explode")))
    assert(str(d, "transform_tablesfile") == "explode")
  }

  test("to_dict tablesfile transformer: compact-safe") {
    val c = MergeConfig(transformTablesFile = Some("compact-safe"))
    assert(str(toDict(c), "transform_tablesfile") == "compact-safe")
    assert(MergeSettingsJson.fromJson(MergeSettingsJson.toJson(c)) == c)
  }

  test("to_dict tablesfile transformer: compact-unsafe") {
    val c = MergeConfig(transformTablesFile = Some("compact-unsafe"))
    assert(str(toDict(c), "transform_tablesfile") == "compact-unsafe")
    assert(MergeSettingsJson.fromJson(MergeSettingsJson.toJson(c)) == c)
  }

  test("fromJson rejects option values the pipeline does not recognise") {
    assertThrows[IllegalArgumentException](
      MergeSettingsJson.fromJson("""{"transform_tablesfile": "safe-compact"}"""))
    assertThrows[IllegalArgumentException](
      MergeSettingsJson.fromJson("""{"hints_column_alignment": "sfae"}"""))
    assert(MergeSettingsJson.fromJson("""{"transform_tablesfile": "compact-safe"}""")
      .transformTablesFile.contains("compact-safe"))
  }

  test("to_dict analyzers") {
    val d = toDict(MergeConfig(
      useJaccard = true,
      useColumnValueSemantic = true,
      useColumnNameSemantic = false,
      threshold = 0.7,
      semanticLanguage = "es",
      hintsMode = Some("unsafe")))
    assert(bool(d, "jaccard_column_alignment"))
    assert(bool(d, "column_value_semantic_alignment"))
    assert(!bool(d, "column_name_semantic_alignment"))
    assert(d.get("threshold").collect { case JNum(v) => v.toDouble }.contains(0.7))
    assert(str(d, "semantic_language") == "es")
    assert(str(d, "hints_column_alignment") == "unsafe")
  }

  test("to_dict hints safe mode") {
    val d = toDict(MergeConfig(hintsMode = Some("safe")))
    assert(str(d, "hints_column_alignment") == "safe")
  }

  test("to_dict postprocessors") {
    val d = toDict(MergeConfig(
      filterSchemaColumns = true,
      orderSchemaColumns = false,
      coerceSchemaColumnTypes = true))
    assert(bool(d, "filter_schema_columns"))
    assert(!bool(d, "order_schema_columns"))
    assert(bool(d, "coerce_schema_column_types"))
  }

  // --- ColumnSchema settings-dict form (test_settings.py:309-325) ---

  test("column schema from empty settings dict is None") {
    assert(ColumnSchema.fromSettingsDict(Nil).isEmpty)
  }

  test("column schema settings-dict round trip") {
    val original = ColumnSchema.parse("family:str,count:int,name:scientific_name")
    val serialized = original.serialize
    val reconstructed = ColumnSchema.fromSettingsDict(serialized)
    assert(reconstructed.nonEmpty)
    assert(reconstructed.get.serialize == serialized)
    assert(serialized == Vector(
      "family" -> "str", "count" -> "int", "name" -> "scientific_name"))
  }

  test("column schema from single-field settings dict") {
    val schema = ColumnSchema.fromSettingsDict(Vector("family" -> "str"))
    assert(schema.nonEmpty)
    assert(schema.get.serialize == Vector("family" -> "str"))
    assert(schema.get.columnType("family") == TStr)
  }
}
