package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Pins the MergeConfig → MergePipeline.Settings mapping: each field set on
  * its own (or with the one field it needs to act) against the stage it
  * builds, by class name and in order.
  */
class MergeConfigSettingsSpec extends AnyFunSuite {
  import MergeConfigSettingsSpec.Stage

  private def name(x: AnyRef): String = x.getClass.getSimpleName.stripSuffix("$")

  private def stage(s: MergePipeline.Settings): Stage = Stage(
    s.pretransformers.map(name), name(s.tablesFileTransformer),
    s.loadAnalyzers.map(name), s.posttransformers.map(name),
    s.mergeAnalyzers.map(name), name(s.agreement), s.columnAgreement,
    s.postprocessors.map(name))

  private val default = Stage(
    pre = List("FilterTitleRowsTransformer", "FilterEmptyRowsTransformer"),
    tablesFile = "NullTablesFileTransformer",
    load = Nil,
    post = Nil,
    mergeTime = Nil,
    agreement = "SimpleCountAgreement",
    columnAgreement = false,
    postprocessors = List("DropEmptyColumnsPostProcessor", "DropEmptyTablesPostProcessor"))

  private val schemaPost = default.postprocessors :+ "SchemaPostProcessor"

  test("MergeConfig() builds the tablemerge CLI default stage") {
    assert(stage(MergeConfig().toSettings) == default)
  }

  private val cases: Seq[(String, MergeConfig, Stage)] = Seq(
    ("filterTitleRows = false", MergeConfig(filterTitleRows = false),
      default.copy(pre = List("FilterEmptyRowsTransformer"))),
    ("stripLeadingRowNumbers", MergeConfig(stripLeadingRowNumbers = true),
      default.copy(pre = List("FilterTitleRowsTransformer", "LeadingRowNumberTransformer",
        "FilterEmptyRowsTransformer"))),
    ("normalizePunctuation", MergeConfig(normalizePunctuation = true),
      default.copy(pre = List("FilterTitleRowsTransformer", "NormalizePunctuationTransformer",
        "FilterEmptyRowsTransformer"))),
    ("splitConjunctionColumns", MergeConfig(splitConjunctionColumns = true),
      default.copy(pre = List("FilterTitleRowsTransformer", "SplitColumnTransformer",
        "FilterEmptyRowsTransformer"))),
    ("fixReversedColumnValues", MergeConfig(fixReversedColumnValues = true),
      default.copy(pre = List("FragmentValuesReverser", "FilterTitleRowsTransformer",
        "FilterEmptyRowsTransformer"))),
    ("all pretransformers keep the reference order", MergeConfig(
      fixReversedColumnValues = true, stripLeadingRowNumbers = true,
      normalizePunctuation = true, splitConjunctionColumns = true),
      default.copy(pre = List("FragmentValuesReverser", "FilterTitleRowsTransformer",
        "LeadingRowNumberTransformer", "NormalizePunctuationTransformer",
        "SplitColumnTransformer", "FilterEmptyRowsTransformer"))),
    ("semanticLanguage alone", MergeConfig(semanticLanguage = "es"), default),
    ("threshold alone", MergeConfig(threshold = 0.7), default),
    ("hints alone (no mode)", MergeConfig(hints = List("a")), default),
    ("hintsMode alone (no hints)", MergeConfig(hintsMode = Some("safe")), default),
    ("hints + hintsMode = safe", MergeConfig(hints = List("a"), hintsMode = Some("safe")),
      default.copy(load = List("HintsLoadTimeAnalyzer"))),
    ("hints + hintsMode = unsafe", MergeConfig(hints = List("a"), hintsMode = Some("unsafe")),
      default.copy(load = List("HintsLoadTimeAnalyzer"))),
    ("aliases", MergeConfig(aliases = Vector("x" -> "y")),
      default.copy(load = List("AliasLoadTimeAnalyzer"))),
    ("useColumnNameSemantic", MergeConfig(useColumnNameSemantic = true),
      default.copy(load = List("ColumnNameSemanticLoadTimeAnalyzer"))),
    ("load-time analyzers keep the reference order", MergeConfig(
      useColumnNameSemantic = true, aliases = Vector("x" -> "y"),
      hints = List("a"), hintsMode = Some("safe")),
      default.copy(load = List("HintsLoadTimeAnalyzer", "AliasLoadTimeAnalyzer",
        "ColumnNameSemanticLoadTimeAnalyzer"))),
    ("useJaccard", MergeConfig(useJaccard = true),
      default.copy(mergeTime = List("JaccardMergeTimeAnalyzer"))),
    ("useColumnValueSemantic", MergeConfig(useColumnValueSemantic = true),
      default.copy(mergeTime = List("ColumnValueSemanticMergeTimeAnalyzer"))),
    ("merge-time analyzers keep the reference order",
      MergeConfig(useColumnValueSemantic = true, useJaccard = true),
      default.copy(mergeTime = List("JaccardMergeTimeAnalyzer",
        "ColumnValueSemanticMergeTimeAnalyzer"))),
    ("schemaStr", MergeConfig(schemaStr = Some("a:int")),
      default.copy(postprocessors = schemaPost)),
    ("removeHeaderRows", MergeConfig(removeHeaderRows = true),
      default.copy(post = List("FilterHeaderRowsTransformer"))),
    ("transformTablesFile = explode", MergeConfig(transformTablesFile = Some("explode")),
      default.copy(tablesFile = "FragmentsExploder")),
    ("transformTablesFile = compact-safe", MergeConfig(transformTablesFile = Some("compact-safe")),
      default.copy(tablesFile = "SafeConsecutiveFragmentsCompactor")),
    ("transformTablesFile = compact-unsafe", MergeConfig(transformTablesFile = Some("compact-unsafe")),
      default.copy(tablesFile = "UnsafeConsecutiveFragmentsCompactor")),
    ("distinctReaders", MergeConfig(distinctReaders = Some(Map("u1" -> "camelot"))),
      default.copy(agreement = "DistinctReadersAgreement")),
    ("columnAgreement", MergeConfig(columnAgreement = true),
      default.copy(columnAgreement = true)),
    ("filterSchemaColumns alone (no schema)", MergeConfig(filterSchemaColumns = true), default),
    ("schema filter/order/coerce add one SchemaPostProcessor", MergeConfig(
      schemaStr = Some("a:int"), filterSchemaColumns = true,
      orderSchemaColumns = true, coerceSchemaColumnTypes = true),
      default.copy(postprocessors = schemaPost)),
    ("onlySemanticColumns", MergeConfig(onlySemanticColumns = true),
      default.copy(postprocessors = "FilterSemanticColumnsPostProcessor" :: default.postprocessors)),
    ("dropEmptyColumns = false", MergeConfig(dropEmptyColumns = false),
      default.copy(postprocessors = List("DropEmptyTablesPostProcessor"))),
    ("dropEmptyTables = false", MergeConfig(dropEmptyTables = false),
      default.copy(postprocessors = List("DropEmptyColumnsPostProcessor"))))

  for ((label, cfg, want) <- cases)
    test(s"toSettings: $label") {
      assert(stage(cfg.toSettings) == want)
    }

  test("toSettings: hintsMode safe renames only numeric-named columns, unsafe renames any") {
    // "0" is a non-semantic (float-parsing) column name, "name" a semantic one
    val row = RowData(Vector("0" -> Cell.Str("status"), "name" -> Cell.Str("common_name")))
    def mapping(mode: String) = {
      val cfg = MergeConfig(hints = List("status", "common_name"), hintsMode = Some(mode))
      cfg.toSettings.loadAnalyzers.head.buildMapping(List("0", "name"), List(row)).toMap
    }
    assert(mapping("safe") == Map("0" -> "status"))
    assert(mapping("unsafe") == Map("0" -> "status", "name" -> "common_name"))
  }

  test("toSettings rejects a transformTablesFile value it does not recognise") {
    val e = intercept[IllegalArgumentException] {
      MergeConfig(transformTablesFile = Some("safe-compact")).toSettings
    }
    assert(e.getMessage.contains("transformTablesFile"))
    assert(e.getMessage.contains("explode|compact-safe|compact-unsafe"))
  }

  test("toSettings rejects a hintsMode value it does not recognise") {
    val e = intercept[IllegalArgumentException] {
      MergeConfig(hints = List("a"), hintsMode = Some("sfae")).toSettings
    }
    assert(e.getMessage.contains("hintsMode"))
    assert(e.getMessage.contains("safe|unsafe"))
  }
}

object MergeConfigSettingsSpec {
  /** A built stage by the class names of its parts. */
  final case class Stage(
      pre: List[String],
      tablesFile: String,
      load: List[String],
      post: List[String],
      mergeTime: List[String],
      agreement: String,
      columnAgreement: Boolean,
      postprocessors: List[String])
}
