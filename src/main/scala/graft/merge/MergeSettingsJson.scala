package graft.merge

import graft.core.JVal
import graft.core.JVal._

/** Settings export/import (K7 — the reference's settings.tablemerge.json
  * round-trip, src/tablemerge/settings.py:41-84): a MergeConfig serializes
  * to a stable JSON document and parses back, so a merge run's exact
  * configuration can be persisted beside its output table. `fromJson`
  * rejects a document whose option values the pipeline does not recognise.
  */
object MergeSettingsJson {

  def toJson(c: MergeConfig): String = {
    def b(v: Boolean): JVal = JBool(v)
    JObj(Vector(
      "filter_title_rows" -> b(c.filterTitleRows),
      "strip_leading_row_numbers" -> b(c.stripLeadingRowNumbers),
      "normalize_punctuation" -> b(c.normalizePunctuation),
      "split_conjunction_columns" -> b(c.splitConjunctionColumns),
      "fix_reversed_column_values" -> b(c.fixReversedColumnValues),
      "semantic_language" -> JStr(c.semanticLanguage),
      "hints" -> JArr(c.hints.toVector.map(JStr(_): JVal)),
      "hints_column_alignment" -> c.hintsMode.map(JStr(_): JVal).getOrElse(JNull),
      "column_aliases" -> JObj(c.aliases.map { case (k, v) => (k, JStr(v): JVal) }),
      "column_name_semantic_alignment" -> b(c.useColumnNameSemantic),
      "jaccard_column_alignment" -> b(c.useJaccard),
      "column_value_semantic_alignment" -> b(c.useColumnValueSemantic),
      "threshold" -> JNum(c.threshold.toString),
      "schema" -> c.schemaStr.map(JStr(_): JVal).getOrElse(JNull),
      "remove_header_rows" -> b(c.removeHeaderRows),
      "transform_tablesfile" -> c.transformTablesFile.map(JStr(_): JVal).getOrElse(JNull),
      "agreement_method" -> JStr(if (c.distinctReaders.nonEmpty) "distinct-readers" else "simple-count"),
      "readers" -> c.distinctReaders.map(m =>
        JObj(m.toVector.sortBy(_._1).map { case (k, v) => (k, JStr(v): JVal) }): JVal).getOrElse(JNull),
      "column_agreement" -> b(c.columnAgreement),
      "filter_schema_columns" -> b(c.filterSchemaColumns),
      "order_schema_columns" -> b(c.orderSchemaColumns),
      "coerce_schema_column_types" -> b(c.coerceSchemaColumnTypes),
      "only_semantic_columns" -> b(c.onlySemanticColumns),
      "drop_empty_columns" -> b(c.dropEmptyColumns),
      "drop_empty_tables" -> b(c.dropEmptyTables)
    )).render
  }

  def fromJson(s: String): MergeConfig = {
    val o = JVal.parse(s) match {
      case x: JObj => x
      case other => throw new IllegalArgumentException(s"bad settings $other")
    }
    // a missing key takes its value from the defaults, MergeConfig()
    val d = MergeConfig()
    def bool(k: String, dflt: Boolean): Boolean =
      o.get(k).collect { case JBool(v) => v }.getOrElse(dflt)
    def str(k: String): Option[String] = o.get(k).collect { case JStr(v) => v }
    val c = MergeConfig(
      filterTitleRows = bool("filter_title_rows", d.filterTitleRows),
      stripLeadingRowNumbers = bool("strip_leading_row_numbers", d.stripLeadingRowNumbers),
      normalizePunctuation = bool("normalize_punctuation", d.normalizePunctuation),
      splitConjunctionColumns = bool("split_conjunction_columns", d.splitConjunctionColumns),
      fixReversedColumnValues = bool("fix_reversed_column_values", d.fixReversedColumnValues),
      semanticLanguage = str("semantic_language").getOrElse(d.semanticLanguage),
      hints = o.get("hints").collect { case JArr(a) => a.toList.collect { case JStr(x) => x } }.getOrElse(d.hints),
      hintsMode = str("hints_column_alignment").orElse(d.hintsMode),
      aliases = o.get("column_aliases").collect {
        case m: JObj => m.fields.collect { case (k, JStr(v)) => (k, v) }
      }.getOrElse(d.aliases),
      useColumnNameSemantic = bool("column_name_semantic_alignment", d.useColumnNameSemantic),
      useJaccard = bool("jaccard_column_alignment", d.useJaccard),
      useColumnValueSemantic = bool("column_value_semantic_alignment", d.useColumnValueSemantic),
      threshold = o.get("threshold").collect { case JNum(v) => v.toDouble }.getOrElse(d.threshold),
      schemaStr = str("schema").orElse(d.schemaStr),
      removeHeaderRows = bool("remove_header_rows", d.removeHeaderRows),
      transformTablesFile = str("transform_tablesfile").orElse(d.transformTablesFile),
      distinctReaders = o.get("readers").collect {
        case m: JObj => m.fields.collect { case (k, JStr(v)) => (k, v) }.toMap
      }.orElse(d.distinctReaders),
      columnAgreement = bool("column_agreement", d.columnAgreement),
      filterSchemaColumns = bool("filter_schema_columns", d.filterSchemaColumns),
      orderSchemaColumns = bool("order_schema_columns", d.orderSchemaColumns),
      coerceSchemaColumnTypes = bool("coerce_schema_column_types", d.coerceSchemaColumnTypes),
      onlySemanticColumns = bool("only_semantic_columns", d.onlySemanticColumns),
      dropEmptyColumns = bool("drop_empty_columns", d.dropEmptyColumns),
      dropEmptyTables = bool("drop_empty_tables", d.dropEmptyTables))
    // building the stage rejects an unknown transform_tablesfile or
    // hints_column_alignment value, so the accepted spellings live in
    // toSettings alone and a bad document fails here, not at merge time
    c.toSettings
    c
  }
}
