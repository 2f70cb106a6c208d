package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.core._

class MergeExtrasSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def runDoc(id: String, uuid: String, idx: Int, curated: Boolean = false): RunDoc = {
    val cur = if (curated)
      """, "metadata": {"filename": "x", "curations": [{"curator": "ana"}]}"""
    else """, "metadata": {"filename": "x"}"""
    RunDoc(id, uuid, idx, 0,
      s"""{"tables": [{"table_fragments": [{"rows": [{"a": "v$id"}], "page": 1}]}], "citation": null$cur}""")
  }

  test("F17 curation guard: curated docs are skipped by the anti-join") {
    import spark.implicits._
    val runs = Seq(runDoc("d1", "u1", 0), runDoc("d2", "u1", 0), runDoc("d3", "u1", 0)).toDS()
    // an existing merged output where d2 carries curations
    val existing = Seq(
      MergedDoc("d2", 1, 1, 1,
        """{"tables": [], "citation": null, "metadata": {"filename": "x", "curations": [{"curator": "ana", "description": null, "timestamp": null}]}, "uuid": null}"""),
      MergedDoc("d3", 1, 1, 1,
        """{"tables": [], "citation": null, "metadata": null, "uuid": null}""")).toDS()
    val curated = MergeJob.curatedDocs(spark, existing)
    assert(curated.collect().toSet == Set("d2"))
    val merged = MergeJob.mergeRunsSkippingCurated(spark, runs, curated, MergeConfig())
    assert(merged.collect().map(_.doc_id).toSet == Set("d1", "d3"))
  }

  test("K7 settings JSON round-trips every MergeConfig field") {
    val cfg = MergeConfig(
      filterTitleRows = false, stripLeadingRowNumbers = true,
      normalizePunctuation = true, splitConjunctionColumns = true,
      fixReversedColumnValues = true, semanticLanguage = "es",
      hints = List("a", "b"), hintsMode = Some("unsafe"),
      aliases = Vector("x" -> "y", "notes" -> "<remove>"),
      useColumnNameSemantic = true, useJaccard = true,
      useColumnValueSemantic = true, threshold = 0.7,
      schemaStr = Some("a:int b:str"), removeHeaderRows = true,
      transformTablesFile = Some("compact-safe"),
      distinctReaders = Some(Map("u1" -> "pdfplumber")),
      columnAgreement = true, filterSchemaColumns = true,
      orderSchemaColumns = true, coerceSchemaColumnTypes = true,
      onlySemanticColumns = true)
    val json = MergeSettingsJson.toJson(cfg)
    assert(MergeSettingsJson.fromJson(json) == cfg)
    // defaults round-trip too
    assert(MergeSettingsJson.fromJson(MergeSettingsJson.toJson(MergeConfig())) == MergeConfig())
  }
}
