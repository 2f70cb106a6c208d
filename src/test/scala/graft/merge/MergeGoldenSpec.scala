package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.JVal._

/** Byte-parity replay of the reference merge pipeline: inputs are original
  * synthetic resultsets; expected outputs were produced by RUNNING the
  * reference loader+merger+postprocessors (tools/gen_merge_goldens.py).
  */
class MergeGoldenSpec extends AnyFunSuite {

  private val scenarios = Seq(
    "basic", "jaccard", "hints", "aliases", "schema", "punct",
    "compact_safe", "explode", "offsets", "distinct_readers", "column_agreement")

  private def slurp(res: String): Option[String] = {
    val in = getClass.getResourceAsStream(res)
    if (in == null) None
    else {
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  private def getStr(o: JObj, k: String): Option[String] = o.get(k).collect { case JStr(s) => s }
  private def getBool(o: JObj, k: String, dflt: Boolean = false): Boolean =
    o.get(k).collect { case JBool(b) => b }.getOrElse(dflt)

  private def settingsFrom(cfg: JObj): MergePipeline.Settings = {
    val s = cfg.get("settings").collect { case o: JObj => o }.getOrElse(JObj(Vector.empty))
    val readers: Map[String, String] = s.get("readers").collect {
      case o: JObj => o.fields.collect { case (k, JStr(v)) => (k, v) }.toMap
    }.getOrElse(Map.empty)
    MergeConfig(
      filterTitleRows = getBool(s, "filter_title_rows", dflt = true),
      stripLeadingRowNumbers = getBool(s, "strip_leading_row_numbers"),
      normalizePunctuation = getBool(s, "normalize_punctuation"),
      hints = s.get("hints").collect { case JArr(a) => a.toList.collect { case JStr(x) => x } }.getOrElse(Nil),
      hintsMode = getStr(s, "hints_mode"),
      aliases = s.get("aliases").collect {
        case o: JObj => o.fields.collect { case (k, JStr(v)) => (k, v) }
      }.getOrElse(Vector.empty),
      useJaccard = getBool(s, "use_jaccard"),
      threshold = 0.5,
      schemaStr = getStr(s, "schema"),
      removeHeaderRows = getBool(s, "remove_header_rows"),
      transformTablesFile = getStr(s, "transform_tablesfile"),
      distinctReaders =
        if (getStr(s, "agreement_method").contains("distinct-readers")) Some(readers)
        else None,
      columnAgreement = getBool(s, "column_agreement"),
      filterSchemaColumns = getBool(s, "filter_columns"),
      orderSchemaColumns = getBool(s, "order_columns"),
      coerceSchemaColumnTypes = getBool(s, "coerce_types")
    ).toSettings
  }

  for (scenario <- scenarios) {
    test(s"merge golden: $scenario matches reference output byte-for-byte") {
      val base = s"/graft/golden/merge/$scenario"
      val cfg = JVal.parse(slurp(s"$base/config.json").get) match {
        case o: JObj => o
        case other => fail(s"bad config $other")
      }
      val settings = settingsFrom(cfg)
      val uuids = cfg.get("uuids").collect { case JArr(a) => a.toList.collect { case JStr(x) => x } }.get
      val offsets = cfg.get("offsets").collect { case JArr(a) => a.toList.collect { case JNum(x) => x.toInt } }.get

      // discover papers by probing expected_<paper>.json for known names
      val papers = Seq("overview", "titled").filter(p => slurp(s"$base/expected_$p.json").isDefined)
      assert(papers.nonEmpty, s"no expected outputs for $scenario")

      papers.foreach { paper =>
        val docs = uuids.indices.toList.flatMap { i =>
          slurp(s"$base/input_run${i}_$paper.json").map { s =>
            (TableDoc.fromJsonString(s).copy(uuid = Some(uuids(i))), offsets(i))
          }
        }
        val merged = MergePipeline.mergeGroup(docs, settings)
        assert(merged.isDefined, s"$scenario/$paper merge skipped unexpectedly")
        val got = TableDoc.toJsonString(merged.get)
        val want = slurp(s"$base/expected_$paper.json").get
        assert(got == want, s"$scenario/$paper:\n got: $got\nwant: $want")
      }
    }
  }
}
