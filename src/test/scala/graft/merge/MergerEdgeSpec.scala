package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Merge-kernel edge cases ported (semantics, not code) from the
  * reference's tests/test_merge.py, tests/test_analyzers.py and
  * tests/test_columns_aligner.py — each test names its reference twin.
  * These pin the doc-local merge behaviors the 11 composed golden
  * scenarios exercise only in aggregate.
  */
class MergerEdgeSpec extends AnyFunSuite {

  private def r(vals: (String, String)*): RowData =
    RowData(vals.toVector.map { case (k, v) => (k, Cell.Str(v): Cell) })

  private def out(agreement: Int, rowIdx: Int, vals: (String, String)*): RowData =
    RowData(vals.toVector.map { case (k, v) => (k, Cell.Str(v): Cell) },
      agreementLevel = Some(agreement), sources = None, rowIdx = Some(rowIdx))

  private def outS(agreement: Int, rowIdx: Int, sources: List[String], vals: (String, String)*): RowData =
    out(agreement, rowIdx, vals: _*).copy(sources = Some(sources))

  private def wrap(rows: List[RowData], page: Int = 1, uuid: Option[String] = None,
      citation: Cell = Cell.Null): TableDoc =
    TableDoc(List(TableData(List(Fragment(rows, page)))), citation = citation, uuid = uuid)

  private def frags(d: TableDoc): List[Fragment] = d.tables.head.fragments

  private val ammi = List("family" -> "Apiaceae", "scientific_name" -> "Ammi majus L.")
  private val rosa = List("family" -> "Rosaceae", "scientific_name" -> "Rosa canina L.")
  private val mentha = List("family" -> "Lamiaceae", "scientific_name" -> "Mentha spicata L.")
  private val ammiN = List("family" -> "apiaceae", "scientific_name" -> "ammi majus l.")
  private val rosaN = List("family" -> "rosaceae", "scientific_name" -> "rosa canina l.")
  private val menthaN = List("family" -> "lamiaceae", "scientific_name" -> "mentha spicata l.")

  // ---- test_merge.py basics -------------------------------------------

  test("empty docs list raises (test_empty_tables_list)") {
    intercept[IllegalArgumentException](Merger.merge(Nil))
  }

  test("single table returns normalized rows (test_single_table_returns_normalized)") {
    val res = Merger.merge(List(wrap(List(r("family" -> " Apiaceae ", "scientific_name" -> "Ammi majus L.")))))
    assert(res.tables.size == 1)
    assert(frags(res).head.rows == List(out(1, 0, ammiN: _*)))
  }

  test("two identical tables agree at level 2 (test_two_identical_tables)") {
    val res = Merger.merge(List(wrap(List(r(ammi: _*))), wrap(List(r(ammi: _*)))))
    assert(frags(res).head.rows == List(out(2, 0, ammiN: _*)))
  }

  test("existing row agreement accumulates (test_two_identical_tables_with_row_agreement)") {
    val left = wrap(List(r(ammi: _*).copy(agreementLevel = Some(3))))
    val right = wrap(List(r(ammi: _*)))
    val res = Merger.merge(List(left, right))
    assert(frags(res).head.rows == List(out(4, 0, ammiN: _*)))
  }

  // ---- page clustering (test_merge.py:196-337) ------------------------

  test("different pages become separate fragments (test_two_tablesfiles_with_different_pages)") {
    val res = Merger.merge(List(wrap(List(r(ammi: _*)), page = 1), wrap(List(r(rosa: _*)), page = 2)))
    assert(res.tables.size == 1)
    val fs = frags(res)
    assert(fs.map(_.page) == List(1, 2))
    assert(fs(0).rows == List(out(1, 0, ammiN: _*)))
    assert(fs(1).rows == List(out(1, 0, rosaN: _*)))
  }

  test("fragments ordered by page (test_fragments_are_ordered_by_page...)") {
    val res = Merger.merge(List(wrap(List(r(ammi: _*)), page = 5), wrap(List(r(rosa: _*)), page = 3)))
    val fs = frags(res)
    assert(fs.map(_.page) == List(3, 5))
    assert(fs(0).rows == List(out(1, 0, rosaN: _*)))
    assert(fs(1).rows == List(out(1, 0, ammiN: _*)))
  }

  test("fragment with no counterpart page stays solo (test_fragment_with_no_counterpart_page_stays_solo)") {
    val paperA = TableDoc(List(TableData(List(
      Fragment(List(r(ammi: _*)), 1),
      Fragment(List(r(rosa: _*)), 2)))))
    val paperB = wrap(List(r(ammi: _*)), page = 1)
    val res = Merger.merge(List(paperA, paperB))
    val fs = frags(res)
    assert(fs.map(_.page) == List(1, 2))
    assert(fs(0).rows == List(out(2, 0, ammiN: _*)))
    assert(fs(1).rows == List(out(1, 0, rosaN: _*)))
  }

  test("two same-page fragments of one run never merge together (test_two_fragments_on_same_page_stay_separate)") {
    val paperA = TableDoc(List(TableData(List(
      Fragment(List(r(ammi: _*)), 1),
      Fragment(List(r(rosa: _*)), 1)))))
    val paperB = wrap(List(r(ammi: _*)), page = 1)
    val res = Merger.merge(List(paperA, paperB))
    val fs = frags(res)
    assert(fs.map(_.page) == List(1, 1))
    assert(fs(0).rows == List(out(2, 0, ammiN: _*)))
    assert(fs(1).rows == List(out(1, 0, rosaN: _*)))
  }

  test("page offsets shift cluster keys (test_merge_tablesfiles_with_page_offset)") {
    val left = wrap(List(r(ammi: _*)), page = 2)
    val right = wrap(List(r(ammi: _*)), page = 1)
    val res = Merger.merge(List(left, right), pageOffsets = Some(List(0, 1)))
    val fs = frags(res)
    assert(fs.map(_.page) == List(2))
    assert(fs.head.rows == List(out(2, 0, ammiN: _*)))
  }

  // ---- the two-pointer ordered fuzzy outer merge ----------------------

  test("subset rows: matched merges, trailing right appended (test_two_tables_with_mixed_values)") {
    val res = Merger.merge(List(
      wrap(List(r(ammi: _*))),
      wrap(List(r(ammi: _*), r(rosa: _*)))))
    assert(frags(res).head.rows == List(out(2, 0, ammiN: _*), out(1, 1, rosaN: _*)))
  }

  test("three runs, all-different rows at position 0 (test_three_tables_with_different_values)") {
    val res = Merger.merge(List(wrap(List(r(ammi: _*))), wrap(List(r(rosa: _*))), wrap(List(r(mentha: _*)))))
    assert(frags(res).head.rows == List(
      out(1, 0, ammiN: _*), out(1, 0, rosaN: _*), out(1, 0, menthaN: _*)))
  }

  test("three runs with overlap (test_three_tables_with_overlapped_mixed_values)") {
    val res = Merger.merge(List(
      wrap(List(r(ammi: _*))),
      wrap(List(r(ammi: _*), r(rosa: _*))),
      wrap(List(r(rosa: _*), r(mentha: _*)))))
    assert(frags(res).head.rows == List(
      out(2, 0, ammiN: _*),
      out(1, 0, rosaN: _*),
      out(1, 1, rosaN: _*),
      out(1, 1, menthaN: _*)))
  }

  test("conflicting value in third run stays unmatched (test_three_tables_with_conflicting_values...)") {
    val res = Merger.merge(List(
      wrap(List(r(ammi: _*))),
      wrap(List(r(ammi: _*), r(rosa: _*))),
      wrap(List(r("family" -> "Apiaceae", "scientific_name" -> "Ammi"), r(rosa: _*), r(mentha: _*)))))
    assert(frags(res).head.rows == List(
      out(2, 0, ammiN: _*),
      out(1, 0, "family" -> "apiaceae", "scientific_name" -> "ammi"),
      out(2, 1, rosaN: _*),
      out(1, 2, menthaN: _*)))
  }

  // ---- sources stamping (test_merge.py:701-786) ------------------------

  test("sources stamped on single run (test_sources_stamped_on_single_tablesfile)") {
    val res = Merger.merge(List(wrap(List(r(ammi: _*)), uuid = Some("uuid-a"))))
    assert(frags(res).head.rows.head.sources == Some(List("uuid-a")))
  }

  test("sources merged on matched rows (test_sources_merged_on_matched_rows)") {
    val res = Merger.merge(List(
      wrap(List(r(ammi: _*)), uuid = Some("uuid-a")),
      wrap(List(r(ammi: _*)), uuid = Some("uuid-b"))))
    assert(frags(res).head.rows.head.sources == Some(List("uuid-a", "uuid-b")))
  }

  test("unmatched rows keep their own uuid (test_sources_only_left_uuid_on_unmatched_left_row)") {
    val res = Merger.merge(List(
      wrap(List(r(ammi: _*)), uuid = Some("uuid-a")),
      wrap(List(r(rosa: _*)), uuid = Some("uuid-b"))))
    val rows = frags(res).head.rows
    assert(rows(0).sources == Some(List("uuid-a")))
    assert(rows(1).sources == Some(List("uuid-b")))
  }

  test("position-aware merge: same content at different row_ stays separate (test_sources_right_uuid_on_skipped_row)") {
    val res = Merger.merge(List(
      wrap(List(r(ammi: _*)), uuid = Some("uuid-a")),
      wrap(List(r(rosa: _*), r(ammi: _*)), uuid = Some("uuid-b"))))
    assert(frags(res).head.rows == List(
      outS(1, 0, List("uuid-a"), ammiN: _*),
      outS(1, 0, List("uuid-b"), rosaN: _*),
      outS(1, 1, List("uuid-b"), ammiN: _*)))
  }

  test("sources deduped when same uuid twice (test_sources_deduped_when_same_uuid_appears_twice)") {
    val res = Merger.merge(List(
      wrap(List(r(ammi: _*)), uuid = Some("uuid-a")),
      wrap(List(r(ammi: _*)), uuid = Some("uuid-a"))))
    assert(frags(res).head.rows.head.sources == Some(List("uuid-a")))
  }

  test("sources None when runs carry no uuid (test_sources_none_when_no_uuid_on_tablesfiles)") {
    val res = Merger.merge(List(wrap(List(r(ammi: _*))), wrap(List(r(ammi: _*)))))
    assert(frags(res).head.rows.head.sources.isEmpty)
  }

  // ---- unicode + same_row ----------------------------------------------

  test("NFC-variant values merge (test_two_tables_with_unicode_variant_values)") {
    val composed = "pezuña de vaca"       // precomposed ñ
    val decomposed = "pezuña de vaca"    // n + combining tilde
    val res = Merger.merge(List(
      wrap(List(r("common_name" -> composed))),
      wrap(List(r("common_name" -> decomposed)))))
    assert(frags(res).head.rows == List(out(2, 0, "common_name" -> composed))) // NFC form wins
  }

  test("same_row is order-insensitive over columns (tablesfile_merger.py:49-55)") {
    val a = r("x" -> "1", "y" -> "2")
    val b = r("y" -> "2", "x" -> "1")
    assert(Merger.sameRow(a, b))
    assert(!Merger.sameRow(a, r("x" -> "1", "y" -> "3")))
  }

  // ---- column-agreement cell merging (fragments_builder) ---------------

  test("merge_rows with column_agreement accumulates per-value agreement (test_merge_different_rows_that_already_have_agreement_with_column_agreement)") {
    val left = RowData(Vector(
      "family" -> Cell.Multi(List(ValueWithAgreement("rosaceae", 2))),
      "scientific_name" -> Cell.Multi(List(
        ValueWithAgreement("rosa canina l.", 1), ValueWithAgreement("rosa canina", 1)))))
    val right = r("family" -> "rosaceae", "scientific_name" -> "rosa canina")
    val merged = FragmentsBuilder.mergeRows(left, right, SimpleCountAgreement, columnAgreement = true)
    assert(merged.agreementLevel == Some(2))
    assert(merged.get("family") == Some(Cell.Multi(List(ValueWithAgreement("rosaceae", 3)))))
    assert(merged.get("scientific_name") == Some(Cell.Multi(List(
      ValueWithAgreement("rosa canina l.", 1), ValueWithAgreement("rosa canina", 2)))))
  }

  // ---- empty-row semantics (test_merge.py:812-881) ----------------------

  test("is-empty row variants (test_is_empty_row_*)") {
    assert(r("a" -> "", "b" -> "").isEmpty)
    assert(r("a" -> "  ", "b" -> "\t").isEmpty)
    assert(RowData(Vector("a" -> Cell.Null)).isEmpty)
    assert(RowData(Vector.empty, agreementLevel = Some(2), rowIdx = Some(1)).isEmpty)
    assert(!r("a" -> "", "b" -> "data").isEmpty)
    assert(RowData(Vector("a" -> Cell.Multi(List(ValueWithAgreement("", 1))))).isEmpty)
    assert(!RowData(Vector("a" -> Cell.Multi(List(ValueWithAgreement("x", 1))))).isEmpty)
  }

  test("merge drops empty and whitespace-only rows (test_merge_filters_empty_rows...)") {
    val res = Merger.merge(List(wrap(List(r(ammi: _*), r("family" -> " ", "scientific_name" -> "")))))
    assert(frags(res).head.rows == List(out(1, 0, ammiN: _*)))
    val res2 = Merger.merge(List(
      wrap(List(r(ammi: _*), r("family" -> ""))),
      wrap(List(r("family" -> "   "), r(ammi: _*)))))
    assert(res2.tables.head.fragments.head.rows.forall(!_.isEmpty))
  }

  test("rows with partial data survive (test_merge_keeps_rows_with_partial_data)") {
    val res = Merger.merge(List(wrap(List(r("family" -> "Apiaceae", "scientific_name" -> "")))))
    assert(frags(res).head.rows == List(out(1, 0, "family" -> "apiaceae", "scientific_name" -> "")))
  }

  // ---- header-row predicates (test_merge.py:1258-1386) ------------------

  test("is_header_row matrix (test_is_header_row_*)") {
    assert(MergeOps.isHeaderRow(r("family" -> "Family")))
    assert(MergeOps.isHeaderRow(r("family" -> "FAMILY")))
    assert(MergeOps.isHeaderRow(r("family" -> "  family ")))
    assert(MergeOps.isHeaderRow(r("family" -> "family", "genus" -> "data")))
    assert(!MergeOps.isHeaderRow(r("family" -> "Apiaceae")))
    // a numeric column matching its own name is NOT a header signal
    assert(!MergeOps.isHeaderRow(r("0" -> "0")))
    assert(MergeOps.isHeaderRow(r("0" -> "whatever", "family" -> "family")))
    assert(!MergeOps.isHeaderRow(r("family" -> "", "genus" -> "")))
    // VWA cells participate
    assert(MergeOps.isHeaderRow(RowData(Vector(
      "family" -> Cell.Multi(List(ValueWithAgreement("Family", 1)))))))
    assert(!MergeOps.isHeaderRow(RowData(Vector(
      "family" -> Cell.Multi(List(ValueWithAgreement("Apiaceae", 1)))))))
  }

  test("filter_header_rows removes only header rows, keeps citation (test_filter_header_rows_*)") {
    val doc = TableDoc(
      List(TableData(List(Fragment(List(
        r("family" -> "Family", "scientific_name" -> "Scientific name"),
        r(ammi: _*)), 1)))),
      citation = Cell.Str("Flora (2020)"))
    // the remove-header-rows posttransformer, run by the load phase
    val filtered = MergePipeline.load(doc, MergeConfig().toSettings.copy(
      pretransformers = Nil, posttransformers = List(new FilterHeaderRowsTransformer)))
    assert(filtered.tables.head.fragments.head.rows == List(r(ammi: _*)))
    assert(filtered.citation == Cell.Str("Flora (2020)"))
  }

  // ---- citation normalization (test_merge.py:1388-1434) -----------------

  test("citation normalization on merge (test_merge_tablesfiles_normalizes_citation_*)") {
    assert(Merger.merge(List(wrap(List(r(ammi: _*)),
      citation = Cell.Str("Flora   Iberica ")))).citation == Cell.Str("Flora Iberica"))
    assert(Merger.merge(List(wrap(List(r(ammi: _*)),
      citation = Cell.Str("A–B and C—D")))).citation == Cell.Str("A-B and C-D"))
    // case preserved; only whitespace/dash/nonprintable folding
    assert(Merger.merge(List(wrap(List(r(ammi: _*)),
      citation = Cell.Str("FLORA Iberica")))).citation == Cell.Str("FLORA Iberica"))
    assert(Merger.merge(List(wrap(List(r(ammi: _*))))).citation == Cell.Null)
  }

  // ---- Jaccard alignment (test_analyzers.py:69-108) ---------------------

  private def jacc(threshold: Double = 0.5) = new JaccardMergeTimeAnalyzer(threshold)

  test("jaccard maps numeric source to semantic target (test_jaccard_numeric_to_semantic)") {
    val left = List(r("family" -> "Apiaceae"), r("family" -> "Rosaceae"))
    val right = List(r("0" -> "Apiaceae"), r("0" -> "Rosaceae"))
    val m = jacc().buildMapping(List("family"), List("0"), left, right)
    assert(m.toMap == Map("0" -> "family"))
  }

  test("jaccard empty when both sides semantic (test_jaccard_both_semantic_returns_empty)") {
    val m = jacc().buildMapping(List("family"), List("genus"),
      List(r("family" -> "Apiaceae")), List(r("genus" -> "Ammi")))
    assert(m.isEmpty)
  }

  test("jaccard empty on no value overlap (test_jaccard_no_overlap_returns_empty)") {
    val m = jacc().buildMapping(List("family"), List("0"),
      List(r("family" -> "Apiaceae")), List(r("0" -> "red")))
    assert(m.isEmpty)
  }

  test("jaccard threshold boundary is inclusive (test_jaccard_threshold_respected)") {
    val left = List(r("family" -> "Apiaceae"), r("family" -> "Rosaceae"))
    val right = List(r("0" -> "Apiaceae")) // jaccard = 1/2
    assert(jacc(0.5).buildMapping(List("family"), List("0"), left, right).toMap == Map("0" -> "family"))
    assert(jacc(0.6).buildMapping(List("family"), List("0"), left, right).isEmpty)
  }

  // ---- alias analyzer (test_analyzers.py:110-168) ------------------------

  private def alias(pairs: (String, String)*) = new AliasLoadTimeAnalyzer(pairs.toVector)

  test("alias analyzer matrix (test_alias_*)") {
    assert(alias("familia" -> "family").buildMapping(List("familia", "family"), Nil).toMap
      == Map("familia" -> "family"))
    assert(alias("familia" -> "family").buildMapping(List("genus", "family"), Nil).isEmpty)
    assert(alias("familia" -> "family", "especie" -> "species")
      .buildMapping(List("familia", "especie"), Nil).toMap
      == Map("familia" -> "family", "especie" -> "species"))
    assert(alias("familia" -> "family").buildMapping(List("familia", "familia"), Nil).toMap
      == Map("familia" -> "family"))
    // denormalized column name matches through normalization
    assert(alias("utilized_part" -> "part_used").buildMapping(List("Utilized part"), Nil).toMap
      == Map("Utilized part" -> "part_used"))
    assert(alias("notes" -> Analyzers.RemoveColumn).buildMapping(List("family", "notes"), Nil).toMap
      == Map("notes" -> Analyzers.RemoveColumn))
  }

  test("<remove> drops the column, keeps others (test_alias_remove_column_*)") {
    val frag = Fragment(List(r("family" -> "Apiaceae", "genus" -> "Ammi", "notes" -> "x")), 1)
    val mapping = ColumnsAligner.loadTimeMapping(frag, List(alias("notes" -> Analyzers.RemoveColumn)))
    val renamed = ColumnsAligner.renameRow(mapping, frag.rows.head)
    assert(renamed == r("family" -> "Apiaceae", "genus" -> "Ammi"))
  }

  // ---- collision-concat (columns_aligner.py:5-20,37-40) ------------------

  test("rename collisions concatenate with the dot rule (test_columns_aligner concat)") {
    val mapping = Analyzers.emptyMapping
    mapping("b") = "a"
    assert(ColumnsAligner.renameRow(mapping, r("a" -> "ab", "b" -> "y"))
      == r("a" -> "ab. y"))
    // existing trailing dot is not doubled
    assert(ColumnsAligner.renameRow(mapping, r("a" -> "ab.", "b" -> "y"))
      == r("a" -> "ab. y"))
    // empty sides pass through
    assert(ColumnsAligner.renameRow(mapping, r("a" -> "", "b" -> "y")) == r("a" -> "y"))
    assert(ColumnsAligner.renameRow(mapping, r("a" -> "x", "b" -> "")) == r("a" -> "x"))
  }

  // ---- analyzer chaining (test_analyzers.py:587-614) ---------------------

  test("alias before jaccard renames into the aliased target (test_chain_alias_before_jaccard)") {
    val left = Fragment(List(r("family" -> "Apiaceae"), r("family" -> "Rosaceae")), 1)
    val loadMapping = ColumnsAligner.loadTimeMapping(left, List(alias("family" -> "official_family")))
    assert(loadMapping.toMap == Map("family" -> "official_family"))
    val renamedLeft = left.copy(rows = left.rows.map(ColumnsAligner.renameRow(loadMapping, _)))
    val right = Fragment(List(r("0" -> "Apiaceae"), r("0" -> "Rosaceae")), 1)
    val mergeMapping = ColumnsAligner.mergeTimeMapping(renamedLeft, Some(right), List(jacc()))
    assert(mergeMapping.toMap == Map("0" -> "official_family"))
  }

  test("hints then alias rewrites chained targets (test_chain_hints_then_alias_renames_through_intermediate_name)") {
    val frag = Fragment(List(r("0" -> "species")), 1)
    val mapping = ColumnsAligner.loadTimeMapping(frag, List(
      new HintsLoadTimeAnalyzer(List("species")),
      alias("species" -> "scientific_name")))
    assert(mapping.toMap == Map("0" -> "scientific_name", "species" -> "scientific_name"))
  }

  // ---- distinct-readers agreement (test_merge.py:998-1097) ---------------

  test("distinct-readers agreement matrix (test_distinct_readers_agreement_*)") {
    val readers = Map("uuid-a" -> "pdfplumber", "uuid-b" -> "pymupdf", "uuid-c" -> "pdfplumber")
    val agg = new DistinctReadersAgreement(readers)
    def lvl(l: List[String], rr: List[String]): Int =
      agg.calculateLevel(
        r("x" -> "1").copy(sources = Some(l)),
        r("x" -> "1").copy(sources = Some(rr)))
    assert(lvl(List("uuid-a"), List("uuid-b")) == 2)      // two distinct non-agent readers
    assert(lvl(List("uuid-a"), List("uuid-c")) == 1)      // same non-agent reader twice
    assert(lvl(List("agent-1"), List("agent-2")) == 2)    // unknown uuids count as agents
    assert(lvl(List("uuid-a"), List("agent-1")) == 2)     // agent + non-agent
    assert(agg.calculateLevel(r("x" -> "1"), r("x" -> "1")) == 1) // no sources
  }

  test("agent-reader detection (agreement.py:10-17)") {
    assert(Agreement.isAgentReader(None))
    assert(Agreement.isAgentReader(Some("")))
    assert(Agreement.isAgentReader(Some("gpt-x")))
    assert(!Agreement.isAgentReader(Some("pdfplumber")))
    assert(!Agreement.isAgentReader(Some("pymupdf")))
    assert(!Agreement.isAgentReader(Some("camelot")))
    assert(!Agreement.isAgentReader(Some("hybrid-pdfplumber-gpt")))
  }

  test("merge with distinct-readers agreement end to end (test_merge_two_tables_distinct_non_agent_readers)") {
    val readers = Map("uuid-a" -> "pdfplumber", "uuid-b" -> "pymupdf", "uuid-c" -> "pdfplumber")
    val two = Merger.merge(
      List(wrap(List(r(ammi: _*)), uuid = Some("uuid-a")),
        wrap(List(r(ammi: _*)), uuid = Some("uuid-b"))),
      agreement = new DistinctReadersAgreement(readers))
    assert(frags(two).head.rows.head.agreementLevel == Some(2))
    val same = Merger.merge(
      List(wrap(List(r(ammi: _*)), uuid = Some("uuid-a")),
        wrap(List(r(ammi: _*)), uuid = Some("uuid-c"))),
      agreement = new DistinctReadersAgreement(readers))
    assert(frags(same).head.rows.head.agreementLevel == Some(1))
  }

  // ---- MergeOps projections (test_merge.py:883-945) -----------------------

  test("semantic column classification + projection (test_is_semantic_column / test_filter_semantic_columns_*)") {
    assert(Text.isSemanticColumn("family"))
    assert(!Text.isSemanticColumn("0"))
    assert(!Text.isSemanticColumn("1e3"))  // python float() accepts
    assert(!Text.isSemanticColumn(" 2 "))
    assert(!Text.isSemanticColumn("nan"))
    val doc = wrap(List(r("family" -> "Apiaceae", "0" -> "x", "1" -> "y")))
    val kept = MergeOps.filterSemanticColumns(doc)
    assert(kept.tables.head.fragments.head.rows.head.columnNames == Vector("family"))
    val allSem = wrap(List(r(ammi: _*)))
    assert(MergeOps.filterSemanticColumns(allSem).tables.head.fragments.head.rows
      == allSem.tables.head.fragments.head.rows)
  }

  test("drop_empty_columns variants (test_drop_empty_columns_*)") {
    val doc = wrap(List(
      r("family" -> "Apiaceae", "notes" -> ""),
      r("family" -> "Rosaceae", "notes" -> " ")))
    val dropped = MergeOps.dropEmptyColumns(doc)
    assert(dropped.tables.head.fragments.head.rows.forall(_.columnNames == Vector("family")))
    val keep = wrap(List(
      r("family" -> "Apiaceae", "notes" -> ""),
      r("family" -> "Rosaceae", "notes" -> "seen once")))
    assert(MergeOps.dropEmptyColumns(keep).tables.head.fragments.head.rows
      .forall(_.columnNames == Vector("family", "notes")))
  }

  test("drop_empty_tables removes empty fragments and empty tables") {
    val doc = TableDoc(List(
      TableData(List(Fragment(List(r("a" -> "")), 1))),
      TableData(List(Fragment(List(r("a" -> "x")), 1), Fragment(List(r("a" -> " ")), 2)))))
    val res = MergeOps.dropEmptyTables(doc)
    assert(res.tables.size == 1)
    assert(res.tables.head.fragments.size == 1)
  }
}
