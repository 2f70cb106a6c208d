package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.core._

/** Case-for-case port of the reference's tests/test_analyzers.py:1-968 (the
  * last reference suite without a dedicated twin — VERDICT r3 ask #4).
  *
  * The reference's `@pytest.mark.integration` cases depend on spaCy
  * word-vector similarity (en_core_web_md / es_core_news_md); the engine's
  * A5/A7 use the deterministic SemanticScorer instead, so those cases keep
  * the reference's DECISION STRUCTURE (value-based mapping to the closest
  * schema name, threshold gate, own-name-closer rejection, greedy 1-1)
  * over vocabularies the surface scorer can relate (shared stems instead
  * of distributional neighbors); the scorer reads no language, so the (es)
  * cases differ from the (en) ones only in their vocabularies. Everything
  * else is ported verbatim.
  */
class AnalyzersSpec extends AnyFunSuite {

  private def r(vals: (String, Cell)*): RowData = RowData(vals.toVector)
  private def s(vals: (String, String)*): RowData =
    RowData(vals.toVector.map { case (k, v) => (k, Cell.Str(v): Cell) })
  private def wrap(rows: RowData*): Fragment = Fragment(rows.toList, 1)

  private val ColorAnimalSchema = ColumnSchema.parse("color:str,animal:str,identifier:str")
  private val ColorAnimalSchemaEs = ColumnSchema.parse("color:str,animal:str,identificador:str")
  private val SpeciesSchema =
    ColumnSchema.parse("scientific_name:str,area:str,family:str,vernacular_name:str")

  // the reference's 20-species fixture (test_columns_aligner.py:176-213),
  // shared here like test_analyzers.py imports it
  private val Species = List(
    ("Ammi majus L.", "45.2", "Apiaceae", "Greater ammi"),
    ("Rosa canina L.", "12.8", "Rosaceae", "Dog rose"),
    ("Mentha spicata L.", "67.3", "Lamiaceae", "Spearmint"),
    ("Betula pendula Roth", "89.1", "Betulaceae", "Silver birch"),
    ("Quercus robur L.", "23.4", "Fagaceae", "English oak"),
    ("Taraxacum officinale F.H.Wigg.", "56.7", "Asteraceae", "Dandelion"),
    ("Urtica dioica L.", "34.9", "Urticaceae", "Stinging nettle"),
    ("Sambucus nigra L.", "78.2", "Adoxaceae", "Black elder"),
    ("Hypericum perforatum L.", "41.5", "Hypericaceae", "St John's wort"),
    ("Achillea millefolium L.", "93.6", "Asteraceae", "Yarrow"),
    ("Plantago lanceolata L.", "17.3", "Plantaginaceae", "Ribwort plantain"),
    ("Matricaria chamomilla L.", "52.8", "Asteraceae", "German chamomile"),
    ("Lavandula angustifolia Mill.", "61.4", "Lamiaceae", "Lavender"),
    ("Rosmarinus officinalis L.", "38.7", "Lamiaceae", "Rosemary"),
    ("Thymus vulgaris L.", "25.1", "Lamiaceae", "Common thyme"),
    ("Origanum vulgare L.", "72.9", "Lamiaceae", "Oregano"),
    ("Salvia officinalis L.", "44.6", "Lamiaceae", "Common sage"),
    ("Foeniculum vulgare Mill.", "83.2", "Apiaceae", "Fennel"),
    ("Melissa officinalis L.", "19.5", "Lamiaceae", "Lemon balm"),
    ("Echinacea purpurea (L.) Moench", "67.8", "Asteraceae", "Purple coneflower"))

  private val SpeciesWithEdits = List(
    ("Ammi majus", "45.2", "Apiaceae", "Greater ammi spp."),
    ("Rosa canina, L.", "12.8", "Rosaceae", "Dog-rose"),
    ("Mentha spicata", "67.3", "Lamiaceae", "Spearmint herb"),
    ("Betula pendula Rot", "89.1", "Betulaceae", "Silver-birch"),
    ("Quercus robur", "23.4", "Fagaceae", "Eng. oak"),
    ("T. officinale F.H.Wigg.", "56.7", "Asteraceae", "Dandelyon")) ++ Species.drop(6)

  private val FourColumnsMapping = Map(
    "0" -> "scientific_name", "1" -> "area", "2" -> "family", "3" -> "vernacular_name")

  private def semanticFrag(data: List[(String, String, String, String)]): Fragment =
    Fragment(data.map { case (sn, a, f, vn) =>
      s("scientific_name" -> sn, "area" -> a, "family" -> f, "vernacular_name" -> vn)
    }, 1)

  private def numericFrag(data: List[(String, String, String, String)]): Fragment =
    Fragment(data.map { case (sn, a, f, vn) =>
      s("0" -> sn, "1" -> a, "2" -> f, "3" -> vn)
    }, 1)

  private def jaccardMapping(
      an: JaccardMergeTimeAnalyzer, left: Fragment, right: Fragment): Map[String, String] =
    an.buildMapping(left.columnNames.toList, right.columnNames.toList,
      left.rows, right.rows).toMap

  private def nameSemMapping(
      an: ColumnNameSemanticLoadTimeAnalyzer, cols: List[String],
      rows: List[RowData]): Map[String, String] =
    an.buildMapping(cols, rows).toMap

  // deterministic-scorer vocabularies for the spaCy integration cases:
  // stem-sharing variants of the schema names (the surface analog of
  // "values distributionally close to the column name")
  private val ColorishValues = List("colorful", "colored", "coloring", "discolor",
    "recolor", "colorless", "tricolor", "watercolor")
  private val AnimalishValues = List("animals", "animalistic", "animality", "animalia",
    "animalism", "animally", "animalic", "animale")
  private val CodeValues = List("A1", "B2", "C3", "D4", "E5", "F6", "G7", "H8")
  private val ColorishValuesEs = List("colorado", "colores", "colorido", "coloreado",
    "colorante", "colorin", "colorear", "coloracion")
  private val AnimalishValuesEs = List("animales", "animalito", "animalista", "animalada",
    "animalizar", "animalidad", "animalesco", "animalillo")

  // ---- greedy assignment (test_greedy_assignment_*) ------------------------

  test("greedy assignment: one source, multiple targets — highest score wins") {
    val got = Analyzers.greedyAssignment(List((0.9, "0", "color"), (0.7, "0", "animal")))
    assert(got.toMap == Map("0" -> "color"))
  }

  test("greedy assignment: multiple sources, same target — highest score wins") {
    val got = Analyzers.greedyAssignment(List((0.9, "0", "color"), (0.7, "1", "color")))
    assert(got.toMap == Map("0" -> "color"))
  }

  // ---- jaccard basics (test_jaccard_*) -------------------------------------

  test("jaccard maps numeric to semantic") {
    val left = wrap(s("family" -> "Apiaceae"), s("family" -> "Rosaceae"))
    val right = wrap(s("0" -> "Apiaceae"), s("0" -> "Rosaceae"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(), left, right) == Map("0" -> "family"))
  }

  test("jaccard: both semantic returns empty") {
    val left = wrap(s("family" -> "Apiaceae"))
    val right = wrap(s("genus" -> "Ammi"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(), left, right).isEmpty)
  }

  test("jaccard: no overlap returns empty") {
    val left = wrap(s("family" -> "Apiaceae"))
    val right = wrap(s("0" -> "red"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(), left, right).isEmpty)
  }

  test("jaccard threshold respected") {
    val left = wrap(s("family" -> "Apiaceae"), s("family" -> "Rosaceae"))
    val right = wrap(s("0" -> "Apiaceae"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(0.5), left, right) == Map("0" -> "family"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(0.6), left, right).isEmpty)
  }

  // ---- alias analyzer (test_alias_*) ---------------------------------------

  private def alias(pairs: (String, String)*) = new AliasLoadTimeAnalyzer(pairs.toVector)

  test("alias applies known alias") {
    assert(alias("familia" -> "family").buildMapping(List("familia", "family"), Nil).toMap
      == Map("familia" -> "family"))
  }

  test("alias ignores unknown cols") {
    assert(alias("familia" -> "family").buildMapping(List("genus", "family"), Nil).isEmpty)
  }

  test("alias maps multiple columns") {
    assert(alias("familia" -> "family", "especie" -> "species")
      .buildMapping(List("familia", "especie"), Nil).toMap
      == Map("familia" -> "family", "especie" -> "species"))
  }

  test("alias deduplicates duplicate column names") {
    assert(alias("familia" -> "family").buildMapping(List("familia", "familia"), Nil).toMap
      == Map("familia" -> "family"))
  }

  test("alias matches denormalized column name") {
    assert(alias("utilized_part" -> "part_used").buildMapping(List("Utilized part"), Nil).toMap
      == Map("Utilized part" -> "part_used"))
  }

  test("alias REMOVE_COLUMN produces the remove sentinel") {
    assert(alias("notes" -> Analyzers.RemoveColumn).buildMapping(List("family", "notes"), Nil).toMap
      == Map("notes" -> Analyzers.RemoveColumn))
  }

  test("alias REMOVE_COLUMN drops the column from the row") {
    val fragment = wrap(s("family" -> "Apiaceae", "notes" -> "some note"))
    val m = ColumnsAligner.loadTimeMapping(fragment, List(alias("notes" -> Analyzers.RemoveColumn)))
    assert(ColumnsAligner.renameRow(m, fragment.rows.head) == s("family" -> "Apiaceae"))
  }

  test("alias REMOVE_COLUMN keeps other columns intact") {
    val fragment = wrap(s("family" -> "Apiaceae", "genus" -> "Ammi", "notes" -> "x"))
    val m = ColumnsAligner.loadTimeMapping(fragment, List(alias("notes" -> Analyzers.RemoveColumn)))
    assert(ColumnsAligner.renameRow(m, fragment.rows.head)
      == s("family" -> "Apiaceae", "genus" -> "Ammi"))
  }

  // ---- column-name semantic: no-schema / degenerate cases ------------------

  test("semantic returns empty when both numeric (no schema)") {
    val left = wrap(s("0" -> "Apiaceae"), s("0" -> "Rosaceae"))
    val right = wrap(s("1" -> "Apiaceae"), s("1" -> "Rosaceae"))
    assert(nameSemMapping(new ColumnNameSemanticLoadTimeAnalyzer(),
      left.columnNames.toList ++ right.columnNames.toList, left.rows).isEmpty)
  }

  test("semantic returns empty when both semantic (no schema)") {
    val left = wrap(s("family" -> "Apiaceae"))
    val right = wrap(s("genus" -> "Ammi"))
    assert(nameSemMapping(new ColumnNameSemanticLoadTimeAnalyzer(),
      left.columnNames.toList ++ right.columnNames.toList, left.rows).isEmpty)
  }

  test("semantic returns empty when numeric rows are empty") {
    val left = wrap(s("family" -> "Apiaceae"))
    assert(nameSemMapping(new ColumnNameSemanticLoadTimeAnalyzer(),
      left.columnNames.toList, left.rows).isEmpty)
  }

  test("semantic returns empty, both-numeric species data") {
    val left = numericFrag(Species)
    assert(nameSemMapping(new ColumnNameSemanticLoadTimeAnalyzer(),
      left.columnNames.toList, left.rows).isEmpty)
  }

  test("semantic returns empty, both-semantic species data") {
    val left = semanticFrag(Species)
    assert(nameSemMapping(new ColumnNameSemanticLoadTimeAnalyzer(),
      left.columnNames.toList, left.rows).isEmpty)
  }

  // ---- column-name semantic: scorer-backed mapping cases -------------------
  // (reference: spaCy word vectors; here: deterministic stem-sharing values)

  test("semantic maps value-similar numeric columns to schema names (en)") {
    val left = Fragment(
      ColorishValues.lazyZip(AnimalishValues).lazyZip(CodeValues).map { (c, a, code) =>
        s("0" -> c, "1" -> a, "2" -> code)
      }.toList, 1)
    val got = nameSemMapping(
      new ColumnNameSemanticLoadTimeAnalyzer(0.3, Some(ColorAnimalSchema)),
      left.columnNames.toList, left.rows)
    assert(got == Map("0" -> "color", "1" -> "animal"))
  }

  test("semantic does not map below threshold") {
    val left = Fragment(
      ColorishValues.lazyZip(AnimalishValues).lazyZip(CodeValues).map { (c, a, code) =>
        s("0" -> c, "1" -> a, "2" -> code)
      }.toList, 1)
    assert(nameSemMapping(
      new ColumnNameSemanticLoadTimeAnalyzer(0.99, Some(ColorAnimalSchema)),
      left.columnNames.toList, left.rows).isEmpty)
  }

  test("semantic maps value-similar numeric columns to schema names (es)") {
    val left = Fragment(
      ColorishValuesEs.lazyZip(AnimalishValuesEs).lazyZip(CodeValues).map { (c, a, code) =>
        s("0" -> c, "1" -> a, "2" -> code)
      }.toList, 1)
    val got = nameSemMapping(
      new ColumnNameSemanticLoadTimeAnalyzer(0.3, Some(ColorAnimalSchemaEs)),
      left.columnNames.toList, left.rows)
    assert(got == Map("0" -> "color", "1" -> "animal"))
  }

  test("semantic does not map below threshold (es)") {
    val left = Fragment(
      ColorishValuesEs.lazyZip(AnimalishValuesEs).lazyZip(CodeValues).map { (c, a, code) =>
        s("0" -> c, "1" -> a, "2" -> code)
      }.toList, 1)
    assert(nameSemMapping(
      new ColumnNameSemanticLoadTimeAnalyzer(0.99, Some(ColorAnimalSchemaEs)),
      left.columnNames.toList, left.rows).isEmpty)
  }

  test("semantic maps semantic-but-not-in-schema columns by their values") {
    // reference: {"animalia": colors, "tone": animals} -> value similarity
    // overrides the misleading own names
    val left = Fragment(
      ColorishValues.lazyZip(AnimalishValues).map { (c, a) =>
        s("animalia" -> c, "tone" -> a)
      }.toList, 1)
    val got = nameSemMapping(
      new ColumnNameSemanticLoadTimeAnalyzer(0.3, Some(ColorAnimalSchema)),
      left.columnNames.toList, left.rows)
    assert(got == Map("animalia" -> "color", "tone" -> "animal"))
  }

  test("semantic does not rename a semantic column when its own name is closer") {
    // own-name gate (analyzers.py:199-204): values score >= threshold vs
    // the schema name, but the column's OWN name scores higher -> skip
    val left = Fragment(List(s("colored" -> "colored"), s("colored" -> "colored item")), 1)
    val schema = ColumnSchema.parse("color:str")
    assert(nameSemMapping(
      new ColumnNameSemanticLoadTimeAnalyzer(0.3, Some(schema)),
      left.columnNames.toList, left.rows).isEmpty)
    // sanity: without the own-name advantage the same values DO map
    val misnamed = Fragment(List(s("zzz" -> "colored"), s("zzz" -> "colored item")), 1)
    assert(nameSemMapping(
      new ColumnNameSemanticLoadTimeAnalyzer(0.3, Some(schema)),
      misnamed.columnNames.toList, misnamed.rows).toMap == Map("zzz" -> "color"))
  }

  // ---- chains (test_semantic_chain_*, test_chain_*) ------------------------

  test("semantic chain does not disrupt jaccard on exact species data") {
    val left = semanticFrag(Species)
    val right = numericFrag(Species)
    val loadMapping = ColumnsAligner.loadTimeMapping(
      left, List(new ColumnNameSemanticLoadTimeAnalyzer(0.3, Some(SpeciesSchema))))
    // all left columns are already in the schema -> no candidates, no renames
    assert(loadMapping.isEmpty)
    val renamedLeft = Fragment(left.rows.map(ColumnsAligner.renameRow(loadMapping, _)), left.page)
    val mergeMapping = ColumnsAligner.mergeTimeMapping(
      renamedLeft, Some(right), List(new JaccardMergeTimeAnalyzer(0.5)))
    assert(mergeMapping.toMap == FourColumnsMapping)
  }

  test("semantic chain preserves jaccard mappings on edited species data") {
    val left = semanticFrag(Species)
    val right = numericFrag(SpeciesWithEdits)
    val jaccardOnly = ColumnsAligner.mergeTimeMapping(
      left, Some(right), List(new JaccardMergeTimeAnalyzer(0.6))).toMap
    assert(jaccardOnly == Map("1" -> "area", "2" -> "family"))

    val loadMapping = ColumnsAligner.loadTimeMapping(
      left, List(new ColumnNameSemanticLoadTimeAnalyzer(0.1, Some(SpeciesSchema))))
    val renamedLeft = Fragment(left.rows.map(ColumnsAligner.renameRow(loadMapping, _)), left.page)
    val chain = ColumnsAligner.mergeTimeMapping(
      renamedLeft, Some(right), List(new JaccardMergeTimeAnalyzer(0.6))).toMap
    assert(chain("1") == "area")
    assert(chain("2") == "family")
  }

  test("chain: alias before jaccard renames through the alias target") {
    val left = wrap(s("family" -> "Apiaceae"), s("family" -> "Rosaceae"))
    val right = wrap(s("0" -> "Apiaceae"), s("0" -> "Rosaceae"))
    val loadMapping = ColumnsAligner.loadTimeMapping(left, List(alias("family" -> "official_family")))
    assert(loadMapping.toMap == Map("family" -> "official_family"))
    val renamedLeft = Fragment(left.rows.map(ColumnsAligner.renameRow(loadMapping, _)), left.page)
    val mergeMapping = ColumnsAligner.mergeTimeMapping(
      renamedLeft, Some(right), List(new JaccardMergeTimeAnalyzer()))
    assert(mergeMapping.toMap == Map("0" -> "official_family"))
  }

  test("chain: hints then alias renames through the intermediate name") {
    val fragment = wrap(s("0" -> "species"))
    val m = ColumnsAligner.loadTimeMapping(fragment, List(
      new HintsLoadTimeAnalyzer(List("species")),
      alias("species" -> "scientific_name")))
    assert(m.toMap == Map("0" -> "scientific_name", "species" -> "scientific_name"))
  }

  // ---- hints analyzer (test_hints_*) ---------------------------------------

  private def hints(hs: String*) = new HintsLoadTimeAnalyzer(hs.toList)
  private def hintsUnsafe(hs: String*) = new HintsLoadTimeAnalyzer(hs.toList, safe = false)
  private def hm(an: HintsLoadTimeAnalyzer, f: Fragment): Map[String, String] =
    an.buildMapping(f.columnNames.toList, f.rows).toMap

  test("hints returns empty when no non-semantic columns") {
    assert(hm(hints("species", "family"), wrap(s("species" -> "species", "family" -> "family"))).isEmpty)
  }

  test("hints returns empty when first row values not in hints") {
    assert(hm(hints("species", "family"), wrap(s("0" -> "Ammi majus", "1" -> "Apiaceae"))).isEmpty)
  }

  test("hints renames all columns when any value matches a hint") {
    assert(hm(hints("species", "family"), wrap(s("0" -> "species", "1" -> "Apiaceae")))
      == Map("0" -> "species", "1" -> "apiaceae"))
  }

  test("hints renames columns when all first-row values match") {
    val f = wrap(s("0" -> "species", "1" -> "family"), s("0" -> "Ammi majus", "1" -> "Apiaceae"))
    assert(hm(hints("species", "family"), f) == Map("0" -> "species", "1" -> "family"))
  }

  test("hints normalizes first-row values before comparing") {
    assert(hm(hints("scientific_name", "family"), wrap(s("0" -> "Scientific Name", "1" -> "Family")))
      == Map("0" -> "scientific_name", "1" -> "family"))
  }

  test("hints normalizes space-separated value to underscore hint") {
    assert(hm(hints("scientific_name"), wrap(s("1" -> "Scientific name")))
      == Map("1" -> "scientific_name"))
  }

  test("hints normalizes accented value to ascii hint") {
    assert(hm(hints("preparacion"), wrap(s("0" -> "Preparación")))
      == Map("0" -> "preparacion"))
  }

  test("hints skips empty rows before the header row") {
    val f = wrap(
      s("0" -> "", "1" -> ""),
      s("0" -> "", "1" -> ""),
      s("0" -> "species", "1" -> "family"))
    assert(hm(hints("species", "family"), f) == Map("0" -> "species", "1" -> "family"))
  }

  test("hints maps only non-empty hint-matching cells in the header row") {
    val f = wrap(s("0" -> "", "1" -> ""), s("0" -> "species", "1" -> ""))
    assert(hm(hints("species", "family"), f) == Map("0" -> "species"))
  }

  test("hints renames all columns including non-hint values") {
    val f = wrap(s("0" -> "", "1" -> ""), s("0" -> "species", "1" -> "foo"))
    assert(hm(hints("species", "family"), f) == Map("0" -> "species", "1" -> "foo"))
  }

  test("hints renames all columns when a single hint matches") {
    val f = wrap(s("0" -> "family", "1" -> "Scientific name", "2" -> "Species", "3" -> "Notes"))
    assert(hm(hints("family"), f)
      == Map("0" -> "family", "1" -> "scientific_name", "2" -> "species", "3" -> "notes"))
  }

  test("hints skips a null column when other columns trigger the mapping") {
    val f = wrap(r(
      "0" -> Cell.Str("family"), "1" -> Cell.Str("Scientific name"),
      "2" -> Cell.Str("species"), "3" -> Cell.Null))
    assert(hm(hints("family"), f)
      == Map("0" -> "family", "1" -> "scientific_name", "2" -> "species"))
  }

  test("hints returns empty when all first-row cells are empty") {
    assert(hm(hints("species", "family"), wrap(s("0" -> "", "1" -> ""))).isEmpty)
  }

  test("hints handles value-with-agreement cells") {
    val f = wrap(r("0" -> Cell.Multi(List(ValueWithAgreement("species", 1)))))
    assert(hm(hints("species", "family"), f) == Map("0" -> "species"))
  }

  test("hints unsafe renames semantic columns when values match hints") {
    assert(hm(hintsUnsafe("species", "family"), wrap(s("species" -> "species", "family" -> "family")))
      == Map("species" -> "species", "family" -> "family"))
  }

  test("hints unsafe renames a mix of semantic and numeric columns") {
    assert(hm(hintsUnsafe("species", "family"), wrap(s("0" -> "species", "family" -> "family")))
      == Map("0" -> "species", "family" -> "family"))
  }

  test("hints safe still returns empty when all columns are semantic") {
    assert(hm(hints("species", "family"), wrap(s("species" -> "species", "family" -> "family"))).isEmpty)
  }

  test("hints unsafe returns empty when no row values match hints") {
    assert(hm(hintsUnsafe("species", "family"),
      wrap(s("species" -> "Ammi majus", "family" -> "Apiaceae"))).isEmpty)
  }

  // ---- value/string helpers ------------------------------------------------

  test("column_value_to_strings returns empty for None (null cell)") {
    assert(Cell.Null.strings.isEmpty)
  }

  test("extract_column_str_values returns empty for None (null column value)") {
    // test_analyzers.py:817: JaccardMergeTimeAnalyzer()
    //   .extract_column_str_values(None) == []. The engine folds that
    // extraction into the analyzer's value-set walk, so the pin is
    // behavioral: a numeric-named column holding only Null cells has an
    // EMPTY value set — zero jaccard against everything, no mapping (were
    // nulls extracted as strings, the sets would intersect and map)
    val left = wrap(s("family" -> "Apiaceae"), s("family" -> "Rosaceae"))
    val right = wrap(r("0" -> Cell.Null), r("0" -> Cell.Null))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(), left, right).isEmpty)
  }

  // ---- jaccard with schema (test_jaccard_*_schema_*) -----------------------

  test("jaccard renames semantic-not-in-schema to a schema column") {
    val schema = Some(ColumnSchema.parse("family:str"))
    val left = wrap(s("familia" -> "Apiaceae"), s("familia" -> "Rosaceae"))
    val right = wrap(s("family" -> "Apiaceae"), s("family" -> "Rosaceae"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(0.5, schema), left, right)
      == Map("familia" -> "family"))
  }

  test("jaccard schema rename with partial value overlap") {
    val schema = Some(ColumnSchema.parse("family:str"))
    val left = wrap(s("familia" -> "Apiaceae"), s("familia" -> "Rosaceae"), s("familia" -> "Lamiaceae"))
    val right = wrap(s("family" -> "Apiaceae"), s("family" -> "Rosaceae"), s("family" -> "Asteraceae"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(0.5, schema), left, right)
      == Map("familia" -> "family"))
  }

  test("jaccard: both out of schema with schema returns empty") {
    val schema = Some(ColumnSchema.parse("family:str"))
    val left = wrap(s("familia" -> "Apiaceae"))
    val right = wrap(s("especie" -> "Ammi"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(0.5, schema), left, right).isEmpty)
  }

  test("jaccard: schema column is not renamed even with a schema") {
    val schema = Some(ColumnSchema.parse("family:str"))
    val left = wrap(s("family" -> "Apiaceae"), s("family" -> "Rosaceae"))
    val right = wrap(s("family" -> "Apiaceae"), s("family" -> "Rosaceae"))
    assert(jaccardMapping(new JaccardMergeTimeAnalyzer(0.5, schema), left, right).isEmpty)
  }

  // ---- column-value semantic (test_column_value_semantic_*) ----------------

  private def valSemMapping(an: ColumnValueSemanticMergeTimeAnalyzer,
      left: Fragment, right: Fragment): Map[String, String] =
    an.buildMapping(left.columnNames.toList, right.columnNames.toList,
      left.rows, right.rows).toMap

  test("column-value semantic returns empty when both numeric") {
    val left = wrap(s("0" -> "Apiaceae"), s("0" -> "Rosaceae"))
    val right = wrap(s("1" -> "Apiaceae"), s("1" -> "Rosaceae"))
    assert(valSemMapping(new ColumnValueSemanticMergeTimeAnalyzer(), left, right).isEmpty)
  }

  test("column-value semantic returns empty when both semantic") {
    val left = wrap(s("family" -> "Apiaceae"))
    val right = wrap(s("genus" -> "Ammi"))
    assert(valSemMapping(new ColumnValueSemanticMergeTimeAnalyzer(), left, right).isEmpty)
  }

  test("column-value semantic returns empty when left has mixed columns") {
    val left = wrap(s("0" -> "Apiaceae", "family" -> "Rosaceae"))
    val right = wrap(s("1" -> "Ammi"))
    assert(valSemMapping(new ColumnValueSemanticMergeTimeAnalyzer(), left, right).isEmpty)
  }

  test("column-value semantic maps numeric to semantic by value similarity") {
    val left = Fragment(
      ColorishValues.lazyZip(AnimalishValues).map { (c, a) => s("color" -> c, "animal" -> a) }.toList, 1)
    val right = Fragment(
      ColorishValues.lazyZip(AnimalishValues).map { (c, a) => s("0" -> c, "1" -> a) }.toList, 1)
    assert(valSemMapping(new ColumnValueSemanticMergeTimeAnalyzer(0.3), left, right)
      == Map("0" -> "color", "1" -> "animal"))
  }

  test("column-value semantic renames semantic-not-in-schema to schema columns") {
    val schema = Some(ColumnSchema.parse("color:str,animal:str"))
    val left = Fragment(
      ColorishValues.lazyZip(AnimalishValues).map { (c, a) => s("color" -> c, "animal" -> a) }.toList, 1)
    val right = Fragment(
      ColorishValues.lazyZip(AnimalishValues).map { (c, a) => s("animalia" -> c, "tone" -> a) }.toList, 1)
    assert(valSemMapping(new ColumnValueSemanticMergeTimeAnalyzer(0.3, schema), left, right)
      == Map("animalia" -> "color", "tone" -> "animal"))
  }
}
