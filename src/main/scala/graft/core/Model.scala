package graft.core

import graft.core.JVal._

/** The engine's document/table data model — a from-scratch Scala rendering of
  * the reference's TablesFile tree (/root/reference/src/tablevalidate/schema.py:8-199):
  *
  *  - a document holds `tables`
  *  - a table is a list of page-stamped `Fragment`s
  *  - a fragment holds `RowData`s
  *  - a row holds OPEN, INSERTION-ORDERED string-keyed columns plus three
  *    reserved metadata fields (`agreement_level_`, `sources_`, `row_`)
  *  - a cell is None | plain string | multi-value-with-agreement
  *
  * Python dicts preserve insertion order, and the reference's goldens are
  * byte-stable only because of that — so columns are a Vector of pairs, built
  * with dict-update semantics by [[RowBuilder]], never a hash map.
  */
final case class ValueWithAgreement(value: String, agreementLevel: Int)

sealed trait Cell {
  /** Row.is_empty_value — schema.py:83-90 */
  def isEmptyValue: Boolean = this match {
    case Cell.Null => true
    case s: Cell.Str => s.normalizedValue.isEmpty
    case Cell.Multi(vs) => vs.forall(v => Text.normalizeColumnValue(v.value).isEmpty)
  }

  /** Row.normalize_value — schema.py:93-106. `this` when nothing changes. */
  def normalized: Cell = this match {
    case Cell.Null => Cell.Null
    case s: Cell.Str =>
      val n = s.normalizedValue
      if (n == s.value) s else Cell.Str(n)
    case m @ Cell.Multi(vs) =>
      var changed = false
      val nvs = vs.map { v =>
        val n = Text.normalizeColumnValue(v.value)
        if (n == v.value) v else { changed = true; ValueWithAgreement(n, v.agreementLevel) }
      }
      if (changed) Cell.Multi(nvs) else m
  }

  /** unidecode transliteration of every string — tablesfile_merger.py:36-46 */
  def transliterated: Cell = this match {
    case Cell.Null => Cell.Null
    case Cell.Str(s) => Cell.Str(Text.transliterate(s))
    case Cell.Multi(vs) =>
      Cell.Multi(vs.map(v => ValueWithAgreement(Text.transliterate(v.value), v.agreementLevel)))
  }

  def mapStrings(f: String => String): Cell = this match {
    case Cell.Null => Cell.Null
    case Cell.Str(s) => Cell.Str(f(s))
    case Cell.Multi(vs) => Cell.Multi(vs.map(v => ValueWithAgreement(f(v.value), v.agreementLevel)))
  }

  /** All string values — analyzers.py:15-20 */
  def strings: List[String] = this match {
    case Cell.Null => Nil
    case Cell.Str(s) => List(s)
    case Cell.Multi(vs) => vs.map(_.value)
  }
}

object Cell {
  case object Null extends Cell
  final case class Str(value: String) extends Cell {
    // a merge normalizes the same cell several times (title-row and
    // empty-row filters, same_row, every append); the value is computed
    // once per cell. Not part of equality.
    @transient private[this] var norm: String = _

    /** Text.normalizeColumnValue(value), memoized. */
    def normalizedValue: String = {
      if (norm eq null) norm = Text.normalizeColumnValue(value)
      norm
    }
  }
  final case class Multi(values: List[ValueWithAgreement]) extends Cell

  /** The cell's JSON: null, a string, or a list of
    * `{"value": ..., "agreement_level": ...}` objects.
    */
  def writeJson(sb: java.lang.StringBuilder, c: Cell): Unit = c match {
    case Null => sb.append("null")
    case Str(s) => JVal.writeString(sb, s)
    case Multi(vs) =>
      sb.append('[')
      var first = true
      vs.foreach { v =>
        if (!first) sb.append(", ")
        first = false
        sb.append("{\"value\": ")
        JVal.writeString(sb, v.value)
        sb.append(", \"agreement_level\": ").append(v.agreementLevel).append('}')
      }
      sb.append(']')
  }

  /** [[writeJson]] as a string. */
  def json(c: Cell): String = {
    val sb = new java.lang.StringBuilder
    writeJson(sb, c)
    sb.toString
  }
}

/** Insertion-ordered columns with python-dict update semantics. */
final case class RowData(
    columns: Vector[(String, Cell)],
    agreementLevel: Option[Int] = None,
    sources: Option[List[String]] = None,
    rowIdx: Option[Int] = None
) {
  def get(name: String): Option[Cell] = columns.collectFirst { case (`name`, c) => c }

  def columnNames: Vector[String] = columns.map(_._1)

  /** schema.py:51-55 */
  def semanticColumns: Vector[(String, Cell)] =
    columns.filter { case (k, _) => Text.isSemanticColumn(k) }

  /** schema.py:57-58 */
  def isEmpty: Boolean = columns.forall(_._2.isEmptyValue)

  /** schema.py:59-60 */
  def agreementLevelOrDefault: Int = agreementLevel.getOrElse(1)

  /** schema.py:62-76. `this` when nothing changes. */
  def normalize(rowAgreement: Boolean = false): RowData = {
    val level = if (rowAgreement) Some(agreementLevelOrDefault) else agreementLevel
    val cols = normalizedColumns
    if ((cols eq columns) && level == agreementLevel) this
    else RowData(cols, level, sources, rowIdx)
  }

  private def normalizedColumns: Vector[(String, Cell)] = {
    val i = columns.indexWhere { case (_, v) => v.normalized ne v }
    if (i < 0) columns
    else columns.take(i) ++ columns.drop(i).map { case (k, v) => (k, v.normalized) }
  }

  def withColumns(cols: Vector[(String, Cell)]): RowData = copy(columns = cols)
}

object RowData {
  /** Row.column_names — ordered dedup across rows (schema.py:78-80) */
  def columnNames(rows: Seq[RowData]): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach(_.columns.foreach { case (k, _) => seen += k })
    seen.toVector
  }
}

/** The one row builder: python dict update, linear in the number of puts. A name
  * keeps its first pair's position and takes its last put's value. `init` is kept
  * as it stands: a name a JSON row holds twice keeps both pairs; puts go to the first. */
final class RowBuilder(init: Vector[(String, Cell)] = Vector.empty) {
  private[this] val pairs = scala.collection.mutable.ArrayBuffer.from(init)
  private[this] val slots = new java.util.HashMap[String, Integer]
  init.indices.foreach(i => slots.putIfAbsent(init(i)._1, i))

  /** dict[name] = value */
  def put(name: String, value: Cell): Unit = combine(name, value)((_, v) => v)

  /** [[put]], but a name already present takes `f(existing, value)`. */
  def combine(name: String, value: Cell)(f: (Cell, Cell) => Cell): Unit =
    slots.putIfAbsent(name, pairs.size) match {
      case null => pairs += ((name, value))
      case i => pairs(i) = (name, f(pairs(i)._2, value))
    }

  def result(): Vector[(String, Cell)] = pairs.toVector
}

/** TableFragment — schema.py:109-121 */
final case class Fragment(rows: List[RowData], page: Int) {
  def columnNames: Vector[String] = RowData.columnNames(rows)
  def columnsCount: Int = columnNames.size
  def isEmpty: Boolean = rows.forall(_.isEmpty)
}

/** Table — union TableWithRows | TableWithFragments (schema.py:123-144).
  * `rowsForm=true` keeps the degenerate single-fragment serialization.
  */
final case class TableData(fragments: List[Fragment], rowsForm: Boolean = false) {
  def isEmpty: Boolean = fragments.forall(_.isEmpty)
}

/** TablesFile — schema.py:165-199. `metadata` kept as a raw ordered JSON
  * object (pydantic Metadata has extra="allow").
  */
final case class TableDoc(
    tables: List[TableData],
    citation: Cell = Cell.Null,
    metadata: Option[JObj] = None,
    uuid: Option[String] = None
) {
  def hasCurations: Boolean =
    metadata.exists(_.get("curations").exists {
      case JArr(items) => items.nonEmpty
      case JNull => false
      case _ => true
    })

  /** TablesFile.normalize_citation — schema.py:188-199 */
  def normalizedCitation: Cell = citation match {
    case Cell.Null => Cell.Null
    case Cell.Str(s) => Cell.Str(Text.normalizeStr(s))
    case Cell.Multi(vs) =>
      Cell.Multi(vs.map(v => ValueWithAgreement(Text.normalizeStr(v.value), v.agreementLevel)))
  }
}

object TableDoc {

  /** Reads a `.tables.json` document straight into the model with the
    * `JVal.Parser` cursor; only `metadata` and ignored values become `JVal`s.
    * It accepts a text `JVal.parse` accepts whose fields have the model's
    * types, and reads it by these rules:
    *  - doc, table, fragment and multi-value keys: the first occurrence
    *    wins, later ones are only syntax-checked;
    *  - row columns: every occurrence kept, in order (dict update happens
    *    later, in the merge);
    *  - `agreement_level_`/`sources_`/`row_`: the last non-null value wins;
    *  - a table whose first `table_fragments` is not an array is read in
    *    rows-form (`rows` + `page`), and a bad rows-form field fails the
    *    doc only then.
    * Throws IllegalArgumentException on malformed or invalid input.
    */
  def fromJsonString(s: String): TableDoc = {
    val p = new JVal.Parser(s)
    val doc = readDoc(p)
    p.end()
    doc
  }

  /** pydantic model_dump, written straight into one builder: field order
    * tables, citation, metadata, uuid; rows put the reserved fields first.
    */
  def toJsonString(d: TableDoc): String = {
    val sb = new java.lang.StringBuilder(1024)
    writeDoc(sb, d)
    sb.toString
  }

  // ---------------------------------------------------------------------
  // reader
  // ---------------------------------------------------------------------

  private def bad(what: String, p: JVal.Parser): Nothing =
    throw new IllegalArgumentException(s"bad $what at ${p.pos}")

  /** The items of the array at the cursor, each read by `item`. */
  private def readList[A](p: JVal.Parser, what: String)(item: JVal.Parser => A): List[A] = {
    if (p.peek() != '[') bad(what, p)
    val b = List.newBuilder[A]
    if (p.openArr()) {
      var more = true
      while (more) {
        b += item(p)
        more = p.nextItem()
      }
    }
    b.result()
  }

  /** Calls `field` with each key of the object at the cursor; `field` must
    * consume the value.
    */
  private def readObj(p: JVal.Parser, what: String)(field: String => Unit): Unit = {
    if (p.peek() != '{') bad(what, p)
    if (p.openObj()) {
      var more = true
      while (more) {
        field(p.key())
        more = p.nextField()
      }
    }
  }

  /** A JSON number read as an Int (what `JNum(raw) => raw.toInt` accepts). */
  private def readInt(p: JVal.Parser, what: String): Int = p.peek() match {
    case '{' | '[' | '"' | 't' | 'f' | 'n' => bad(what, p)
    case _ => p.parseNumRaw().toInt
  }

  private def readCell(p: JVal.Parser): Cell = p.peek() match {
    case 'n' => p.parseNull(); Cell.Null
    case '"' => Cell.Str(p.parseString())
    case '[' => Cell.Multi(readList(p, "cell")(readValueWithAgreement))
    case _ => bad("cell", p)
  }

  private def readValueWithAgreement(p: JVal.Parser): ValueWithAgreement = {
    var value: String = null
    var level = 0
    var levelSeen = false
    var valueSeen = false
    readObj(p, "cell entry") {
      case "value" if !valueSeen =>
        valueSeen = true
        if (p.peek() == '"') value = p.parseString() else bad("value", p)
      case "agreement_level" if !levelSeen =>
        levelSeen = true
        level = readInt(p, "agreement_level")
      case _ => p.parseValue()
    }
    if (!valueSeen) bad("value", p)
    if (!levelSeen) bad("agreement_level", p)
    ValueWithAgreement(value, level)
  }

  private def readRow(p: JVal.Parser): RowData = {
    var agreement: Option[Int] = None
    var sources: Option[List[String]] = None
    var rowIdx: Option[Int] = None
    val cols = Vector.newBuilder[(String, Cell)]
    readObj(p, "row") {
      case "agreement_level_" =>
        if (p.peek() == 'n') p.parseNull() else agreement = Some(readInt(p, "agreement_level_"))
      case "sources_" =>
        if (p.peek() == 'n') p.parseNull()
        else sources = Some(readList(p, "sources_") { p =>
          if (p.peek() == '"') p.parseString() else bad("source", p)
        })
      case "row_" =>
        if (p.peek() == 'n') p.parseNull() else rowIdx = Some(readInt(p, "row_"))
      case k => cols += ((k, readCell(p)))
    }
    RowData(cols.result(), agreement, sources, rowIdx)
  }

  private def readRows(p: JVal.Parser): List[RowData] = readList(p, "rows")(readRow)

  private def readFragment(p: JVal.Parser): Fragment = {
    var rows: List[RowData] = null
    var page = 0
    var pageSeen = false
    readObj(p, "fragment") {
      case "rows" if rows == null => rows = readRows(p)
      case "page" if !pageSeen =>
        pageSeen = true
        page = readInt(p, "page")
      case _ => p.parseValue()
    }
    if (rows == null) bad("rows", p)
    if (!pageSeen) bad("page", p)
    Fragment(rows, page)
  }

  private def readTable(p: JVal.Parser): TableData = {
    var fragmentsSeen = false
    var fragments: List[Fragment] = null
    // rows-form fields, used only when the first table_fragments is not an array
    var rows: List[RowData] = null
    var rowsError: IllegalArgumentException = null
    var page: JVal = null
    readObj(p, "table") {
      case "table_fragments" if !fragmentsSeen =>
        fragmentsSeen = true
        if (p.peek() == '[') fragments = readList(p, "table_fragments")(readFragment)
        else p.parseValue()
      case "rows" if rows == null && rowsError == null =>
        val at = p.pos
        try rows = readRows(p)
        catch {
          case e: IllegalArgumentException =>
            // keep the error for rows-form; a syntax error throws again here
            p.pos = at
            p.parseValue()
            rowsError = e
        }
      case "page" if page == null => page = p.parseValue()
      case _ => p.parseValue()
    }
    if (fragments != null) TableData(fragments)
    else {
      if (rowsError != null) throw rowsError
      if (rows == null) bad("rows", p)
      page match {
        case JNum(raw) => TableData(List(Fragment(rows, raw.toInt)), rowsForm = true)
        case _ => bad("page", p)
      }
    }
  }

  private def readDoc(p: JVal.Parser): TableDoc = {
    var tables: List[TableData] = null
    var citation: Cell = null
    var metadataSeen = false
    var metadata: Option[JObj] = None
    var uuidSeen = false
    var uuid: Option[String] = None
    readObj(p, "doc") {
      case "tables" if tables == null => tables = readList(p, "tables")(readTable)
      case "citation" if citation == null => citation = readCell(p)
      case "metadata" if !metadataSeen =>
        metadataSeen = true
        metadata = p.parseValue() match {
          case m: JObj => Some(m)
          case _ => None
        }
      case "uuid" if !uuidSeen =>
        uuidSeen = true
        uuid = p.parseValue() match {
          case JStr(s) => Some(s)
          case _ => None
        }
      case _ => p.parseValue()
    }
    if (tables == null) bad("tables", p)
    TableDoc(tables, if (citation == null) Cell.Null else citation, metadata, uuid)
  }

  // ---------------------------------------------------------------------
  // writer
  // ---------------------------------------------------------------------

  private def writeList[A](sb: java.lang.StringBuilder, xs: List[A])(item: A => Unit): Unit = {
    sb.append('[')
    var first = true
    xs.foreach { x =>
      if (!first) sb.append(", ")
      first = false
      item(x)
    }
    sb.append(']')
  }

  private def writeOptInt(sb: java.lang.StringBuilder, v: Option[Int]): Unit = v match {
    case Some(i) => sb.append(i)
    case None => sb.append("null")
  }

  private def writeRow(sb: java.lang.StringBuilder, r: RowData): Unit = {
    sb.append("{\"agreement_level_\": ")
    writeOptInt(sb, r.agreementLevel)
    sb.append(", \"sources_\": ")
    r.sources match {
      case Some(ss) => writeList(sb, ss)(JVal.writeString(sb, _))
      case None => sb.append("null")
    }
    sb.append(", \"row_\": ")
    writeOptInt(sb, r.rowIdx)
    r.columns.foreach { case (k, c) =>
      sb.append(", ")
      JVal.writeString(sb, k)
      sb.append(": ")
      Cell.writeJson(sb, c)
    }
    sb.append('}')
  }

  private def writeFragment(sb: java.lang.StringBuilder, f: Fragment): Unit = {
    sb.append("{\"rows\": ")
    writeList(sb, f.rows)(writeRow(sb, _))
    sb.append(", \"page\": ").append(f.page).append('}')
  }

  private def writeTable(sb: java.lang.StringBuilder, t: TableData): Unit =
    if (t.rowsForm && t.fragments.size == 1) writeFragment(sb, t.fragments.head)
    else {
      sb.append("{\"table_fragments\": ")
      writeList(sb, t.fragments)(writeFragment(sb, _))
      sb.append('}')
    }

  private def writeDoc(sb: java.lang.StringBuilder, d: TableDoc): Unit = {
    sb.append("{\"tables\": ")
    writeList(sb, d.tables)(writeTable(sb, _))
    sb.append(", \"citation\": ")
    Cell.writeJson(sb, d.citation)
    sb.append(", \"metadata\": ")
    d.metadata match {
      case Some(m) => writeMetadata(sb, m)
      case None => sb.append("null")
    }
    sb.append(", \"uuid\": ")
    d.uuid match {
      case Some(u) => JVal.writeString(sb, u)
      case None => sb.append("null")
    }
    sb.append('}')
  }

  /** pydantic Metadata dump: declared fields (filename, curations) first. */
  private def writeMetadata(sb: java.lang.StringBuilder, m: JObj): Unit = {
    sb.append("{\"filename\": ")
    JVal.write(sb, m.get("filename").getOrElse(JNull))
    sb.append(", \"curations\": ")
    JVal.write(sb, m.get("curations").getOrElse(JNull))
    m.fields.foreach { case (k, v) =>
      if (k != "filename" && k != "curations") {
        sb.append(", ")
        JVal.writeString(sb, k)
        sb.append(": ")
        JVal.write(sb, v)
      }
    }
    sb.append('}')
  }
}
