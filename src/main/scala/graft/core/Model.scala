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
  * byte-stable only because of that — so columns are a Vector of pairs with
  * dict-update semantics, never a hash map.
  */
final case class ValueWithAgreement(value: String, agreementLevel: Int)

sealed trait Cell {
  /** Row.is_empty_value — schema.py:83-90 */
  def isEmptyValue: Boolean = this match {
    case Cell.Null => true
    case Cell.Str(s) => Text.normalizeColumnValue(s).isEmpty
    case Cell.Multi(vs) => vs.forall(v => Text.normalizeColumnValue(v.value).isEmpty)
  }

  /** Row.normalize_value — schema.py:93-106 */
  def normalized: Cell = this match {
    case Cell.Null => Cell.Null
    case Cell.Str(s) => Cell.Str(Text.normalizeColumnValue(s))
    case Cell.Multi(vs) =>
      Cell.Multi(vs.map(v => ValueWithAgreement(Text.normalizeColumnValue(v.value), v.agreementLevel)))
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
  final case class Str(value: String) extends Cell
  final case class Multi(values: List[ValueWithAgreement]) extends Cell

  def fromJson(v: JVal): Cell = v match {
    case JNull => Null
    case JStr(s) => Str(s)
    case JArr(items) =>
      Multi(items.toList.map {
        case o: JObj =>
          val value = o.get("value") match {
            case Some(JStr(s)) => s
            case other => throw new IllegalArgumentException(s"bad value $other")
          }
          val lvl = o.get("agreement_level") match {
            case Some(JNum(raw)) => raw.toInt
            case other => throw new IllegalArgumentException(s"bad agreement_level $other")
          }
          ValueWithAgreement(value, lvl)
        case other => throw new IllegalArgumentException(s"bad cell entry $other")
      })
    case other => throw new IllegalArgumentException(s"bad cell $other")
  }

  def toJson(c: Cell): JVal = c match {
    case Null => JNull
    case Str(s) => JStr(s)
    case Multi(vs) =>
      JArr(vs.toVector.map(v =>
        JObj(Vector("value" -> JStr(v.value), "agreement_level" -> JVal.num(v.agreementLevel)))))
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

  /** schema.py:62-76 */
  def normalize(rowAgreement: Boolean = false): RowData =
    RowData(
      columns = columns.map { case (k, v) => (k, v.normalized) },
      agreementLevel = if (rowAgreement) Some(agreementLevelOrDefault) else agreementLevel,
      sources = sources,
      rowIdx = rowIdx
    )

  def withColumns(cols: Vector[(String, Cell)]): RowData = copy(columns = cols)
}

object RowData {
  /** Row.column_names — ordered dedup across rows (schema.py:78-80) */
  def columnNames(rows: Seq[RowData]): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    rows.foreach(_.columns.foreach { case (k, _) => seen += k })
    seen.toVector
  }

  /** python dict-update semantics: replace in place when the key exists,
    * else append.
    */
  def dictUpdate(cols: Vector[(String, Cell)], key: String, value: Cell): Vector[(String, Cell)] = {
    val idx = cols.indexWhere(_._1 == key)
    if (idx >= 0) cols.updated(idx, (key, value)) else cols :+ ((key, value))
  }

  private val SpecialFields = Set("agreement_level_", "sources_", "row_")

  def fromJson(v: JVal): RowData = v match {
    case JObj(fields) =>
      var agreement: Option[Int] = None
      var sources: Option[List[String]] = None
      var rowIdx: Option[Int] = None
      val cols = Vector.newBuilder[(String, Cell)]
      fields.foreach {
        case ("agreement_level_", JNum(raw)) => agreement = Some(raw.toInt)
        case ("agreement_level_", JNull) =>
        case ("sources_", JArr(items)) =>
          sources = Some(items.toList.map { case JStr(s) => s; case o => throw new IllegalArgumentException(s"bad source $o") })
        case ("sources_", JNull) =>
        case ("row_", JNum(raw)) => rowIdx = Some(raw.toInt)
        case ("row_", JNull) =>
        case (k, cv) if !SpecialFields.contains(k) => cols += ((k, Cell.fromJson(cv)))
        case (k, other) => throw new IllegalArgumentException(s"bad special field $k=$other")
      }
      RowData(cols.result(), agreement, sources, rowIdx)
    case other => throw new IllegalArgumentException(s"bad row $other")
  }

  /** pydantic model_dump layout: declared fields first (agreement_level_,
    * sources_, row_), then extra columns in insertion order; None included.
    */
  def toJson(r: RowData): JObj = {
    val b = Vector.newBuilder[(String, JVal)]
    b += ("agreement_level_" -> r.agreementLevel.map(JVal.num(_): JVal).getOrElse(JNull))
    b += ("sources_" -> r.sources.map(ss => JArr(ss.toVector.map(JStr(_): JVal)): JVal).getOrElse(JNull))
    b += ("row_" -> r.rowIdx.map(JVal.num(_): JVal).getOrElse(JNull))
    r.columns.foreach { case (k, c) => b += ((k, Cell.toJson(c))) }
    JObj(b.result())
  }
}

/** TableFragment — schema.py:109-121 */
final case class Fragment(rows: List[RowData], page: Int) {
  def columnNames: Vector[String] = RowData.columnNames(rows)
  def columnsCount: Int = columnNames.size
  def isEmpty: Boolean = rows.forall(_.isEmpty)
}

object Fragment {
  def fromJson(v: JVal): Fragment = v match {
    case o: JObj =>
      val rows = o.get("rows") match {
        case Some(JArr(items)) => items.toList.map(RowData.fromJson)
        case other => throw new IllegalArgumentException(s"bad rows $other")
      }
      val page = o.get("page") match {
        case Some(JNum(raw)) => raw.toInt
        case other => throw new IllegalArgumentException(s"bad page $other")
      }
      Fragment(rows, page)
    case other => throw new IllegalArgumentException(s"bad fragment $other")
  }

  def toJson(f: Fragment): JObj =
    JObj(Vector(
      "rows" -> JArr(f.rows.toVector.map(RowData.toJson(_): JVal)),
      "page" -> JVal.num(f.page)
    ))
}

/** Table — union TableWithRows | TableWithFragments (schema.py:123-144).
  * `rowsForm=true` keeps the degenerate single-fragment serialization.
  */
final case class TableData(fragments: List[Fragment], rowsForm: Boolean = false) {
  def isEmpty: Boolean = fragments.forall(_.isEmpty)
}

object TableData {
  def fromJson(v: JVal): TableData = v match {
    case o: JObj =>
      o.get("table_fragments") match {
        case Some(JArr(items)) => TableData(items.toList.map(Fragment.fromJson))
        case _ =>
          val f = Fragment.fromJson(o)
          TableData(List(f), rowsForm = true)
      }
    case other => throw new IllegalArgumentException(s"bad table $other")
  }

  def toJson(t: TableData): JVal =
    if (t.rowsForm && t.fragments.size == 1) Fragment.toJson(t.fragments.head)
    else JObj(Vector("table_fragments" -> JArr(t.fragments.toVector.map(Fragment.toJson(_): JVal))))
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
  def fromJsonString(s: String): TableDoc = fromJson(JVal.parse(s))

  def fromJson(v: JVal): TableDoc = v match {
    case o: JObj =>
      val tables = o.get("tables") match {
        case Some(JArr(items)) => items.toList.map(TableData.fromJson)
        case other => throw new IllegalArgumentException(s"bad tables $other")
      }
      val citation = o.get("citation").map(Cell.fromJson).getOrElse(Cell.Null)
      val metadata = o.get("metadata") match {
        case Some(m: JObj) => Some(m)
        case _ => None
      }
      val uuid = o.get("uuid") match {
        case Some(JStr(s)) => Some(s)
        case _ => None
      }
      TableDoc(tables, citation, metadata, uuid)
    case other => throw new IllegalArgumentException(s"bad doc $other")
  }

  /** model_dump field order: tables, citation, metadata, uuid. */
  def toJson(d: TableDoc): JObj =
    JObj(Vector(
      "tables" -> JArr(d.tables.toVector.map(TableData.toJson)),
      "citation" -> Cell.toJson(d.citation),
      "metadata" -> d.metadata.map(m => normalizeMetadata(m): JVal).getOrElse(JNull),
      "uuid" -> d.uuid.map(JStr(_): JVal).getOrElse(JNull)
    ))

  /** pydantic Metadata dump: declared fields (filename, curations) first. */
  private def normalizeMetadata(m: JObj): JObj = {
    val filename = m.get("filename").getOrElse(JNull)
    val curations = m.get("curations").getOrElse(JNull)
    val rest = m.fields.filterNot { case (k, _) => k == "filename" || k == "curations" }
    JObj(Vector("filename" -> filename, "curations" -> curations) ++ rest)
  }

  def toJsonString(d: TableDoc): String = toJson(d).render
}
