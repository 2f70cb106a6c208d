package graft.core

import graft.core.JVal._

/** The tree codec: parse a whole `JVal` tree, then convert it (and build a
  * `JObj` tree, then render it). `TableDoc.fromJsonString`/`toJsonString`
  * stream instead; this is the reference they are checked against.
  */
object TreeCodec {

  def cellFromJson(v: JVal): Cell = v match {
    case JNull => Cell.Null
    case JStr(s) => Cell.Str(s)
    case JArr(items) =>
      Cell.Multi(items.toList.map {
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

  def cellToJson(c: Cell): JVal = c match {
    case Cell.Null => JNull
    case Cell.Str(s) => JStr(s)
    case Cell.Multi(vs) =>
      JArr(vs.toVector.map(v =>
        JObj(Vector("value" -> JStr(v.value), "agreement_level" -> JVal.num(v.agreementLevel)))))
  }

  private val SpecialFields = Set("agreement_level_", "sources_", "row_")

  def rowFromJson(v: JVal): RowData = v match {
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
        case (k, cv) if !SpecialFields.contains(k) => cols += ((k, cellFromJson(cv)))
        case (k, other) => throw new IllegalArgumentException(s"bad special field $k=$other")
      }
      RowData(cols.result(), agreement, sources, rowIdx)
    case other => throw new IllegalArgumentException(s"bad row $other")
  }

  def rowToJson(r: RowData): JObj = {
    val b = Vector.newBuilder[(String, JVal)]
    b += ("agreement_level_" -> r.agreementLevel.map(JVal.num(_): JVal).getOrElse(JNull))
    b += ("sources_" -> r.sources.map(ss => JArr(ss.toVector.map(JStr(_): JVal)): JVal).getOrElse(JNull))
    b += ("row_" -> r.rowIdx.map(JVal.num(_): JVal).getOrElse(JNull))
    r.columns.foreach { case (k, c) => b += ((k, cellToJson(c))) }
    JObj(b.result())
  }

  def fragmentFromJson(v: JVal): Fragment = v match {
    case o: JObj =>
      val rows = o.get("rows") match {
        case Some(JArr(items)) => items.toList.map(rowFromJson)
        case other => throw new IllegalArgumentException(s"bad rows $other")
      }
      val page = o.get("page") match {
        case Some(JNum(raw)) => raw.toInt
        case other => throw new IllegalArgumentException(s"bad page $other")
      }
      Fragment(rows, page)
    case other => throw new IllegalArgumentException(s"bad fragment $other")
  }

  def fragmentToJson(f: Fragment): JObj =
    JObj(Vector(
      "rows" -> JArr(f.rows.toVector.map(rowToJson(_): JVal)),
      "page" -> JVal.num(f.page)
    ))

  def tableFromJson(v: JVal): TableData = v match {
    case o: JObj =>
      o.get("table_fragments") match {
        case Some(JArr(items)) => TableData(items.toList.map(fragmentFromJson))
        case _ => TableData(List(fragmentFromJson(o)), rowsForm = true)
      }
    case other => throw new IllegalArgumentException(s"bad table $other")
  }

  def tableToJson(t: TableData): JVal =
    if (t.rowsForm && t.fragments.size == 1) fragmentToJson(t.fragments.head)
    else JObj(Vector("table_fragments" -> JArr(t.fragments.toVector.map(fragmentToJson(_): JVal))))

  def docFromJson(v: JVal): TableDoc = v match {
    case o: JObj =>
      val tables = o.get("tables") match {
        case Some(JArr(items)) => items.toList.map(tableFromJson)
        case other => throw new IllegalArgumentException(s"bad tables $other")
      }
      val citation = o.get("citation").map(cellFromJson).getOrElse(Cell.Null)
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

  def docToJson(d: TableDoc): JObj =
    JObj(Vector(
      "tables" -> JArr(d.tables.toVector.map(tableToJson)),
      "citation" -> cellToJson(d.citation),
      "metadata" -> d.metadata.map(m => metadataToJson(m): JVal).getOrElse(JNull),
      "uuid" -> d.uuid.map(JStr(_): JVal).getOrElse(JNull)
    ))

  private def metadataToJson(m: JObj): JObj = {
    val filename = m.get("filename").getOrElse(JNull)
    val curations = m.get("curations").getOrElse(JNull)
    val rest = m.fields.filterNot { case (k, _) => k == "filename" || k == "curations" }
    JObj(Vector("filename" -> filename, "curations" -> curations) ++ rest)
  }

  def fromJsonString(s: String): TableDoc = docFromJson(JVal.parse(s))

  def toJsonString(d: TableDoc): String = docToJson(d).render
}
