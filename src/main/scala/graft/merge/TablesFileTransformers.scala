package graft.merge

import graft.core._

/** Whole-doc table-list transformers — reference parity with
  * /root/reference/src/tablemerge/tablesfile_transformer.py.
  */
trait TablesFileTransformer {
  def transform(doc: TableDoc): TableDoc
}

object NullTablesFileTransformer extends TablesFileTransformer {
  def transform(doc: TableDoc): TableDoc = doc
}

/** U3 — every fragment becomes its own single-fragment (rows-form) table. */
object FragmentsExploder extends TablesFileTransformer {
  def transform(doc: TableDoc): TableDoc =
    doc.copy(tables = doc.tables.flatMap(_.fragments).map(f =>
      TableData(List(f), rowsForm = true)))
}

/** U2 — fold adjacent tables whose edge fragments "match"
  * (tablesfile_transformer.py:35-110).
  */
abstract class ConsecutiveFragmentsCompactor extends TablesFileTransformer {
  def nonSemanticColumnsMatch(one: Fragment, other: Fragment): Boolean
  def semanticFragmentsAreClose(one: Fragment, other: Fragment): Boolean

  def allSemanticColumns(fragment: Fragment): Boolean =
    fragment.columnNames.forall(Text.isSemanticColumn)

  def columnsMatch(one: Fragment, other: Fragment): Boolean = {
    if (one.columnNames.isEmpty || other.columnNames.isEmpty) true
    else if (allSemanticColumns(one) && allSemanticColumns(other))
      semanticFragmentsAreClose(one, other) && one.columnNames == other.columnNames
    else nonSemanticColumnsMatch(one, other)
  }

  def canMergeWithTable(table: TableData, other: Fragment): Boolean =
    table.fragments.lastOption.exists(columnsMatch(_, other))

  def transform(doc: TableDoc): TableDoc = {
    val compacted = scala.collection.mutable.ListBuffer.empty[TableData]
    doc.tables.foreach { table =>
      val fragments = table.fragments
      if (fragments.nonEmpty && compacted.nonEmpty &&
        canMergeWithTable(compacted.last, fragments.head)) {
        val prev = compacted.remove(compacted.length - 1)
        compacted += TableData(prev.fragments ++ fragments)
      } else compacted += table
    }
    doc.copy(tables = compacted.toList)
  }
}

object SafeConsecutiveFragmentsCompactor extends ConsecutiveFragmentsCompactor {
  def nonSemanticColumnsMatch(one: Fragment, other: Fragment): Boolean = false
  def semanticFragmentsAreClose(one: Fragment, other: Fragment): Boolean =
    one.page <= other.page && other.page <= one.page + 1
}

object UnsafeConsecutiveFragmentsCompactor extends ConsecutiveFragmentsCompactor {
  def semanticFragmentsAreClose(one: Fragment, other: Fragment): Boolean = true
  def nonSemanticColumnsMatch(one: Fragment, other: Fragment): Boolean =
    one.columnsCount == other.columnsCount
}

/** Postprocessors — reference parity with
  * /root/reference/src/tablemerge/postprocessor.py.
  */
trait PostProcessor {
  def postprocess(doc: TableDoc): TableDoc
}

object FilterSemanticColumnsPostProcessor extends PostProcessor {
  def postprocess(doc: TableDoc): TableDoc = MergeOps.filterSemanticColumns(doc)
}
object DropEmptyColumnsPostProcessor extends PostProcessor {
  def postprocess(doc: TableDoc): TableDoc = MergeOps.dropEmptyColumns(doc)
}
object DropEmptyTablesPostProcessor extends PostProcessor {
  def postprocess(doc: TableDoc): TableDoc = MergeOps.dropEmptyTables(doc)
}

/** SchemaPostProcessor — postprocessor.py:39-152 (F11 filter, F12 order,
  * F13 coerce).
  */
final class SchemaPostProcessor(
    schema: ColumnSchema,
    filterColumns: Boolean = false,
    orderColumns: Boolean = false,
    coerceTypes: Boolean = false) extends PostProcessor {

  def postprocess(doc0: TableDoc): TableDoc = {
    var doc = doc0
    if (filterColumns) doc = filterSchemaColumns(doc)
    if (orderColumns) doc = orderSchemaColumns(doc)
    if (coerceTypes) doc = coerceSchemaColumnTypes(doc)
    doc
  }

  private def tableColumnNames(t: TableData): Set[String] =
    t.fragments.flatMap(_.rows.flatMap(_.columnNames)).toSet

  private def filterSchemaColumns(doc: TableDoc): TableDoc = {
    val keys = schema.columnNames.toSet
    doc.copy(tables = doc.tables.filter(t => (keys & tableColumnNames(t)).nonEmpty))
  }

  private def orderSchemaColumns(doc: TableDoc): TableDoc = {
    val keys = schema.columnNames
    def reorder(row: RowData): RowData = {
      val cols = row.columns
      val inSchema = keys.flatMap(k => cols.find(_._1 == k)).toVector
      val schemaSet = inSchema.map(_._1).toSet
      row.withColumns(inSchema ++ cols.filterNot(c => schemaSet.contains(c._1)))
    }
    doc.copy(tables = doc.tables.map(t => TableData(t.fragments.map(f =>
      f.copy(rows = f.rows.map(reorder))))))
  }

  private def coerceSchemaColumnTypes(doc: TableDoc): TableDoc = {
    def coerceRow(row: RowData): RowData =
      row.withColumns(row.columns.map { case (col, v) =>
        if (schema.contains(col)) (col, v.mapStrings(Text.coerceStr(_, schema.columnType(col))))
        else (col, v)
      })
    doc.copy(tables = doc.tables.map(t => TableData(t.fragments.map(f =>
      f.copy(rows = f.rows.map(coerceRow))))))
  }
}

object PostProcessors {
  /** build_postprocessors — postprocessor.py:155-175 (order is load-bearing). */
  def build(
      schema: Option[ColumnSchema],
      filterColumns: Boolean,
      orderColumns: Boolean,
      coerceTypes: Boolean,
      onlySemanticColumns: Boolean,
      dropEmptyColumns: Boolean,
      dropEmptyTables: Boolean): List[PostProcessor] = {
    val b = List.newBuilder[PostProcessor]
    if (onlySemanticColumns) b += FilterSemanticColumnsPostProcessor
    if (dropEmptyColumns) b += DropEmptyColumnsPostProcessor
    if (dropEmptyTables) b += DropEmptyTablesPostProcessor
    schema.filter(_.nonEmpty).foreach(sc =>
      b += new SchemaPostProcessor(sc, filterColumns, orderColumns, coerceTypes))
    b.result()
  }
}
