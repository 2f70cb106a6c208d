package graft.merge

import graft.core._

/** `ColumnsAligner.renameRow` as an `indexWhere` fold over a Vector of pairs
  * (O(width²) per row); the reference the [[RowBuilder]] form is checked
  * against.
  */
object RenameRowFold {
  def renameRow(mapping: collection.Map[String, String], row: RowData): RowData = {
    if (mapping.isEmpty) return row
    var renamed = Vector.empty[(String, Cell)]
    row.columns.foreach { case (column, value) =>
      val newName = mapping.getOrElse(column, column)
      if (newName != Analyzers.RemoveColumn) {
        renamed.indexWhere(_._1 == newName) match {
          case -1 => renamed = renamed :+ ((newName, value))
          case idx =>
            val existing = renamed(idx)._2
            val merged =
              if (column == newName) ColumnsAligner.appendColumnValue(value, existing)
              else ColumnsAligner.appendColumnValue(existing, value)
            renamed = renamed.updated(idx, (newName, merged))
        }
      }
    }
    row.withColumns(renamed)
  }
}
