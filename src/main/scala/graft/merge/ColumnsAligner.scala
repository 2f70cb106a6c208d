package graft.merge

import graft.core._

/** Aligner chain — reference parity with
  * /root/reference/src/tablemerge/columns_aligner.py.
  */
object ColumnsAligner {

  /** append_column_value — columns_aligner.py:5-20. The separator rule is
    * byte-exact: " " when the existing string ends with ".", else ". ".
    */
  def appendColumnValue(existing: Cell, newValue: Cell): Cell = (existing, newValue) match {
    case (Cell.Null, nv) => nv
    case (ex, Cell.Null) => ex
    case (Cell.Str(ex), Cell.Str(nv)) =>
      if (ex.isEmpty) Cell.Str(nv)
      else if (nv.isEmpty) Cell.Str(ex)
      else {
        val sep = if (ex.endsWith(".")) " " else ". "
        Cell.Str(ex + sep + nv)
      }
    case (Cell.Multi(ex), Cell.Multi(nv)) => Cell.Multi(ex ++ nv)
    case (ex, _) => ex
  }

  /** rename_row — columns_aligner.py:29-48: apply the mapping; "<remove>"
    * drops; collisions concatenate (self-colliding column keeps its own
    * value FIRST).
    */
  def renameRow(mapping: collection.Map[String, String], row: RowData): RowData = {
    if (mapping.isEmpty) return row
    val b = new RowBuilder
    row.columns.foreach { case (column, value) =>
      val newName = mapping.getOrElse(column, column)
      if (newName != Analyzers.RemoveColumn)
        b.combine(newName, value) { (existing, v) =>
          if (column == newName) appendColumnValue(v, existing) else appendColumnValue(existing, v)
        }
    }
    row.withColumns(b.result())
  }

  val MaxSample = 50

  /** accumulate_mapping — columns_aligner.py:59-66 */
  private def accumulate(accumulated: Analyzers.Mapping, newMapping: Analyzers.Mapping): Set[String] = {
    accumulated.keysIterator.toList.foreach { k =>
      newMapping.get(accumulated(k)).foreach(accumulated(k) = _)
    }
    newMapping.foreach { case (k, v) => accumulated(k) = v }
    newMapping.keySet.toSet
  }

  /** LoadTimeColumnAligner.build_mapping — columns_aligner.py:79-95 */
  def loadTimeMapping(fragment: Fragment, analyzers: List[LoadTimeAnalyzer]): Analyzers.Mapping = {
    val rows = fragment.rows.take(MaxSample)
    if (rows.isEmpty) return Analyzers.emptyMapping
    var remaining = fragment.columnNames.toList
    val accumulated = Analyzers.emptyMapping
    var stop = false
    analyzers.foreach { analyzer =>
      if (!stop) {
        val candidates = remaining ++ accumulated.valuesIterator.toList
        if (candidates.isEmpty) stop = true
        else {
          val newMapping = analyzer.buildMapping(candidates, rows)
          if (newMapping.nonEmpty) {
            val mapped = accumulate(accumulated, newMapping)
            remaining = remaining.filterNot(mapped.contains)
          }
        }
      }
    }
    accumulated
  }

  /** MergeTimeColumnAligner.build_mapping — columns_aligner.py:112-131 */
  def mergeTimeMapping(
      left: Fragment, right: Option[Fragment],
      analyzers: List[MergeTimeAnalyzer]): Analyzers.Mapping = {
    val leftRows = left.rows.take(MaxSample)
    val rightRows = right.map(_.rows.take(MaxSample)).getOrElse(Nil)
    if (leftRows.isEmpty) return Analyzers.emptyMapping
    var remainingLeft = left.columnNames.toList
    var remainingRight = right.map(_.columnNames.toList).getOrElse(Nil)
    val accumulated = Analyzers.emptyMapping
    var stop = false
    analyzers.foreach { analyzer =>
      if (!stop) {
        if (remainingLeft.isEmpty && remainingRight.isEmpty) stop = true
        else {
          val newMapping = analyzer.buildMapping(remainingLeft, remainingRight, leftRows, rightRows)
          if (newMapping.nonEmpty) {
            val mapped = accumulate(accumulated, newMapping)
            remainingLeft = remainingLeft.filterNot(mapped.contains)
            remainingRight = remainingRight.filterNot(mapped.contains)
          }
        }
      }
    }
    accumulated
  }
}
