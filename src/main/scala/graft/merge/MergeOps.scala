package graft.merge

import graft.core._

/** Row/column predicates + whole-doc projections — reference parity with
  * /root/reference/src/tablemerge/merge.py.
  */
object MergeOps {

  /** merge.py:11-21 */
  def valueMatchesHeader(columnName: String, value: Cell): Boolean = value match {
    case Cell.Null => false
    case Cell.Str(s) => Text.normalizeColumnName(s) == Text.normalizeColumnName(columnName)
    case Cell.Multi(vs) =>
      val normalizedName = Text.normalizeColumnName(columnName)
      val nonEmpty = vs.map(_.value).filter(v => Text.pyStrip(v).nonEmpty)
      nonEmpty.nonEmpty && nonEmpty.forall(v => Text.normalizeColumnName(v) == normalizedName)
  }

  /** merge.py:24-33 */
  def valueMatchesHints(value: Cell, hintsSet: Set[String]): Boolean = value match {
    case Cell.Null => false
    case Cell.Str(s) => hintsSet.contains(Text.normalizeColumnName(Text.pyStrip(s)))
    case Cell.Multi(vs) =>
      vs.exists(v => Text.pyStrip(v.value).nonEmpty &&
        hintsSet.contains(Text.normalizeColumnName(Text.pyStrip(v.value))))
  }

  /** merge.py:36-49 */
  def hasSemanticHeaderValue(row: RowData): Boolean =
    row.columns.exists { case (col, v) =>
      !v.isEmptyValue && Text.isSemanticColumn(col) && valueMatchesHeader(col, v)
    }

  def hasHintsHeaderValue(row: RowData, hintsSet: Set[String]): Boolean =
    row.columns.exists { case (_, v) => !v.isEmptyValue && valueMatchesHints(v, hintsSet) }

  /** merge.py:52-56 */
  def isHeaderRow(row: RowData, hints: List[String] = Nil): Boolean =
    hasSemanticHeaderValue(row) || (hints.nonEmpty && hasHintsHeaderValue(row, hints.toSet))

  private def mapFragments(doc: TableDoc)(f: Fragment => Fragment): TableDoc =
    doc.copy(tables = doc.tables.map(t => TableData(t.fragments.map(f))))

  /** merge.py:74-103 */
  def dropEmptyColumns(doc: TableDoc): TableDoc =
    mapFragments(doc) { fr =>
      // a name stays when a row's first cell of it (what `RowData.get` reads)
      // is not empty; a missing cell is dict .get -> None == empty (merge.py:85-89)
      val kept = scala.collection.mutable.HashSet.empty[String]
      fr.rows.foreach(_.columns.distinctBy(_._1).foreach { case (k, v) => if (!v.isEmptyValue) kept += k })
      fr.copy(rows = fr.rows.map(r => r.withColumns(r.columns.filter { case (k, _) => kept.contains(k) })))
    }

  /** merge.py:106-112: drop empty fragments; drop tables left with none. */
  def dropEmptyTables(doc: TableDoc): TableDoc =
    doc.copy(tables = doc.tables.flatMap { t =>
      val frags = t.fragments.filterNot(_.isEmpty)
      if (frags.nonEmpty) Some(TableData(frags)) else None
    })

  /** merge.py:115-133 */
  def filterSemanticColumns(doc: TableDoc): TableDoc =
    mapFragments(doc)(fr => fr.copy(rows = fr.rows.map(r => r.withColumns(r.semanticColumns))))
}
