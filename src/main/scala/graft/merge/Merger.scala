package graft.merge

import graft.core._

/** Agreement strategies — /root/reference/src/tablemerge/agreement.py. */
trait Agreement {
  def calculateLevel(left: RowData, right: RowData): Int
}

object Agreement {
  /** agreement.py:10-17 */
  def isAgentReader(reader: Option[String]): Boolean = reader match {
    case None => true
    case Some(r) if r.isEmpty => true
    case Some("pdfplumber") | Some("camelot") | Some("pymupdf") => false
    case Some(r) if r.startsWith("hybrid-") => false
    case _ => true
  }
}

object SimpleCountAgreement extends Agreement {
  def calculateLevel(left: RowData, right: RowData): Int =
    left.agreementLevelOrDefault + right.agreementLevelOrDefault
}

final class DistinctReadersAgreement(uuidToReader: Map[String, String]) extends Agreement {
  def calculateLevel(left: RowData, right: RowData): Int = {
    val sources = (left.sources.getOrElse(Nil) ++ right.sources.getOrElse(Nil)).distinct
    var agentCount = 0
    val nonAgent = scala.collection.mutable.HashSet.empty[String]
    sources.foreach { uuid =>
      val reader = uuidToReader.get(uuid)
      if (Agreement.isAgentReader(reader)) agentCount += 1
      else reader.foreach(nonAgent += _)
    }
    math.max(1, agentCount + nonAgent.size)
  }
}

/** Row-merge combinators — /root/reference/src/tablemerge/fragments_builder.py. */
object FragmentsBuilder {

  def toValuesWithAgreement(c: Cell): List[ValueWithAgreement] = c match {
    case Cell.Null => Nil
    case Cell.Str(s) => List(ValueWithAgreement(s, 1))
    case Cell.Multi(vs) => vs
  }

  /** fragments_builder.py:13-17: {**right_norm, **left_norm} — right's key
    * order first, left's values win, left-only keys appended.
    */
  def mergeColumnsWithoutAgreement(left: RowData, right: RowData): Vector[(String, Cell)] = {
    val b = new RowBuilder(right.normalize().columns)
    left.normalize().columns.foreach { case (k, v) => b.put(k, v) }
    b.result()
  }

  /** fragments_builder.py:20-37: per column, per distinct value, summed
    * agreement — LEFT row first, value order = first seen.
    */
  def mergeColumnsWithAgreement(left: RowData, right: RowData): Vector[(String, Cell)] = {
    val columnValues = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.LinkedHashMap[String, Int]]
    List(left, right).foreach { row =>
      row.normalize().columns.foreach { case (columnName, columnValue) =>
        val values = columnValues.getOrElseUpdate(columnName, scala.collection.mutable.LinkedHashMap.empty)
        toValuesWithAgreement(columnValue).foreach { vwa =>
          values(vwa.value) = values.getOrElse(vwa.value, 0) + vwa.agreementLevel
        }
      }
    }
    columnValues.toVector.map { case (name, values) =>
      (name, Cell.Multi(values.toList.map { case (v, a) => ValueWithAgreement(v, a) }): Cell)
    }
  }

  /** merge_rows — fragments_builder.py:40-59 */
  def mergeRows(left: RowData, right: RowData, agreement: Agreement, columnAgreement: Boolean): RowData = {
    val level = agreement.calculateLevel(left, right)
    val columns =
      if (columnAgreement) mergeColumnsWithAgreement(left, right)
      else mergeColumnsWithoutAgreement(left, right)
    val sources = (left.sources.getOrElse(Nil) ++ right.sources.getOrElse(Nil)).distinct
    RowData(columns,
      agreementLevel = Some(level),
      sources = if (sources.nonEmpty) Some(sources) else None,
      rowIdx = left.rowIdx)
  }
}

/** TableFragmentBuilder — fragments_builder.py:62-119 */
final class TableFragmentBuilder(
    initialFragment: Fragment,
    initialUuid: Option[String],
    agreement: Agreement,
    columnAgreement: Boolean) {

  val page: Int = initialFragment.page
  private val rows = scala.collection.mutable.ListBuffer.from(
    initialFragment.rows.zipWithIndex.map { case (r, i) =>
      r.normalize(rowAgreement = true).copy(
        sources = initialUuid.map(List(_)),
        rowIdx = Some(i))
    })

  def nextLeftRows(): List[RowData] = {
    val r = rows.toList
    rows.clear()
    r
  }

  def appendSkipped(skipped: List[RowData], sourceUuid: Option[String]): Unit =
    skipped.foreach { row =>
      append(row.copy(sources = sourceUuid.map(List(_))))
    }

  def appendUnmatched(row: RowData): Unit = append(row)

  def mergeAndAppend(left: RowData, right: RowData): Unit =
    append(FragmentsBuilder.mergeRows(left, right, agreement, columnAgreement))

  def build(): Fragment = Fragment(rows.toList.filterNot(_.isEmpty), page)

  private def append(row: RowData): Unit =
    rows += row.normalize(rowAgreement = true)
}

/** N-way fuzzy ordered full-outer merge — reference parity with
  * /root/reference/src/tablemerge/tablesfile_merger.py. Runs doc-local
  * inside a flatMapGroups — never as a distributed join (clusters are tiny;
  * SURVEY.md §2.3 J4).
  */
object Merger {

  final case class FragmentClusterKey(page: Int, position: Int)
  implicit val clusterKeyOrdering: Ordering[FragmentClusterKey] =
    Ordering.by(k => (k.page, k.position))

  /** same_row — tablesfile_merger.py:49-55: normalized + transliterated
    * column maps compared as python dicts (ORDER-INSENSITIVE).
    */
  def sameRow(left: RowData, right: RowData): Boolean = {
    val l = left.normalize().columns.map { case (k, v) => (k, v.transliterated) }.toMap
    val r = right.normalize().columns.map { case (k, v) => (k, v.transliterated) }.toMap
    l == r
  }

  type MergeTarget = (Fragment, TableDoc)

  /** make_fragments_clusters — tablesfile_merger.py:58-75 */
  def makeFragmentsClusters(
      tablesCluster: Seq[Option[TableData]],
      docs: Seq[TableDoc],
      pageOffsets: Seq[Int]): scala.collection.mutable.LinkedHashMap[FragmentClusterKey, List[MergeTarget]] = {
    val clusters = scala.collection.mutable.LinkedHashMap.empty[FragmentClusterKey, List[MergeTarget]]
    tablesCluster.lazyZip(docs).lazyZip(pageOffsets).foreach { (tableOpt, doc, offset) =>
      tableOpt.foreach { table =>
        val pageCounts = scala.collection.mutable.HashMap.empty[Int, Int]
        table.fragments.foreach { fragment =>
          val adjustedPage = fragment.page + offset
          val position = pageCounts.getOrElse(adjustedPage, 0)
          pageCounts(adjustedPage) = position + 1
          val key = FragmentClusterKey(adjustedPage, position)
          clusters(key) = clusters.getOrElse(key, Nil) :+ ((fragment, doc))
        }
      }
    }
    clusters
  }

  /** zip_longest(*tables) — table i of each doc paired positionally (J2). */
  def zipLongestTables(docs: List[TableDoc]): List[List[Option[TableData]]] = {
    val max = if (docs.isEmpty) 0 else docs.map(_.tables.size).max
    (0 until max).toList.map(i => docs.map(d => d.tables.lift(i)))
  }

  def merge(
      docs: List[TableDoc],
      pageOffsets: Option[List[Int]] = None,
      agreement: Agreement = SimpleCountAgreement,
      columnAgreement: Boolean = false,
      analyzers: List[MergeTimeAnalyzer] = Nil): TableDoc = {
    require(docs.nonEmpty, "Must pass at least TablesFile element")
    val offsets = pageOffsets.getOrElse(List.fill(docs.size)(0))

    val mergedTables = zipLongestTables(docs).map { tablesCluster =>
      val clusters = makeFragmentsClusters(tablesCluster, docs, offsets)
      val mergedFragments = clusters.toList.sortBy(_._1).map { case (_, mergeTargets) =>
        val (leftFragment0, leftDoc) = mergeTargets.head
        val firstRight = mergeTargets.tail.headOption.map(_._1)
        val mapping = ColumnsAligner.mergeTimeMapping(leftFragment0, firstRight, analyzers)
        val leftFragment = leftFragment0.copy(
          rows = leftFragment0.rows.map(ColumnsAligner.renameRow(mapping, _)))

        val builder = new TableFragmentBuilder(leftFragment, leftDoc.uuid, agreement, columnAgreement)

        mergeTargets.tail.foreach { case (rightFragment, rightDoc) =>
          val rightUuid = rightDoc.uuid
          val rightRows = rightFragment.rows.zipWithIndex.map { case (r, i) =>
            ColumnsAligner.renameRow(mapping, r).copy(rowIdx = Some(i))
          }.toVector
          val leftRows = builder.nextLeftRows()
          var rightIdx = 0

          leftRows.foreach { leftRow =>
            while (rightIdx < rightRows.length &&
              rightRows(rightIdx).rowIdx.getOrElse(0) < leftRow.rowIdx.getOrElse(0)) {
              builder.appendSkipped(List(rightRows(rightIdx)), rightUuid)
              rightIdx += 1
            }
            if (rightIdx < rightRows.length &&
              rightRows(rightIdx).rowIdx == leftRow.rowIdx &&
              sameRow(leftRow, rightRows(rightIdx))) {
              val rightRow = rightRows(rightIdx).copy(sources = rightUuid.map(List(_)))
              builder.mergeAndAppend(leftRow, rightRow)
              rightIdx += 1
            } else {
              builder.appendUnmatched(leftRow)
            }
          }
          builder.appendSkipped(rightRows.drop(rightIdx).toList, rightUuid)
        }
        builder.build()
      }
      TableData(mergedFragments)
    }

    TableDoc(mergedTables, docs.head.normalizedCitation)
  }
}
