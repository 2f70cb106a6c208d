package graft.stats

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.merge.MergedDoc

/** Per-document stats row — reference parity with PaperStats
  * (/root/reference/src/tablestats/stats.py:8-33,138-193).
  */
final case class PaperStatsRow(
    doc_id: String,
    tables: Long,
    fragments: Long,
    rows: Long,
    unique_rows: Long,
    columns: Long,
    rows_with_agreement: Long,
    empty_rows: Long,
    rows_in_shared_groups: Long,
    rows_with_shared_values: Long)

/** Global roll-up counters with the reference's derived percentages
  * (/root/reference/src/tablestats/stats.py:37-66,113-135): percentages are
  * None (omitted from the report) until their denominators are non-zero.
  */
final case class GlobalStatsRow(
    papers: Long,
    tables: Long,
    fragments: Long,
    rows: Long,
    unique_rows: Long,
    rows_with_agreement: Long,
    rows_in_shared_groups: Long,
    rows_with_shared_values: Long) {
  def globalAgreementPercentage: Option[Double] =
    if (rows > 0) Some(rows_with_agreement.toDouble / rows * 100) else None
  def globalSharedValuesPercentage: Option[Double] =
    if (rows_in_shared_groups > 0)
      Some(rows_with_shared_values.toDouble / rows_in_shared_groups * 100)
    else None
}

object GlobalStatsRow {
  /** update_papers_stats accumulation (stats.py:113-135) over per-doc rows. */
  def accumulate(perDoc: Seq[PaperStatsRow]): GlobalStatsRow =
    GlobalStatsRow(
      papers = perDoc.size.toLong,
      tables = perDoc.map(_.tables).sum,
      fragments = perDoc.map(_.fragments).sum,
      rows = perDoc.map(_.rows).sum,
      unique_rows = perDoc.map(_.unique_rows).sum,
      rows_with_agreement = perDoc.map(_.rows_with_agreement).sum,
      rows_in_shared_groups = perDoc.map(_.rows_in_shared_groups).sum,
      rows_with_shared_values = perDoc.map(_.rows_with_shared_values).sum)
}

object Stats {

  /** row_value_strings — stats.py:69-83: set of (col, stripped value) pairs. */
  def rowValueStrings(row: RowData): Set[(String, String)] = {
    val result = scala.collection.mutable.HashSet.empty[(String, String)]
    row.columns.foreach { case (col, value) =>
      value match {
        case Cell.Null =>
        case Cell.Str(s) =>
          val n = Text.pyStrip(s)
          if (n.nonEmpty) result += ((col, n))
        case Cell.Multi(vs) =>
          vs.foreach { v =>
            val n = Text.pyStrip(v.value)
            if (n.nonEmpty) result += ((col, n))
          }
      }
    }
    result.toSet
  }

  /** count_shared_values — stats.py:86-111 (doc-local; groups are tiny). */
  def countSharedValues(tables: List[TableData]): (Long, Long) = {
    var rowsInGroups = 0L
    var rowsWithShared = 0L
    tables.foreach { table =>
      val allRows = table.fragments.flatMap(_.rows).filter(_.rowIdx.nonEmpty)
      val groups = scala.collection.mutable.LinkedHashMap.empty[Int, List[RowData]]
      allRows.foreach(r => groups(r.rowIdx.get) = groups.getOrElse(r.rowIdx.get, Nil) :+ r)
      groups.values.foreach { group =>
        if (group.size >= 2) {
          rowsInGroups += group.size
          val valueSets = group.map(rowValueStrings)
          valueSets.indices.foreach { i =>
            if (valueSets.indices.exists(j => j != i && (valueSets(i) & valueSets(j)).nonEmpty))
              rowsWithShared += 1
          }
        }
      }
    }
    (rowsInGroups, rowsWithShared)
  }

  /** compute_paper_stats — stats.py:138-193, doc-local. */
  def paperStats(docId: String, doc: TableDoc): PaperStatsRow = {
    val tables = doc.tables
    val allFragments = tables.flatMap(_.fragments)
    val rowsCount = allFragments.map(_.rows.size.toLong).sum
    val uniqueRows = tables.map(_.fragments.flatMap(_.rows).flatMap(_.rowIdx).toSet.size.toLong).sum
    val rowsWithAgreement = allFragments.map(_.rows.count(_.agreementLevel.getOrElse(0) > 1).toLong).sum
    val emptyRows = allFragments.map(_.rows.count(_.isEmpty).toLong).sum
    val uniqueColumns = allFragments.flatMap(_.rows.flatMap(_.columnNames)).toSet.size.toLong
    val (inGroups, withShared) = countSharedValues(tables)
    PaperStatsRow(docId, tables.size.toLong, allFragments.size.toLong, rowsCount,
      uniqueRows, uniqueColumns, rowsWithAgreement, emptyRows, inGroups, withShared)
  }

  /** Per-doc stats as a narrow map over merged docs (no shuffle). */
  def perDocStats(spark: SparkSession, merged: Dataset[MergedDoc]): Dataset[PaperStatsRow] = {
    import spark.implicits._
    merged.map { m =>
      paperStats(m.doc_id, TableDoc.fromJsonString(m.merged_json))
    }
  }

  /** Global roll-up (stats.py:114-135 + __main__.py:17-35) as a single
    * DataFrame aggregation — the only wide edge, over tiny per-doc rows.
    */
  def globalStats(perDoc: DataFrame): DataFrame = {
    perDoc.agg(
      count(lit(1)).as("papers"),
      sum("tables").as("tables"),
      sum("fragments").as("fragments"),
      sum("rows").as("rows"),
      sum("unique_rows").as("unique_rows"),
      sum("rows_with_agreement").as("rows_with_agreement"),
      sum("rows_in_shared_groups").as("rows_in_shared_groups"),
      sum("rows_with_shared_values").as("rows_with_shared_values"))
      .withColumn("global_agreement_percentage",
        when(col("rows") > 0, col("rows_with_agreement") / col("rows") * 100))
      .withColumn("global_shared_values_percentage",
        when(col("rows_in_shared_groups") > 0,
          col("rows_with_shared_values") / col("rows_in_shared_groups") * 100))
  }

  /** O3 `--sort`: order per-doc stats by table count asc/desc
    * (tablestats __main__.py:38-47). doc_id is the deterministic tiebreak —
    * the reference's OrderedDict sort is stable on glob order, which has no
    * distributed analog; a total order keeps output byte-stable.
    */
  def sortStats(perDoc: DataFrame, mode: String): DataFrame = mode match {
    case "none" => perDoc
    case "asc" => perDoc.orderBy(col("tables").asc, col("doc_id").asc)
    case "desc" => perDoc.orderBy(col("tables").desc, col("doc_id").asc)
    case other => throw new IllegalArgumentException(s"sort mode $other (none|asc|desc)")
  }

  /** O3 `--empty`: documents that produced no tables
    * (tablestats __main__.py:174-184). Runs on the EXTRACTION output —
    * merged resultsets never materialize 0-table docs (F18 empty-file
    * guard), exactly like the reference never writes an all-empty merge.
    */
  def emptyPapers(extracted: DataFrame): DataFrame =
    extracted.filter(col("n_tables") === 0).select(col("url"))

  /** G8 column-type inference query: semantic columns from each table's
    * first row with their inferred type, rolled up per column name.
    */
  def columnTypes(spark: SparkSession, merged: Dataset[MergedDoc]): DataFrame = {
    import spark.implicits._
    merged.flatMap { m =>
      val doc = TableDoc.fromJsonString(m.merged_json)
      for {
        table <- doc.tables
        // first NON-empty fragment per table (__main__.py:78-80 continue+break)
        firstRow <- table.fragments.find(_.rows.nonEmpty).flatMap(_.rows.headOption).toList
        (col, cell) <- firstRow.semanticColumns
        value <- cell.strings.headOption.toList
      } yield (col, inferColumnType(value))
    }.toDF("column_name", "inferred_type")
      .groupBy(col("column_name"), col("inferred_type"))
      .agg(count(lit(1)).as("n_tables"))
  }

  /** Per-paper derived percentages (stats.py:172-179): (agreement,
    * empty-rows, shared-values); None while the denominator is zero.
    */
  def paperPercentages(p: PaperStatsRow): (Option[Double], Option[Double], Option[Double]) = {
    val agree =
      if (p.rows > 0) Some(p.rows_with_agreement.toDouble / p.rows * 100) else None
    val empty =
      if (p.rows > 0) Some(p.empty_rows.toDouble / p.rows * 100) else None
    val shared =
      if (p.rows_in_shared_groups > 0)
        Some(p.rows_with_shared_values.toDouble / p.rows_in_shared_groups * 100)
      else None
    (agree, empty, shared)
  }

  /** collect_unique_columns (tablestats __main__.py:73-87): first NON-EMPTY
    * fragment per table contributes its first row's semantic columns;
    * first type encountered wins per column name, in the given doc order
    * (the reference depends on filesystem glob order — callers must pass a
    * deterministic order; the distributed roll-up is [[columnTypes]]).
    */
  def uniqueColumns(docs: Seq[TableDoc]): scala.collection.immutable.ListMap[String, String] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, String]
    for {
      doc <- docs
      table <- doc.tables
      firstRow <- table.fragments.find(_.rows.nonEmpty).flatMap(_.rows.headOption).toList
      (name, cell) <- firstRow.semanticColumns
    } {
      if (!acc.contains(name))
        acc(name) = inferColumnType(cell.strings.headOption.getOrElse(""))
    }
    scala.collection.immutable.ListMap.from(acc)
  }

  /** format_stats (tablestats __main__.py:122-166) — the reference's stdout
    * report, line-for-line: global counters, optional percentages (omitted
    * while None), per-paper blocks in the given order, optional sorted
    * unique-column list.
    */
  private def globalLines(global: GlobalStatsRow): Seq[String] = {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += "Global Stats:"
    lines += s"  Papers: ${global.papers}"
    lines += s"  Tables: ${global.tables}"
    lines += s"  Fragments: ${global.fragments}"
    lines += s"  Rows: ${global.rows}"
    lines += s"  Unique rows: ${global.unique_rows}"
    lines += s"  Rows with agreement > 1: ${global.rows_with_agreement}"
    global.globalAgreementPercentage.foreach(p =>
      lines += s"  Global agreement percentage: ${py2f(p)}%")
    global.globalSharedValuesPercentage.foreach(p =>
      lines += s"  Global shared values percentage: ${py2f(p)}%")
    lines += ""
    lines += "Per-Paper Stats:"
    lines.toSeq
  }

  private def paperBlock(ps: PaperStatsRow): Seq[String] = {
    val (agree, empty, shared) = paperPercentages(ps)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    lines += s"- ${ps.doc_id}:"
    lines += s"    Tables: ${ps.tables}"
    lines += s"    Fragments: ${ps.fragments}"
    lines += s"    Rows: ${ps.rows}"
    lines += s"    Unique rows: ${ps.unique_rows}"
    lines += s"    Columns: ${ps.columns}"
    lines += s"    Rows with agreement > 1: ${ps.rows_with_agreement}"
    agree.foreach(p => lines += s"    Agreement percentage: ${py2f(p)}%")
    empty.foreach(p => lines += s"    Empty rows percentage: ${py2f(p)}%")
    shared.foreach(p => lines += s"    Shared values percentage: ${py2f(p)}%")
    lines.toSeq
  }

  /** CPython f"{p:.2f}" parity: correctly-rounded HALF_EVEN applied to the
    * EXACT binary value of the double (what CPython's dtoa does). Java's
    * f"%.2f" rounds HALF_UP instead, diverging at exactly-representable
    * half values: 12.125 → Python '12.12' / Java '12.13'. Reference report
    * format: src/paper2table/stats.py f-strings.
    */
  private[stats] def py2f(p: Double): String =
    new java.math.BigDecimal(p)
      .setScale(2, java.math.RoundingMode.HALF_EVEN).toPlainString

  private def columnLines(cols: Map[String, String]): Seq[String] =
    "" +: "Unique Columns:" +: cols.toSeq.sortBy(_._1).map { case (n, t) => s"$n:$t" }

  def formatStats(
      global: GlobalStatsRow,
      perPaper: Seq[PaperStatsRow],
      columns: Option[Map[String, String]] = None): String =
    (globalLines(global) ++ perPaper.flatMap(paperBlock) ++
      columns.toSeq.flatMap(columnLines)).mkString("\n")

  /** The CLI report AT CORPUS SCALE: global counters from one distributed
    * aggregation, per-paper blocks streamed through `toLocalIterator` after
    * a distributed sort — driver memory stays one row at a time regardless
    * of paper count (the reference materializes every paper in an
    * OrderedDict, fine for a directory, not for 10^12 docs).
    */
  def writeReport(
      spark: SparkSession,
      perDoc: Dataset[PaperStatsRow],
      writer: java.io.Writer,
      sortMode: String = "none",
      columns: Option[Map[String, String]] = None): Unit = {
    import spark.implicits._
    // two actions (global agg + sorted stream) read perDoc: persist it so
    // the per-doc stats pass over the corpus runs once, not twice
    val cached = perDoc.persist()
    try {
      writeReportCached(spark, cached, writer, sortMode, columns)
    } finally {
      cached.unpersist()
      ()
    }
  }

  private def writeReportCached(
      spark: SparkSession,
      perDoc: Dataset[PaperStatsRow],
      writer: java.io.Writer,
      sortMode: String,
      columns: Option[Map[String, String]]): Unit = {
    import spark.implicits._
    val g = globalStats(perDoc.toDF).collect().head
    val global = GlobalStatsRow(
      papers = g.getAs[Long]("papers"),
      tables = g.getAs[Long]("tables"),
      fragments = g.getAs[Long]("fragments"),
      rows = g.getAs[Long]("rows"),
      unique_rows = g.getAs[Long]("unique_rows"),
      rows_with_agreement = g.getAs[Long]("rows_with_agreement"),
      rows_in_shared_groups = g.getAs[Long]("rows_in_shared_groups"),
      rows_with_shared_values = g.getAs[Long]("rows_with_shared_values"))
    globalLines(global).foreach(l => writer.write(l + "\n"))
    val ordered = sortStats(perDoc.toDF, sortMode).as[PaperStatsRow]
    val it = ordered.toLocalIterator()
    while (it.hasNext) paperBlock(it.next()).foreach(l => writer.write(l + "\n"))
    columns.foreach(cols => columnLines(cols).foreach(l => writer.write(l + "\n")))
  }

  /** CPython int() literal acceptance: sign + decimal digits (any Unicode
    * Nd digit, as int() accepts) with single underscores between digits
    * (input pre-stripped).
    */
  private val PyIntRe = "^[+-]?\\p{Nd}(?:_?\\p{Nd})*$".r
  def pythonParseIntOk(s: String): Boolean = PyIntRe.matches(s)

  /** G8 column-type inference — reference parity with tablestats
    * __main__.py:55-70: bool iff the stripped lowercase value is exactly
    * "true"/"false"; int iff CPython int() accepts it (so "0"/"1" are int,
    * not bool, and "1e3"/"45.2" fall through to float); else float via
    * CPython float(); else str.
    */
  def inferColumnType(value: String): String = {
    val stripped = Text.pyStrip(value)
    val lowered = Text.pyLower(stripped)
    if (lowered == "true" || lowered == "false") "bool"
    else if (pythonParseIntOk(stripped)) "int"
    else if (Text.pythonParseFloat(stripped).isDefined) "float"
    else "str"
  }
}
