package graft.merge

import graft.core._

/** Column-alignment analyzers — reference parity with
  * /root/reference/src/tablemerge/analyzers.py. Mappings use LinkedHashMap
  * to preserve python-dict insertion order (the aligner chain reads
  * `accumulated.values()` in order).
  */
object Analyzers {
  val RemoveColumn = "<remove>"

  type Mapping = scala.collection.mutable.LinkedHashMap[String, String]
  def emptyMapping: Mapping = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** analyzers.py:23-40 */
  def renamableSourceColumns(columns: List[String], schema: Option[ColumnSchema]): List[String] =
    schema match {
      case Some(sc) => columns.filterNot(sc.contains)
      case None => columns.filterNot(Text.isSemanticColumn)
    }

  def renamableTargetColumns(columns: List[String], schema: Option[ColumnSchema]): List[String] =
    schema match {
      case Some(sc) => columns.filter(sc.contains)
      case None => columns.filter(Text.isSemanticColumn)
    }

  /** The side a merge-time analyzer renames: the right fragment's renamable
    * source columns onto the left's target columns when only the right has
    * sources, the mirror case when only the left has them, else neither.
    * Returns (source columns, source rows, target columns, target rows).
    */
  def sourceAndTarget(
      leftColumnNames: List[String], rightColumnNames: List[String],
      leftRows: List[RowData], rightRows: List[RowData],
      schema: Option[ColumnSchema]): Option[(List[String], List[RowData], List[String], List[RowData])] = {
    val leftSources = renamableSourceColumns(leftColumnNames, schema)
    val rightSources = renamableSourceColumns(rightColumnNames, schema)
    val leftTargets = renamableTargetColumns(leftColumnNames, schema)
    val rightTargets = renamableTargetColumns(rightColumnNames, schema)
    if (rightSources.nonEmpty && leftTargets.nonEmpty && leftSources.isEmpty)
      Some((rightSources, rightRows, leftTargets, leftRows))
    else if (leftSources.nonEmpty && rightTargets.nonEmpty && rightSources.isEmpty)
      Some((leftSources, leftRows, rightTargets, rightRows))
    else None
  }

  /** The values a semantic analyzer scores a column by (analyzers.py:232-243):
    * a scalar stripped, a multi-value cell's FIRST entry stripped; null and
    * blank values skipped.
    */
  def sampleValues(rows: List[RowData], columnName: String): List[String] =
    rows.flatMap { row =>
      row.get(columnName) match {
        case None | Some(Cell.Null) => None
        case Some(Cell.Str(s)) => Some(Text.pyStrip(s)).filter(_.nonEmpty)
        case Some(Cell.Multi(vs)) =>
          vs.headOption.map(v => Text.pyStrip(v.value)).filter(_.nonEmpty)
      }
    }

  /** Greedy 1-1 assignment by descending score; python's sort is stable so
    * ties keep generation order (analyzers.py:207-225).
    */
  def greedyAssignment(scores: List[(Double, String, String)]): Mapping = {
    val sorted = scores.sortBy(-_._1) // stable
    val mapping = emptyMapping
    val usedTargets = scala.collection.mutable.HashSet.empty[String]
    sorted.foreach { case (_, source, target) =>
      if (!mapping.contains(source) && !usedTargets.contains(target)) {
        mapping(source) = target
        usedTargets += target
      }
    }
    mapping
  }
}

/** User column schema (utils/column_schema.py:22-71). */
final case class ColumnSchema(columns: Vector[(String, Text.ColType)]) {
  private val byName = columns.toMap
  def contains(name: String): Boolean = byName.contains(name)
  def columnNames: List[String] = columns.map(_._1).toList
  def columnType(name: String): Text.ColType = byName(name)
  def nonEmpty: Boolean = columns.nonEmpty

  /** Settings-dict form, ordered — column_schema.py:41-42. */
  def serialize: Vector[(String, String)] =
    columns.map { case (n, t) => (n, Text.ColType.name(t)) }
}

object ColumnSchema {
  def parse(schemaStr: String): ColumnSchema = {
    val cols = Vector.newBuilder[(String, Text.ColType)]
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Text.ColType]
    Text.tokenizeSchema(schemaStr).foreach { part =>
      val i = part.indexOf(':')
      require(i >= 0, s"Invalid field specifier: $part. Verify your schema")
      val name = part.substring(0, i)
      val typeStr = part.substring(i + 1)
      val t = Text.ColType.parse(typeStr)
        .getOrElse(throw new IllegalArgumentException(s"Unsupported type: $typeStr. Verify your schema"))
      seen(name) = t // dict semantics: later duplicate overrides, keeps position
    }
    cols ++= seen
    ColumnSchema(cols.result())
  }

  /** column_schema.py:59-63 — empty dict means "no schema". */
  def fromSettingsDict(d: Seq[(String, String)]): Option[ColumnSchema] =
    if (d.isEmpty) None
    else Some(parse(d.map { case (k, v) => s"$k:$v" }.mkString(",")))
}

trait LoadTimeAnalyzer {
  def buildMapping(columnNames: List[String], rows: List[RowData]): Analyzers.Mapping
}

trait MergeTimeAnalyzer {
  def buildMapping(
      leftColumnNames: List[String], rightColumnNames: List[String],
      leftRows: List[RowData], rightRows: List[RowData]): Analyzers.Mapping
}

/** Always-on column-name normalizer — analyzers.py:105-121 */
object ColumnNamesNormalizerAnalyzer extends LoadTimeAnalyzer {
  def buildMapping(columnNames: List[String], rows: List[RowData]): Analyzers.Mapping = {
    val m = Analyzers.emptyMapping
    columnNames.foreach { col =>
      val n = Text.normalizeColumnName(col)
      if (n != col) m(col) = n
    }
    m
  }
}

/** analyzers.py:56-102 */
final class HintsLoadTimeAnalyzer(hints: List[String], safe: Boolean = true) extends LoadTimeAnalyzer {
  def buildMapping(columnNames: List[String], rows: List[RowData]): Analyzers.Mapping = {
    val candidates =
      if (safe) columnNames.filterNot(Text.isSemanticColumn)
      else columnNames
    if (candidates.isEmpty) return Analyzers.emptyMapping
    rows.find(!_.isEmpty) match {
      case None => Analyzers.emptyMapping
      case Some(firstRow) =>
        val rowValues = normalizedValues(firstRow, candidates)
        val hintsSet = hints.toSet
        if (!rowValues.values.exists(hintsSet.contains)) Analyzers.emptyMapping
        else rowValues
    }
  }

  private def normalizedValues(row: RowData, columns: List[String]): Analyzers.Mapping = {
    val result = Analyzers.emptyMapping
    columns.foreach { column =>
      row.get(column).foreach { v =>
        if (v != Cell.Null) {
          val strings = v.strings.map(Text.pyStrip).filter(_.nonEmpty)
          strings.headOption.foreach(s => result(column) = Text.normalizeColumnName(s))
        }
      }
    }
    result
  }
}

/** analyzers.py:124-150 */
final class AliasLoadTimeAnalyzer(aliases: Vector[(String, String)]) extends LoadTimeAnalyzer {
  def buildMapping(columnNames: List[String], rows: List[RowData]): Analyzers.Mapping = {
    val allColumns = columnNames.distinct // dict.fromkeys order-preserving dedup
    val normalizedAliases = {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
      aliases.foreach { case (k, v) => m(Text.normalizeColumnName(k)) = v }
      m
    }
    val out = Analyzers.emptyMapping
    allColumns.foreach { column =>
      normalizedAliases.get(Text.normalizeColumnName(column)).foreach(out(column) = _)
    }
    out
  }
}

/** analyzers.py:153-258 — deterministic scorer instead of spaCy. */
final class ColumnNameSemanticLoadTimeAnalyzer(
    threshold: Double = 0.5,
    schema: Option[ColumnSchema] = None) extends LoadTimeAnalyzer {

  def buildMapping(columnNames: List[String], rows: List[RowData]): Analyzers.Mapping = {
    schema match {
      case None => Analyzers.emptyMapping
      case Some(sc) if !sc.nonEmpty => Analyzers.emptyMapping
      case Some(sc) =>
        val candidates = Analyzers.renamableSourceColumns(columnNames, schema)
        if (candidates.isEmpty) return Analyzers.emptyMapping
        val schemaColumns = sc.columnNames
        val scores = List.newBuilder[(Double, String, String)]
        candidates.foreach { candidate =>
          val values = Analyzers.sampleValues(rows, candidate)
          if (values.nonEmpty) {
            val columnNameScore: Option[Double] =
              if (Text.isSemanticColumn(candidate))
                Some(SemanticScorer.semanticScore(values, candidate))
              else None
            schemaColumns.foreach { schemaColumn =>
              val score = SemanticScorer.semanticScore(values, schemaColumn)
              if (score >= threshold && !columnNameScore.exists(_ >= score)) {
                scores += ((score, candidate, schemaColumn))
              }
            }
          }
        }
        Analyzers.greedyAssignment(scores.result())
    }
  }
}

/** analyzers.py:276-355 */
final class JaccardMergeTimeAnalyzer(
    threshold: Double = 0.5,
    schema: Option[ColumnSchema] = None) extends MergeTimeAnalyzer {

  def buildMapping(
      leftColumnNames: List[String], rightColumnNames: List[String],
      leftRows: List[RowData], rightRows: List[RowData]): Analyzers.Mapping =
    Analyzers.sourceAndTarget(leftColumnNames, rightColumnNames, leftRows, rightRows, schema) match {
      case None => Analyzers.emptyMapping
      case Some((sourceColumns, sourceRows, targetColumns, targetRows)) =>
        val sourceSets = sourceColumns.map(c => c -> columnValueSet(sourceRows, c)).toMap
        val targetSets = targetColumns.map(c => c -> columnValueSet(targetRows, c)).toMap
        val scores = for {
          source <- sourceColumns
          target <- targetColumns
          j = jaccard(sourceSets(source), targetSets(target))
          if j >= threshold
        } yield (j, source, target)
        // analyzers.py:320-333: sort then same greedy loop
        Analyzers.greedyAssignment(scores)
    }

  /** analyzers.py:335-343: unidecode(re.sub(r"\s+"," ", v.strip()).lower()) */
  private def normalizeValue(v: String): String = Text.jaccardNormalizeValue(v)

  private def columnValueSet(rows: List[RowData], column: String): Set[String] = {
    val result = scala.collection.mutable.HashSet.empty[String]
    rows.foreach { row =>
      row.get(column) match {
        case None | Some(Cell.Null) =>
        case Some(c) => c.strings.foreach(s => result += normalizeValue(s))
      }
    }
    result.toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val union = (a | b).size
    if (union == 0) 0.0 else (a & b).size.toDouble / union
  }
}

/** analyzers.py:358-458 */
final class ColumnValueSemanticMergeTimeAnalyzer(
    threshold: Double = 0.5,
    schema: Option[ColumnSchema] = None) extends MergeTimeAnalyzer {

  def buildMapping(
      leftColumnNames: List[String], rightColumnNames: List[String],
      leftRows: List[RowData], rightRows: List[RowData]): Analyzers.Mapping =
    Analyzers.sourceAndTarget(leftColumnNames, rightColumnNames, leftRows, rightRows, schema) match {
      case None => Analyzers.emptyMapping
      case Some((sourceColumns, sourceRows, targetColumns, _)) =>
        val scores = List.newBuilder[(Double, String, String)]
        sourceColumns.foreach { sourceColumn =>
          val values = Analyzers.sampleValues(sourceRows, sourceColumn)
          if (values.nonEmpty) {
            targetColumns.foreach { targetColumn =>
              val score = SemanticScorer.semanticScore(values, targetColumn)
              if (score >= threshold) scores += ((score, sourceColumn, targetColumn))
            }
          }
        }
        Analyzers.greedyAssignment(scores.result())
    }
}
