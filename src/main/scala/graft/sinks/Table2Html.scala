package graft.sinks

import graft.core._
import graft.core.JVal._

/** Full-parity port of the reference's static HTML viewer
  * (K5 — /root/reference/src/table2html/__main__.py:35-447): TOC, metadata /
  * settings tables, per-paper sources, fragment tables with reserved-column
  * ordering (row_, agreement_level_, common, extra, readers_, sources_),
  * same-row_ per-column rowspan compaction (W4), agreement color classes,
  * and the row_ palette. This is the engine's one HTML viewer, held to the
  * byte-level contract the reference's table2html suite pins. Report sink
  * only — never on a perf path.
  */
object Table2Html {

  /** __main__.py:35-42 */
  def readerEmoji(reader: String): String =
    if (reader.isEmpty) ""
    else if (Set("pdfplumber", "camelot", "pymupdf").contains(reader)) "💻"
    else if (reader.startsWith("hybrid-")) "☯️"
    else "🤖"

  /** Python str() over a parsed-JSON value — the reference renders every
    * flattened value with str(v) (__main__.py:90-92,103-106), so numbers
    * normalize through Python's int/float ("4.50" → "4.5", "1e3" →
    * "1000.0") and nested containers render as Python reprs
    * ("{'curator': 'alice'}"), not as JSON.
    */
  private def jStr(v: JVal): String = v match {
    case JStr(s) => s
    case JNum(raw) => pyNum(raw)
    case JBool(b) => if (b) "True" else "False"
    case JNull => "None"
    case other => pyRepr(other)
  }

  /** json.load gives int for integer literals, float otherwise. JSON
    * forbids leading zeros and '+', so the only non-canonical int literal
    * is "-0" (Python: str(json.loads('-0')) == "0").
    */
  private def pyNum(raw: String): String =
    if (raw.matches("-?\\d+")) { if (raw == "-0") "0" else raw }
    else graft.core.Text.pyFloatRepr(raw.toDouble)

  /** Python repr() for values nested inside containers (strings quoted). */
  private def pyRepr(v: JVal): String = v match {
    case JStr(s) => pyStrRepr(s)
    case JNum(raw) => pyNum(raw)
    case JBool(b) => if (b) "True" else "False"
    case JNull => "None"
    case JObj(fields) =>
      fields.map { case (k, x) => s"${pyStrRepr(k)}: ${pyRepr(x)}" }
        .mkString("{", ", ", "}")
    case JArr(items) => items.map(pyRepr).mkString("[", ", ", "]")
  }

  /** Python string repr: single quotes, double quotes only when the string
    * contains ' but no "; backslashes, the delimiter, and non-printables
    * escaped (\n \r \t named, other controls + DEL as \xNN like CPython —
    * raw control bytes must never reach the HTML).
    */
  private def pyStrRepr(s: String): String = {
    val hasSingle = s.contains('\'')
    val quote = if (hasSingle && !s.contains('"')) '"' else '\''
    val sb = new java.lang.StringBuilder(s.length + 2)
    sb.append(quote)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c == quote => sb.append('\\').append(quote)
      case c if c < 0x20 || c == 0x7f => sb.append(f"\\x${c.toInt}%02x")
      case c => sb.append(c)
    }
    sb.append(quote)
    sb.toString
  }

  /** __main__.py:45-50 */
  def sourceCell(source: JObj, key: String): String = {
    val value = source.get(key).map(jStr).getOrElse("")
    if (key == "uuid") {
      val emoji = readerEmoji(source.get("reader").map(jStr).getOrElse(""))
      if (emoji.nonEmpty) s"$emoji $value" else value
    } else value
  }

  /** __main__.py:53-58 */
  def renderCitation(citation: Cell): String = citation match {
    case Cell.Null => ""
    case Cell.Str(s) => s
    case Cell.Multi(vs) => vs.map(_.value).mkString(", ")
  }

  /** __main__.py:61-81 */
  def buildToc(papers: Seq[(String, TableDoc)]): List[String] = {
    val html = List.newBuilder[String]
    html += "<nav id=\"toc\">"
    html += "<div id=\"toc-inner\">"
    html += "<b>Contents</b>"
    html += "<ul>"
    papers.zipWithIndex.foreach { case ((paperName, content), paperI) =>
      html += s"""<li><a href="#paper-$paperI">$paperName</a>"""
      val fragments = content.tables.zipWithIndex.flatMap { case (t, i) =>
        t.fragments.map(f => (i + 1, f))
      }
      if (fragments.nonEmpty) {
        html += "<ul>"
        fragments.foreach { case (idx, fragment) =>
          val fragId = s"paper-$paperI-table-$idx-page-${fragment.page}"
          html += s"""<li><a href="#$fragId">Table $idx, p.&nbsp;${fragment.page}</a></li>"""
        }
        html += "</ul>"
      }
      html += "</li>"
    }
    html += "</ul>"
    html += "</div>"
    html += "</nav>"
    html.result()
  }

  /** __main__.py:84-92 — nested dicts flatten to dotted keys, lists join. */
  def flattenDict(data: JObj, prefix: String, rows: scala.collection.mutable.ListBuffer[(String, String)]): Unit =
    data.fields.foreach { case (key, value) =>
      val fullKey = if (prefix.nonEmpty) s"$prefix.$key" else key
      value match {
        case o: JObj => flattenDict(o, fullKey, rows)
        case JArr(items) => rows += ((fullKey, items.map(jStr).mkString(", ")))
        case other => rows += ((fullKey, jStr(other)))
      }
    }

  /** __main__.py:95-106 — note the reference flattens a top-level dict value
    * with an EMPTY prefix (children appear as bare keys); kept faithfully.
    */
  def flattenMetadataRows(metadata: JObj): List[(String, String)] = {
    val rows = scala.collection.mutable.ListBuffer.empty[(String, String)]
    metadata.fields.foreach { case (key, value) =>
      if (!Set("sources", "settings", "agreement_method").contains(key)) {
        value match {
          case o: JObj => flattenDict(o, "", rows)
          case JArr(items) => rows += ((key, items.map(jStr).mkString(", ")))
          case other => rows += ((key, jStr(other)))
        }
      }
    }
    rows.toList
  }

  /** __main__.py:109-118 */
  def buildSettingsHtml(settings: JObj): List[String] = {
    val html = List.newBuilder[String]
    html += "<h2>Settings</h2>"
    val rows = scala.collection.mutable.ListBuffer.empty[(String, String)]
    flattenDict(settings, "", rows)
    if (rows.nonEmpty) {
      html += "<div class='table-wrapper'><table class='table metadata-table'>"
      rows.foreach { case (key, value) =>
        html += s"<tr><th>$key</th><td>${value.replace("\n", "<br>")}</td></tr>"
      }
      html += "</table></div>"
    }
    html.result()
  }

  private def sourceKeys(sources: Vector[JObj]): List[String] = {
    val allKeys = sources.flatMap(_.fields.map(_._1)).toSet
    val preferred = List("uuid", "reader", "path")
    preferred.filter(allKeys.contains) ++ (allKeys -- preferred).toList.sorted
  }

  /** __main__.py:121-146 */
  def buildMetadataHtml(metadata: JObj): List[String] = {
    val html = List.newBuilder[String]
    html += "<h2>Metadata</h2>"
    val rows = flattenMetadataRows(metadata)
    if (rows.nonEmpty) {
      html += "<div class='table-wrapper'><table class='table metadata-table'>"
      rows.foreach { case (key, value) => html += s"<tr><th>$key</th><td>$value</td></tr>" }
      html += "</table></div>"
    }
    val sources = metadata.get("sources").collect { case JArr(items) => items.collect { case o: JObj => o } }.getOrElse(Vector.empty)
    if (sources.nonEmpty) {
      html += "<h3>Sources</h3>"
      val keys = sourceKeys(sources)
      html += "<div class='table-wrapper'><table class='table'>"
      html += "<tr>" + keys.map(k => s"<th>$k</th>").mkString + "</tr>"
      sources.foreach { source =>
        html += "<tr>" + keys.map(k => s"<td>${sourceCell(source, k)}</td>").mkString + "</tr>"
      }
      html += "</table></div>"
    }
    html.result()
  }

  private val RowPaletteSize = 5

  /** __main__.py:152-172 */
  def cellDisplayValue(row: RowData, col: String, uuidToReader: Map[String, String] = Map.empty): String =
    col match {
      case "row_" => row.rowIdx.map(_.toString).getOrElse("")
      case "agreement_level_" => row.agreementLevel.map(_.toString).getOrElse("")
      case "readers_" =>
        val sourceIds = row.sources.getOrElse(Nil)
        val seen = scala.collection.mutable.LinkedHashSet.empty[String]
        sourceIds.foreach(sid => uuidToReader.get(sid).foreach(seen += _))
        seen.mkString(", ")
      case "sources_" => row.sources.getOrElse(Nil).mkString(", ")
      case _ =>
        row.get(col) match {
          case Some(Cell.Multi(vs)) => vs.map(_.value).mkString(", ")
          case Some(Cell.Str(s)) => s
          case _ => ""
        }
    }

  /** __main__.py:175-206 — greedy per-column run-length over consecutive
    * rows that share the same row_ AND display value; agreement_level_
    * never merges; rows without a row_ never merge.
    */
  def computeRowspans(
      rows: List[RowData],
      columns: List[String],
      uuidToReader: Map[String, String] = Map.empty): Vector[Map[String, Int]] = {
    val n = rows.size
    val rv = rows.toVector
    val rowspans = Array.fill(n)(scala.collection.mutable.HashMap(columns.map(_ -> 1): _*))
    columns.foreach { col =>
      if (col != "agreement_level_") {
        var i = 0
        while (i < n) {
          if (rv(i).rowIdx.isEmpty) i += 1
          else {
            val rowNum = rv(i).rowIdx
            val value = cellDisplayValue(rv(i), col, uuidToReader)
            var span = 1
            var j = i + 1
            while (j < n && rv(j).rowIdx == rowNum &&
              cellDisplayValue(rv(j), col, uuidToReader) == value) {
              span += 1
              j += 1
            }
            if (span > 1) {
              rowspans(i)(col) = span
              ((i + 1) until (i + span)).foreach(k => rowspans(k)(col) = 0)
            }
            i += span
          }
        }
      }
    }
    rowspans.map(_.toMap).toVector
  }

  /** __main__.py:209-214 */
  def agreementCssClass(level: Int): String =
    if (level <= 1) "low" else if (level == 2) "medium" else "high"

  /** __main__.py:217-256 */
  def buildDataRow(
      row: RowData,
      columns: List[String],
      uuidToReader: Map[String, String] = Map.empty,
      rowRowspans: Map[String, Int] = Map.empty): List[String] = {
    val html = List.newBuilder[String]
    html += "<tr>"
    columns.foreach { col =>
      val span = rowRowspans.getOrElse(col, 1)
      if (span != 0) {
        val rowspanAttr = if (span > 1) s" rowspan='$span'" else ""
        col match {
          case "row_" =>
            val value = row.rowIdx.map(_.toString).getOrElse("")
            val rowClass = row.rowIdx.map(i => s" class='row-${i % RowPaletteSize}'").getOrElse("")
            html += s"<td$rowClass$rowspanAttr>$value</td>"
          case "agreement_level_" =>
            val value = row.agreementLevel.map(_.toString).getOrElse("")
            val cssClass = agreementCssClass(row.agreementLevel.getOrElse(0))
            html += s"<td class='$cssClass'$rowspanAttr>$value</td>"
          case _ =>
            html += s"<td$rowspanAttr>${cellDisplayValue(row, col, uuidToReader)}</td>"
        }
      }
    }
    html += "</tr>"
    html.result()
  }

  /** __main__.py:259-266 */
  def collectPaperSourceUuids(content: TableDoc): Set[String] =
    (for {
      table <- content.tables
      fragment <- table.fragments
      row <- fragment.rows
      uid <- row.sources.getOrElse(Nil)
    } yield uid).toSet

  /** __main__.py:269-288 */
  def buildPaperSourcesHtml(sources: Vector[JObj]): List[String] =
    if (sources.isEmpty) Nil
    else {
      val keys = sourceKeys(sources)
      val html = List.newBuilder[String]
      html += "<details class='paper-sources'>"
      html += s"<summary>Sources (${sources.size})</summary>"
      html += "<div class='table-wrapper'><table class='table'>"
      html += "<tr>" + keys.map(k => s"<th>$k</th>").mkString + "</tr>"
      sources.foreach { source =>
        html += "<tr>" + keys.map(k => s"<td>${sourceCell(source, k)}</td>").mkString + "</tr>"
      }
      html += "</table></div></details>"
      html.result()
    }

  /** __main__.py:291-332 — empty rows are hidden behind a legend; reserved
    * columns frame the data columns (common-first ordering).
    */
  def buildFragmentHtml(
      idx: Int,
      fragment: Fragment,
      uuidToReader: Map[String, String] = Map.empty,
      anchorId: Option[String] = None): List[String] = {
    val idAttr = anchorId.map(a => s""" id="$a"""").getOrElse("")
    val html = List.newBuilder[String]
    html += s"<h4$idAttr>Table $idx, page ${fragment.page}</h4>"
    val allRows = fragment.rows
    val rows = allRows.filterNot(_.isEmpty)
    val skipped = allRows.size - rows.size
    if (rows.isEmpty) {
      html += "<p><i>No rows</i></p>"
      if (skipped > 0) html += s"<p><i>($skipped empty rows not shown)</i></p>"
      html.result()
    } else {
      val hasRowNumbers = rows.exists(_.rowIdx.isDefined)
      val hasAgreement = rows.exists(_.agreementLevel.isDefined)
      val hasSources = rows.exists(_.sources.isDefined)
      val allColNames = RowData.columnNames(rows)
      val rowColSets = rows.map(_.columnNames.toSet)
      val commonCols = allColNames.filter(c => rowColSets.forall(_.contains(c)))
      val extraCols = allColNames.filterNot(commonCols.contains)
      val columns = List.newBuilder[String]
      if (hasRowNumbers) columns += "row_"
      if (hasAgreement) columns += "agreement_level_"
      columns ++= commonCols
      columns ++= extraCols
      if (hasSources) { columns += "readers_"; columns += "sources_" }
      val cols = columns.result()
      html += "<div class='table-wrapper'><table class='table'>"
      html += "<tr>" + cols.map(c => s"<th>$c</th>").mkString + "</tr>"
      val allRowspans = computeRowspans(rows, cols, uuidToReader)
      rows.zip(allRowspans).foreach { case (row, spans) =>
        html ++= buildDataRow(row, cols, uuidToReader, spans)
      }
      html += "</table></div>"
      if (skipped > 0) html += s"<p><i>($skipped empty rows not shown)</i></p>"
      html.result()
    }
  }

  /** __main__.py:365-399 */
  def buildCss(): List[String] = List(
    "* { box-sizing: border-box; }",
    "body { font-family: Arial, sans-serif; display: flex; align-items: flex-start; margin: 0; }",
    "#toc { width: 240px; flex-shrink: 0; position: sticky; top: 0; height: 100vh;" +
      " overflow-y: auto; border-right: 1px solid #ddd; background: #f5f5f5; padding: 12px; }",
    "#toc b { display: block; margin-bottom: 8px; color: #555; font-size: 0.82em;" +
      " text-transform: uppercase; letter-spacing: 0.05em; }",
    "#toc ul { list-style: none; margin: 0; padding: 0; }",
    "#toc ul ul { padding-left: 12px; }",
    "#toc li { margin: 1px 0; }",
    "#toc a { display: block; padding: 3px 6px; border-radius: 3px;" +
      " text-decoration: none; color: #333; font-size: 0.82em;" +
      " white-space: nowrap; overflow: hidden; text-overflow: ellipsis; }",
    "#toc a:hover { background: #e0e0e0; }",
    "#toc a.active { background: #cde; color: #036; font-weight: 600; }",
    "main { flex: 1; padding: 20px; min-width: 0; overflow-x: hidden; }",
    ".paper { margin-bottom: 2em; }",
    ".table-wrapper { overflow-x: auto; }",
    ".table { border-collapse: collapse; margin: 1em 0; }",
    ".table th, .table td { border: 1px solid #ddd; padding: 8px; }",
    ".metadata-table th { text-align: left; width: 120px; }",
    ".paper-sources { margin: 0.5em 0 1em; }",
    ".paper-sources summary { cursor: pointer; color: #555; font-size: 0.85em; }",
    ".low { background-color: #fdd; }",
    ".medium { background-color: #ffd; }",
    ".high { background-color: #dfd; }",
    ".row-0 { background-color: #aed6f1; }",
    ".row-1 { background-color: #a9dfbf; }",
    ".row-2 { background-color: #f9e79f; }",
    ".row-3 { background-color: #f5cba7; }",
    ".row-4 { background-color: #d7bde2; }")

  /** __main__.py:402-447 */
  def buildHtml(metadata: JObj, settings: JObj, papers: Seq[(String, TableDoc)]): String = {
    val html = List.newBuilder[String]
    html ++= List("<!DOCTYPE html>", "<html>", "<head>")
    html += "<meta charset='utf-8'>"
    html += "<title>Paper2Table Viewer</title>"
    html += "<style>"
    html ++= buildCss()
    html += "</style>"
    html += "</head><body>"

    html ++= buildToc(papers)

    html += "<main>"
    html += "<h1>Paper2Table Viewer</h1>"
    if (metadata.fields.nonEmpty) html ++= buildMetadataHtml(metadata)
    if (settings.fields.nonEmpty) html ++= buildSettingsHtml(settings)

    val metaSources = metadata.get("sources")
      .collect { case JArr(items) => items.collect { case o: JObj => o } }
      .getOrElse(Vector.empty)
    val uuidToReader: Map[String, String] = metaSources.flatMap { s =>
      for {
        u <- s.get("uuid").collect { case JStr(x) => x }
        r <- s.get("reader").collect { case JStr(x) => x }
      } yield (u, r)
    }.toMap

    html += "<h2>Papers</h2>"
    papers.zipWithIndex.foreach { case ((paperName, content), paperI) =>
      html += s"<div class='paper'><h3 id='paper-$paperI'>$paperName</h3>"
      html += s"<p>Citation: ${renderCitation(content.citation)}</p>"
      val paperUuids = collectPaperSourceUuids(content)
      val paperSources = metaSources.filter(_.get("uuid").collect { case JStr(x) => x }.exists(paperUuids.contains))
      html ++= buildPaperSourcesHtml(paperSources)
      content.tables.zipWithIndex.foreach { case (table, i) =>
        val idx = i + 1
        table.fragments.foreach { fragment =>
          val fragId = s"paper-$paperI-table-$idx-page-${fragment.page}"
          html ++= buildFragmentHtml(idx, fragment, uuidToReader, Some(fragId))
        }
      }
      html += "</div>"
    }

    html += "</main>"
    html += s"<script>$TocJs</script>"
    html += "</body></html>"
    html.result().mkString("\n")
  }

  /** __main__.py:335-362 _TOC_JS — TOC scroll tracking: marks the last
    * heading above the viewport as `.active` and keeps it scrolled into the
    * sidebar (the `#toc a.active` CSS rule's driver).
    */
  private val TocJs: String =
    """(function () {
      |  var entries = Array.from(document.querySelectorAll('#toc a')).map(function (a) {
      |    var id = a.getAttribute('href').slice(1);
      |    return { el: document.getElementById(id), a: a };
      |  }).filter(function (x) { return x.el; });
      |
      |  function update() {
      |    var scrollY = window.scrollY + 8;
      |    var active = null;
      |    for (var i = 0; i < entries.length; i++) {
      |      if (entries[i].el.getBoundingClientRect().top + window.scrollY <= scrollY) {
      |        active = entries[i];
      |      } else {
      |        break;
      |      }
      |    }
      |    entries.forEach(function (e) { e.a.classList.remove('active'); });
      |    if (active) {
      |      active.a.classList.add('active');
      |      active.a.scrollIntoView({ block: 'nearest' });
      |    }
      |  }
      |
      |  window.addEventListener('scroll', update, { passive: true });
      |  update();
      |}());
      |""".stripMargin
}
