package graft.html

import graft.core._

/** Column mapping sidecar — the HTML analog of the reference's hybrid-mode
  * TablesMapping (/root/reference/src/paper2table/mapping.py:7-54).
  */
final case class ColumnMapping(fromColumnNumber: Int, toColumnName: String)
final case class TableMapping(
    title: String,
    headerMode: String, // all_pages | first_page_only | none
    firstPage: Int,
    lastPage: Int,
    columnMappings: List[ColumnMapping])
final case class TablesMapping(tables: List[TableMapping], citation: String)

object TablesMapping {
  import JVal._
  def fromJsonString(s: String): TablesMapping = JVal.parse(s) match {
    case o: JObj =>
      val tables = o.get("tables") match {
        case Some(JArr(items)) => items.toList.map {
          case t: JObj =>
            TableMapping(
              title = t.get("title").collect { case JStr(x) => x }.getOrElse(""),
              headerMode = t.get("header_mode").collect { case JStr(x) => x }.getOrElse("none"),
              firstPage = t.get("first_page").collect { case JNum(x) => x.toInt }.getOrElse(1),
              lastPage = t.get("last_page").collect { case JNum(x) => x.toInt }.getOrElse(1),
              columnMappings = t.get("column_mappings").collect { case JArr(ms) =>
                ms.toList.map {
                  case m: JObj => ColumnMapping(
                    m.get("from_column_number").collect { case JNum(x) => x.toInt }.getOrElse(0),
                    m.get("to_column_name").collect { case JStr(x) => x }.getOrElse(""))
                  case other => throw new IllegalArgumentException(s"bad column_mapping $other")
                }
              }.getOrElse(Nil)
            )
          case other => throw new IllegalArgumentException(s"bad table mapping $other")
        }
        case _ => Nil
      }
      val citation = o.get("citation").collect { case JStr(x) => x }.getOrElse("")
      TablesMapping(tables, citation)
    case other => throw new IllegalArgumentException(s"bad mapping $other")
  }

  /** Serialize for the sidecar table (inverse of fromJsonString; the
    * reference's `.mapping.json` cache shape, mapping.py:7-54).
    */
  def toJsonString(m: TablesMapping): String = {
    val tables = m.tables.map { t =>
      val cms = t.columnMappings.map(cm =>
        s"""{"from_column_number":${cm.fromColumnNumber},"to_column_name":${JVal.quote(cm.toColumnName)}}""")
        .mkString("[", ",", "]")
      s"""{"title":${JVal.quote(t.title)},"header_mode":${JVal.quote(t.headerMode)},""" +
        s""""first_page":${t.firstPage},"last_page":${t.lastPage},"column_mappings":$cms}"""
    }.mkString("[", ",", "]")
    s"""{"tables":$tables,"citation":${JVal.quote(m.citation)}}"""
  }
}

/** A detected table region before row-dict construction. */
final case class RawTable(
    page: Int,
    grid: Vector[Vector[String]],
    headerFromTh: Option[Vector[String]],
    spanStart: Int,
    spanEnd: Int,
    kind: String) // "markup" | "pre"

final case class TableSpan(page: Int, start: Int, end: Int, kind: String)

final case class ExtractedTable(fragment: Fragment, title: Option[String])

final case class Extracted(
    mainText: String,
    tables: List[ExtractedTable],
    spans: List[TableSpan],
    citation: Option[String],
    status: String)

final case class ExtractSettings(
    hints: List[String] = Nil, // already-normalized column-name hints
    pageRange: Option[(Int, Int)] = None,
    mapping: Option[TablesMapping] = None)

/** C12 `PATH:FROM:TO` page-range input parsing — reference parity with
  * /root/reference/src/paper2table/page_range.py:6-14: 1-indexed inclusive
  * range, a lone `:N` or non-integer suffix stays part of the path.
  */
object PageRange {
  private val RangeRe = "^(.+):(\\d+):(\\d+)$".r

  def parse(path: String): (String, Option[(Int, Int)]) = path match {
    case RangeRe(clean, from, to) => (clean, Some((from.toInt, to.toInt)))
    case _ => (path, None)
  }
}

/** Main-content + table-region extraction over one HTML page.
  *
  * Capability transfer from the reference's PDF readers (SURVEY.md §7.1):
  *  - markup `<table>` grid reconstruction with rowspan/colspan resolution
  *    ≈ the "lines" strategies (pdfplumber.py:52-66);
  *  - whitespace-aligned `<pre>` grid detection ≈ the "text" strategies;
  *  - first-success strategy cascade per page (pdfplumber settings cascade);
  *  - header handling: `<th>` first row, or hints-driven first-row promotion
  *    (readers/utils.py:5-10); headerless tables get numeric column names
  *    "0".."n-1" (pandas default columns in readers/document.py:139-185);
  *  - mapped reads: only the FIRST table mapping is executed and the LAST
  *    table on each page is selected — deliberate parity with
  *    readers/document.py:77-123 (the loop breaks after the first mapping)
  *    and :139 (extracted_tables[-1]);
  *  - boilerplate stripping (text-density/link-density block scoring) is new
  *    relative to the reference (the north rule adds main-content
  *    extraction; PDFs had no boilerplate concept).
  *
  * Everything is a pure function of the page bytes (Array[Byte] =>
  * Extracted): deterministic, partition-independent, safe to fuse into one
  * mapPartitions stage.
  */
object HtmlExtractor {

  private val BoilerContainers = Set("nav", "header", "footer", "aside")
  private val BlockTags = Set(
    "p", "div", "section", "article", "main", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "ul", "ol", "table", "thead", "tbody", "tfoot", "tr", "td", "th", "br",
    "pre", "blockquote", "dl", "dt", "dd", "figure", "figcaption", "form",
    "fieldset", "hr", "address", "body", "html", "title", "head")
  private val HeadingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")
  /** Span limits of the WHATWG table processing model: a larger `colspan`
    * counts as 1000 and a larger `rowspan` as 65534, so one cell cannot
    * make the grid builder loop billions of times. */
  private val MaxColspan = 1000
  private val MaxRowspan = 65534
  private val SkipSubtrees = Set("noscript", "template", "svg", "iframe", "select", "option", "button", "head", "title")

  /** Boilerplate keep-rule for a text block. Documented constants — goldens
    * depend on them (link density ≤ 1/3; short blocks only when link-free;
    * headings kept from 3 chars).
    */
  private def keepBlock(chars: Int, linkChars: Int, heading: Boolean): Boolean = {
    if (chars <= 0) false
    else {
      val linkDensity = linkChars.toDouble / chars
      if (linkDensity > 1.0 / 3.0) false
      else if (chars >= 25) true
      else if (heading && chars >= 3) true
      else linkChars == 0 && chars >= 10
    }
  }

  /** PRODUCTION entry: extraction straight off the raw UTF-8 page bytes.
    * The document is never decoded as a whole — the byte scanner
    * ([[HtmlTokenizer.tokenizeBytesInto]]) walks the markup as bytes and
    * only the text runs that survive (cells, main-text blocks, <pre>)
    * pay UTF-8 decode; skipped subtrees, boilerplate containers, tags and
    * dropped attributes stay bytes. Positions (spans, page ranges) are
    * CHAR (UTF-16) offsets into the decoded document.
    */
  def extractBytes(html: Array[Byte], settings: ExtractSettings = ExtractSettings()): Extracted = {
    val scan = scanDocument(html)
    val pages = scan.pages

    settings.mapping match {
      case Some(m) => mappedRead(pages, m, settings)
      case None => scanAllRead(scan, settings)
    }
  }

  // -------------------------------------------------------------------
  // Pass 1: single forward scan -> blocks + raw tables per page
  // -------------------------------------------------------------------

  private final case class Blk(text: String, linkChars: Int, heading: Boolean, boiler: Boolean)
  private final case class PageScan(number: Int, blocks: Vector[Blk], markupTables: Vector[RawTable], preTables: Vector[RawTable])
  private final case class DocScan(pages: Vector[PageScan])

  private final class CellBuilder(val isTh: Boolean, val rowspan: Int, val colspan: Int) {
    val text = new java.lang.StringBuilder
  }

  private final class TableBuilder(val page: Int, val start: Int) {
    var rows = Vector.newBuilder[Vector[CellBuilder]]
    var currentRow: scala.collection.mutable.ArrayBuffer[CellBuilder] = null
    var currentCell: CellBuilder = null

    def startRow(): Unit = { endRow(); currentRow = scala.collection.mutable.ArrayBuffer.empty }
    def endRow(): Unit = {
      endCell()
      if (currentRow != null && currentRow.nonEmpty) rows += currentRow.toVector
      currentRow = null
    }
    def startCell(isTh: Boolean, rowspan: Int, colspan: Int): Unit = {
      endCell()
      if (currentRow == null) currentRow = scala.collection.mutable.ArrayBuffer.empty
      currentCell = new CellBuilder(isTh, rowspan, colspan)
    }
    def endCell(): Unit = {
      if (currentCell != null && currentRow != null) currentRow += currentCell
      currentCell = null
    }

    /** Resolve row/col spans into a rectangular grid; spanned positions get
      * the originating cell's text replicated (self-contained rows for the
      * downstream merge layer).
      */
    def build(end: Int): RawTable = {
      endRow()
      val cellRows = rows.result()
      val grid = scala.collection.mutable.ArrayBuffer.empty[scala.collection.mutable.ArrayBuffer[(String, Boolean)]]
      // pending(col) = (text, isTh, remainingRows)
      val pending = scala.collection.mutable.Map.empty[Int, (String, Boolean, Int)]
      cellRows.foreach { row =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
        var col = 0
        def fillPending(): Unit = {
          while (pending.contains(col)) {
            val (t, th, rem) = pending(col)
            out += ((t, th))
            if (rem <= 1) pending.remove(col) else pending(col) = (t, th, rem - 1)
            col += 1
          }
        }
        fillPending()
        row.foreach { cell =>
          fillPending()
          val txt = collapsedText(cell.text)
          var k = 0
          while (k < math.max(cell.colspan, 1)) {
            out += ((txt, cell.isTh))
            if (cell.rowspan > 1) pending(col) = (txt, cell.isTh, cell.rowspan - 1)
            col += 1
            k += 1
          }
          fillPending()
        }
        grid += out
      }
      val width = if (grid.isEmpty) 0 else grid.map(_.length).max
      val rect = grid.toVector.map { row =>
        (row.toVector ++ Vector.fill(width - row.length)(("", false))).map(_._1)
      }
      val firstRowAllTh = grid.nonEmpty && grid.head.nonEmpty && grid.head.forall(_._2)
      val header = if (firstRowAllTh) Some(rect.head) else None
      RawTable(page, if (firstRowAllTh) rect.tail else rect, header, start, end, "markup")
    }
  }

  /** NFKC with a pure-ASCII fast path: every ASCII char is an NFKC fixed
    * point, so a string with no char >= U+0080 is returned as-is — the
    * normalizer (table-driven, allocating) runs only on the non-ASCII
    * minority. Measured on the extraction hot path: blocks and cells are
    * overwhelmingly ASCII in web text.
    */
  private def nfkc(s: String): String = {
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) >= 0x80)
        return java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKC)
      i += 1
    }
    s
  }

  /** NFKC-normalize + newline→space + whitespace collapse, mirroring the
    * reference's per-cell treatment (pdfplumber unicode_norm="NFKC" at open,
    * readers/document.py:179-183 newline strip):
    * `collapseWhitespace(nfkc(sb.toString))` without materializing the
    * raw string when the builder is pure ASCII (every ASCII char is an
    * NFKC fixed point, so the collapse runs straight off the builder —
    * byte-identical: Text.collapseWhitespaceOf shares the pyIsSpace
    * bounds + run-collapse of the string path). Block and cell text are
    * overwhelmingly ASCII in web text; the non-ASCII minority falls back
    * to the string pipeline.
    */
  private def collapsedText(sb: java.lang.StringBuilder): String = {
    var i = 0
    while (i < sb.length) {
      if (sb.charAt(i) >= 0x80) return Text.collapseWhitespace(nfkc(sb.toString))
      i += 1
    }
    Text.collapseWhitespaceOf(sb)
  }

  private def scanDocument(html: Array[Byte]): DocScan = {
    var pageNum = 1
    val blockBuilders = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Blk]]
    val markupByPage = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[RawTable]]
    val preByPage = scala.collection.mutable.LinkedHashMap.empty[Int, scala.collection.mutable.ArrayBuffer[RawTable]]
    def blocksOf(p: Int) = blockBuilders.getOrElseUpdate(p, scala.collection.mutable.ArrayBuffer.empty)
    def markupOf(p: Int) = markupByPage.getOrElseUpdate(p, scala.collection.mutable.ArrayBuffer.empty)
    def preOf(p: Int) = preByPage.getOrElseUpdate(p, scala.collection.mutable.ArrayBuffer.empty)
    // ensure page 1 exists even for empty docs
    blocksOf(1); markupOf(1); preOf(1)

    var boilerDepth = 0
    var skipDepth = 0
    var linkDepth = 0
    var headingDepth = 0
    val tableStack = scala.collection.mutable.Stack.empty[TableBuilder]
    var preBuilder: java.lang.StringBuilder = null
    var preStart = 0
    // scratch for link-run length counting: decoded once, never stringified
    val linkScratch = new java.lang.StringBuilder

    val blockText = new java.lang.StringBuilder
    var blockLinkChars = 0
    var blockHeading = false

    def flushBlock(): Unit = {
      val txt = collapsedText(blockText)
      if (txt.nonEmpty) {
        blocksOf(pageNum) += Blk(txt, blockLinkChars, blockHeading, boilerDepth > 0)
      }
      blockText.setLength(0)
      blockLinkChars = 0
      blockHeading = false
    }

    // sink-driven BYTE scan: the tokenizer calls straight into this
    // handler — no Tok objects, no iterator hand-off, and no full-document
    // UTF-8 decode (text runs decode on append, and only when kept)
    HtmlTokenizer.tokenizeBytesInto(html, new HtmlTokenizer.ByteTokSink {
      def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean, pos: Int, endPos: Int): Unit = {
        attrs.collectFirst { case ("data-page", v) => v }.foreach { v =>
          try { flushBlock(); pageNum = v.trim.toInt } catch { case _: NumberFormatException => }
        }
        if (SkipSubtrees.contains(name) && !selfClosing) skipDepth += 1
        else if (name == "pre" && tableStack.isEmpty && skipDepth == 0) {
          flushBlock()
          preBuilder = new java.lang.StringBuilder
          preStart = pos
        } else if (skipDepth == 0 && preBuilder == null) {
          if (BoilerContainers.contains(name) && !selfClosing) { flushBlock(); boilerDepth += 1 }
          name match {
            case "table" =>
              flushBlock()
              tableStack.push(new TableBuilder(pageNum, pos))
            case "tr" if tableStack.nonEmpty => tableStack.top.startRow()
            case "td" | "th" if tableStack.nonEmpty =>
              val rowspan = attrs.collectFirst { case ("rowspan", v) => v.trim }.flatMap(v => scala.util.Try(v.toInt).toOption)
                .fold(1)(math.min(_, MaxRowspan))
              val colspan = attrs.collectFirst { case ("colspan", v) => v.trim }.flatMap(v => scala.util.Try(v.toInt).toOption)
                .fold(1)(math.min(_, MaxColspan))
              tableStack.top.startCell(name == "th", rowspan, colspan)
            case "a" => linkDepth += 1
            case h if HeadingTags.contains(h) =>
              flushBlock(); headingDepth += 1; blockHeading = true
            case b if BlockTags.contains(b) && tableStack.isEmpty => flushBlock()
            case _ =>
          }
        }
      }

      def endTag(name: String, pos: Int, endPos: Int): Unit = {
        if (SkipSubtrees.contains(name)) { if (skipDepth > 0) skipDepth -= 1 }
        else if (name == "pre" && preBuilder != null) {
          preTableFromText(preBuilder.toString, pageNum, preStart, endPos).foreach(preOf(pageNum) += _)
          preBuilder = null
        } else if (skipDepth == 0 && preBuilder == null) {
          if (BoilerContainers.contains(name)) { flushBlock(); if (boilerDepth > 0) boilerDepth -= 1 }
          name match {
            case "table" if tableStack.nonEmpty =>
              val tb = tableStack.pop()
              val raw = tb.build(endPos)
              if (raw.grid.nonEmpty || raw.headerFromTh.nonEmpty) markupOf(tb.page) += raw
            case "tr" if tableStack.nonEmpty => tableStack.top.endRow()
            case "td" | "th" if tableStack.nonEmpty => tableStack.top.endCell()
            case "a" => if (linkDepth > 0) linkDepth -= 1
            case h if HeadingTags.contains(h) =>
              flushBlock(); if (headingDepth > 0) headingDepth -= 1
            case b if BlockTags.contains(b) && tableStack.isEmpty => flushBlock()
            case _ =>
          }
        }
      }

      def text(src: Array[Byte], start: Int, end: Int, pos: Int): Unit = {
        if (skipDepth == 0) {
          if (preBuilder != null) HtmlTokenizer.appendRangeTo(preBuilder, src, start, end)
          else if (tableStack.nonEmpty) {
            val tb = tableStack.top
            if (tb.currentCell != null) HtmlTokenizer.appendRangeTo(tb.currentCell.text, src, start, end)
          } else {
            // range append — the decoded run streams into the block
            // builder with no per-run substring (link text still
            // materializes once for the collapsed-length count)
            HtmlTokenizer.appendRangeTo(blockText, src, start, end)
            if (linkDepth > 0) {
              // collapsed LENGTH only — no rangeText string, no collapsed
              // string (same count as collapseWhitespace(rangeText).length)
              linkScratch.setLength(0)
              HtmlTokenizer.appendRangeTo(linkScratch, src, start, end)
              blockLinkChars += Text.collapsedLengthOf(linkScratch)
            }
            if (headingDepth > 0) blockHeading = true
          }
        }
      }
    })
    flushBlock()
    // close unclosed tables (malformed html); span end = decoded length,
    // computed ONCE — charLength is a full pass over the page bytes, and a
    // truncated crawl page can leave many tables on the stack
    if (tableStack.nonEmpty) {
      val endChar = HtmlTokenizer.charLength(html)
      while (tableStack.nonEmpty) {
        val tb = tableStack.pop()
        val raw = tb.build(endChar)
        if (raw.grid.nonEmpty || raw.headerFromTh.nonEmpty) markupOf(tb.page) += raw
      }
    }

    val pageNums = (blockBuilders.keySet ++ markupByPage.keySet ++ preByPage.keySet).toVector.sorted
    DocScan(pageNums.map { p =>
      PageScan(p,
        blockBuilders.get(p).map(_.toVector).getOrElse(Vector.empty),
        markupByPage.get(p).map(_.toVector.sortBy(_.spanStart)).getOrElse(Vector.empty),
        preByPage.get(p).map(_.toVector).getOrElse(Vector.empty))
    })
  }

  // -------------------------------------------------------------------
  // Whitespace-aligned <pre> grid detection ("text" strategy analog)
  // -------------------------------------------------------------------

  private[html] def preTableFromText(text: String, page: Int, start: Int, end: Int): Option[RawTable] = {
    val rawLines = text.split("\n", -1).toVector
    val lines = rawLines.map(_.replace("\t", "    ")).filter(_.trim.nonEmpty)
    if (lines.size < 2) return None
    val maxLen = lines.map(_.length).max
    // a position is a gap when EVERY non-blank line has whitespace (or EOL) there
    val gap = Array.tabulate(maxLen) { p =>
      lines.forall(l => p >= l.length || l.charAt(p) == ' ')
    }
    // column separators = maximal gap runs of width >= 2 (not at the far left)
    val segments = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < maxLen) {
      if (!gap(i)) {
        val s0 = i
        while (i < maxLen && !gap(i)) i += 1
        segments += ((s0, i))
      } else i += 1
    }
    // merge segments separated by a single-space gap (requires >=2 spaces to split)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    segments.foreach { case (s0, e0) =>
      if (merged.nonEmpty && s0 - merged.last._2 < 2) {
        val (ps, _) = merged.remove(merged.length - 1)
        merged += ((ps, e0))
      } else merged += ((s0, e0))
    }
    if (merged.length < 2) return None
    def cells(line: String): Vector[String] =
      merged.toVector.map { case (s0, e0) =>
        val a = math.min(s0, line.length)
        val b = math.min(e0, line.length)
        Text.collapseWhitespace(nfkc(line.substring(a, b)))
      }
    var grid = lines.map(cells)
    // dashed separator under the first line promotes it to a header row
    val header =
      if (grid.size >= 2 && grid(1).forall(c => c.isEmpty || c.forall(ch => "-=+|".contains(ch))))
        Some(grid.head)
      else None
    header match {
      case Some(_) => grid = grid.drop(2)
      case None =>
    }
    if (grid.isEmpty) None
    else Some(RawTable(page, grid, header, start, end, "pre"))
  }

  // -------------------------------------------------------------------
  // Row-dict construction (readers/document.py:139-185 semantics)
  // -------------------------------------------------------------------

  /** first_row_is_table_header — readers/utils.py:5-10 */
  private def firstRowIsHeader(grid: Vector[Vector[String]], hints: List[String]): Boolean =
    grid.nonEmpty && hints.nonEmpty &&
      grid.head.exists(v => hints.contains(Text.normalizeColumnName(v)))

  /** Build a fragment from a raw table: header names (th / hints promotion /
    * numeric), normalize column names, dict-collapse duplicate keys.
    */
  private def toFragment(raw: RawTable, hints: List[String]): Fragment = {
    val (header, data) = raw.headerFromTh match {
      case Some(h) => (Some(h), raw.grid)
      case None =>
        if (firstRowIsHeader(raw.grid, hints)) (Some(raw.grid.head), raw.grid.tail)
        else (None, raw.grid)
    }
    val names: Vector[String] = header match {
      case Some(h) => h.map(Text.normalizeColumnName)
      case None =>
        val width = if (data.isEmpty) 0 else data.map(_.length).max
        (0 until width).map(_.toString).toVector
    }
    Fragment(rowsOf(names.zipWithIndex, data), raw.page)
  }

  /** One row per grid row under dict-update rules: each (name, column) slot
    * takes that column's cell, or "" past the row's end. */
  private def rowsOf(slots: Seq[(String, Int)], data: Vector[Vector[String]]): List[RowData] =
    data.map { cells =>
      val b = new RowBuilder
      slots.foreach { case (n, c) => b.put(n, Cell.Str(if (c < cells.length) cells(c) else "")) }
      RowData(b.result())
    }.toList

  // -------------------------------------------------------------------
  // Scan-all read (readers/document.py:188-206 analog, with per-page
  // first-success cascade markup -> pre)
  // -------------------------------------------------------------------

  private def scanAllRead(scan: DocScan, settings: ExtractSettings): Extracted = {
    val pages = filterPages(scan.pages, settings.pageRange)
    val tables = List.newBuilder[ExtractedTable]
    val spans = List.newBuilder[TableSpan]
    pages.foreach { p =>
      val chosen = if (p.markupTables.nonEmpty) p.markupTables else p.preTables
      chosen.foreach { raw =>
        tables += ExtractedTable(toFragment(raw, settings.hints), None)
        spans += TableSpan(raw.page, raw.spanStart, raw.spanEnd, raw.kind)
      }
    }
    Extracted(mainText(pages), tables.result(), spans.result(), None, "ok")
  }

  private def mainText(pages: Vector[PageScan]): String = {
    val sb = new java.lang.StringBuilder
    pages.foreach { p =>
      p.blocks.foreach { b =>
        if (!b.boiler && keepBlock(b.text.length, b.linkChars, b.heading)) {
          if (sb.length > 0) sb.append('\n')
          sb.append(b.text)
        }
      }
    }
    sb.toString
  }

  private def filterPages(pages: Vector[PageScan], range: Option[(Int, Int)]): Vector[PageScan] =
    range match {
      case Some((from, to)) => pages.filter(p => p.number >= from && p.number <= to)
      case None => pages
    }

  // -------------------------------------------------------------------
  // Mapped read (readers/document.py:77-123 parity)
  // -------------------------------------------------------------------

  private def mappedRead(pages: Vector[PageScan], mapping: TablesMapping, settings: ExtractSettings): Extracted = {
    val tables = List.newBuilder[ExtractedTable]
    val spans = List.newBuilder[TableSpan]
    val byNumber = pages.map(p => p.number -> p).toMap
    // parity: only the FIRST table mapping runs (document.py:123 break)
    mapping.tables.headOption.foreach { tm =>
      var page = tm.firstPage
      var aborted = false
      while (page <= tm.lastPage && !aborted) {
        byNumber.get(page) match {
          case None => aborted = true // out-of-bounds page aborts (document.py:96-100)
          case Some(p) =>
            // strategy cascade, first success; last table of the page (document.py:139)
            val candidates = Vector(p.markupTables, p.preTables).filter(_.nonEmpty)
            val result = candidates.iterator.flatMap { cand =>
              val raw = cand.last
              tryMappedFragment(raw, tm, page)
            }.nextOption()
            result.foreach { case (frag, raw) =>
              tables += ExtractedTable(frag, Some(tm.title))
              spans += TableSpan(raw.page, raw.spanStart, raw.spanEnd, raw.kind)
            }
        }
        page += 1
      }
    }
    Extracted(mainText(pages), tables.result(), spans.result(),
      Some(mapping.citation).filter(_.nonEmpty), "ok")
  }

  /** read_table with a mapping (document.py:139-185): optional first-row
    * skip per header_mode, select by ordinal, rename, normalize names.
    * Fails (None) when a mapped ordinal is out of range — that makes the
    * strategy cascade try the next strategy (document.py:101-119).
    */
  private def tryMappedFragment(raw: RawTable, tm: TableMapping, page: Int): Option[(Fragment, RawTable)] = {
    val skipFirst = tm.headerMode == "all_pages" ||
      (tm.headerMode == "first_page_only" && page == tm.firstPage)
    // th headers were already lifted off the grid; put them back for ordinal
    // selection when not skipping (mapped mode addresses columns by number)
    val dataAll = raw.headerFromTh match {
      case Some(h) => h +: raw.grid
      case None => raw.grid
    }
    val data = if (skipFirst && dataAll.nonEmpty) dataAll.tail else dataAll
    if (data.isEmpty) return None
    val width = data.map(_.length).max
    if (tm.columnMappings.exists(m => m.fromColumnNumber < 0 || m.fromColumnNumber >= width)) return None
    val slots = tm.columnMappings.map(m => (Text.normalizeColumnName(m.toColumnName), m.fromColumnNumber))
    Some((Fragment(rowsOf(slots, data), page), raw))
  }

  // -------------------------------------------------------------------
  // Raw extraction JSON (writers/file.py + tables_reader/dataframe.py:43-51:
  // rows WITHOUT the reserved merge fields, fragments-form tables,
  // metadata = {filename})
  // -------------------------------------------------------------------

  def toRawJson(filename: String, ex: Extracted): String = {
    // streaming writer — byte-identical to rendering the equivalent JVal
    // tree (JObj/JArr node + Vector construction per cell measured at ~1/3
    // of per-page extraction cost; the hot path writes straight into one
    // StringBuilder)
    val sb = new java.lang.StringBuilder(256 + ex.tables.size * 256)
    sb.append("{\"tables\": [")
    var ti = 0
    ex.tables.foreach { t =>
      if (ti > 0) sb.append(", ")
      sb.append("{\"table_fragments\": [{\"rows\": [")
      var ri = 0
      t.fragment.rows.foreach { r =>
        if (ri > 0) sb.append(", ")
        sb.append('{')
        var ci = 0
        r.columns.foreach { case (k, c) =>
          if (ci > 0) sb.append(", ")
          JVal.writeString(sb, k)
          sb.append(": ")
          Cell.writeJson(sb, c)
          ci += 1
        }
        sb.append('}')
        ri += 1
      }
      sb.append("], \"page\": ").append(t.fragment.page)
      t.title.foreach { ti2 => sb.append(", \"title\": "); JVal.writeString(sb, ti2) }
      sb.append("}]}")
      ti += 1
    }
    sb.append("], \"citation\": ")
    ex.citation match {
      case Some(c) => JVal.writeString(sb, c)
      case None => sb.append("null")
    }
    sb.append(", \"metadata\": {\"filename\": ")
    JVal.writeString(sb, filename)
    sb.append("}}")
    sb.toString
  }
}
