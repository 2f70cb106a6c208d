package graft.html

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Characterization tests for the extractor's hard edges: malformed markup,
  * ragged grids, nested tables, encoding damage. These pin DEFINED behavior
  * so refactors can't silently change it (the reference's analogs live in
  * tests/test_pdfplumber.py's exact-row-dict assertions).
  */
class HtmlExtractorEdgeSpec extends AnyFunSuite {

  private def cells(ex: Extracted, t: Int = 0): List[Vector[(String, Cell)]] =
    ex.tables(t).fragment.rows.map(_.columns)

  test("duplicate header names: python-dict semantics, last value wins") {
    val ex = StringExtract.extract(
      "<table><tr><th>Name</th><th>Name</th></tr><tr><td>a</td><td>b</td></tr></table>")
    assert(cells(ex) == List(Vector("name" -> Cell.Str("b"))))
  }

  test("ragged short rows pad with empty strings to the header width") {
    val ex = StringExtract.extract(
      "<table><tr><th>a</th><th>b</th><th>c</th></tr><tr><td>1</td></tr></table>")
    assert(cells(ex) == List(Vector(
      "a" -> Cell.Str("1"), "b" -> Cell.Str(""), "c" -> Cell.Str(""))))
  }

  test("rows wider than the th header: header pads with empty names, dict collapse keeps the last") {
    val ex = StringExtract.extract(
      "<table><tr><th>a</th></tr><tr><td>1</td><td>2</td><td>3</td></tr></table>")
    assert(cells(ex) == List(Vector("a" -> Cell.Str("1"), "" -> Cell.Str("3"))))
  }

  test("empty table emits nothing; th-only table emits an empty fragment") {
    val none = StringExtract.extract(
      "<p>Some intro text that is long enough to be kept for sure.</p><table></table>")
    assert(none.tables.isEmpty)
    val thOnly = StringExtract.extract("<table><tr><th>a</th><th>b</th></tr></table>")
    assert(thOnly.tables.size == 1)
    assert(thOnly.tables.head.fragment.rows.isEmpty)
  }

  test("newline inside a cell becomes a space (C8); <br> concatenates") {
    val nl = StringExtract.extract("<table><tr><td>a\nb</td><td>x</td></tr></table>")
    assert(cells(nl) == List(Vector("0" -> Cell.Str("a b"), "1" -> Cell.Str("x"))))
    val br = StringExtract.extract("<table><tr><td>a<br>b</td><td>x</td></tr></table>")
    assert(cells(br) == List(Vector("0" -> Cell.Str("ab"), "1" -> Cell.Str("x"))))
  }

  test("comments never produce tables or text") {
    val ex = StringExtract.extract(
      "<!-- <table><tr><td>ghost</td></tr></table> --><p>Long enough paragraph to be kept here.</p>")
    assert(ex.tables.isEmpty)
    assert(!ex.mainText.contains("ghost"))
  }

  test("unclosed td/tr (implied closes) parse like explicit markup") {
    val ex = StringExtract.extract("<table><tr><td>a<td>b<tr><td>c</table>")
    assert(cells(ex) == List(
      Vector("0" -> Cell.Str("a"), "1" -> Cell.Str("b")),
      Vector("0" -> Cell.Str("c"), "1" -> Cell.Str(""))))
  }

  test("nested tables: outer and inner both emitted, inner text not duplicated into outer") {
    val ex = StringExtract.extract(
      "<table><tr><td>outer<table><tr><td>inner</td></tr></table></td><td>y</td></tr></table>")
    assert(ex.tables.size == 2)
    assert(cells(ex, 0) == List(Vector("0" -> Cell.Str("outer"), "1" -> Cell.Str("y"))))
    assert(cells(ex, 1) == List(Vector("0" -> Cell.Str("inner"))))
  }

  test("'>' inside an attribute value does not break the tag scanner") {
    val ex = StringExtract.extract("""<table><tr><td title="a>b">v</td></tr></table>""")
    assert(cells(ex) == List(Vector("0" -> Cell.Str("v"))))
  }

  test("non-numeric data-page falls back to the current page") {
    val ex = StringExtract.extract(
      """<div data-page="xx"><table><tr><td>v</td></tr></table></div>""")
    assert(ex.tables.size == 1)
    assert(ex.tables.head.fragment.page == 1)
  }

  test("non-ASCII tag names never alias an interned ASCII name (U+0130)") {
    // </İ> must tokenize as String.toLowerCase("İ") = "i̇" (2 chars),
    // NOT as the interned "i" tag — per-char Character.toLowerCase would
    // collapse it to "i" (the divergence the ASCII-only fast path
    // prevents). Start tags can't reach this (isNameCharB is ASCII-only);
    // end-tag names are taken verbatim from the source region.
    val ends = List.newBuilder[String]
    HtmlTokenizer.tokenizeBytesInto("x</İ>y".getBytes("UTF-8"), new HtmlTokenizer.ByteTokSink {
      def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean, pos: Int, endPos: Int): Unit = ()
      def endTag(name: String, pos: Int, endPos: Int): Unit = { ends += name; () }
      def text(src: Array[Byte], startB: Int, endB: Int, pos: Int): Unit = ()
    })
    val end = ends.result().head
    assert(end == "İ".toLowerCase)
    assert(end == "i̇" && end != "i")
  }

  test("character references in colspan and data-page values are decoded") {
    val span = StringExtract.extract("""<table><tr><td colspan="&#50;">a</td></tr></table>""")
    assert(cells(span) == List(Vector("0" -> Cell.Str("a"), "1" -> Cell.Str("a"))))
    val page = StringExtract.extract("""<div data-page="&#51;"><table><tr><td>v</td></tr></table></div>""")
    assert(page.tables.map(_.fragment.page) == List(3))
  }

  test("a truncated UTF-8 sequence in colspan or data-page is ignored") {
    val bad = new String(Array[Byte](0xE2.toByte, 0x82.toByte), "ISO-8859-1")
    def bytes(s: String) = s.getBytes("ISO-8859-1") // one byte per char: keeps the raw 0xE2 0x82
    val span = HtmlExtractor.extractBytes(bytes(s"""<table><tr><td colspan="$bad">a</td><td>b</td></tr></table>"""))
    assert(cells(span) == List(Vector("0" -> Cell.Str("a"), "1" -> Cell.Str("b"))))
    val page = HtmlExtractor.extractBytes(bytes(
      s"""<div data-page="2"><table><tr><td>v</td></tr></table></div>""" +
        s"""<div data-page="$bad"><table><tr><td>w</td></tr></table></div>"""))
    assert(page.status == "ok")
    assert(page.tables.map(_.fragment.page) == List(2, 2))
  }

  test("invalid UTF-8 bytes never crash extraction (status stays ok)") {
    val bad = Array[Byte](0x3c, 0x74, 0x61, 0x62, 0x6c, 0x65, 0x3e,
      0xff.toByte, 0xfe.toByte, 0x3c, 0x2f, 0x74, 0x61, 0x62, 0x6c, 0x65, 0x3e)
    val ex = HtmlExtractor.extractBytes(bad)
    assert(ex.status == "ok")
    assert(ex.tables.isEmpty)
  }
}
