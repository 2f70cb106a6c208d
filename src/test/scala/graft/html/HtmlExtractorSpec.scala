package graft.html

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

class HtmlExtractorSpec extends AnyFunSuite {

  private def strCell(r: RowData, k: String): String =
    r.get(k) match {
      case Some(Cell.Str(s)) => s
      case other => fail(s"no string cell $k: $other")
    }

  val borderedPage: String =
    """<html><head><title>Demo</title><script>var x = "<table>";</script></head>
      |<body>
      |<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact here</a></nav>
      |<h1>Interesting species</h1>
      |<p>This is the main article body, long enough to be kept by the scorer.</p>
      |<p>This is an interesting table:</p>
      |<table>
      |<tr><th>Common name</th><th>Scientific name</th><th>Species</th></tr>
      |<tr><td>Lantern Fox</td><td>Vulpes lucerna</td><td>mammal</td></tr>
      |<tr><td>Glass Frog</td><td>Rana vitrea</td><td>amphibian</td></tr>
      |</table>
      |<footer>Copyright 2031 · <a href="/tos">Terms</a></footer>
      |</body></html>""".stripMargin

  test("bordered markup table with th header") {
    val ex = StringExtract.extract(borderedPage)
    assert(ex.tables.size == 1)
    val frag = ex.tables.head.fragment
    assert(frag.page == 1)
    assert(frag.columnNames == Vector("common_name", "scientific_name", "species"))
    assert(frag.rows.size == 2)
    assert(strCell(frag.rows.head, "common_name") == "Lantern Fox")
    assert(strCell(frag.rows(1), "scientific_name") == "Rana vitrea")
    // boilerplate: nav/footer dropped, headline + paragraphs kept, no table text
    assert(ex.mainText.contains("Interesting species"))
    assert(ex.mainText.contains("main article body"))
    assert(!ex.mainText.contains("Home"))
    assert(!ex.mainText.contains("Copyright"))
    assert(!ex.mainText.contains("Lantern Fox"))
    // the script containing "<table>" must not confuse the tokenizer
    assert(ex.spans.size == 1)
    assert(ex.spans.head.kind == "markup")
  }

  test("headerless table gets numeric column names") {
    val html =
      """<body><table>
        |<tr><td>Vulpes lucerna</td><td>mammal</td></tr>
        |<tr><td>Rana vitrea</td><td>amphibian</td></tr>
        |</table></body>""".stripMargin
    val ex = StringExtract.extract(html)
    val frag = ex.tables.head.fragment
    assert(frag.columnNames == Vector("0", "1"))
    assert(frag.rows.size == 2)
    assert(strCell(frag.rows.head, "0") == "Vulpes lucerna")
  }

  test("hints promote first row to header (readers/utils.py:5-10 analog)") {
    val html =
      """<table>
        |<tr><td>Common name</td><td>Scientific name</td></tr>
        |<tr><td>Lantern Fox</td><td>Vulpes lucerna</td></tr>
        |</table>""".stripMargin
    val ex = StringExtract.extract(html, ExtractSettings(hints = List("common_name")))
    val frag = ex.tables.head.fragment
    assert(frag.columnNames == Vector("common_name", "scientific_name"))
    assert(frag.rows.size == 1)
    // without hints the first row stays data
    val ex2 = StringExtract.extract(html)
    assert(ex2.tables.head.fragment.rows.size == 2)
    assert(ex2.tables.head.fragment.columnNames == Vector("0", "1"))
  }

  test("rowspan and colspan are resolved by replication") {
    val html =
      """<table>
        |<tr><th>a</th><th>b</th><th>c</th></tr>
        |<tr><td rowspan="2">X</td><td>1</td><td>2</td></tr>
        |<tr><td colspan="2">YZ</td></tr>
        |</table>""".stripMargin
    val ex = StringExtract.extract(html)
    val frag = ex.tables.head.fragment
    assert(frag.rows.size == 2)
    assert(strCell(frag.rows(1), "a") == "X") // rowspan fill
    assert(strCell(frag.rows(1), "b") == "YZ") // colspan fill
    assert(strCell(frag.rows(1), "c") == "YZ")
  }

  test("whitespace-aligned pre table (text-strategy analog)") {
    val html =
      """<body><p>Intro paragraph that is definitely long enough to keep.</p>
        |<pre>
        |Name            Population   Status
        |Lantern Fox     1200         stable
        |Glass Frog      85           declining
        |</pre></body>""".stripMargin
    val ex = StringExtract.extract(html)
    assert(ex.tables.size == 1)
    val frag = ex.tables.head.fragment
    assert(frag.columnNames == Vector("0", "1", "2"))
    assert(frag.rows.size == 3)
    assert(strCell(frag.rows.head, "0") == "Name")
    assert(strCell(frag.rows(1), "1") == "1200")
    assert(ex.spans.head.kind == "pre")
  }

  test("pre table with dashed separator promotes header") {
    val html =
      """<pre>
        |Name          Count
        |-----------   -----
        |Lantern Fox   1200
        |</pre>""".stripMargin
    val ex = StringExtract.extract(html)
    val frag = ex.tables.head.fragment
    assert(frag.columnNames == Vector("name", "count"))
    assert(frag.rows.size == 1)
    assert(strCell(frag.rows.head, "name") == "Lantern Fox")
  }

  test("markup tables suppress pre fallback on the same page (first-success cascade)") {
    val html =
      """<table><tr><td>a</td><td>b</td></tr></table>
        |<pre>
        |x     y
        |1     2
        |</pre>""".stripMargin
    val ex = StringExtract.extract(html)
    assert(ex.tables.size == 1)
    assert(ex.spans.head.kind == "markup")
  }

  test("multi-page document via data-page markers + page range filter") {
    val html =
      """<div data-page="1"><p>Page one content, long enough to keep around.</p></div>
        |<div data-page="2"><table><tr><td>r1</td></tr></table></div>
        |<div data-page="3"><table><tr><td>r2</td></tr></table></div>""".stripMargin
    val ex = StringExtract.extract(html)
    assert(ex.tables.map(_.fragment.page) == List(2, 3))
    val ranged = StringExtract.extract(html, ExtractSettings(pageRange = Some((3, 3))))
    assert(ranged.tables.map(_.fragment.page) == List(3))
  }

  test("entities and NFKC in cells") {
    val html = """<table><tr><td>a &amp; b&nbsp;&eacute;</td><td>x&#233;y ﬁn</td></tr></table>"""
    val ex = StringExtract.extract(html)
    val r = ex.tables.head.fragment.rows.head
    assert(strCell(r, "0") == "a & b é")
    assert(strCell(r, "1") == "xéy fin") // NFKC expands the fi ligature
  }

  test("mapped read: first mapping only, ordinal select + rename, header skip") {
    val html =
      """<div data-page="1"><table>
        |<tr><td>Common name</td><td>Scientific name</td><td>Notes</td></tr>
        |<tr><td>Lantern Fox</td><td>Vulpes lucerna</td><td>n1</td></tr>
        |</table></div>
        |<div data-page="2"><table>
        |<tr><td>Glass Frog</td><td>Rana vitrea</td><td>n2</td></tr>
        |</table></div>""".stripMargin
    val mapping = TablesMapping(
      tables = List(
        TableMapping("Species table", "first_page_only", 1, 2,
          List(ColumnMapping(1, "Scientific Name"), ColumnMapping(0, "Common"))),
        TableMapping("ignored second mapping", "none", 1, 1, List(ColumnMapping(0, "x")))),
      citation = "Imaginary Atlas (2031)")
    val ex = StringExtract.extract(html, ExtractSettings(mapping = Some(mapping)))
    assert(ex.citation.contains("Imaginary Atlas (2031)"))
    assert(ex.tables.size == 2) // one fragment per page, first mapping only
    val f1 = ex.tables.head
    assert(f1.title.contains("Species table"))
    assert(f1.fragment.columnNames == Vector("scientific_name", "common"))
    assert(f1.fragment.rows.size == 1) // header skipped on first page
    assert(strCell(f1.fragment.rows.head, "scientific_name") == "Vulpes lucerna")
    val f2 = ex.tables(1)
    assert(f2.fragment.rows.size == 1) // no skip on page 2
    assert(strCell(f2.fragment.rows.head, "common") == "Glass Frog")
  }

  test("raw extraction JSON mirrors the reference writer layout") {
    val ex = StringExtract.extract("""<table><tr><th>A</th></tr><tr><td>v</td></tr></table>""")
    val json = HtmlExtractor.toRawJson("demo.html", ex)
    assert(json == """{"tables": [{"table_fragments": [{"rows": [{"a": "v"}], "page": 1}]}], "citation": null, "metadata": {"filename": "demo.html"}}""")
  }

  test("extraction is deterministic and input-order independent") {
    val ex1 = StringExtract.extract(borderedPage)
    val ex2 = StringExtract.extract(borderedPage)
    assert(HtmlExtractor.toRawJson("f", ex1) == HtmlExtractor.toRawJson("f", ex2))
  }

  test("empty / boilerplate-only page yields no tables and empty-ish text") {
    val html = """<nav><a href="/">A very long navigation link list goes here</a></nav>"""
    val ex = StringExtract.extract(html)
    assert(ex.tables.isEmpty)
    assert(ex.mainText.isEmpty)
  }
}
