package graft.html

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The byte-level scanner must emit the SAME event stream as the plain
  * reference scanner ([[StringScanner]]) run over the decoded document:
  * same tags, same attrs, same decoded text, and — critically for spans —
  * the same CHAR (UTF-16) positions, even when multi-byte sequences shift
  * byte offsets away from char offsets.
  *
  * Generator notes: inputs are valid UTF-8 (the byte scanner's documented
  * domain). Raw-text close-tag matching is ASCII-case-insensitive on BOTH
  * scanners (HTML5 semantics), so chars whose Character.toLowerCase maps
  * INTO ASCII (U+0130, U+017F, U+212A) never close a raw-text element —
  * pinned by the dedicated test below.
  */
class HtmlTokenizerBytesSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  import StringScanner.{ETag, Ev, STag, Txt}

  private def byteEvents(html: String): Vector[Ev] = {
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val buf = Vector.newBuilder[Ev]
    HtmlTokenizer.tokenizeBytesInto(bytes, new HtmlTokenizer.ByteTokSink {
      def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean, pos: Int, endPos: Int): Unit = {
        buf += STag(name, attrs, selfClosing, pos, endPos); ()
      }
      def endTag(name: String, pos: Int, endPos: Int): Unit = { buf += ETag(name, pos, endPos); () }
      def text(src: Array[Byte], startB: Int, endB: Int, pos: Int): Unit = {
        buf += Txt(HtmlTokenizer.rangeText(src, startB, endB), pos); ()
      }
    })
    buf.result()
  }

  private def assertEquivalent(html: String): Unit = {
    val a = StringScanner.events(html)
    val b = byteEvents(html)
    assert(a == b, s"event streams diverge for: ${html.take(300)}")
  }

  // -- generators ------------------------------------------------------

  private val asciiWord = Gen.alphaNumStr.map(_.take(8))
  private val multiByte = Gen.oneOf(
    "é", "ü", "日本語", "汉字", "переполнение", "χ²", "→", " ", "𝔘𝔫𝔦", "😀",
    "a　b", "…—–", "café au lait")
  private val entity = Gen.oneOf(
    "&amp;", "&lt;", "&gt;", "&nbsp;", "&mdash;", "&eacute;", "&#65;", "&#x2603;",
    "&unknown;", "&#zz;", "& loose", "&toolongentityname;", "&#x10437;",
    // non-ASCII entity bodies: Integer.parseInt accepts any Unicode digit,
    // so the byte path must decode these exactly like the string path
    "&#١٢٣;", "&#６５;", "&#１２３４５６７８９０;", "&ünknown;")
  private val textChunk: Gen[String] = Gen.frequency(
    5 -> asciiWord, 3 -> multiByte, 2 -> entity, 1 -> Gen.const(" \n\t "))
  private val attr: Gen[String] = for {
    name <- Gen.oneOf("class", "id", "href", "data-page", "rowspan", "colspan", "data-x")
    v <- Gen.oneOf(asciiWord, multiByte, Gen.const("3"), Gen.const("a&amp;b"))
    style <- Gen.oneOf(0, 1, 2, 3)
  } yield style match {
    case 0 => s"""$name="$v""""
    case 1 => s"$name='$v'"
    case 2 => s"$name=$v"
    case 3 => name
  }
  private val tag: Gen[String] = for {
    name <- Gen.oneOf("div", "p", "span", "table", "tr", "td", "th", "pre",
      "a", "h2", "ul", "li", "nav", "header", "x-custom", "Über") // non-ASCII tag name too
    attrs <- Gen.listOfN(2, attr).map(_.mkString(" "))
    form <- Gen.oneOf(0, 1, 2)
  } yield form match {
    case 0 => if (attrs.isEmpty) s"<$name>" else s"<$name $attrs>"
    case 1 => s"<$name $attrs/>"
    case 2 => s"</$name>"
  }
  private val special: Gen[String] = Gen.oneOf(
    "<!-- comment → with unicode -->", "<![CDATA[raw < 日本 ]]>", "<!DOCTYPE html>",
    "<?xml version='1.0'?>", "<script>var a = '<div>'; // 注释</script>",
    "<style>.a { content: \"→\" }</style>", "<", "< junk", "<!",
    "<div 　 class=\"x\">", // U+3000 ideographic space as attr separator
    "<p id=y>") // U+2003 em space separator
  private val piece: Gen[String] = Gen.frequency(4 -> textChunk, 4 -> tag, 1 -> special)
  private val doc: Gen[String] = Gen.listOf(piece).map(_.mkString)

  test("byte scan == string scan: events, attrs, decoded text, char positions (property)") {
    check(Prop.forAll(doc) { html => StringScanner.events(html) == byteEvents(html) })
  }

  test("byte scan == string scan on the fixture corpus pages") {
    val pages = graft.pages.SyntheticPages.pages(graft.SharedSpark.spark, "/root/testdata/sf0.001")
      .collect()
    pages.foreach { p => assertEquivalent(new String(p.html, "UTF-8")) }
  }

  test("spans report char offsets, not byte offsets, after multi-byte text") {
    // "日本語" is 3 chars / 9 bytes; the table span must start at char 3
    val html = "日本語<table><tr><td>x</td></tr></table>"
    val ex = HtmlExtractor.extractBytes(html.getBytes("UTF-8"))
    assert(ex.spans.nonEmpty)
    assert(ex.spans.head.start == 3)
    assert(ex.spans.head.end == html.length) // char length, not byte length
    assert(ex.tables.head.fragment.rows.head.toString.contains("x"))
  }

  test("supplementary chars count two UTF-16 units in positions") {
    val html = "😀😀<table><tr><td>y</td></tr></table>" // 2 code points = 4 units
    val ex = HtmlExtractor.extractBytes(html.getBytes("UTF-8"))
    assert(ex.spans.head.start == 4)
  }

  test("numeric entities with non-ASCII Unicode digits decode identically on both paths") {
    // Integer.parseInt accepts any Unicode Nd digit, so the string scanner
    // decodes these; the byte scanner must match (it used to emit '&')
    assertEquivalent("<td>&#١٢٣;</td>")     // Arabic-Indic 123 -> '{'
    assertEquivalent("<td>&#６５;</td>")     // full-width 65 -> 'A'
    val arabic = "&#١٢٣;".getBytes("UTF-8")
    assert(HtmlTokenizer.rangeText(arabic, 0, arabic.length) == "{")
    val fullWidth = "&#６５;".getBytes("UTF-8")
    assert(HtmlTokenizer.rangeText(fullWidth, 0, fullWidth.length) == "A")
    // 10 full-width digits = 11 chars '&' to body end: over the 10-char
    // window on BOTH paths even though it is 32 bytes
    assertEquivalent("<td>&#１２３４５６７８９０;</td>")
    // non-ASCII named body: fails the lookup on both paths -> literal '&'
    assertEquivalent("<td>&ünknown; rest</td>")
  }

  test("raw-text close tags fold ASCII-only on both paths (HTML5): </scrİpt> does not close <script>") {
    // U+0130 'İ' lowercases into ASCII 'i' under full Unicode folding, but
    // HTML5 raw-text end-tag matching is ASCII-case-insensitive — the fake
    // close tag must be swallowed as script text on BOTH scanners, and the
    // REAL close tag (any ASCII case) must still match.
    for (html <- Seq(
        "<script>a</scrİpt>b</script>c",
        "<style>x</ſtyle>y</STYLE>z", // U+017F 'ſ' long s
        "<script>k</scrıpt></SCRIPT>")) { // U+0131 dotless ı never folds to i
      assertEquivalent(html)
      val evs = StringScanner.events(html)
      assert(evs.count { case ETag("script", _, _) | ETag("style", _, _) => true; case _ => false } == 1,
        s"exactly one real close tag expected in: $html — got $evs")
    }
  }

  test("malformed UTF-8: positions stay consistent with the units actually emitted") {
    // stray continuation byte / invalid lead / truncated sequence — each
    // decodes to U+FFFD replacement(s); charLength and charPos must count
    // exactly the units appendRangeTo emits, or spans desync from text
    val table = "<table><tr><td>x</td></tr></table>".getBytes("UTF-8")
    val junks = Seq(
      Array[Byte](0x80.toByte),              // stray continuation: 1 FFFD (old counter said 0)
      Array[Byte](0xF5.toByte),              // invalid lead: 1 FFFD (old counter said 2)
      Array[Byte](0xE0.toByte, 0x80.toByte), // truncated 3-byte: 2 FFFD (old counter said 1)
      Array[Byte](0xC2.toByte))              // truncated 2-byte: 1 FFFD
    for (j <- junks) {
      val html = j ++ table
      val decodedJunk = HtmlTokenizer.rangeText(html, 0, j.length)
      assert(HtmlTokenizer.charLength(j) == decodedJunk.length,
        s"charLength inconsistent for ${j.map(b => f"0x$b%02X").mkString(",")}")
      val ex = HtmlExtractor.extractBytes(html)
      assert(ex.spans.head.start == decodedJunk.length,
        s"span start desynced for ${j.map(b => f"0x$b%02X").mkString(",")}")
      assert(ex.spans.head.end == HtmlTokenizer.charLength(html))
      assert(ex.tables.head.fragment.rows.head.toString.contains("x"))
    }
  }
}
