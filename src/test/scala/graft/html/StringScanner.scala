package graft.html

import java.util.Locale

/** The reference HTML scanner that [[HtmlTokenizer.tokenizeBytesInto]] is
  * checked against. It is written plainly and shares none of the byte
  * scanner's shortcuts: the whole page is decoded first, names lowercase
  * through `Locale.ROOT`, and every attribute is parsed before the ones the
  * extractor reads are kept. Retained attribute names and raw-text close
  * tags match ASCII case-insensitively (HTML5), so `</scrİpt>` does not
  * close a `<script>`.
  */
object StringScanner {

  sealed trait Ev
  final case class STag(name: String, attrs: List[(String, String)], selfClosing: Boolean, pos: Int, end: Int) extends Ev
  final case class ETag(name: String, pos: Int, end: Int) extends Ev
  final case class Txt(text: String, pos: Int) extends Ev

  private val Retained = Set("data-page", "rowspan", "colspan")
  private val RawText = Set("script", "style")

  /** Folds A-Z only; one char in, one char out, so indices are kept. */
  private def lowerAscii(s: String): String = s.map(c => if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)

  /** Decodes character references: `&name;`, `&#N;` and `&#xH;` with the
    * `;` at most 10 chars after the `&`. Anything else stays literal.
    */
  private def decodeEntities(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val semi = s.indexOf(';', i + 1)
      val rep =
        if (s.charAt(i) == '&' && semi > 0 && semi - i <= 10) entity(s.substring(i + 1, semi))
        else None
      rep match {
        case Some(r) => sb ++= r; i = semi + 1
        case None => sb += s.charAt(i); i += 1
      }
    }
    sb.result()
  }

  private def entity(body: String): Option[String] =
    if (body.startsWith("#x") || body.startsWith("#X")) codePoint(body.substring(2), 16)
    else if (body.startsWith("#")) codePoint(body.substring(1), 10)
    else HtmlTokenizer.NamedEntities.get(body)

  private def codePoint(digits: String, radix: Int): Option[String] =
    scala.util.Try(new String(Character.toChars(Integer.parseInt(digits, radix)))).toOption

  /** The scan of `html`: text decoded, positions as char offsets. */
  def events(html: String): Vector[Ev] = {
    val n = html.length
    val folded = lowerAscii(html)
    val out = Vector.newBuilder[Ev]
    def ws(j: Int) = j < n && Character.isWhitespace(html.charAt(j))
    def nameChar(c: Char) = c < 0x80 && (Character.isLetterOrDigit(c) || "-_:".indexOf(c) >= 0)
    def after(found: Int, len: Int) = if (found < 0) n else found + len
    var i = 0
    var rawEnd: String = null // inside <script>/<style>: the name that closes it

    def startTag(): Unit = {
      var j = i + 1
      while (j < n && nameChar(html.charAt(j))) j += 1
      if (j == i + 1) { out += STag("", Nil, selfClosing = true, i, i + 1); i += 1; return }
      val name = html.substring(i + 1, j).toLowerCase(Locale.ROOT)
      val attrs = List.newBuilder[(String, String)]
      var selfClosing = false
      var done = false
      while (!done) {
        while (ws(j)) j += 1
        if (j >= n) done = true
        else if (html.charAt(j) == '>') { j += 1; done = true }
        else if (html.startsWith("/>", j)) { selfClosing = true; j += 2; done = true }
        else if (html.charAt(j) == '/') j += 1
        else {
          val a = j
          while (j < n && !ws(j) && "=>/".indexOf(html.charAt(j)) < 0) j += 1
          val attrName = lowerAscii(html.substring(a, j))
          while (ws(j)) j += 1
          var value = ""
          if (j < n && html.charAt(j) == '=') {
            j += 1
            while (ws(j)) j += 1
            if (j < n && (html.charAt(j) == '"' || html.charAt(j) == '\'')) {
              val close = html.indexOf(html.charAt(j), j + 1)
              value = html.substring(j + 1, if (close < 0) n else close)
              j = after(close, 1)
            } else {
              val v = j
              while (j < n && !ws(j) && html.charAt(j) != '>') j += 1
              value = html.substring(v, j)
            }
          }
          if (Retained(attrName)) attrs += attrName -> decodeEntities(value)
        }
      }
      out += STag(name, attrs.result(), selfClosing, i, j)
      if (!selfClosing && RawText(name)) rawEnd = name
      i = j
    }

    while (i < n) {
      if (rawEnd != null) {
        val close = folded.indexOf("</" + rawEnd, i)
        if (close < 0) i = n
        else {
          i = after(html.indexOf('>', close), 1)
          out += ETag(rawEnd, close, i)
        }
        rawEnd = null
      } else if (html.charAt(i) != '<') {
        val end = after(html.indexOf('<', i), 0)
        out += Txt(decodeEntities(html.substring(i, end)), i)
        i = end
      } else if (html.startsWith("<!--", i)) i = after(html.indexOf("-->", i + 4), 3)
      else if (html.startsWith("<![CDATA[", i)) i = after(html.indexOf("]]>", i + 9), 3)
      else if (html.startsWith("<!", i) || html.startsWith("<?", i) || html.startsWith("</", i)) {
        val gt = html.indexOf('>', i)
        if (gt >= 0 && html.charAt(i + 1) == '/')
          out += ETag(html.substring(i + 2, gt).trim.toLowerCase(Locale.ROOT), i, gt + 1)
        i = after(gt, 1)
      } else startTag()
    }
    out.result()
  }
}
