package graft.html

/** Byte-stream HTML tokenizer: a single forward scan over the raw UTF-8
  * page bytes producing start/end tags and text, and skipping comments,
  * doctypes, CDATA and raw-text element content (script/style). No DOM
  * library — this is the performance-critical inner loop of the extraction
  * stage (north rule: "byte-stream tokenizes HTML, builds a lightweight
  * DOM").
  *
  * Decodes a small, fixed entity set (named subset + numeric) — enough for
  * web-table content; unknown entities pass through literally. Text runs
  * and the retained attribute values go through the one decoder,
  * [[appendRangeTo]], which fuses UTF-8 decode with entity decode.
  */
object HtmlTokenizer {

  private val RawTextTags = Set("script", "style")

  /** The only attribute names HtmlExtractor ever reads (`data-page` page
    * splits, `rowspan`/`colspan` grid resolution). Start-tag parsing scans
    * every attribute for correctness but materializes only these — on
    * attr-dense real-world pages (class/style/href on most tags) the
    * dropped name/value substrings were pure allocation-rate overhead.
    * Extend this array if the extractor starts consuming a new attribute.
    */
  private val RetainedAttrs = Array("data-page", "rowspan", "colspan")

  private[html] val NamedEntities: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "ldquo" -> "“", "rdquo" -> "”", "lsquo" -> "‘", "rsquo" -> "’",
    "laquo" -> "«", "raquo" -> "»", "middot" -> "·",
    "deg" -> "°", "plusmn" -> "±", "times" -> "×", "divide" -> "÷",
    "eacute" -> "é", "egrave" -> "è", "aacute" -> "á", "agrave" -> "à",
    "iacute" -> "í", "oacute" -> "ó", "uacute" -> "ú", "ntilde" -> "ñ",
    "uuml" -> "ü", "ouml" -> "ö", "auml" -> "ä", "szlig" -> "ß"
  )

  /** Common tag/attribute names grouped by length: [[internedNameBytes]]
    * matches a source region against these case-insensitively WITHOUT
    * allocating — the decode-and-lowercase pair per tag was a measurable
    * slice of the tokenizer's allocation rate; unknown names still fall
    * back to the allocating path, so behavior is unchanged.
    */
  private val InternedNames: Array[Array[String]] = {
    val names = Seq(
      "a", "b", "i", "p", "em", "h1", "h2", "h3", "h4", "h5", "h6", "hr",
      "br", "dl", "dt", "dd", "ol", "ul", "li", "td", "th", "tr", "id",
      "nav", "pre", "div", "img", "src", "rel", "alt",
      "body", "form", "head", "html", "span", "abbr", "cite", "code", "href",
      "meta", "link", "name", "role", "lang", "type",
      "aside", "table", "tbody", "thead", "tfoot", "title", "style", "class",
      "width", "small", "label",
      "footer", "header", "strong", "select", "option", "script", "figure",
      "iframe", "button", "height", "hidden",
      "section", "article", "caption", "colspan", "rowspan", "noscript",
      "template", "fieldset", "blockquote", "figcaption", "data-page")
    val byLen = names.groupBy(_.length)
    Array.tabulate(byLen.keys.max + 1)(l => byLen.getOrElse(l, Nil).toArray)
  }

  private def lowerAscii(c: Char): Char =
    if (c >= 'A' && c <= 'Z') (c + 32).toChar else c

  /** Streaming consumer of the token scan: no per-token object. Tag names
    * are lowercase; `attrs` holds only the retained attributes, values
    * already decoded. Text runs arrive as ranges over the raw UTF-8 byte
    * array (entities not yet decoded) — consume them with
    * [[appendRangeTo]]/[[rangeText]], which fuse UTF-8 decode with entity
    * decode. `pos`/`endPos` are CHAR offsets (UTF-16 code units) of the
    * would-be decoded document, so spans and page-range arithmetic don't
    * depend on the input skipping the full-document decode.
    */
  trait ByteTokSink {
    def startTag(name: String, attrs: List[(String, String)], selfClosing: Boolean, pos: Int, endPos: Int): Unit
    def endTag(name: String, pos: Int, endPos: Int): Unit
    def text(src: Array[Byte], startB: Int, endB: Int, pos: Int): Unit
  }

  /** UTF-16 length of the decoded form of `src`: one unit per 1-3-byte
    * sequence, two per 4-byte sequence. Counts with the SAME state machine
    * as [[decodeCp]], so on malformed input (stray continuation bytes,
    * 0xF5-0xFF, truncated sequences) the count still equals exactly the
    * number of UTF-16 units [[appendRangeTo]] emits — positions and
    * decoded text can never desync, valid UTF-8 or not.
    */
  def charLength(src: Array[Byte]): Int = {
    var i = 0
    var c = 0
    val n = src.length
    while (i < n) {
      val step = utf16Step(src, i, n)
      c += (step & 0xFFFFFFFFL).toInt
      i += (step >>> 32).toInt
    }
    c
  }

  /** One counting step at src(i): `(bytesConsumed << 32) | utf16Units`.
    * This is the ONE place the byte→UTF-16 advance rule lives — both
    * [[charLength]] and the byte scanner's position counter step with it,
    * so a future change to the malformed-input replacement policy cannot
    * desync span ends (charLength) from token positions (charPos).
    */
  @inline private[html] def utf16Step(src: Array[Byte], i: Int, n: Int): Long = {
    val b = src(i) & 0xFF
    if (b < 0x80) (1L << 32) | 1L
    else {
      val packed = decodeCp(src, i, n)
      val units = if ((packed & 0xFFFFFFFFL) >= 0x10000L) 2L else 1L
      (packed & 0xFFFFFFFF00000000L) | units
    }
  }

  /** Entity-decoded text of src[from, to): UTF-8 decode fused with entity
    * decode, so only this range ever materializes as chars.
    */
  def rangeText(src: Array[Byte], from: Int, to: Int): String = {
    val sb = new java.lang.StringBuilder(to - from)
    appendRangeTo(sb, src, from, to)
    sb.toString
  }

  /** Append the entity- and UTF-8-decoded run src[from, to) to `sb` with
    * no intermediate strings — the one entity decoder, for text runs and
    * attribute values alike. A reference is `&name;`, `&#N;` or `&#xH;`
    * whose `;` falls inside the range at most 10 chars after the `&`;
    * unknown names and bad numeric refs fall through as a literal '&'.
    */
  def appendRangeTo(sb: java.lang.StringBuilder, src: Array[Byte], from: Int, to: Int): Unit = {
    var i = from
    while (i < to) {
      val b = src(i) & 0xFF
      if (b == '&') {
        // The window is 10 CHARS ('&' to ';', semi - amp <= 10 UTF-16
        // units). 9 body units occupy at most 27 bytes, so a byte-window
        // of 30 is sufficient; the char condition is then re-checked on
        // the decoded body so multi-byte bodies gate by chars too.
        val semi = indexOfByteIn(src, ';', i + 1, math.min(to, i + 31))
        val body: String =
          if (semi < 0) null
          else {
            val ascii = asciiSlice(src, i + 1, semi)
            if (ascii != null) { if (semi - i <= 10) ascii else null }
            else {
              // rare: non-ASCII bytes in an entity body — decode and
              // apply the same numeric/named rules (Integer.parseInt
              // accepts any Unicode digit, so `&#١٢٣;` decodes to '{')
              val s = new String(src, i + 1, semi - i - 1,
                java.nio.charset.StandardCharsets.UTF_8)
              if (s.length + 1 <= 10) s else null
            }
          }
        if (body != null) {
          if (body.startsWith("#x") || body.startsWith("#X")) {
            try {
              val cp = Integer.parseInt(body.substring(2), 16)
              sb.appendCodePoint(cp); i = semi + 1
            } catch { case _: Exception => sb.append('&'); i += 1 }
          } else if (body.startsWith("#")) {
            try {
              val cp = Integer.parseInt(body.substring(1))
              sb.appendCodePoint(cp); i = semi + 1
            } catch { case _: Exception => sb.append('&'); i += 1 }
          } else NamedEntities.get(body) match {
            case Some(rep) => sb.append(rep); i = semi + 1
            case None => sb.append('&'); i += 1
          }
        } else { sb.append('&'); i += 1 }
      } else if (b < 0x80) {
        sb.append(b.toChar); i += 1
      } else {
        val packed = decodeCp(src, i, to)
        sb.appendCodePoint((packed & 0xFFFFFFFFL).toInt)
        i += (packed >>> 32).toInt
      }
    }
  }

  /** src[from, to) as a String iff every byte is ASCII; null otherwise. */
  private def asciiSlice(src: Array[Byte], from: Int, to: Int): String = {
    var i = from
    while (i < to) {
      if ((src(i) & 0xFF) >= 0x80) return null
      i += 1
    }
    val out = new Array[Char](to - from)
    i = from
    while (i < to) { out(i - from) = (src(i) & 0xFF).toChar; i += 1 }
    new String(out)
  }

  /** Decode the UTF-8 sequence at src[i]: returns (len << 32) | codePoint.
    * Malformed sequences decode to U+FFFD with length 1 (valid UTF-8 —
    * the case the corpus guarantees — is exact; the replacement policy on
    * junk approximates the JDK decoder's).
    */
  private def decodeCp(src: Array[Byte], i: Int, end: Int): Long = {
    @inline def cont(k: Int): Boolean = k < end && (src(k) & 0xC0) == 0x80
    val b0 = src(i) & 0xFF
    if (b0 < 0xC2) (1L << 32) | 0xFFFD // stray continuation or overlong lead
    else if (b0 < 0xE0) {
      if (cont(i + 1)) (2L << 32) | (((b0 & 0x1F) << 6) | (src(i + 1) & 0x3F)).toLong
      else (1L << 32) | 0xFFFD
    } else if (b0 < 0xF0) {
      if (cont(i + 1) && cont(i + 2)) {
        val cp = ((b0 & 0x0F) << 12) | ((src(i + 1) & 0x3F) << 6) | (src(i + 2) & 0x3F)
        if (cp >= 0x800 && !(cp >= 0xD800 && cp <= 0xDFFF)) (3L << 32) | cp.toLong
        else (1L << 32) | 0xFFFD
      } else (1L << 32) | 0xFFFD
    } else if (b0 < 0xF5) {
      if (cont(i + 1) && cont(i + 2) && cont(i + 3)) {
        val cp = ((b0 & 0x07) << 18) | ((src(i + 1) & 0x3F) << 12) |
          ((src(i + 2) & 0x3F) << 6) | (src(i + 3) & 0x3F)
        if (cp >= 0x10000 && cp <= 0x10FFFF) (4L << 32) | cp.toLong
        else (1L << 32) | 0xFFFD
      } else (1L << 32) | 0xFFFD
    } else (1L << 32) | 0xFFFD
  }

  /** First index of ASCII byte `c` in src[from, to), or -1. Safe on UTF-8:
    * continuation/lead bytes are >= 0x80 and can never equal an ASCII
    * needle.
    */
  private[html] def indexOfByteIn(src: Array[Byte], c: Char, from: Int, to: Int): Int = {
    val cb = c.toByte
    var i = from
    while (i < to) {
      if (src(i) == cb) return i
      i += 1
    }
    -1
  }

  private def startsWithAscii(src: Array[Byte], i: Int, pat: String): Boolean = {
    if (i + pat.length > src.length) return false
    var j = 0
    while (j < pat.length) {
      if (src(i + j) != pat.charAt(j).toByte) return false
      j += 1
    }
    true
  }

  private def indexOfAscii(src: Array[Byte], pat: String, from: Int): Int = {
    val limit = src.length - pat.length
    var i = math.max(from, 0)
    while (i <= limit) {
      if (startsWithAscii(src, i, pat)) return i
      i += 1
    }
    -1
  }

  /** Case-insensitive indexOf for lowercase-ASCII needles over bytes. */
  private def indexOfIgnoreCaseAscii(src: Array[Byte], needle: String, from: Int): Int = {
    val n = needle.length
    val limit = src.length - n
    var i = math.max(from, 0)
    while (i <= limit) {
      var j = 0
      var ok = true
      while (ok && j < n) {
        val b = src(i + j) & 0xFF
        val a = if (b < 0x80) lowerAscii(b.toChar) else b.toChar
        if (a != needle.charAt(j)) ok = false
        j += 1
      }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** The candidate equal to src[start, end) under ASCII case folding, or
    * null; allocation-free either way. Any non-ASCII byte fails the match:
    * per-char Character.toLowerCase diverges from String.toLowerCase
    * exactly when a char's lowercase is multi-char (U+0130 'İ' → "i̇"), so
    * exotic names never alias an ASCII candidate.
    */
  private def matchAscii(src: Array[Byte], start: Int, end: Int, cands: Array[String]): String = {
    val len = end - start
    var k = 0
    while (k < cands.length) {
      val t = cands(k)
      if (t.length == len) {
        var j = 0
        var ok = true
        while (ok && j < len) {
          val b = src(start + j) & 0xFF
          if (b >= 0x80 || lowerAscii(b.toChar) != t.charAt(j)) ok = false
          j += 1
        }
        if (ok) return t
      }
      k += 1
    }
    null
  }

  /** The lowercase name for src[start, end), reusing an interned constant
    * when the region matches one; allocates only for unknown names.
    */
  private def internedNameBytes(src: Array[Byte], start: Int, end: Int): String = {
    val len = end - start
    val interned = if (len < InternedNames.length) matchAscii(src, start, end, InternedNames(len)) else null
    if (interned != null) interned
    // Locale.ROOT: default-locale toLowerCase would fold "DIV" to "dıv"
    // under tr_TR and break every tag-name comparison downstream.
    else new String(src, start, len, java.nio.charset.StandardCharsets.UTF_8).toLowerCase(java.util.Locale.ROOT)
  }

  /** Single forward scan over the RAW UTF-8 bytes driving `sink`. The
    * document is never decoded as a whole: markup, skipped subtrees and
    * dropped attributes stay bytes, and only the text ranges the sink
    * keeps pay UTF-8 decode. Non-ASCII sequences inside tags are evaluated
    * per code point, so exotic Unicode whitespace separates attributes.
    * HtmlTokenizerBytesSpec checks the events against a plain scanner over
    * the decoded string.
    */
  def tokenizeBytesInto(html: Array[Byte], sink: ByteTokSink): Unit = {
    val n = html.length
    var i = 0
    var pendingRawEnd: String = null

    // lazy, monotone byte→char(UTF-16) position counter: every sink
    // position is derived by advancing this counter over the bytes in
    // between — each byte is counted exactly once across the whole scan.
    // Steps with decodeCp (not per-byte lead-byte heuristics) so the
    // count equals the units appendRangeTo emits even on malformed
    // UTF-8. Targets always land on step boundaries: the scanner's
    // boundaries are ASCII delimiters, decodeCp consumes >1 byte only
    // for VALID sequences, and valid sequences contain no ASCII bytes.
    var cpB = 0
    var cpC = 0
    def charPos(target: Int): Int = {
      var b = cpB
      var c = cpC
      while (b < target) {
        val step = utf16Step(html, b, n)
        c += (step & 0xFFFFFFFFL).toInt
        b += (step >>> 32).toInt
      }
      cpB = b; cpC = c
      c
    }

    // whitespace test at byte index j (ASCII fast path; non-ASCII decodes
    // the code point so Unicode whitespace counts too);
    // returns the byte length to skip if whitespace, else 0
    def wsLenAt(j: Int): Int = {
      val b = html(j) & 0xFF
      if (b < 0x80) { if (Character.isWhitespace(b.toChar)) 1 else 0 }
      else {
        val packed = decodeCp(html, j, n)
        if (Character.isWhitespace((packed & 0xFFFFFFFFL).toInt)) (packed >>> 32).toInt else 0
      }
    }
    @inline def seqLenAt(j: Int): Int = {
      val b = html(j) & 0xFF
      if (b < 0x80) 1 else (decodeCp(html, j, n) >>> 32).toInt
    }

    def parseStartTag(start: Int): Unit = {
      var j = start + 1
      val nameStart = j
      while (j < n && isNameCharB(html(j))) j += 1
      if (j == nameStart) {
        sink.startTag("", Nil, selfClosing = true, charPos(start), charPos(start + 1))
        i = start + 1
        return
      }
      val name = internedNameBytes(html, nameStart, j)
      var attrs: List[(String, String)] = Nil
      var selfClosing = false
      var done = false
      while (!done && j < n) {
        var w = 0
        while (j < n && { w = wsLenAt(j); w > 0 }) j += w
        if (j >= n) done = true
        else ((html(j) & 0xFF).toChar) match {
          case '>' => j += 1; done = true
          case '/' =>
            if (j + 1 < n && html(j + 1) == '>') { selfClosing = true; j += 2; done = true }
            else j += 1
          case _ =>
            val aStart = j
            while (j < n && wsLenAt(j) == 0 && html(j) != '=' && html(j) != '>' && html(j) != '/')
              j += seqLenAt(j)
            // prune at the scan: only RetainedAttrs are ever consumed
            // downstream, so other attributes are SCANNED (quote handling
            // must stay exact) but their name/value never materialize
            val aName = matchAscii(html, aStart, j, RetainedAttrs)
            while (j < n && { w = wsLenAt(j); w > 0 }) j += w
            var vStart = j
            var vEnd = j
            if (j < n && html(j) == '=') {
              j += 1
              while (j < n && { w = wsLenAt(j); w > 0 }) j += w
              if (j < n && (html(j) == '"' || html(j) == '\'')) {
                val q = (html(j) & 0xFF).toChar
                vStart = j + 1
                vEnd = indexOfByteIn(html, q, vStart, n)
                if (vEnd < 0) { vEnd = n; j = n } else j = vEnd + 1
              } else {
                vStart = j
                while (j < n && wsLenAt(j) == 0 && html(j) != '>') j += seqLenAt(j)
                vEnd = j
              }
            }
            if (aName != null) attrs = (aName, rangeText(html, vStart, vEnd)) :: attrs
        }
      }
      sink.startTag(name, attrs.reverse, selfClosing, charPos(start), charPos(j))
      i = j
      if (!selfClosing && RawTextTags.contains(name)) pendingRawEnd = "</" + name
    }

    while (i < n) {
      if (pendingRawEnd != null) {
        val close = indexOfIgnoreCaseAscii(html, pendingRawEnd, i)
        val endName = pendingRawEnd.substring(2)
        if (close < 0) { i = n; pendingRawEnd = null }
        else {
          val gt = indexOfByteIn(html, '>', close, n)
          val endB = if (gt < 0) n else gt + 1
          sink.endTag(endName, charPos(close), charPos(endB))
          i = endB
          pendingRawEnd = null
        }
      } else {
        val lt = indexOfByteIn(html, '<', i, n)
        if (lt < 0) {
          if (i < n) sink.text(html, i, n, charPos(i))
          i = n
        } else if (lt > i) {
          sink.text(html, i, lt, charPos(i))
          i = lt
        } else {
          if (startsWithAscii(html, i, "<!--")) {
            val close = indexOfAscii(html, "-->", i + 4)
            i = if (close < 0) n else close + 3
          } else if (startsWithAscii(html, i, "<![CDATA[")) {
            val close = indexOfAscii(html, "]]>", i + 9)
            i = if (close < 0) n else close + 3
          } else if (i + 1 < n && (html(i + 1) == '!' || html(i + 1) == '?')) {
            val gt = indexOfByteIn(html, '>', i, n)
            i = if (gt < 0) n else gt + 1
          } else if (i + 1 < n && html(i + 1) == '/') {
            val gt = indexOfByteIn(html, '>', i, n)
            if (gt < 0) { i = n }
            else {
              var ns = i + 2
              var ne = gt
              while (ns < ne && (html(ns) & 0xFF) <= ' ') ns += 1 // String.trim semantics
              while (ne > ns && (html(ne - 1) & 0xFF) <= ' ') ne -= 1
              sink.endTag(internedNameBytes(html, ns, ne), charPos(i), charPos(gt + 1))
              i = gt + 1
            }
          } else parseStartTag(lt)
        }
      }
    }
  }

  @inline private def isNameCharB(b: Byte): Boolean = {
    val c = b & 0xFF
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '-' || c == '_' || c == ':'
  }
}
