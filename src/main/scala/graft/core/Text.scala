package graft.core

import java.text.Normalizer

/** Pure string normalizers, byte-parity re-implementations of the
  * reference's text layer:
  *
  *  - normalizeStr          — /root/reference/src/utils/str.py:4-17
  *  - normalizeColumnName   — /root/reference/src/utils/column_names.py:16-30
  *  - normalizeColumnValue  — /root/reference/src/utils/column_values.py:4-11
  *  - coerce                — /root/reference/src/utils/coerce.py:1-26
  *  - tokenizeSchema        — /root/reference/src/utils/tokenize_schema.py:1-3
  *  - pythonFloatParses     — Python `float(str)` grammar, used by
  *                            Row.is_semantic_column (/root/reference/src/tablevalidate/schema.py:44-49)
  *  - pyFloatRepr           — Python `str(float)` shortest-repr formatting
  *                            (needed by coerce.py:23-24)
  *  - transliterate         — deterministic `unidecode` subset
  *                            (/root/reference/src/tablemerge/tablesfile_merger.py:36-46)
  *
  * All functions are deterministic, allocation-light and safe inside
  * Spark codegen'd UDFs (no shared mutable state).
  */
object Text {

  /** Python str.isspace() set: Unicode Zs/Zl/Zp + \t\n\v\f\r + FS/GS/RS/US + NEL.
    * Matches CPython's Py_UNICODE_ISSPACE, which also backs `\s` in `re` for str.
    */
  @inline def pyIsSpace(c: Char): Boolean = {
    if (c == ' ' || (c >= '\t' && c <= '\r')) true
    else if (c >= 0x1c && c <= 0x1f) true
    else if (c == 0x85) true
    else if (c < 0xa0) false
    else {
      val t = Character.getType(c)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
      t == Character.PARAGRAPH_SEPARATOR
    }
  }

  /** [[collapseWhitespace]] straight off a builder — byte-identical to
    * `collapseWhitespace(sb.toString)` (same pyIsSpace strip bounds, same
    * run collapse) without materializing the raw string first; the
    * extraction hot path accumulates block/cell text in builders and this
    * saves one full-text copy per flush.
    */
  def collapseWhitespaceOf(sb: java.lang.StringBuilder): String = {
    var a = 0
    var b = sb.length
    while (a < b && pyIsSpace(sb.charAt(a))) a += 1
    while (b > a && pyIsSpace(sb.charAt(b - 1))) b -= 1
    // compact IN PLACE (mutates `sb` — callers pass consumed-once scratch
    // builders): the collapsed form is never longer than the input and the
    // write cursor can't overtake the read cursor, so no intermediate
    // builder is needed — one String allocation instead of two-plus-growth
    var k = 0
    var i = a
    var inWs = false
    while (i < b) {
      val c = sb.charAt(i)
      if (pyIsSpace(c)) {
        if (!inWs) { sb.setCharAt(k, ' '); k += 1 }
        inWs = true
      } else {
        sb.setCharAt(k, c)
        k += 1
        inWs = false
      }
      i += 1
    }
    sb.substring(0, k)
  }

  /** Length of [[collapseWhitespaceOf]]'s result without materializing it
    * (does NOT mutate `sb`) — the link-density counter needs only the
    * collapsed length, never the string.
    */
  def collapsedLengthOf(sb: java.lang.StringBuilder): Int = {
    var a = 0
    var b = sb.length
    while (a < b && pyIsSpace(sb.charAt(a))) a += 1
    while (b > a && pyIsSpace(sb.charAt(b - 1))) b -= 1
    var n = 0
    var i = a
    var inWs = false
    while (i < b) {
      if (pyIsSpace(sb.charAt(i))) { if (!inWs) n += 1; inWs = true }
      else { n += 1; inWs = false }
      i += 1
    }
    n
  }

  /** Python str.strip() (no args): strip pyIsSpace chars from both ends. */
  def pyStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && pyIsSpace(s.charAt(i))) i += 1
    while (j > i && pyIsSpace(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** CPython float()'s own whitespace tolerance: str.strip()'s set MINUS
    * U+001C..U+001F (verified against CPython 3.12: '\x1c'.isspace() is
    * True but float('\x1c7') raises — the decimal-transform table float()
    * strips with excludes the information separators).
    */
  @inline private def pyFloatSpace(c: Char): Boolean =
    pyIsSpace(c) && !(c >= 0x1c && c <= 0x1f)

  private def pyFloatStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && pyFloatSpace(s.charAt(i))) i += 1
    while (j > i && pyFloatSpace(s.charAt(j - 1))) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** `re.sub(r"\s+", " ", s.strip())` with Python's Unicode \s semantics. */
  def collapseWhitespace(s: String): String = {
    val t = pyStrip(s)
    val sb = new java.lang.StringBuilder(t.length)
    var i = 0
    var inWs = false
    while (i < t.length) {
      val c = t.charAt(i)
      if (pyIsSpace(c)) {
        if (!inWs) sb.append(' ')
        inWs = true
      } else {
        sb.append(c)
        inWs = false
      }
      i += 1
    }
    sb.toString
  }

  @inline private def isNonPrintable(c: Char): Boolean =
    (c <= 0x08) || c == 0x0b || c == 0x0c || (c >= 0x0e && c <= 0x1f) ||
      (c >= 0x7f && c <= 0x9f) || c == 0xfffd

  @inline private def isDashVariant(c: Char): Boolean = c match {
    // [‐‑‒–—―−] — str.py:16
    case '‐' | '‑' | '‒' | '–' | '—' | '―' | '−' => true
    case _ => false
  }

  private val CidRe = raw"\(cid:(\d+)\)".r

  /** str.py:4-17 — NFC, strip nonprintables, repair (cid:N), fold dashes,
    * collapse whitespace.
    */
  def normalizeStr(value: String): String = {
    var v = Normalizer.normalize(value, Normalizer.Form.NFC)
    // NONPRINTABLE_RE.sub("") — str.py:4
    if (v.exists(isNonPrintable)) v = v.filterNot(isNonPrintable)
    // CID_RE.sub(_replace_cid) — str.py:5,9-11; chr(n) iff 160 <= n <= 255
    if (v.contains("(cid:")) {
      v = CidRe.replaceAllIn(v, m => {
        val digits = m.group(1)
        val n = if (digits.length > 4) -1 else digits.toInt
        if (n >= 160 && n <= 255) scala.util.matching.Regex.quoteReplacement(n.toChar.toString)
        else ""
      })
    }
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      sb.append(if (isDashVariant(c)) '-' else c)
      i += 1
    }
    collapseWhitespace(sb.toString)
  }

  /** Python str.lower(): Locale-independent full Unicode lowercase. */
  @inline def pyLower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** column_names.py:16-30 — NFKD(normalizeStr) → ASCII-drop → lower →
    * non-[a-z0-9_] → '_' → collapse "__" → strip '_'.
    */
  def normalizeColumnName(name: String): String = {
    if (name == null) return null
    val nfkd = Normalizer.normalize(normalizeStr(name), Normalizer.Form.NFKD)
    val sb = new java.lang.StringBuilder(nfkd.length)
    var i = 0
    while (i < nfkd.length) {
      val c = nfkd.charAt(i)
      if (c < 128) { // .encode("ascii","ignore")
        val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        val ok = (lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9') || lc == '_'
        sb.append(if (ok) lc else '_')
      }
      i += 1
    }
    var out = sb.toString
    while (out.contains("__")) out = out.replace("__", "_")
    stripChar(out, '_')
  }

  private def stripChar(s: String, ch: Char): String = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ch) i += 1
    while (j > i && s.charAt(j - 1) == ch) j -= 1
    if (i == 0 && j == s.length) s else s.substring(i, j)
  }

  /** column_values.py:4-11 */
  val NoDataExpressions: Set[String] = Set("no data", "none", "not identified")

  /** column_values.py:4-11. A value the chain would return unchanged is
    * returned itself without running it (see [[isColumnValueFixedPoint]]).
    * The chain is NOT idempotent (`"(ci(cid:1)d:200)"` → `"(cid:200)"` →
    * `"è"`), so a caller may never skip normalizing a normalized value;
    * only this per-string proof skips work.
    */
  def normalizeColumnValue(value: String): String =
    if (isColumnValueFixedPoint(value)) value
    else {
      val normalized = pyLower(normalizeStr(value))
      if (NoDataExpressions.contains(normalized)) "" else normalized
    }

  /** True only when every step of [[normalizeColumnValue]] is the identity
    * on `s`: all chars in U+0020–U+007E or U+00A1–U+02FF (already NFC, no
    * nonprintable, no dash variant, no whitespace but ' ', nothing that
    * lowercases), no leading, trailing or doubled space, no `(cid:`, and
    * not a no-data phrase.
    */
  private def isColumnValueFixedPoint(s: String): Boolean = {
    var prevSpace = true
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') {
        if (prevSpace) return false
        prevSpace = true
      } else {
        if (c < 0x20 || (c >= 'A' && c <= 'Z') || (c > 0x7e && c < 0xa1) || c > 0x2ff) return false
        if (c >= 0xa1 && Character.toLowerCase(c) != c) return false
        prevSpace = false
      }
      i += 1
    }
    !(prevSpace && s.nonEmpty) && !s.contains("(cid:") && !NoDataExpressions.contains(s)
  }

  // ---------------------------------------------------------------------
  // Python float() grammar / repr
  // ---------------------------------------------------------------------

  // digitpart: digit ("_"? digit)*
  private val D = raw"\d(?:_?\d)*"
  private val FloatRe =
    (raw"(?i)[+-]?(?:inf(?:inity)?|nan|(?:(?:$D(?:\.(?:$D)?)?)|\.$D)(?:e[+-]?$D)?)").r

  /** True iff CPython float(s) succeeds (ASCII digits only). Used for
    * Row.is_semantic_column parity: semantic iff NOT parseable
    * (schema.py:44-49, e.g. "1e3", " 2 ", "nan" are numeric names).
    */
  def pythonFloatParses(s: String): Boolean = {
    val t = pyFloatStrip(s)
    t.nonEmpty && FloatRe.matches(t)
  }

  /** schema.py:44-49 */
  @inline def isSemanticColumn(name: String): Boolean = !pythonFloatParses(name)

  /** Parse with Python float() semantics; None when float() would raise. */
  def pythonParseFloat(s: String): Option[Double] = {
    val t = pyFloatStrip(s)
    if (t.isEmpty || !FloatRe.matches(t)) None
    else {
      val cleaned = t.replace("_", "")
      val low = pyLower(cleaned)
      val sign = if (low.startsWith("-")) -1.0 else 1.0
      val body = if (low.startsWith("+") || low.startsWith("-")) low.substring(1) else low
      if (body == "inf" || body == "infinity") Some(sign * Double.PositiveInfinity)
      else if (body == "nan") Some(Double.NaN)
      else Some(java.lang.Double.parseDouble(cleaned))
    }
  }

  /** Python str(float) / repr(float): shortest round-trip digits; fixed
    * notation when -4 <= exp10 < 16, else scientific like "1e+22"/"1e-05".
    */
  def pyFloatRepr(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val ad = math.abs(d)
    // Shortest round-trip digits, like CPython's repr: the correctly-rounded
    // p-significant-digit decimal for the smallest p (1..17) that parses back
    // to the same double. (JDK 17's Double.toString is NOT always shortest,
    // e.g. the smallest subnormal prints "4.9E-324" vs Python's "5e-324".)
    val (digits, exp10) = {
      val exact = new java.math.BigDecimal(ad)
      var p = 1
      var rounded: java.math.BigDecimal = null
      while (rounded == null) {
        val r = exact.round(new java.math.MathContext(p, java.math.RoundingMode.HALF_EVEN))
        if (r.doubleValue() == ad) rounded = r else p += 1
      }
      val unscaled = rounded.unscaledValue.toString
      // exponent of the leading digit: (numDigits - 1) - scale
      val e = (unscaled.length - 1) - rounded.scale
      var j = unscaled.length
      while (j > 1 && unscaled.charAt(j - 1) == '0') j -= 1
      (unscaled.substring(0, j), e)
    }
    val sb = new StringBuilder
    if (neg) sb.append('-')
    if (exp10 >= -4 && exp10 < 16) {
      if (exp10 >= 0) {
        if (digits.length > exp10 + 1) {
          sb.append(digits.substring(0, exp10 + 1)).append('.').append(digits.substring(exp10 + 1))
        } else {
          sb.append(digits).append("0" * (exp10 + 1 - digits.length)).append(".0")
        }
      } else {
        sb.append("0.").append("0" * (-exp10 - 1)).append(digits)
      }
    } else {
      sb.append(digits.charAt(0))
      if (digits.length > 1) sb.append('.').append(digits.substring(1))
      sb.append('e')
      sb.append(if (exp10 < 0) '-' else '+')
      val ae = math.abs(exp10)
      if (ae < 10) sb.append('0')
      sb.append(ae)
    }
    sb.toString
  }

  /** Python str(int(float(v))) — exact truncation of the double toward zero. */
  def pyIntOfFloatRepr(d: Double): Option[String] = {
    if (d.isNaN || d.isInfinite) None // int(nan/inf) raises in Python
    else Some(new java.math.BigDecimal(d).toBigInteger.toString)
  }

  // ---------------------------------------------------------------------
  // coerce.py
  // ---------------------------------------------------------------------

  private val BoolTrue = Set("true", "1", "yes", "on")
  private val BoolFalse = Set("false", "0", "no", "off")

  sealed trait ColType
  object ColType {
    case object TStr extends ColType
    case object TInt extends ColType
    case object TFloat extends ColType
    case object TBool extends ColType
    case object TScientificName extends ColType

    def parse(s: String): Option[ColType] = s match {
      case "str"             => Some(TStr)
      case "int"             => Some(TInt)
      case "float"           => Some(TFloat)
      case "bool"            => Some(TBool)
      case "scientific_name" => Some(TScientificName)
      case _                 => None
    }

    /** Reverse of `parse` — column_schema.py:19 `_reverse_types_map`. */
    def name(t: ColType): String = t match {
      case TStr            => "str"
      case TInt            => "int"
      case TFloat          => "float"
      case TBool           => "bool"
      case TScientificName => "scientific_name"
    }
  }
  import ColType._

  /** coerce.py:5-26. Returns value unchanged when conversion fails. */
  def coerceStr(value: String, targetType: ColType): String = targetType match {
    case TStr => value
    case TBool =>
      val lowered = pyLower(value)
      if (BoolTrue.contains(lowered)) "True"
      else if (BoolFalse.contains(lowered)) "False"
      else value
    case TInt =>
      // INTENTIONAL divergence from the reference on "inf"/"-inf"/"nan":
      // CPython's str(int(float(v))) raises OverflowError/ValueError there,
      // which escapes its `except (ValueError, TypeError)` and CRASHES the
      // postprocessor (coerce.py:15-18). Propagating a crash per pathological
      // cell is wrong at 10^12-doc scale; we keep the value unchanged
      // (pyIntOfFloatRepr returns None for non-finite floats).
      pythonParseFloat(value).flatMap(pyIntOfFloatRepr).getOrElse(value)
    case TFloat =>
      pythonParseFloat(value).map(pyFloatRepr).getOrElse(value)
    case TScientificName =>
      ScientificName.parse(value)
  }

  // ---------------------------------------------------------------------
  // tokenize_schema.py
  // ---------------------------------------------------------------------

  /** Strip '#' comments per line, commas→spaces, split on whitespace. */
  def tokenizeSchema(text: String): List[String] = {
    val stripped = text
      .split("\\r\\n|[\\n\\r\\u000B\\u000C\\u001C\\u001D\\u001E\\u0085\\u2028\\u2029]", -1)
      .map(line => line.takeWhile(_ != '#'))
      .mkString(" ")
    stripped
      .replace(",", " ")
      .split("\\s+")
      .iterator
      .map(_.trim)
      .filter(_.nonEmpty)
      .toList
  }

  /** parse_column_names_hints — /root/reference/src/paper2table/hints.py:4-5:
    * schema tokenization (comments stripped, comma/whitespace split) then
    * column-name normalization per hint.
    */
  def parseColumnNamesHints(hints: String): List[String] =
    tokenizeSchema(hints).map(normalizeColumnName)

  // ---------------------------------------------------------------------
  // unidecode subset (tablesfile_merger.py:36-46, analyzers.py:339-343)
  // ---------------------------------------------------------------------

  private val TranslitSpecials: Map[Char, String] = Map(
    'ß' -> "ss", 'ẞ' -> "SS",
    'æ' -> "ae", 'Æ' -> "AE",
    'œ' -> "oe", 'Œ' -> "OE",
    'ø' -> "o", 'Ø' -> "O",
    'đ' -> "d", 'Đ' -> "D",
    'ð' -> "d", 'Ð' -> "D",
    'þ' -> "th", 'Þ' -> "Th",
    'ł' -> "l", 'Ł' -> "L",
    'ı' -> "i", 'İ' -> "I",
    'ħ' -> "h", 'Ħ' -> "H",
    'ŋ' -> "ng", 'Ŋ' -> "NG",
    'ĸ' -> "k",
    '×' -> "x", '÷' -> "/",
    '©' -> "(c)", '®' -> "(r)",
    '«' -> "<<", '»' -> ">>",
    '‘' -> "'", '’' -> "'", '“' -> "\"", '”' -> "\"",
    '–' -> "-", '—' -> "--", '…' -> "...",
    ' ' -> " ", '¡' -> "!", '¿' -> "?",
    '°' -> "deg", 'µ' -> "u", '·' -> "*"
  )

  /** Deterministic `unidecode`-style ASCII transliteration covering
    * Latin-1 Supplement + Latin Extended-A plus common punctuation;
    * NFKD-decompose-and-strip-marks fallback for other letters.
    * Reference C7 (tablesfile_merger.py:36-46). Unknown non-ASCII → "".
    */
  def transliterate(s: String): String = {
    if (s.forall(_ < 128)) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 128) sb.append(c)
      else
        TranslitSpecials.get(c) match {
          case Some(rep) => sb.append(rep)
          case None =>
            val dec = Normalizer.normalize(c.toString, Normalizer.Form.NFKD)
            var j = 0
            while (j < dec.length) {
              val dc = dec.charAt(j)
              if (dc < 128) sb.append(dc)
              j += 1
            }
        }
      i += 1
    }
    sb.toString
  }

  // ---------------------------------------------------------------------
  // Jaccard-analyzer value normalization (analyzers.py:339-343):
  // unidecode(re.sub(r"\s+"," ", v.strip()).lower())
  // ---------------------------------------------------------------------
  def jaccardNormalizeValue(v: String): String =
    transliterate(pyLower(collapseWhitespace(v)))
}

/** Deterministic replacement for the reference's gnparser subprocess
  * (/root/reference/src/utils/gnparser.py:7-36): canonicalize a binomial
  * name by keeping capitalized genus + lowercase epithets and dropping
  * authorship/year tokens; multi-name inputs split on , or /.
  * A pure function — no subprocess, byte-stable.
  */
object ScientificName {
  private val RankTokens = Set("subsp.", "ssp.", "var.", "f.", "subvar.", "cv.")

  def parse(name: String): String = {
    val parts = name.split("[,/]").map(_.trim).filter(_.nonEmpty)
    if (parts.length <= 1) parseSingle(name)
    else parts.map(parseSingle).mkString(", ")
  }

  /** Keep: Genus (capitalized), species/infraspecific epithets (lowercase,
    * alphabetic), rank markers; stop at the first authorship-looking token
    * (capitalized non-initial token, parenthesized author, or 4-digit year).
    */
  def parseSingle(raw: String): String = {
    val name = Text.collapseWhitespace(raw)
    if (name.isEmpty) return raw
    val tokens = name.split(" ").toList
    val first = tokens.head
    if (first.isEmpty || !first.head.isLetter) return name
    val genus = first.head.toUpper + Text.pyLower(first.tail)
    if (!genus.forall(c => c.isLetter || c == '-')) return name
    val out = scala.collection.mutable.ListBuffer(genus)
    var i = 1
    var expectEpithet = true
    var done = false
    while (i < tokens.length && !done) {
      val t = tokens(i)
      val tl = Text.pyLower(t)
      if (RankTokens.contains(tl)) {
        out += tl
        expectEpithet = true
      } else if (expectEpithet && t.nonEmpty && t.forall(c => c.isLetter || c == '-') && t.head.isLower) {
        out += tl
        expectEpithet = false
      } else {
        done = true // authorship / year / anything else: stop (canonical form)
      }
      i += 1
    }
    // A bare capitalized word with no epithet and no rank info: keep as-is
    // unless it already looked like a clean uninomial.
    if (out.length == 1 && tokens.length > 1) name else out.mkString(" ")
  }
}
