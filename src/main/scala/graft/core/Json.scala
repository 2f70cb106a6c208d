package graft.core

/** Minimal ordered JSON AST + parser + serializer.
  *
  * The serializer reproduces CPython `json.dumps(obj, ensure_ascii=False)`
  * byte-for-byte for the value shapes this engine emits (objects keep
  * insertion order; separators ", " / ": "; control chars escaped as in
  * CPython; non-ASCII passes through raw) — required because the
  * reference's goldens are written that way
  * (/root/reference/src/paper2table/writers/file.py:21,
  * /root/reference/src/tablemerge/__main__.py:233-239).
  */
sealed trait JVal {
  def render: String = {
    val sb = new java.lang.StringBuilder
    JVal.write(sb, this)
    sb.toString
  }
}

object JVal {
  case object JNull extends JVal
  final case class JBool(b: Boolean) extends JVal
  /** Numbers carry their literal text so ints/floats round-trip exactly. */
  final case class JNum(raw: String) extends JVal
  final case class JStr(s: String) extends JVal
  final case class JArr(items: Vector[JVal]) extends JVal
  final case class JObj(fields: Vector[(String, JVal)]) extends JVal {
    def get(key: String): Option[JVal] = fields.collectFirst { case (`key`, v) => v }
  }

  def num(i: Int): JNum = JNum(i.toString)
  def num(l: Long): JNum = JNum(l.toString)

  def write(sb: java.lang.StringBuilder, v: JVal): Unit = v match {
    case JNull => sb.append("null")
    case JBool(b) => sb.append(if (b) "true" else "false")
    case JNum(raw) => sb.append(raw)
    case JStr(s) => writeString(sb, s)
    case JArr(items) =>
      sb.append('[')
      var first = true
      items.foreach { it =>
        if (!first) sb.append(", ")
        first = false
        write(sb, it)
      }
      sb.append(']')
    case JObj(fields) =>
      sb.append('{')
      var first = true
      fields.foreach { case (k, fv) =>
        if (!first) sb.append(", ")
        first = false
        writeString(sb, k)
        sb.append(": ")
        write(sb, fv)
      }
      sb.append('}')
  }

  /** Quoted+escaped JSON string literal. */
  def quote(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 2)
    writeString(sb, s)
    sb.toString
  }

  /** CPython json string escaping with ensure_ascii=False. A string with
    * nothing to escape, the common case, is appended whole.
    */
  def writeString(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length && !needsEscape(s.charAt(i))) i += 1
    if (i == s.length) sb.append(s)
    else {
      sb.append(s, 0, i)
      while (i < s.length) {
        val c = s.charAt(i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case '\b' => sb.append("\\b")
          case '\f' => sb.append("\\f")
          case _ if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
          case _ => sb.append(c)
        }
        i += 1
      }
    }
    sb.append('"')
  }

  @inline private def needsEscape(c: Char): Boolean = c < 0x20 || c == '"' || c == '\\'

  // -------------------------------------------------------------------
  // Parser (recursive descent; enough for .tables.json documents)
  // -------------------------------------------------------------------

  def parse(input: String): JVal = {
    val p = new Parser(input)
    val v = p.parseValue()
    p.end()
    v
  }

  /** A cursor over one JSON text. [[parseValue]] builds a tree; the
    * `openObj`/`key`/`nextField` and `openArr`/`nextItem` steps let a reader
    * walk the same grammar straight into its own model (TableDoc's codec).
    * Both accept exactly the same texts.
    */
  private[core] final class Parser(s: String) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && (s.charAt(pos) == ' ' || s.charAt(pos) == '\n' || s.charAt(pos) == '\t' || s.charAt(pos) == '\r')) pos += 1
    private def fail(msg: String): Nothing = throw new IllegalArgumentException(s"JSON parse error at $pos: $msg")
    private def expect(c: Char): Unit = {
      if (eof || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }

    /** Fails unless only whitespace is left. */
    def end(): Unit = {
      skipWs()
      require(eof, s"trailing content at $pos")
    }

    /** The first char of the next value, after whitespace. */
    def peek(): Char = {
      skipWs()
      if (eof) fail("unexpected end")
      s.charAt(pos)
    }

    def parseValue(): JVal = peek() match {
      case '{' => parseObj()
      case '[' => parseArr()
      case '"' => JStr(parseString())
      case 't' => literal("true"); JBool(true)
      case 'f' => literal("false"); JBool(false)
      case 'n' => parseNull(); JNull
      case _ => parseNum()
    }

    private def literal(lit: String): Unit = {
      if (!s.startsWith(lit, pos)) fail(s"expected $lit")
      pos += lit.length
    }

    def parseNull(): Unit = literal("null")

    /** Consumes `{`; false when the object is empty (its `}` consumed too). */
    def openObj(): Boolean = {
      skipWs()
      expect('{')
      skipWs()
      if (!eof && s.charAt(pos) == '}') { pos += 1; false } else true
    }

    /** The next field's key, with its `:` consumed. */
    def key(): String = {
      skipWs()
      val k = parseString()
      skipWs()
      expect(':')
      k
    }

    /** After a field's value: true when another field follows. */
    def nextField(): Boolean = {
      skipWs()
      if (!eof && s.charAt(pos) == ',') { pos += 1; true }
      else { expect('}'); false }
    }

    /** Consumes `[`; false when the array is empty (its `]` consumed too). */
    def openArr(): Boolean = {
      skipWs()
      expect('[')
      skipWs()
      if (!eof && s.charAt(pos) == ']') { pos += 1; false } else true
    }

    /** After an item: true when another item follows. */
    def nextItem(): Boolean = {
      skipWs()
      if (!eof && s.charAt(pos) == ',') { pos += 1; true }
      else { expect(']'); false }
    }

    private def parseObj(): JObj = {
      val b = Vector.newBuilder[(String, JVal)]
      if (openObj()) {
        var more = true
        while (more) {
          val k = key()
          b += ((k, parseValue()))
          more = nextField()
        }
      }
      JObj(b.result())
    }

    private def parseArr(): JArr = {
      val b = Vector.newBuilder[JVal]
      if (openArr()) {
        var more = true
        while (more) {
          b += parseValue()
          more = nextItem()
        }
      }
      JArr(b.result())
    }

    /** A string literal at the cursor. One without escapes is a substring
      * of the input.
      */
    def parseString(): String = {
      expect('"')
      val start = pos
      while (!eof && s.charAt(pos) != '"' && s.charAt(pos) != '\\') pos += 1
      if (eof) fail("unterminated string")
      if (s.charAt(pos) == '"') { pos += 1; return s.substring(start, pos - 1) }
      val sb = new java.lang.StringBuilder(pos - start + 16)
      sb.append(s, start, pos)
      while (true) {
        if (eof) fail("unterminated string")
        val c = s.charAt(pos)
        if (c == '"') { pos += 1; return sb.toString }
        else if (c == '\\') {
          pos += 1
          if (eof) fail("bad escape")
          s.charAt(pos) match {
            case '"' => sb.append('"'); pos += 1
            case '\\' => sb.append('\\'); pos += 1
            case '/' => sb.append('/'); pos += 1
            case 'n' => sb.append('\n'); pos += 1
            case 't' => sb.append('\t'); pos += 1
            case 'r' => sb.append('\r'); pos += 1
            case 'b' => sb.append('\b'); pos += 1
            case 'f' => sb.append('\f'); pos += 1
            case 'u' => sb.append(hex4(pos + 1)); pos += 5
            case other => fail(s"bad escape \\$other")
          }
        } else { sb.append(c); pos += 1 }
      }
      throw new IllegalStateException("unreachable")
    }

    /** The char named by exactly four hex digits at `at`, as Python's json
      * requires (no sign, no short or truncated escape).
      */
    private def hex4(at: Int): Char = {
      if (at + 4 > s.length) fail("truncated \\u escape")
      var v = 0
      var i = at
      while (i < at + 4) {
        val c = s.charAt(i)
        val d =
          if (c >= '0' && c <= '9') c - '0'
          else if (c >= 'a' && c <= 'f') c - 'a' + 10
          else if (c >= 'A' && c <= 'F') c - 'A' + 10
          else fail("bad \\u escape")
        v = v * 16 + d
        i += 1
      }
      v.toChar
    }

    /** A number's literal text, in JSON's grammar (as Python's json reads
      * it): `-?(0|[1-9][0-9]*)(\.[0-9]+)?([eE][+-]?[0-9]+)?`, ASCII digits
      * only. A leading zero ends the integer part, so `007` leaves `07` as
      * trailing content.
      */
    def parseNumRaw(): String = {
      skipWs()
      val start = pos
      if (at('-')) pos += 1
      if (at('0')) pos += 1 else digits()
      if (at('.')) { pos += 1; digits() }
      if (at('e') || at('E')) {
        pos += 1
        if (at('+') || at('-')) pos += 1
        digits()
      }
      s.substring(start, pos)
    }

    private def at(c: Char): Boolean = !eof && s.charAt(pos) == c

    /** One or more ASCII digits. */
    private def digits(): Unit = {
      def digit = !eof && s.charAt(pos) >= '0' && s.charAt(pos) <= '9'
      if (!digit) fail("expected digit")
      while (digit) pos += 1
    }

    private def parseNum(): JNum = JNum(parseNumRaw())
  }
}
