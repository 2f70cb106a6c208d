package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Property tests for the scalar normalizers (SURVEY.md §5: a cheap upgrade
  * the reference lacks): idempotence and output-alphabet closure over
  * adversarial unicode inputs, plus structural laws for shingles/csv.
  */
class NormalizerPropertiesSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  // BMP minus surrogates: chars CPython and the JVM treat identically
  private val weirdChar: Gen[Char] = Gen.frequency(
    5 -> Gen.alphaNumChar,
    2 -> Gen.oneOf(' ', '\t', '\n', '_', '-', '.', ',', '(', ')', '"', '\''),
    2 -> Gen.oneOf('á', 'é', 'ñ', 'ü', 'ß', 'Ç', 'ø', 'Œ', '中', 'ま'),
    1 -> Gen.oneOf('–', '—', '«', '»', '“', '”', '´', '…', ' ', '́'),
    1 -> Gen.choose('\u0001', '\u001f'))
  private val weirdString: Gen[String] = Gen.listOf(weirdChar).map(_.mkString)

  test("normalize_column_name: idempotent and closed over [a-z0-9_]") {
    check(Prop.forAll(weirdString) { s =>
      val n = Text.normalizeColumnName(s)
      n.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_') &&
        !n.startsWith("_") && !n.endsWith("_") && !n.contains("__") &&
        Text.normalizeColumnName(n) == n
    })
  }

  // combining marks break idempotence BY REFERENCE DESIGN (see below), so
  // the idempotence laws run on the mark-free alphabet
  private val noMarkString: Gen[String] =
    weirdString.map(_.filterNot(c => Character.getType(c) == Character.NON_SPACING_MARK))

  test("normalize_str: idempotent, no dash variants, whitespace collapsed + trimmed") {
    check(Prop.forAll(noMarkString) { s =>
      val n = Text.normalizeStr(s)
      Text.normalizeStr(n) == n &&
        !n.exists("‐‑‒–—―−".contains(_)) &&
        !n.contains("  ") && n == n.trim
    })
  }

  test("normalize_column_value: idempotent (mark-free alphabet)") {
    check(Prop.forAll(noMarkString) { s =>
      val n = Text.normalizeColumnValue(s)
      Text.normalizeColumnValue(n) == n
    })
  }

  test("documented NON-idempotence parity: NFC runs before nonprintable strip") {
    // "a" + \x01 + combining acute: NFC cannot compose across the control
    // char; the strip then leaves a decomposed pair that a SECOND pass
    // would compose to "á". CPython reference behaves identically
    // (verified: normalize_str("a\x01́") == "á",
    // normalize_str of that == "á") — utils/str.py:13-17 order.
    val once = Text.normalizeStr("a\u0001\u0301")
    assert(once == "a\u0301")
    assert(Text.normalizeStr(once) == "\u00e1")
  }

  /** normalizeColumnValue's full chain, without its fixed-point fast path. */
  private def columnValueChain(s: String): String = {
    val n = Text.pyLower(Text.normalizeStr(s))
    if (Text.NoDataExpressions.contains(n)) "" else n
  }

  // U+0000–U+031F (the fast path's range edges, controls, combining marks)
  // plus the chars and phrases each step of the chain acts on. Half the
  // strings are short and lowercased, so most of them sit at the edge of
  // the fast path's image rather than far outside it.
  private val columnValueString: Gen[String] = {
    val specials = Gen.oneOf("\u0130", "\u03a3", "\u0301", "\u00a0", "\u2013", "(cid:", "(cid:200)", ")",
      "no data", "None", "NOT IDENTIFIED", "none ")
    val raw = Gen.listOf(Gen.frequency(
      12 -> Gen.choose('\u0000', '\u031f').map(_.toString),
      6 -> Gen.oneOf(" ", "a", "z", "A", "0"),
      3 -> specials)).map(_.mkString)
    val nearImage = Gen.choose(0, 10).flatMap(Gen.listOfN(_, Gen.frequency(
      10 -> Gen.choose('\u0020', '\u031f').map(c => Character.toLowerCase(c).toString),
      4 -> Gen.oneOf(" ", "a", "e", "o", "c"),
      2 -> Gen.choose('\u0300', '\u031f').map(_.toString),
      1 -> specials))).map(_.mkString)
    Gen.oneOf(raw, nearImage)
  }

  test("normalize_column_value: the fast path equals the full chain, also on its own output") {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(3000),
      Prop.forAll(columnValueString) { s =>
        val n = Text.normalizeColumnValue(s)
        n == columnValueChain(s) && Text.normalizeColumnValue(n) == columnValueChain(n)
      })
    assert(res.passed, res.status.toString)
    // a value in the chain's image is returned itself
    val plain = "ünïcode über 12 (cid 3)"
    assert(Text.normalizeColumnValue(plain) eq plain)
    // the chain is not idempotent, and a second pass must not be skipped
    assert(Text.normalizeColumnValue("(ci(cid:1)d:200)") == "(cid:200)")
    assert(Text.normalizeColumnValue("(cid:200)") == "\u00e8")
    val once = Cell.Str("(ci(cid:1)d:200)").normalized
    assert(once == Cell.Str("(cid:200)") && once.normalized == Cell.Str("\u00e8"))
  }

  test("Cell.normalized and RowData.normalize return the same instance when nothing changes") {
    check(Prop.forAll(columnValueString, columnValueString) { (a, b) =>
      // normalized values the chain leaves as they are
      val cells = List(a, b).map(s => Cell.Str(Text.normalizeColumnValue(s)): Cell)
        .filter(c => c.normalized == c)
      val multi = Cell.Multi(cells.collect { case Cell.Str(v) => ValueWithAgreement(v, 2) })
      val row = RowData(Vector("a" -> Cell.Null, "m" -> multi) ++ cells.map("s" -> _), agreementLevel = Some(3))
      cells.forall(c => c.normalized eq c) && (multi.normalized eq multi) &&
        (row.normalize() eq row) && (row.normalize(rowAgreement = true) eq row)
    })
    val raw = RowData(Vector("a" -> Cell.Str("X")))
    assert(raw.normalize() ne raw)
    assert(raw.normalize(rowAgreement = true).agreementLevel.contains(1))
  }

  test("semantic classification == python float-parse failure") {
    // NOT s.trim: Java trim strips U+0001..U+001F, which Python float()
    // does not treat as whitespace — "\\u0001 7" (control+digit) is semantic (float() raises)
    // but java-trims to the parseable "7". pythonParseFloat pyStrips
    // internally, matching CPython.
    check(Prop.forAll(weirdString) { s =>
      Text.isSemanticColumn(s) == Text.pythonParseFloat(s).isEmpty
    })
    // the java-trim counterexample stays pinned
    assert(Text.isSemanticColumn("\u00017"))
    assert(Text.pythonParseFloat("\u00017").isEmpty)
    assert(Text.pythonParseFloat("\u00017".trim).isDefined)
    // and the str.strip()-vs-float() divergence: '\\u001c'.isspace() is
    // True in CPython, yet float('\\u001c7') raises -- so the name is
    // SEMANTIC even though pyStrip removes the separator (verified on 3.12)
    assert(Text.pyStrip("\u001c7") == "7")
    assert(Text.isSemanticColumn("\u001c7"))
    assert(Text.pythonParseFloat("\u001c7").isEmpty)
    // float()'s tolerance for real unicode whitespace is kept
    assert(Text.pythonParseFloat("\u00a07").contains(7.0))
    assert(Text.pythonParseFloat("\u30007 ").contains(7.0))
  }

  test("polyHash lands in [0, 2^31-1) and is stable") {
    check(Prop.forAll(weirdString) { s =>
      val h = graft.ops.TextKernel.polyHash(s)
      h >= 0L && h < 2147483647L && graft.ops.TextKernel.polyHash(s) == h
    })
  }

  test("shinglesOf: every gram has exactly n tokens when enough tokens exist") {
    val words = Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.alphaChar).map(_.mkString))
    check(Prop.forAll(words) { ws =>
      val grams = graft.ops.Dedup.shinglesOf(ws.mkString(" "), 3)
      if (ws.length >= 3)
        grams.forall(_.split(" ").length == 3) && grams.length == grams.distinct.length
      else
        grams.toList == List(ws.map(_.toLowerCase(java.util.Locale.ROOT)).mkString(" "))
    })
  }

  test("collapseWhitespaceOf(builder) == collapseWhitespace(string) for all inputs") {
    // the fused extraction path must be byte-identical to the string
    // pipeline on EVERY input, not just the ASCII fast path that uses it
    check(Prop.forAll(weirdString) { s =>
      val sb = new java.lang.StringBuilder(s)
      Text.collapseWhitespaceOf(sb) == Text.collapseWhitespace(s)
    })
  }

  test("collapsedLengthOf(builder) == collapseWhitespace(string).length for all inputs") {
    check(Prop.forAll(weirdString) { s =>
      val sb = new java.lang.StringBuilder(s)
      val n = Text.collapsedLengthOf(sb)
      // length-only probe must not mutate the builder either
      sb.toString == s && n == Text.collapseWhitespace(s).length
    })
  }

  test("polyHash(UTF8String) == polyHash(String) for all inputs (incl. astral)") {
    val astral: Gen[String] = Gen.listOf(Gen.frequency(
      8 -> weirdChar.map(_.toString),
      1 -> Gen.oneOf("😀", "𝔸", "🜁"))).map(_.mkString)
    check(Prop.forAll(astral) { s =>
      graft.functions.GraftFunctions.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) ==
        graft.ops.TextKernel.polyHash(s)
    })
  }

  test("csvField: quoting is lossless under minimal-quoting rules") {
    check(Prop.forAll(weirdString) { s =>
      val f = graft.sinks.CsvExport.csvField(s)
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        f.startsWith("\"") && f.endsWith("\"") && f.length >= 2 &&
          f.substring(1, f.length - 1).replace("\"\"", "\"") == s
      else f == s
    })
  }
}
