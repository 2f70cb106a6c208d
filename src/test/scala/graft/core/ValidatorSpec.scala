package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark

/** S13 validator modes — reference tablevalidate semantics
  * (__main__.py:9-40, tests/test_validate.py).
  */
class ValidatorSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val valid = """{"tables": [{"rows": [{"a": "1"}], "page": 1}], "citation": null}"""
  private val malformed = """{"tables": [}"""
  private val invalid = """{"tables": [{"rows": "not-a-list", "page": 1}]}"""

  test("per-doc labels: VALID / MALFORMED JSON / INVALID") {
    assert(Validator.validateDoc("a.tables.json", valid).status == Validator.Valid)
    val m = Validator.validateDoc("b.tables.json", malformed)
    assert(m.status == Validator.MalformedJson && m.error.nonEmpty)
    val i = Validator.validateDoc("c.tables.json", invalid)
    assert(i.status == Validator.Invalid && i.error.nonEmpty)
  }

  test("pathological inputs become MALFORMED JSON rows, never crashes") {
    // truncated \\uXXXX escape indexes past end-of-string inside the parser
    assert(Validator.validateDoc("t.tables.json", "{\"a\": \"\\u12").status == Validator.MalformedJson)
    assert(Validator.validateDoc("e.tables.json", "").status == Validator.MalformedJson)
    assert(Validator.validateDoc("b.tables.json", "\"\\").status == Validator.MalformedJson)
  }

  test("a \\u escape takes exactly four hex digits, as Python's json does") {
    // the parser used to read a sign ("a\u-001b" gave U+FFFF, "\u+04A" gave
    // "J") and to index past the end on a truncated escape
    for (esc <- Seq("a\\u-001b", "\\u+04A", "\\u12")) {
      val r = Validator.validateDoc("u.tables.json", s"""{"tables": [], "citation": "$esc"}""")
      assert(r.status == Validator.MalformedJson, esc)
      assert(r.error.exists(_.startsWith("JSON parse error at")), s"$esc: ${r.error}")
    }
    val truncated = Validator.validateDoc("u.tables.json", "{\"tables\": [], \"citation\": \"\\u12")
    assert(truncated.error.exists(_.startsWith("JSON parse error at")), truncated.error)
    val ok = "{\"tables\": [], \"citation\": \"\\u00e9\\u00C9\"}"
    assert(Validator.validateDoc("u.tables.json", ok).status == Validator.Valid)
    assert(TableDoc.fromJsonString(ok).citation == Cell.Str("\u00e9\u00c9"))
  }

  test("numbers follow Python's json grammar on every generated string") {
    // a laxer grammar makes tablevalidate say VALID or INVALID where the
    // reference says MALFORMED JSON; verdicts are Python's, recorded by
    // tools/gen_json_number_verdicts.py
    for (s <- Seq("+4", "007", "1-2", "\u0661", "1.", ".5", "-", "[1,+2]"))
      assert(scala.util.Try(JVal.parse(s)).isFailure, s)
    val in = getClass.getResourceAsStream("/graft/golden/json_numbers.tsv")
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector finally in.close()
    assert(lines.size > 2000)
    val wrong = lines.flatMap { line =>
      val Array(alone, inDoc, text) = line.split("\t", 3)
      val parses = scala.util.Try(JVal.parse(text)).isSuccess
      val doc = s"""{"tables": [{"rows": [], "page": $text}], "citation": null}"""
      val docParses = Validator.validateDoc("n.tables.json", doc).status != Validator.MalformedJson
      if (parses == (alone == "1") && docParses == (inDoc == "1")) None
      else Some(s"[$text]: python $alone/$inDoc, parser $parses/$docParses")
    }
    assert(wrong.isEmpty, wrong.take(20).mkString("\n"))
  }

  test("report skips the metadata/settings files (reference skip list)") {
    import spark.implicits._
    val files = Seq(
      "run1/tables.metadata.json" -> "{not even json",
      "run1/settings.tablemerge.json" -> "{}",
      "run1/a.tables.json" -> valid).toDS()
    val rep = Validator.report(spark, files).collect()
    assert(rep.map(_.name).toSeq == Seq("run1/a.tables.json"))
  }

  test("quiet mode: any error -> exit-1 signal; clean set -> false") {
    import spark.implicits._
    val clean = Validator.report(spark, Seq("a.tables.json" -> valid).toDS())
    assert(!Validator.hasErrors(clean))
    val dirty = Validator.report(spark,
      Seq("a.tables.json" -> valid, "b.tables.json" -> malformed).toDS())
    assert(Validator.hasErrors(dirty))
  }

  test("all mode reports every file; default mode stops after first error") {
    import spark.implicits._
    val files = Seq(
      "1.tables.json" -> valid,
      "2.tables.json" -> malformed,
      "3.tables.json" -> valid,
      "4.tables.json" -> invalid).toDS()
    val rep = Validator.report(spark, files)
    assert(rep.count() == 4)
    val untilFirst = Validator.reportUntilFirstError(rep).collect().toList
    assert(untilFirst.map(_.name) == List("1.tables.json", "2.tables.json"))
    assert(untilFirst.last.status == Validator.MalformedJson)
    // error-free input: the whole report comes back (name-ordered)
    val clean = Validator.report(spark,
      Seq("b.tables.json" -> valid, "a.tables.json" -> valid).toDS())
    assert(Validator.reportUntilFirstError(clean).collect().toList.map(_.name) ==
      List("a.tables.json", "b.tables.json"))
  }
}
