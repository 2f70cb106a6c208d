package graft.core

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Try

/** The streaming TableDoc codec against the tree codec ([[TreeCodec]]) on
  * generated `.tables.json` texts: duplicate keys at every level,
  * wrong-typed fields, `rows` before `table_fragments`, non-array
  * `table_fragments`, truncation and trailing garbage.
  */
class TableDocCodecSpec extends AnyFunSuite {

  // ---- JSON text generators -------------------------------------------

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => JVal.quote(k) + ": " + v }.mkString("{", ", ", "}")

  private def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  private def listOfUpTo[A](n: Int, g: Gen[A]): Gen[List[A]] =
    Gen.choose(0, n).flatMap(Gen.listOfN(_, g))

  /** Fields in a random order, some of them repeated with another value. */
  private def fields(required: Seq[Gen[(String, String)]], dupes: Gen[(String, String)]): Gen[String] =
    for {
      fs <- Gen.sequence[List[(String, String)], (String, String)](required)
      extra <- listOfUpTo(2, dupes)
      order <- Gen.listOfN(fs.size + extra.size, Gen.choose(0, Int.MaxValue))
    } yield obj((fs ++ extra).zip(order).sortBy(_._2).map(_._1))

  private val text: Gen[String] = Gen.frequency(
    4 -> Gen.oneOf("", "a", "Hello World", "no data", "x\ty", "é", "Σ", "(cid:200)"),
    2 -> Gen.listOf(Gen.oneOf('a', 'B', ' ', '"', '\\', '\n', '\u0001', 'é', '中', '/')).map(_.mkString))

  /** A string literal, some written with escapes the writer never emits. */
  private val str: Gen[String] = Gen.frequency(
    8 -> text.map(JVal.quote),
    1 -> Gen.oneOf("\"\\u00e9\\u00C9\"", "\"\\ud83d\\ude00\"", "\"a\\/b\""))

  private val int: Gen[String] = Gen.frequency(
    6 -> Gen.choose(-3, 40).map(_.toString),
    1 -> Gen.oneOf("+4", "007", "-0", "1.0", "2e1", "-", "99999999999"))

  private def anyValue(depth: Int): Gen[String] =
    if (depth <= 0) Gen.oneOf(str, int, Gen.oneOf("true", "false", "null"))
    else Gen.frequency(
      4 -> anyValue(0),
      1 -> listOfUpTo(2, anyValue(depth - 1)).map(arr),
      1 -> listOfUpTo(2, Gen.zip(Gen.oneOf("filename", "curations", "k", "value"), anyValue(depth - 1)))
        .map(obj))

  private val wrong: Gen[String] = anyValue(1)

  private val valueWithAgreement: Gen[String] = Gen.frequency(
    12 -> fields(
      Seq(str.map("value" -> _), int.map("agreement_level" -> _)),
      Gen.oneOf(wrong.map("value" -> _), wrong.map("agreement_level" -> _), wrong.map("extra" -> _))),
    1 -> fields(Seq(str.map("value" -> _)), wrong.map("extra" -> _)),
    1 -> wrong)

  private val cell: Gen[String] = Gen.frequency(
    4 -> str,
    2 -> Gen.const("null"),
    2 -> listOfUpTo(3, valueWithAgreement).map(arr),
    1 -> wrong)

  private val column: Gen[(String, String)] =
    Gen.zip(Gen.oneOf("a", "b", "A", "name", "1"), cell)

  private val special: Gen[(String, String)] = Gen.oneOf(
    Gen.frequency(6 -> int, 3 -> Gen.const("null"), 1 -> wrong).map("agreement_level_" -> _),
    Gen.frequency(6 -> int, 3 -> Gen.const("null"), 1 -> wrong).map("row_" -> _),
    Gen.frequency(
      6 -> listOfUpTo(3, Gen.frequency(9 -> str, 1 -> wrong)).map(arr),
      3 -> Gen.const("null"),
      1 -> wrong).map("sources_" -> _))

  private val row: Gen[String] = Gen.frequency(
    20 -> listOfUpTo(4, Gen.frequency(4 -> column, 1 -> special)).map(obj),
    1 -> wrong)

  private val rows: Gen[String] = Gen.frequency(12 -> listOfUpTo(3, row).map(arr), 1 -> wrong)

  private val page: Gen[String] = Gen.frequency(12 -> int, 1 -> wrong)

  private val fragment: Gen[String] = Gen.frequency(
    12 -> fields(
      Seq(rows.map("rows" -> _), page.map("page" -> _)),
      Gen.oneOf(rows.map("rows" -> _), page.map("page" -> _), str.map("title" -> _))),
    1 -> wrong)

  private val fragmentsForm: Gen[(String, String)] = Gen.frequency(
    8 -> listOfUpTo(3, fragment).map(arr),
    2 -> wrong).map("table_fragments" -> _)

  private val table: Gen[String] = Gen.frequency(
    6 -> fields(Seq(fragmentsForm), Gen.oneOf(fragmentsForm, rows.map("rows" -> _), page.map("page" -> _))),
    6 -> fields(Seq(rows.map("rows" -> _), page.map("page" -> _)),
      Gen.oneOf(fragmentsForm, rows.map("rows" -> _), page.map("page" -> _))),
    3 -> fields(Seq(rows.map("rows" -> _), page.map("page" -> _), fragmentsForm), fragmentsForm),
    1 -> wrong)

  private val metadata: Gen[String] = Gen.frequency(
    6 -> listOfUpTo(4, Gen.zip(Gen.oneOf("filename", "curations", "k", "k"), anyValue(1))).map(obj),
    1 -> wrong)

  private val doc: Gen[String] = fields(
    Seq(
      Gen.frequency(20 -> listOfUpTo(3, table).map(arr), 1 -> wrong).map("tables" -> _),
      cell.map("citation" -> _),
      metadata.map("metadata" -> _),
      Gen.frequency(4 -> str, 1 -> wrong).map("uuid" -> _)),
    Gen.oneOf(
      wrong.map("tables" -> _), cell.map("citation" -> _), metadata.map("metadata" -> _),
      wrong.map("uuid" -> _), anyValue(1).map("other" -> _)))

  /** The doc as generated, or damaged: truncated, trailing garbage, or
    * spread over extra whitespace.
    */
  private val document: Gen[String] = doc.flatMap { d =>
    Gen.frequency(
      12 -> Gen.const(d),
      2 -> Gen.choose(0, math.max(0, d.length - 1)).map(d.substring(0, _)),
      1 -> Gen.oneOf(" x", "}", ",", " {}", "\n").map(d + _),
      1 -> Gen.const(" \n\t" + d.replace(", ", " ,\n ") + "\r\n"))
  }

  // ---- checks ----------------------------------------------------------

  /** Accepted by both with equal models and equal writer bytes (both table
    * forms), or rejected by both.
    */
  private def agrees(json: String, accepted: java.util.concurrent.atomic.AtomicInteger): Boolean = {
    val ref = Try(TreeCodec.fromJsonString(json))
    val got = Try(TableDoc.fromJsonString(json))
    (ref.toOption, got.toOption) match {
      case (Some(r), Some(g)) =>
        accepted.incrementAndGet()
        val flipped = g.copy(tables = g.tables.map(t => t.copy(rowsForm = !t.rowsForm)))
        r == g &&
          TableDoc.toJsonString(g) == TreeCodec.toJsonString(r) &&
          TableDoc.toJsonString(flipped) == TreeCodec.toJsonString(flipped)
      case (None, None) => true
      case _ => false
    }
  }

  test("the streaming reader accepts exactly what the tree codec accepts, with the same model and bytes") {
    val accepted = new java.util.concurrent.atomic.AtomicInteger
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(3000).withMaxSize(8),
      Prop.forAll(document) { d =>
        Prop(agrees(d, accepted)) :| d
      })
    assert(res.passed, res.status.toString)
    // the generator must exercise both sides: a good share of documents read
    assert(accepted.get > 300, s"only ${accepted.get} of 3000 documents were accepted")
  }

  test("the reader's rules on hand-written documents") {
    def reads(json: String): Boolean = {
      val ref = Try(TreeCodec.fromJsonString(json))
      val got = Try(TableDoc.fromJsonString(json))
      assert(ref.isSuccess == got.isSuccess, json)
      ref.foreach(r => assert(got.get == r, json))
      got.isSuccess
    }
    // first occurrence wins at doc level; later duplicates are only syntax-checked
    assert(reads("""{"tables": [], "tables": 5, "uuid": "u", "uuid": 3}"""))
    assert(!reads("""{"tables": 5, "tables": []}"""))
    assert(!reads("""{"tables": [], "tables": [}"""))
    // row columns: duplicates kept in order; special fields: last non-null wins
    val row = TableDoc.fromJsonString(
      """{"tables": [{"rows": [{"a": "1", "row_": 3, "a": "2", "row_": null, "row_": 4, "row_": null}], "page": 1}]}""")
      .tables.head.fragments.head.rows.head
    assert(row.columns == Vector("a" -> Cell.Str("1"), "a" -> Cell.Str("2")))
    assert(row.rowIdx.contains(4))
    // a bad rows field before table_fragments only fails in rows-form
    assert(reads("""{"tables": [{"rows": [{"a": 1}], "page": "x", "table_fragments": []}]}"""))
    assert(!reads("""{"tables": [{"rows": [{"a": 1}], "page": 1, "table_fragments": 7}]}"""))
    assert(!reads("""{"tables": [{"rows": [{"a": 1], "table_fragments": []}]}"""))
    // non-array table_fragments falls back to rows-form
    val t = TableDoc.fromJsonString("""{"tables": [{"table_fragments": {}, "rows": [], "page": 2}]}""").tables.head
    assert(t.rowsForm && t.fragments == List(Fragment(Nil, 2)))
    // truncation and trailing garbage
    assert(!reads("""{"tables": []"""))
    assert(!reads("""{"tables": []} x"""))
    assert(reads(" {\"tables\": []} \n"))
  }
}
