package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** [[RowBuilder]] against the dict-update fold it replaces ([[DictFold]]).
  * Keys are one or two letters of a 4-letter alphabet, so collisions are
  * common, and starts hold duplicate names as JSON rows may.
  */
class RowBuilderSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(500), p)
    assert(res.passed, res.status.toString)
  }

  private val key: Gen[String] = for {
    n <- Gen.choose(1, 2)
    cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
  } yield cs.mkString

  private val cell: Gen[Cell] = Gen.oneOf(
    Gen.const(Cell.Null),
    Gen.choose(0, 99).map(i => Cell.Str(i.toString)),
    Gen.choose(0, 99).map(i => Cell.Multi(List(ValueWithAgreement(i.toString, 1)))))

  private val pairs: Gen[Vector[(String, Cell)]] =
    Gen.choose(0, 60).flatMap(n => Gen.listOfN(n, Gen.zip(key, cell))).map(_.toVector)

  test("puts equal the dict-update fold from the same start, duplicate names in the start kept") {
    check(Prop.forAll(pairs, pairs) { (init, puts) =>
      val b = new RowBuilder(init)
      puts.foreach { case (k, v) => b.put(k, v) }
      b.result() == puts.foldLeft(init) { case (cols, (k, v)) => DictFold.dictUpdate(cols, k, v) }
    })
  }

  test("combine equals an update with the combined value of the first pair of the name") {
    val f = (a: Cell, b: Cell) => Cell.Str(Cell.json(a) + "+" + Cell.json(b))
    check(Prop.forAll(pairs, pairs) { (init, puts) =>
      val b = new RowBuilder(init)
      puts.foreach { case (k, v) => b.combine(k, v)(f) }
      val want = puts.foldLeft(init) { case (cols, (k, v)) =>
        cols.find(_._1 == k) match {
          case Some((_, existing)) => DictFold.dictUpdate(cols, k, f(existing, v))
          case None => DictFold.dictUpdate(cols, k, v)
        }
      }
      b.result() == want
    })
  }
}
