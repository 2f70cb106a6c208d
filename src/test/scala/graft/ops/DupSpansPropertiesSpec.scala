package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SharedSpark

/** Property tests for the sub-document dedup operators: the distributed
  * DupSpans/LineDedup results must equal a brute-force single-JVM
  * reference on random small corpora (high collision rates by
  * construction: tiny vocab, short docs). Each case runs real Spark jobs,
  * so the case count stays small — the generators are tuned for density,
  * not volume.
  */
class DupSpansPropertiesSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def check(p: Prop, cases: Int): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, res.status.toString)
  }

  // tiny vocab + short docs => dense gram collisions across docs
  private val word: Gen[String] = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff")
  private val doc: Gen[String] = Gen.chooseNum(0, 12).flatMap(n =>
    Gen.listOfN(n, word).map(_.mkString(" ")))
  private val corpus: Gen[List[String]] = Gen.chooseNum(2, 6).flatMap(n =>
    Gen.listOfN(n, doc))

  /** Reference: same tokenization, gram occurrence count over the whole
    * corpus (within-doc repeats included), overlap-merged spans.
    */
  private def refSpans(texts: List[String], k: Int): Set[(Long, Long, Long)] = {
    def toks(t: String) = TextAnalysis.sqlTrim(t)
      .toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
    val positions = texts.zipWithIndex.flatMap { case (t, id) =>
      val ts = toks(t)
      (0 to ts.length - k).map(i => (id.toLong, i, ts.slice(i, i + k).mkString(" ")))
    }
    val counts = positions.groupBy(_._3).view.mapValues(_.size).toMap
    positions.filter(p => counts(p._3) >= 2)
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      .flatMap { case (id, ps) =>
        // overlap-only merge: new span when the gap reaches k
        ps.foldLeft(List.empty[(Long, Long)]) {
          case (acc, p) if acc.nonEmpty && p - (acc.head._2 - (k - 1)) < k =>
            (acc.head._1, p.toLong + k - 1) :: acc.tail
          case (acc, p) => (p.toLong, p.toLong + k - 1) :: acc
        }.map { case (s, e) => (id, s, e) }
      }.toSet
  }

  test("dupSpans == brute-force reference on random dense corpora (k=3)") {
    import spark.implicits._
    check(Prop.forAll(corpus) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = DupSpans.dupSpans(spark, df, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = refSpans(texts, 3)
      if (got != want) println(s"texts=$texts got=$got want=$want")
      got == want
    }, cases = 12)
  }

  test("dupCoverage totals == sum of reference span lengths; clean docs zero") {
    import spark.implicits._
    check(Prop.forAll(corpus) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = DupSpans.dupCoverage(spark, df, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
      val want = refSpans(texts, 3).groupBy(_._1).view
        .mapValues(_.toSeq.map(s => s._3 - s._2 + 1).sum).toMap
      texts.indices.forall(i => got(i.toLong) == want.getOrElse(i.toLong, 0L))
    }, cases = 10)
  }

  // fixed line pool incl. case/whitespace variants of the same normalized
  // form, blank, space-only and CR-ended lines; every entry can repeat
  // across docs and inside one doc — the reference recomputes df from the
  // actual corpus, so nothing is unique by construction
  private val line: Gen[String] = Gen.oneOf(
    "aa bb", "cc dd", "ee ff", "AA bb", " cc dd ", "zz qq ww", "", " ", "\r", "x\r")
  private val linedDoc: Gen[String] = for {
    n <- Gen.chooseNum(1, 8)
    ls <- Gen.listOfN(n, line)
    trailing <- Gen.oneOf("", "\n")
  } yield ls.mkString("\n") + trailing
  private val linedCorpus: Gen[List[String]] = Gen.chooseNum(2, 5).flatMap(n =>
    Gen.listOfN(n, linedDoc))

  test("stripRepeatedLines == reference (normalized df, original bytes kept, order preserved)") {
    import spark.implicits._
    check(Prop.forAll(linedCorpus) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val got = LineDedup.stripRepeatedLines(df, minDf = 2)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      def norm(l: String) = TextAnalysis.sqlTrim(l).toLowerCase(java.util.Locale.ROOT)
      val allLines = texts.flatMap(_.split("\n", -1))
      val df2 = allLines.groupBy(norm).view.mapValues(_.size).toMap
      val want = texts.zipWithIndex.map { case (t, i) =>
        i.toLong -> t.split("\n", -1).filter(l => df2(norm(l)) < 2).mkString("\n")
      }.toMap
      if (got != want) println(s"texts=$texts got=$got want=$want")
      got == want
    }, cases = 10)
  }
}
