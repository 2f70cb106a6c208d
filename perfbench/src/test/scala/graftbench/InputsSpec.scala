package graftbench

import org.scalatest.funsuite.AnyFunSuite
import Inputs._

class InputsSpec extends AnyFunSuite {

  test("a page is a pure function of (seed, index)") {
    for (i <- Seq(0, 1, 100, 9999)) {
      val a = pageAt(7L, 10000, i)
      val b = pageAt(7L, 10000, i)
      assert(a.url == b.url && a.text == b.text && a.lang == b.lang && a.warc_ts == b.warc_ts)
      assert(java.util.Arrays.equals(a.html, b.html))
    }
  }

  test("another seed renders other pages") {
    val a = (0 until 50).map(pageAt(1L, 10000, _))
    val b = (0 until 50).map(pageAt(2L, 10000, _))
    assert(a.map(_.url).intersect(b.map(_.url)).isEmpty)
    assert(a.zip(b).count { case (x, y) => x.text != y.text } >= 49)
  }

  test("the page sample includes the renderer's mega-page skew rows") {
    val pages = (0 until 1000).map(pageAt(3L, 1000, _))
    val mega = pages.filter(p => p.url.takeRight(8).toLong % 101 == 100)
    assert(mega.nonEmpty)
    assert(mega.map(_.html.length).sum / mega.size > 5 * pages.map(_.html.length).sorted.apply(500))
  }

  test("a curation doc is a pure function of (seed, index); another seed differs") {
    assert((0 until 200).map(docText(5L, _)) == (0 until 200).map(docText(5L, _)))
    assert((0 until 200).map(docText(5L, _)).intersect((0 until 200).map(docText(6L, _))).isEmpty)
  }

  test("body lines: >= 9 tokens each, no bigram repeated inside a doc") {
    for (i <- 0 until 300) {
      val lines = bodyLines(9L, i)
      assert(lines.forall(_.length >= 9))
      val toks = lines.flatten
      val bigrams = toks.zip(toks.tail)
      assert(bigrams.distinct.size == bigrams.size, s"doc $i repeats a bigram")
    }
  }

  test("line-level duplicates are exactly the planted ones") {
    val docs = 2000
    val lines = (0 until docs).flatMap(i => docText(4L, i).split("\n").map(l => (l, i)))
    val byLine = lines.groupBy(_._1)
    val shared = byLine.filter(_._2.map(_._2).distinct.size > 1)
    val boiler = (0 until BoilerplateLines).map(boilerplateLine(4L, _)).toSet
    // every boilerplate line occurs at least twice, so the strip removes it
    assert(boiler.forall(l => byLine.get(l).exists(_.size >= 2)))
    // apart from boilerplate, only exact copies share lines with their originals
    val owners = shared.filterNot { case (l, _) => boiler(l) }.values.map(_.map(_._2).toSet)
    assert(owners.forall(o => o.size == 2 && roleOf(o.min) == ExactCopy && o.max == o.min + 10))
    assert(owners.size == (0 until docs).filter(roleOf(_) == ExactCopy).map(i => docText(4L, i).count(_ == '\n') + 1).sum)
  }

  test("near twins change every line but share all other 8-token windows") {
    val i = (0 until 100).find(roleOf(_) == NearTwin).get
    val twin = docText(8L, i).split("\n")
    val orig = docText(8L, i + 10).split("\n")
    assert(twin.length == orig.length && twin.zip(orig).forall { case (t, o) => t != o })
    assert(twin.zip(orig).forall { case (t, o) => t.split(' ').init.sameElements(o.split(' ').init) })
  }

  test("contaminated docs open with 10 words of their benchmark item") {
    val i = (0 until 100).find(roleOf(_) == Contaminated).get
    assert(docText(8L, i).startsWith(benchItem(8L, i).split(' ').take(10).mkString(" ") + " "))
    assert(benchItems(8L, 100).size == 2 * (0 until 100).count(roleOf(_) == Contaminated))
  }

  test("planted gate counts of a 2000-doc corpus") {
    val s = CurateExpect(2000)
    assert(s == graft.CurateMain.Stats(2000, 1840, 1740, 1680, 40, 1540))
    assert(Seq(s.inputDocs, s.afterLineStrip, s.keptQuality, s.keptSpanGate, s.contaminated, s.outputDocs).forall(_ > 0))
  }
}
