package graftbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, a: Long, b: Long) = Span(id, s"s$id", parent, 0, a, b)

  test("covered length merges overlaps and clips to the window") {
    assert(Intervals.coveredNs(Nil, 0, 100) == 0)
    assert(Intervals.coveredNs(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Intervals.coveredNs(Seq((10L, 30L), (20L, 40L), (25L, 35L)), 0, 100) == 30)
    assert(Intervals.coveredNs(Seq((-50L, 10L), (90L, 150L)), 0, 100) == 20)
    assert(Intervals.coveredNs(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20)
    assert(Intervals.coveredNs(Seq((200L, 300L)), 0, 100) == 0)
  }

  test("self time is the span minus what its children cover") {
    val parent = span(0, -1, 0, 100)
    assert(Intervals.selfNs(parent, Nil) == 100)
    assert(Intervals.selfNs(parent, Seq(span(1, 0, 10, 40), span(2, 0, 50, 60))) == 60)
    // overlapping children count once
    assert(Intervals.selfNs(parent, Seq(span(1, 0, 10, 40), span(2, 0, 30, 60))) == 50)
    // a child outliving its parent only covers the parent's part
    assert(Intervals.selfNs(parent, Seq(span(1, 0, 80, 130))) == 80)
    assert(Intervals.selfNs(parent, Seq(span(1, 0, 0, 100))) == 0)
  }

  test("tracer nests spans and finds subtrees") {
    val t = new Tracer("test")
    t.iter = 3
    t.span("root") {
      t.span("a")(t.span("a1")(()))
      t.span("b")(())
    }
    val byName = t.spans.map(s => s.name -> s).toMap
    assert(byName("root").parent == -1)
    assert(byName("a").parent == byName("root").id && byName("a1").parent == byName("a").id)
    assert(t.subtree(byName("a").id) == Set(byName("a").id, byName("a1").id))
    assert(t.children(byName("root").id).map(_.name).toSet == Set("a", "b"))
    assert(t.spans.forall(s => s.iter == 3 && s.endNs >= s.startNs))
    val root = byName("root")
    assert(Intervals.selfNs(root, t.children(root.id)) <= root.durNs)
  }

  test("span hooks see the span and its parent, also when the body throws") {
    val t = new Tracer("test")
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    t.span("outer", id => seen += (("open", id, -2)), (id, p) => seen += (("close", id, p))) {
      intercept[IllegalStateException] {
        t.span("inner", id => seen += (("open", id, -2)), (id, p) => seen += (("close", id, p))) {
          throw new IllegalStateException("boom")
        }
      }
    }
    assert(seen == Seq(("open", 0, -2), ("open", 1, -2), ("close", 1, 0), ("close", 0, -1)))
    assert(t.spans.size == 2)
  }

  test("median and nearest-rank quantiles") {
    assert(Report.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Report.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Report.median(Nil) == 0.0)
    val xs = (1 to 100).map(_.toDouble)
    assert(Report.quantile(xs, 0.5) == 50.0)
    assert(Report.quantile(xs, 0.99) == 99.0)
    assert(Report.quantile(Seq(7.0), 0.99) == 7.0)
  }
}
