package graftbench

import org.scalatest.funsuite.AnyFunSuite
import graft.core.JVal
import graft.core.JVal._

/** BENCHMARK.json at the repository root names exactly the metrics the
  * benchmark prints, each with the unit it prints. */
class ContractSpec extends AnyFunSuite {

  private lazy val spec: JObj = {
    val p = java.nio.file.Paths.get(sys.props("user.dir")).getParent.resolve("BENCHMARK.json")
    JVal.parse(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).asInstanceOf[JObj]
  }

  private def entries(key: String): Seq[JObj] = spec.get(key) match {
    case Some(JArr(items)) => items.map(_.asInstanceOf[JObj])
    case other => fail(s"$key: $other")
  }

  private def str(o: JObj, k: String): String = o.get(k) match {
    case Some(JStr(s)) => s
    case other => fail(s"$k: $other")
  }

  private def nameUnits(key: String): Seq[(String, String)] =
    entries(key).map(o => str(o, "name") -> str(o, "unit"))

  test("end-to-end metrics match, with units") {
    assert(nameUnits("end_to_end") == Metrics.EndToEnd)
  }

  test("per-layer metrics match, with units") {
    assert(nameUnits("per_layer") == Metrics.PerLayer)
  }

  test("metric names are unique") {
    val all = (Metrics.EndToEnd ++ Metrics.PerLayer).map(_._1)
    assert(all.distinct.size == all.size)
  }

  test("workloads are the ones the benchmark runs") {
    assert(entries("workloads").map(str(_, "name")) == Seq("extract", "merge_stats", "curate"))
  }

  test("setup_s has the largest bound, and every bound is at most 0.25") {
    val bounds = entries("end_to_end").map(o => str(o, "name") -> o.get("bound").collect { case JNum(r) => r.toDouble }.get)
    assert(bounds.forall(_._2 <= 0.25))
    assert(bounds.toMap.apply("setup_s") == bounds.map(_._2).max)
  }

  test("the result line prints every metric with its unit") {
    for (set <- Seq(Metrics.EndToEnd, Metrics.PerLayer)) {
      val line = Report.resultLine(correct = true, 10, 0, set.map(_._1 -> 1.5))
      val parsed = JVal.parse(line).asInstanceOf[JObj]
      val ms = parsed.get("metrics").get.asInstanceOf[JObj]
      assert(ms.fields.map { case (k, v) => k -> str(v.asInstanceOf[JObj], "unit") } == set)
      assert(parsed.fields.map(_._1) == Seq("correct", "attempted", "failed", "metrics"))
    }
  }
}
