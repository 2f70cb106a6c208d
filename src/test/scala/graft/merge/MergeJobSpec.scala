package graft.merge

import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.core._
import graft.pages.SyntheticPages
import graft.pipeline.ExtractJob

class MergeJobSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def runs(nPartitionsHint: Int) = {
    import spark.implicits._
    val ex = ExtractJob.extract(spark, SyntheticPages.pages(spark, sfDir),
      ExtractJob.Config(buckets = nPartitionsHint))
    val runA = ex.map(e => RunDoc(e.url, "run-extract", 0, 0, e.tables_json))
    val runB = runA.map(r => MergeJob.perturbRun(r, "run-perturbed", 1))
    runA.union(runB)
  }

  test("distributed 2-run merge: perturbed twins collapse with agreement 2") {
    val merged = MergeJob.mergeRuns(spark, runs(8), MergeConfig()).collect()
    assert(merged.nonEmpty)
    assert(merged.forall(_.n_runs == 2))
    val rows = merged.flatMap(m =>
      TableDoc.fromJsonString(m.merged_json).tables.flatMap(_.fragments.flatMap(_.rows)))
    assert(rows.nonEmpty)
    // the perturbation only changes case/whitespace, which normalization
    // folds: every row must have merged across both runs
    val agree2 = rows.count(_.agreementLevel.contains(2))
    assert(agree2 == rows.length, s"expected all rows at agreement 2, got $agree2/${rows.length}")
    assert(rows.forall(_.sources.contains(List("run-extract", "run-perturbed"))))
  }

  test("merged output is deterministic across partitioning") {
    def snapshot(parts: Int): Map[String, String] =
      MergeJob.mergeRuns(spark, runs(parts).repartition(parts), MergeConfig())
        .collect().map(m => m.doc_id -> m.merged_json).toMap
    val a = snapshot(3)
    val b = snapshot(11)
    assert(a == b)
  }

  test("merged docs round-trip through the golden JSON codec") {
    val merged = MergeJob.mergeRuns(spark, runs(4), MergeConfig()).take(10)
    merged.foreach { m =>
      val doc = TableDoc.fromJsonString(m.merged_json)
      assert(TableDoc.toJsonString(doc) == m.merged_json)
      assert(m.n_tables == doc.tables.size)
    }
  }

  test("a bad merge option value fails while the plan is built, before any job") {
    import spark.implicits._
    val runs = Seq(RunDoc("d1", "u1", 0, 0, """{"tables": []}""")).toDS()
    val e = intercept[IllegalArgumentException] {
      MergeJob.mergeRuns(spark, runs, MergeConfig(transformTablesFile = Some("safe-compact")))
    }
    assert(e.getMessage.contains("transformTablesFile"))
  }
}
