package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core.TableDoc
import graft.merge.{MergeConfig, MergeJob, RunDoc}
import graft.pages.SyntheticPages
import graft.pipeline.ExtractJob
import graft.sinks.CsvExport
import graft.stats.Stats

/** End-to-end pipeline integration (the reference's test_integration.py
  * analog): corpus → fused extraction → two-run merge with agreement →
  * stats roll-up → per-(paper, table) CSV export, all in one flow, with
  * cross-stage invariants asserted against the generator arithmetic.
  */
class PipelineIntegrationSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("extract -> merge -> stats -> csv, with cross-stage invariants") {
    import spark.implicits._

    // 1. extraction over the full synthetic corpus
    val extracted = ExtractJob.extract(spark, SyntheticPages.pages(spark, sfDir),
      ExtractJob.Config(buckets = 8)).cache()
    assert(extracted.count() == 500)
    assert(extracted.filter(_.status != "ok").isEmpty)

    // generator arithmetic: n_tables per url (same formula the DuckDB
    // oracle uses — SparkEntry.docFlagsCte)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id")).as[Long].collect()
    val expectedTables = docs.map { id =>
      val m3 = id % 3 == 0; val m9 = id % 9 == 0; val m5 = id % 5 == 4
      val pre = id % 7 == 1 && !m3 && !m5
      (m3, m9, m5, pre) match { case _ =>
        (if (m3) 1 else 0) + (if (m9) 1 else 0) + (if (m5) 1 else 0) + (if (pre) 1 else 0)
      }
    }.sum
    assert(extracted.collect().map(_.n_tables).sum == expectedTables)

    // 2. two deterministic reader runs -> merge with agreement
    val runs = extracted.flatMap { e =>
      val a = RunDoc(e.url, "run-extract", 0, 0, e.tables_json)
      Seq(a, MergeJob.perturbRun(a, "run-perturbed", 1))
    }
    // merges once: every action below reads the result's own cache
    val merged = MergeJob.mergeRuns(spark, runs, MergeConfig())
    val mergedRows = merged.collect()
    // every doc with >=1 table survives the merge; the rest are dropped
    // by the all-empty guard (F18)
    assert(mergedRows.forall(_.n_runs == 2))
    // perturbation folds back: every merged row carries agreement 2
    val flat = MergeJob.flattenMerged(spark, merged).collect()
    assert(flat.nonEmpty)
    assert(flat.forall(_.agreement_level_.contains(2)), "all rows merged across both runs")
    assert(flat.forall(_.n_sources == 2))

    // 3. stats roll-up agrees with the flattened row count
    val perDoc = Stats.perDocStats(spark, merged).cache()
    val global = Stats.globalStats(perDoc.toDF()).collect().head
    assert(global.getAs[Long]("rows") == flat.length.toLong)
    assert(global.getAs[Long]("rows_with_agreement") == flat.length.toLong)
    assert(global.getAs[Double]("global_agreement_percentage") == 100.0)
    assert(global.getAs[Long]("papers") == mergedRows.length.toLong)

    // 4. csv export: one file per (doc, table), rows = data rows + header
    val outDir = java.nio.file.Files.createTempDirectory("graft-e2e-csv").toString
    val nFiles = CsvExport.export(merged, outDir)
    assert(nFiles == mergedRows.map(_.n_tables).sum.toLong)
    val files = new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length.toLong == nFiles)
    // total csv data lines == total merged rows
    val dataLines = files.map { f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().size - 1 // minus header
    }.sum
    assert(dataLines == flat.length)
    // every csv carries the $page column last
    files.take(10).foreach { f =>
      val header = scala.io.Source.fromFile(f, "UTF-8").getLines().next()
      assert(header.endsWith(",$page") || header == "$page", header)
    }

    // 5. merged JSON stays byte-stable parseable end to end
    mergedRows.take(20).foreach { m =>
      val doc = TableDoc.fromJsonString(m.merged_json)
      assert(TableDoc.toJsonString(doc) == m.merged_json)
    }

    extracted.unpersist(); perDoc.unpersist()
  }
}
