package graft.merge

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, Row}
import org.scalatest.funsuite.AnyFunSuite
import graft.SharedSpark
import graft.SharedSpark.listening
import graft.core._
import graft.pages.SyntheticPages
import graft.pipeline.ExtractJob
import graft.stats.Stats

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

  private def cacheIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.collect {
    case (id, rdd) if rdd.name == s"In-memory table ${MergeJob.CacheName}" => id
  }.toSet

  private def flatRows(merged: Dataset[MergedDoc]): Seq[MergedFlatRow] =
    MergeJob.flattenMerged(spark, merged).collect().toSeq
      .sortBy(r => (r.doc_id, r.table_idx, r.frag_idx, r.row_idx))

  private def global(merged: Dataset[MergedDoc]): Row =
    Stats.globalStats(Stats.perDocStats(spark, merged).toDF()).collect().head

  test("one merge across two actions: the second reads the cache, not the merge shuffle") {
    val rs = runs(4)
    val merged = MergeJob.mergeRuns(spark, rs, MergeConfig())
    /** Runs `action` and returns it with the shuffled records its tasks
      * wrote and read. */
    def shuffled[A](action: => A): (A, Long, Long) = {
      val written = new AtomicLong(0L)
      val read = new AtomicLong(0L)
      val a = listening(new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
          read.addAndGet(e.taskMetrics.shuffleReadMetrics.recordsRead); ()
        }
      })(action)
      (a, written.get(), read.get())
    }
    // the first action shuffles every run into the merge; a second action
    // that ran the merge again would read all of those back (and more), one
    // that reads the cache reads at most the roll-up's partials
    val (flat, firstWritten, _) = shuffled(flatRows(merged))
    val (stats, _, secondRead) = shuffled(global(merged))
    assert(firstWritten > 0)
    assert(secondRead < firstWritten,
      s"the second action read $secondRead shuffled records; the merge shuffled $firstWritten")

    val fresh = MergeJob.mergeRuns(spark, rs, MergeConfig())
    assert(flat.nonEmpty && flat == flatRows(fresh))
    assert(stats == global(fresh))
  }

  /** Builds a merge, reads it once and returns its cache's RDD id: once this
    * returns, nothing references the merged Dataset. */
  private def mergeAndRead(rs: Dataset[RunDoc]): Int = {
    val before = cacheIds()
    assert(MergeJob.mergeRuns(spark, rs, MergeConfig()).count() > 0)
    val added = cacheIds().diff(before)
    assert(added.size == 1, s"new merge caches: $added")
    added.head
  }

  test("mergeRuns is lazy, its cache keeps the lineage, and is freed once unreachable") {
    val sc = spark.sparkContext
    val rs = runs(4)
    val jobs = new AtomicInteger(0)
    val merged = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })(MergeJob.mergeRuns(spark, rs, MergeConfig()))
    assert(jobs.get() == 0, s"${jobs.get()} Spark jobs ran while the merge was built")

    val before = cacheIds()
    val first = merged.collect().sortBy(_.doc_id).toSeq
    val added = cacheIds().diff(before)
    assert(added.size == 1, s"new merge caches: $added")
    merged.unpersist(blocking = true) // not in the CacheManager: a no-op
    assert(sc.getPersistentRDDs.contains(added.head))
    sc.getPersistentRDDs(added.head).unpersist(blocking = true)
    assert(merged.collect().sortBy(_.doc_id).toSeq == first)

    val id = mergeAndRead(rs)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.getPersistentRDDs.contains(id) && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(200)
    }
    assert(!sc.getPersistentRDDs.contains(id), "the merge cache outlived its Dataset")
  }
}
