package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.SharedSpark
import graft.pages.SyntheticPages

class StreamingExtractSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("streaming extraction: file source -> checkpointed parquet sink, restart-safe") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val ckDir = s"$base/ck"

    val all = SyntheticPages.pages(spark, sfDir)
    // first micro-batch: half the corpus
    all.filter(_.url < "https://synthetic.example.org/doc/00000250").write.parquet(inDir)
    StreamingExtract.fileStreamWriter(spark, inDir, outDir, ckDir, buckets = 4)
      .start().awaitTermination()
    val n1 = spark.read.parquet(outDir).count()
    assert(n1 == 250)

    // second batch arrives; restart the query from the checkpoint
    all.filter(_.url >= "https://synthetic.example.org/doc/00000250")
      .write.mode("append").parquet(inDir)
    StreamingExtract.fileStreamWriter(spark, inDir, outDir, ckDir, buckets = 4)
      .start().awaitTermination()
    val out = spark.read.parquet(outDir)
    assert(out.count() == 500, "second run processes ONLY the new files (no duplicates)")

    // streaming output matches the batch pipeline byte-for-byte
    val streamed = out.select("url", "main_text", "tables_json").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    val batch = graft.pipeline.ExtractJob.extract(spark, all, graft.pipeline.ExtractJob.Config(buckets = 4))
      .collect().map(r => (r.url, r.main_text, r.tables_json)).sortBy(_._1)
    assert(streamed.sameElements(batch))
  }

  test("stateful streaming dedup: first-seen wins across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // one event time and a day's TTL: nothing is evicted, so every hash
    // stays suppressed for the whole stream
    val t0 = new java.sql.Timestamp(1735689600000L) // 2025-01-01T00:00:00Z
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val base = java.nio.file.Files.createTempDirectory("graft-stream-dedup").toString
    val q = StreamingExtract.dedupStreamTtl(spark, input.toDS())
      .toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out")
      .option("checkpointLocation", s"$base/ck")
      .start()
    // batch 1: in-batch duplicate (7 vs 3 — min id wins) + a unique
    input.addData((7L, "alpha text", t0), (3L, "alpha text", t0), (10L, "beta text", t0))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate must be suppressed by keyed state
    input.addData((99L, "alpha text", t0), (11L, "gamma text", t0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out").as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((3L, "alpha text"), (10L, "beta text"), (11L, "gamma text")))
  }

  test("TTL streaming dedup: state evicts at watermark + ttl, then re-emits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t0 = 1735689600000L // 2025-01-01T00:00:00Z
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0 + offsetSec * 1000)
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val base = java.nio.file.Files.createTempDirectory("graft-stream-ttl").toString
    val q = StreamingExtract.dedupStreamTtl(spark, input.toDS(),
      watermarkDelay = "0 seconds", ttlMillis = 10000L)
      .toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_ttl_out")
      .option("checkpointLocation", s"$base/ck")
      .start()
    // batch 1: in-batch duplicate (min id wins) + a unique
    input.addData((7L, "alpha text", ts(0)), (3L, "alpha text", ts(0)), (10L, "beta text", ts(0)))
    q.processAllAvailable()
    // batch 2: duplicate within the TTL -> suppressed (and TTL extended to t+15s)
    input.addData((99L, "alpha text", ts(5)), (50L, "delta text", ts(40)))
    q.processAllAvailable()
    // batch 3: watermark (now t+40s from batch 2) passes every timeout -> state evicted
    input.addData((60L, "epsilon text", ts(80)))
    q.processAllAvailable()
    // batch 4: same content arriving AFTER eviction is re-emitted (the documented trade)
    input.addData((123L, "alpha text", ts(81)))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_ttl_out").as[(Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (3L, "alpha text"), (10L, "beta text"), (50L, "delta text"),
      (60L, "epsilon text"), (123L, "alpha text")))
  }

  test("windowed watermark aggregation over the page stream") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-stream-agg").toString
    SyntheticPages.pages(spark, sfDir).write.parquet(s"$base/in")
    val pages = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[graft.pipeline.Page].schema)
      .parquet(s"$base/in")
      .as[graft.pipeline.Page]
    val q = StreamingExtract.pageRateAgg(pages)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("lang_rates")
      .option("checkpointLocation", s"$base/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows; check state instead
    val progress = q.lastProgress
    assert(progress.stateOperators.nonEmpty)
    assert(progress.stateOperators.head.numRowsTotal > 0)
  }

  test("TTL dedup replay matches the closed-form gap rule (driver oracle)") {
    val df = graft.streaming.StreamReplay.ttlDedupReplay(spark, sfDir)
    val got = df.collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    // per-key presence patterns (StreamReplay scaladoc): accepted (key, batch)
    // cells — incl. the TTL re-accept of key 5 at batch 6 and the gap-3
    // boundary suppressions of keys 4 (batches 4→7) and 8 (batches 1→4)
    val expected = Seq(
      (0L, 0L), (1L, 4L), (2L, 0L), (3L, 1L), (4L, 0L), (5L, 2L), (5L, 6L),
      (6L, 0L), (7L, 1L), (8L, 0L), (9L, 3L)).sorted
    assert(got == expected)
    val docIds = df.collect().map(_.getLong(0)).sorted.toSeq
    assert(docIds == expected.map { case (k, b) => 10 * b + k }.sorted)
  }

  test("rate-agg replay: flushed windows match direct computation; tail windows withheld") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val t0 = 1735689600000L
    val df = graft.streaming.StreamReplay.rateAggReplay(spark, sfDir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").where(col("doc_id") < 500)
      .as[(Long, String)].collect()
    val expected = docs.filter(_._1 % 24 < 18)
      .groupBy(d => ((d._1 % 24) / 2, d._1 % 5))
      .map { case ((w, l), rows) =>
        (t0 + w * 300000L, s"l$l", rows.length.toLong, rows.map(_._2.length.toLong).sum)
      }.toSet
    assert(got == expected)
    // watermark gating: windows ending after T0 + 47.5 min never flushed
    assert(df.collect().map(_.getLong(0)).max == t0 + 8 * 300000L)
  }
}
