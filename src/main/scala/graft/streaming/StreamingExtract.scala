package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.core.Md5
import graft.pipeline.{ExtractJob, ExtractedPage, Page}

/** Structured-Streaming form of the extraction pipeline.
  *
  * The reference is strictly batch (SURVEY.md §2.10) and the north rule
  * keeps the batch-resumable shape; this module exists because the engine
  * targets continuous web-crawl ingestion at scale: the stream runs
  * `ExtractJob.extract` itself (a streaming Dataset[Page] takes the same
  * operators) with checkpointed exactly-once file output — no logic forks
  * between batch and streaming.
  */
object StreamingExtract {

  /** File-source streaming job: watch `inputDir` for page parquet files,
    * extract, write parquet with a checkpoint (restart-safe exactly-once).
    */
  def fileStreamWriter(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      buckets: Int = 32): DataStreamWriter[ExtractedPage] = {
    import spark.implicits._
    val pages = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Page].schema)
      .parquet(inputDir)
      .as[Page]
    ExtractJob.extract(spark, pages, ExtractJob.Config(buckets = buckets))
      .writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outputDir)
  }

  /** Windowed per-language crawl-rate aggregation with a watermark over the
    * page stream — the streaming-analytics shape (readStream → watermark →
    * window agg).
    */
  def pageRateAgg(pages: Dataset[Page]): DataFrame = {
    pages.toDF()
      .withWatermark("warc_ts", "10 minutes")
      .groupBy(window(col("warc_ts"), "5 minutes"), col("lang"))
      .agg(count(lit(1)).as("pages"), sum(length(col("text"))).as("text_chars"))
  }

  /** Streaming exact dedup with keyed state (flatMapGroupsWithState): the
    * first document per content hash survives across the WHOLE stream —
    * later micro-batches carrying an already-seen text emit nothing.
    * Within one micro-batch the minimum doc id wins (deterministic under
    * partition reordering). State per key is a single boolean; at crawl
    * scale the keys are content hashes in a RocksDB state store, so state
    * size is bytes-per-distinct-document, never the text itself.
    *
    * State growth: NoTimeout means one entry per distinct document hash,
    * forever. Sizing: a 32-hex-char key + boolean + RocksDB overhead is
    * ~90 B/key, so 10^9 distinct documents ≈ 90 GB spread across executor
    * RocksDB stores — feasible but unbounded. For an infinite crawl use
    * [[dedupStreamTtl]], which bounds state to the documents seen inside a
    * TTL window via event-time timeouts.
    */
  def dedupStream(spark: SparkSession, docs: Dataset[(Long, String)]): Dataset[(Long, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) => (Md5.hex(md, text), id, text) }
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            val first = rows.minBy(_._2)
            Iterator.single((first._2, first._3))
          }
      }
  }

  /** [[dedupStream]] with bounded state: the per-hash state entry is
    * evicted once the event-time watermark passes the key's last sighting
    * plus `ttlMillis` (sliding TTL — every duplicate sighting extends the
    * clock, so hot duplicates stay suppressed while cold hashes expire).
    * Eviction trades exactness for boundedness: a duplicate arriving more
    * than the TTL after its content hash was last seen is re-emitted. At
    * crawl scale this caps RocksDB state at (documents seen per TTL
    * window) × ~90 B instead of the corpus lifetime, and is the standard
    * windowed-dedup contract (Spark's own dropDuplicatesWithinWatermark
    * makes the same trade).
    *
    * Input rows carry an event timestamp; `watermarkDelay` is the usual
    * out-of-orderness bound (withWatermark).
    */
  def dedupStreamTtl(
      spark: SparkSession,
      docs: Dataset[(Long, String, java.sql.Timestamp)],
      watermarkDelay: String = "10 minutes",
      ttlMillis: Long = 24L * 3600 * 1000): Dataset[(Long, String)] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    docs
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text, ts) => (Md5.hex(md, text), id, text, ts) }
      }
      .toDF("content_md5", "doc_id", "text", "ts")
      .withWatermark("ts", watermarkDelay) // after the hash map, so the event-time tag survives
      .as[(String, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[(String, Long, String, java.sql.Timestamp)], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val batch = rows.toVector
            val out =
              if (state.exists) Iterator.empty[(Long, String)]
              else {
                state.update(true)
                val first = batch.minBy(_._2)
                Iterator.single((first._2, first._3))
              }
            // extend the eviction clock past this batch's latest sighting;
            // must stay ahead of the current watermark or Spark rejects it
            val maxTs = batch.map(_._4.getTime).max
            state.setTimeoutTimestamp(math.max(maxTs + ttlMillis, state.getCurrentWatermarkMs + 1))
            out
          }
      }
  }
}
