package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.html.{ExtractSettings, HtmlExtractor}

/** The flagship extraction pipeline (north rule):
  *
  *   pages table → [resume anti-filter on completed buckets]
  *               → deterministic url-hash bucketing (explicit repartition)
  *               → ONE fused mapPartitions stage
  *                   (tokenize → DOM-lite → boilerplate score → table grids,
  *                    and in `run` the per-bucket lineage fold)
  *               → output parquet partitioned by bucket
  *               → per-bucket lineage/metrics table (commit point)
  *
  * Scale design notes:
  *  - The only wide edge is the explicit repartition on `bucket` —
  *    `pmod(xxhash64(url), buckets)` is a pure column expression, so row
  *    placement is deterministic and independent of input split layout
  *    (AQE/skew-join never reshapes it; per-row output stays byte-stable).
  *  - Extraction itself is narrow and codegen-adjacent: ONE private stage,
  *    [[extractStage]] (by-name page projection → bucket id → optional
  *    sidecar mapping → one typed mapPartitions over [[extractPage]]), with
  *    no intermediate materialization. It is the only code that turns pages
  *    into [[ExtractedPage]] rows; its callers are [[extract]],
  *    [[extractMappedJoin]], [[run]] and, through `extract`,
  *    `graft.streaming.StreamingExtract.fileStreamWriter`.
  *  - Mega-page skew: url hashing spreads hosts uniformly; a single giant
  *    page is row-atomic by nature, so the lever is bucket count — size
  *    buckets so the p99 bucket fits an executor core's budget.
  *  - Lineage: the per-bucket figures (rows, tables, html bytes, errors,
  *    url range) are folded inside that same stage into a
  *    [[LineageAccumulator]], which counts each scan partition once under
  *    task retry and speculation; the committed output is never read back.
  *  - Resume: lineage is written AFTER the output parquet commit; a killed
  *    run leaves missing/uncommitted lineage rows and dynamic partition
  *    overwrite re-extracts exactly those buckets (anti-join on lineage).
  *    One rule, one layout: a bucket is done only if a `_lineage/bucket=N`
  *    row carries the current [[ExtractorVersion]].
  */
object ExtractJob {

  /** Stamped into every lineage row; version-aware resume re-extracts any
    * bucket whose stamp differs. MUST be bumped whenever a change can alter
    * extraction output bytes — 0.2.0: byte-level tokenizer (malformed-UTF-8
    * replacement differs from the old JDK-decoder path) + ASCII-only
    * raw-text close-tag folding; 0.3.0: `colspan` clamped to 1000 and
    * `rowspan` to 65534. */
  val ExtractorVersion = "graft-extract-0.3.0"

  /** `resume` skips every bucket whose lineage row carries the current
    * [[ExtractorVersion]]; `false` re-extracts everything. */
  final case class Config(
      buckets: Int = 32,
      resume: Boolean = true,
      settings: ExtractSettings = ExtractSettings())

  /** `pagesProcessed` is the sum of this run's lineage `rows_out`: the rows
    * the extraction stage emitted into the committed write, each counted
    * once however many attempts of its task ran (see
    * [[LineageAccumulator]]). */
  final case class RunStats(pagesProcessed: Long, bucketsSkipped: Int, bucketsPlanned: Int)

  def bucketOf(urlCol: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(urlCol), lit(buckets.toLong)).cast("int")

  /** Pure per-page extraction — the unit the fused stage applies. A page the
    * extractor throws on (a null `html` among them) yields one `error:*`
    * row; a null `html` counts as 0 bytes. */
  def extractPage(p: Page, bucket: Int, cfg: Config): ExtractedPage = {
    val htmlBytes = if (p.html == null) 0L else p.html.length.toLong
    try {
      val ex = HtmlExtractor.extractBytes(p.html, cfg.settings)
      ExtractedPage(
        url = p.url,
        bucket = bucket,
        lang = p.lang,
        main_text = ex.mainText,
        n_tables = ex.tables.size,
        n_table_rows = ex.tables.map(_.fragment.rows.size).sum,
        tables_json = HtmlExtractor.toRawJson(fileNameOf(p.url), ex),
        spans = ex.spans,
        citation = ex.citation,
        status = ex.status,
        html_bytes = htmlBytes)
    } catch {
      case e: Exception =>
        ExtractedPage(p.url, bucket, p.lang, "", 0, 0, "", Seq.empty, None,
          s"error:${e.getClass.getSimpleName}", htmlBytes)
    }
  }

  def fileNameOf(url: String): String = {
    val i = url.lastIndexOf('/')
    if (i >= 0 && i < url.length - 1) url.substring(i + 1) else url
  }

  /** Transform-only form (no sinks) — used by SparkEntry queries, the
    * bench and the streaming file job. Deliberately NARROW: the bucket id is
    * computed as a column but the raw html payload is never shuffled (at
    * 100 TB, repartitioning the page bytes is the single worst move
    * available — extraction runs on the scan tasks and only the much
    * smaller extraction output ever shuffles).
    */
  def extract(spark: SparkSession, pagesDs: Dataset[Page], cfg: Config = Config()): Dataset[ExtractedPage] =
    extractStage(spark, pagesDs.toDF(), cfg)

  /** Hybrid-mode extraction (J6/S6 — readers/hybrid.py:68-108): the
    * url→mapping sidecar arrives as a DataFrame `(url, mapping_json)`
    * BROADCAST-joined into the page scan — no driver-side collect anywhere
    * (the 100 TB page table never shuffles). Mapping JSON parses once per
    * distinct mapping per task, matching the reference's small
    * `.mapping.json` sidecar contract (readers/hybrid.py:77-107).
    */
  def extractMappedJoin(
      spark: SparkSession,
      pagesDs: Dataset[Page],
      sidecar: DataFrame,
      cfg: Config = Config()): Dataset[ExtractedPage] =
    extractStage(spark, pagesDs.toDF(), cfg, sidecar = Some(sidecar))

  /** The one extraction stage every caller runs: projects the page columns
    * BY NAME (any column order, extra columns dropped), adds the bucket id
    * and the optional sidecar `mapping_json` (broadcast left join, null
    * without a sidecar), decodes once and applies [[extractPage]] in one
    * narrow mapPartitions. With `lineage`, each task also folds the rows it
    * emits into per-bucket figures and adds them under its partition id.
    */
  private def extractStage(
      spark: SparkSession,
      pages: DataFrame,
      cfg: Config,
      sidecar: Option[DataFrame] = None,
      lineage: Option[LineageAccumulator] = None): Dataset[ExtractedPage] = {
    import spark.implicits._
    val byName = pages.select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"),
      bucketOf(col("url"), cfg.buckets).as("bucket"))
    val withMapping = sidecar match {
      case Some(sc) =>
        byName.join(broadcast(sc.select(col("url").as("m_url"), col("mapping_json"))),
          col("url") === col("m_url"), "left")
      case None => byName.withColumn("mapping_json", lit(null).cast("string"))
    }
    withMapping
      .select(col("url"), col("warc_ts"), col("html"), col("text"), col("lang"),
        col("bucket"), col("mapping_json"))
      .as[(String, java.sql.Timestamp, Array[Byte], String, String, Int, Option[String])]
      .mapPartitions { it =>
        val mapped = scala.collection.mutable.HashMap.empty[String, Config]
        val rows = it.map { case (url, ts, html, text, lang, bucket, mj) =>
          val pageCfg = mj match {
            case Some(j) => mapped.getOrElseUpdate(j, cfg.copy(settings =
              cfg.settings.copy(mapping = Some(graft.html.TablesMapping.fromJsonString(j)))))
            case None => cfg
          }
          extractPage(Page(url, ts, html, text, lang), bucket, pageCfg)
        }
        lineage match {
          case Some(acc) => LineageAccumulator.folding(rows, acc, TaskContext.getPartitionId())
          case None => rows
        }
      }
  }

  /** Full job with output + lineage + resume. Returns run stats.
    *
    * Resume cost is O(pending work), never O(corpus):
    *  - the pages table is filtered by a BROADCAST ANTI-JOIN against the
    *    lineage table (one tiny row per completed bucket) — no literal
    *    `isin` list baked into the plan, no driver round-trip on the
    *    filter path;
    *  - this run's lineage rows come from the [[LineageAccumulator]] the
    *    extraction stage fills as it emits rows: the committed output is
    *    never listed, scanned or aggregated. The accumulator's buckets are
    *    exactly the buckets this run wrote, so a bucket dir left on disk by
    *    an older run but absent from this run's input is never re-stamped
    *    (its lineage row, current or stale, is carried over verbatim), and
    *    completed buckets' parquet files are never opened, which
    *    `ExtractJobSpec`'s corruption gate proves;
    *  - the lineage table itself is partitioned by bucket and written with
    *    dynamic partition overwrite, so completed buckets' lineage rows are
    *    carried over untouched instead of being recomputed and rewritten
    *    (rows written before `errors_out` existed keep their old columns).
    *
    * The only driver-side state is the completed bucket-id set and the
    * accumulator's figures — O(buckets) ints and O(tasks × buckets) small
    * records, independent of corpus size.
    *
    * Resume is extractor-version-aware: a bucket is skipped only when its
    * `_lineage/bucket=N` row carries the CURRENT [[ExtractorVersion]] (this
    * is what the version column in the lineage schema is for —
    * `BASELINE.json`'s `(partition id, url range, rows, bytes, extractor
    * version)`). After an extractor upgrade, a resume run re-extracts
    * exactly the stale buckets, converging the corpus to one version, so a
    * resumed corpus has the bytes of a fresh run. The lineage table is
    * listed once first (see [[dropFlatLineage]]): root-level files of the
    * 0.1.0 flat layout are deleted, and a table with no `bucket=N` dir
    * counts as absent.
    */
  def run(spark: SparkSession, pagesDs: Dataset[Page], outDir: String, cfg: Config = Config()): RunStats = {
    import spark.implicits._
    val lineagePath = s"$outDir/_lineage"
    val outputPath = s"$outDir/extracted"

    // A lineage row marks a bucket skippable only if its extractor version
    // is current — a stale row's bucket is re-extracted and its lineage
    // dynamically overwritten.
    val hasLineage = dropFlatLineage(spark, lineagePath)
    val lineageOld: Option[DataFrame] =
      if (cfg.resume && hasLineage)
        Some(spark.read.parquet(lineagePath).filter(col("extractor_version") === lit(ExtractorVersion)))
      else None
    val completed: Set[Int] = lineageOld match {
      case Some(df) => df.select(col("bucket").cast("int")).as[Int].collect().toSet
      case None => Set.empty
    }

    val pending = lineageOld match {
      case Some(df) if completed.nonEmpty =>
        val done = broadcast(df.select(col("bucket").cast("int").as("done")))
        pagesDs.toDF().join(done, bucketOf(pagesDs("url"), cfg.buckets) === done("done"), "left_anti")
      case _ => pagesDs.toDF()
    }

    // This run's per-bucket lineage figures, folded by the extraction tasks
    // themselves; its buckets are the buckets this run writes.
    val lineageAcc = new LineageAccumulator
    spark.sparkContext.register(lineageAcc, "graft.lineage")

    // Extraction stays on the scan tasks (narrow); ONLY the extracted output
    // (no html) shuffles into its bucket before the partitioned write — one
    // file per bucket, deterministic layout, cheap resume overwrites.
    val extracted = extractStage(spark, pending, cfg, lineage = Some(lineageAcc))
      .repartition(cfg.buckets, col("bucket"))

    // dynamic partition overwrite: only the buckets present in this run are
    // replaced; completed buckets' files are untouched. The session conf is
    // scoped: saved and restored even if the write fails.
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val prevMode = spark.conf.getOption(modeKey)
    spark.conf.set(modeKey, "dynamic")
    var pagesWritten = 0L
    try {
      extracted.write
        .mode("overwrite")
        .partitionBy("bucket")
        .parquet(outputPath)

      // Lineage for THIS RUN only, written after the output commit (the
      // commit point): O(written buckets) rows from one tiny task.
      val newLineage = lineageAcc.lineageRows(ExtractorVersion)
      if (newLineage.nonEmpty) {
        pagesWritten = newLineage.iterator.map(_.rows_out).sum
        spark.createDataset(newLineage)
          .coalesce(1)
          .write
          .mode("overwrite")
          .partitionBy("bucket")
          .parquet(lineagePath)
      }
    } finally {
      prevMode match {
        case Some(m) => spark.conf.set(modeKey, m)
        case None => spark.conf.unset(modeKey)
      }
    }

    RunStats(pagesWritten, completed.size, cfg.buckets)
  }

  /** Lists the lineage table once, on resume and `--no-resume` runs alike.
    * Root-level parquet files are the flat layout only `graft-extract-0.1.0`
    * wrote: every row in them is stale, so they are deleted rather than read
    * (left in place, they would sit next to this run's `bucket=N` dirs, a
    * mixed layout partition discovery rejects). A kill mid-delete leaves
    * files the next run deletes. Returns whether a `bucket=N` dir exists: a
    * table without one (absent, emptied, or holding only the
    * `.spark-staging-*` dir of a lineage write killed before its commit)
    * counts as absent.
    */
  private def dropFlatLineage(spark: SparkSession, lineagePath: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(lineagePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val entries = fs.listStatus(p)
    entries.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .foreach(st => fs.delete(st.getPath, false))
    entries.exists(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
  }

  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/extracted")
}
