package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
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
  */
object ExtractJob {

  /** Stamped into every lineage row; version-aware resume re-extracts any
    * bucket whose stamp differs. MUST be bumped whenever a change can alter
    * extraction output bytes — 0.2.0: byte-level tokenizer (malformed-UTF-8
    * replacement differs from the old JDK-decoder path) + ASCII-only
    * raw-text close-tag folding; 0.3.0: `colspan` clamped to 1000 and
    * `rowspan` to 65534. */
  val ExtractorVersion = "graft-extract-0.3.0"

  final case class Config(
      buckets: Int = 32,
      resume: Boolean = true,
      settings: ExtractSettings = ExtractSettings(),
      /** Resume policy for buckets whose lineage was written by a DIFFERENT
        * extractor version. Default false: stale buckets are re-extracted so
        * a finished corpus is uniformly at [[ExtractorVersion]] (the
        * north rule's byte-identical-per-url contract is per-version — a
        * silent old/new mix would break it unreproducibly). Set true to
        * accept mixed-version output, e.g. when a version bump is known not
        * to change extraction bytes. */
      acceptStaleVersions: Boolean = false)

  /** `pagesProcessed` is the sum of this run's lineage `rows_out`: the rows
    * the extraction stage emitted into the committed write, each counted
    * once however many attempts of its task ran (see
    * [[LineageAccumulator]]). */
  final case class RunStats(pagesProcessed: Long, bucketsSkipped: Int, bucketsPlanned: Int)

  def bucketOf(urlCol: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(urlCol), lit(buckets.toLong)).cast("int")

  /** Pure per-page extraction — the unit the fused stage applies. */
  def extractPage(p: Page, bucket: Int, cfg: Config): ExtractedPage = {
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
        spans = Convert.spans(ex),
        citation = ex.citation,
        status = ex.status,
        html_bytes = p.html.length.toLong)
    } catch {
      case e: Exception =>
        ExtractedPage(p.url, bucket, p.lang, "", 0, 0, "", Seq.empty, None,
          s"error:${e.getClass.getSimpleName}", p.html.length.toLong)
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
    * lineage row carries the CURRENT [[ExtractorVersion]] (this is what the
    * version column in the lineage schema is for — `BASELINE.json`'s
    * `(partition id, url range, rows, bytes, extractor version)`). After an
    * extractor upgrade, a resume run re-extracts exactly the stale buckets,
    * converging the corpus to one version; `cfg.acceptStaleVersions` opts
    * out when mixed versions are acceptable.
    */
  def run(spark: SparkSession, pagesDs: Dataset[Page], outDir: String, cfg: Config = Config()): RunStats = {
    import spark.implicits._
    val lineagePath = s"$outDir/_lineage"
    val outputPath = s"$outDir/extracted"

    // Heal any layout work a killed run left behind, resume or not: an
    // interrupted atomic swap is rolled forward/back first, then a
    // pre-O(pending) FLAT layout is migrated — also on --no-resume runs,
    // where this run's partitioned lineage write would otherwise land NEXT
    // TO the old root-level files (a mixed layout partition discovery
    // rejects for every later reader).
    recoverInterruptedMigration(spark, lineagePath)
    if (pathExists(spark, lineagePath)) migrateFlatLineage(spark, lineagePath)

    // A lineage row marks a bucket skippable only if its extractor version
    // is current (or the caller opted into mixed versions) — a stale row's
    // bucket is re-extracted and its lineage dynamically overwritten.
    val lineageOld: Option[DataFrame] =
      if (cfg.resume && pathExists(spark, lineagePath)) {
        val all = spark.read.parquet(lineagePath)
        Some(
          if (cfg.acceptStaleVersions) all
          else all.filter(col("extractor_version") === lit(ExtractorVersion)))
      } else None
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

  /** One-time upgrade of a lineage table written by the pre-O(pending)
    * code, which stored it FLAT (whole-table overwrite, `bucket` as a data
    * column at the directory root). Writing this run's partitioned
    * carry-over next to those root-level files would leave a mixed layout
    * Spark's partition discovery rejects — so if root-level data files
    * exist, rewrite the table partitioned by bucket (O(buckets) rows) into
    * a sibling temp dir and swap it in. If bucket=N dirs ALSO already exist
    * (a run of the new code against an unmigrated dir), the partitioned
    * rows are the newer write and win per bucket. Both sides pass the typed
    * [[LineageRow]] gate in [[asLineageRows]].
    *
    * The swap is crash-safe: write `<p>.migrating` fully, rename the
    * original aside to `<p>.premigrate`, rename the new table into place,
    * then drop the original — at every kill point either the original or
    * the complete migrated table is recoverable, and
    * [[recoverInterruptedMigration]] (run unconditionally first) rolls the
    * swap forward or back. A delete-before-rename would instead leave a
    * WINDOW with no lineage dir at all, which a concurrent crash turns
    * into a silent full-corpus re-extract on the next run.
    */
  private def migrateFlatLineage(spark: SparkSession, lineagePath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(lineagePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(p)
    val rootFiles = entries.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    if (rootFiles.isEmpty) return
    val partDirs = entries.filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
    val flat = asLineageRows(spark.read.option("mergeSchema", "true")
      .parquet(rootFiles.map(_.getPath.toString).toIndexedSeq: _*))
    val merged =
      if (partDirs.isEmpty) flat
      else {
        val parted = asLineageRows(spark.read.option("basePath", lineagePath).option("mergeSchema", "true")
          .parquet(partDirs.map(_.getPath.toString).toIndexedSeq: _*))
        flat.join(parted.select("bucket").distinct(), Seq("bucket"), "left_anti")
          .unionByName(parted.toDF())
      }
    val tmp = new org.apache.hadoop.fs.Path(lineagePath + MigratingSuffix)
    val old = new org.apache.hadoop.fs.Path(lineagePath + PremigrateSuffix)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    merged.write.mode("overwrite").partitionBy("bucket").parquet(tmp.toString)
    // Completeness marker for [[recoverInterruptedMigration]], written by
    // hand: whether the committer leaves a root _SUCCESS depends on session
    // conf (dynamic partitionOverwriteMode suppresses it), and a missing
    // marker silently downgrades every interrupted swap to a roll-back +
    // re-migration. Only reached when the write above returned, so the
    // marker truthfully means "tmp is the complete table".
    fs.createNewFile(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))
    if (!fs.rename(p, old))
      throw new java.io.IOException(s"lineage migration rename failed: $p -> $old")
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"lineage migration rename failed: $tmp -> $p")
    fs.delete(old, true)
  }

  /** A lineage table's rows in the current [[LineageRow]] schema — the
    * typed gate: a missing column other than `errors_out` fails here. Rows
    * written before `errors_out` existed read as 0 errors; columns the
    * schema no longer has (`urls`) are dropped. */
  private def asLineageRows(df: DataFrame): Dataset[LineageRow] = {
    val encoder = Encoders.product[LineageRow]
    val withErrors =
      if (df.columns.contains("errors_out")) df.withColumn("errors_out", coalesce(col("errors_out"), lit(0L)))
      else df.withColumn("errors_out", lit(0L))
    withErrors.select(encoder.schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
      .as(encoder)
  }

  private[pipeline] val MigratingSuffix = ".migrating"
  private[pipeline] val PremigrateSuffix = ".premigrate"

  /** Roll an interrupted [[migrateFlatLineage]] swap forward or back. Cheap
    * no-op (two existence checks) unless a kill hit the swap window.
    *
    * Kill-point inventory, given the swap order (write tmp → rename p→old
    * → rename tmp→p → delete old):
    *  - during the tmp write: p untouched → drop the partial tmp; the
    *    migration simply reruns;
    *  - between the renames: p missing but tmp is the COMPLETE migrated
    *    table (the p→old rename only runs after the tmp write returned) →
    *    roll forward: tmp→p, drop old;
    *  - after the second rename: p is authoritative → drop the leftovers;
    *  - defensively, if p is missing and tmp is absent/incomplete but the
    *    original survives at old → roll back: old→p.
    */
  private[pipeline] def recoverInterruptedMigration(spark: SparkSession, lineagePath: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(lineagePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(lineagePath + MigratingSuffix)
    val old = new org.apache.hadoop.fs.Path(lineagePath + PremigrateSuffix)
    val haveTmp = fs.exists(tmp)
    val haveOld = fs.exists(old)
    if (!haveTmp && !haveOld) return
    if (fs.exists(p)) {
      // p is authoritative: either the swap never started destructive work
      // (partial tmp) or it fully completed (old not yet deleted)
      if (haveTmp) fs.delete(tmp, true)
      if (haveOld) fs.delete(old, true)
    } else if (haveTmp && fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"lineage migration roll-forward failed: $tmp -> $p")
      if (haveOld) fs.delete(old, true)
    } else if (haveOld) {
      if (haveTmp) fs.delete(tmp, true)
      if (!fs.rename(old, p))
        throw new java.io.IOException(s"lineage migration roll-back failed: $old -> $p")
    } else {
      fs.delete(tmp, true) // incomplete tmp and no original to restore
      ()
    }
  }

  def readOutput(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(s"$outDir/extracted")

  private def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
