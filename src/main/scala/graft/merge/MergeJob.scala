package graft.merge

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.graft.shim
import org.apache.spark.storage.StorageLevel
import graft.core._

/** One extraction run's output for one document (url). The payload is the
  * raw extraction JSON (flat serializer — see ExtractedPage's scale note).
  */
final case class RunDoc(
    doc_id: String,
    run_uuid: String,
    run_idx: Int,
    page_offset: Int,
    tables_json: String)

/** Merged output row: the reference-parity merged document JSON plus flat
  * metrics (nested access = TableDoc.fromJsonString / from_json).
  */
final case class MergedDoc(
    doc_id: String,
    n_runs: Int,
    n_tables: Int,
    n_rows: Int,
    merged_json: String)

/** One row of the nested merged view: per-row metadata plus the cells map
  * (null value = reference JSON null cell; disagreeing multi-value cells
  * render as their JSON form, same convention as the K4 flatten).
  */
final case class MergedNestedRow(
    row_idx: Int,
    row_ : Option[Int],
    agreement_level_ : Option[Int],
    n_sources: Int,
    cells: Map[String, String])

/** One table fragment of the nested merged view (see nestedMergedTables). */
final case class MergedTableView(
    doc_id: String,
    n_runs: Int,
    table_idx: Int,
    frag_idx: Int,
    page: Int,
    rows: Seq[MergedNestedRow])

/** One flattened merged table row (the relational projection of a merge). */
final case class MergedFlatRow(
    doc_id: String,
    n_runs: Int,
    table_idx: Int,
    frag_idx: Int,
    page: Int,
    row_idx: Int,
    row_ : Option[Int],
    agreement_level_ : Option[Int],
    n_sources: Int)

/** Serializable merge configuration (the Spark-shippable form of
  * MergePipeline.Settings, whose stage instances are not serializable and
  * are built per document group by `toSettings`). Its defaults are the
  * tablemerge CLI defaults, and the only place they are written.
  */
final case class MergeConfig(
    filterTitleRows: Boolean = true,
    stripLeadingRowNumbers: Boolean = false,
    normalizePunctuation: Boolean = false,
    splitConjunctionColumns: Boolean = false,
    fixReversedColumnValues: Boolean = false,
    semanticLanguage: String = "en",
    hints: List[String] = Nil,
    hintsMode: Option[String] = None,
    aliases: Vector[(String, String)] = Vector.empty,
    useColumnNameSemantic: Boolean = false,
    useJaccard: Boolean = false,
    useColumnValueSemantic: Boolean = false,
    threshold: Double = 0.5,
    schemaStr: Option[String] = None,
    removeHeaderRows: Boolean = false,
    transformTablesFile: Option[String] = None,
    distinctReaders: Option[Map[String, String]] = None,
    columnAgreement: Boolean = false,
    filterSchemaColumns: Boolean = false,
    orderSchemaColumns: Boolean = false,
    coerceSchemaColumnTypes: Boolean = false,
    onlySemanticColumns: Boolean = false,
    dropEmptyColumns: Boolean = true,
    dropEmptyTables: Boolean = true) {

  /** The pipeline stage this configuration selects, assembled like the
    * reference CLI (__main__.py:113-143,675-688). A `transformTablesFile` or
    * `hintsMode` value the pipeline does not recognise throws
    * IllegalArgumentException naming the field and its accepted values.
    */
  def toSettings: MergePipeline.Settings = {
    val tablesFile = transformTablesFile match {
      case None => NullTablesFileTransformer
      case Some("explode") => FragmentsExploder
      case Some("compact-safe") => SafeConsecutiveFragmentsCompactor
      case Some("compact-unsafe") => UnsafeConsecutiveFragmentsCompactor
      case Some(other) => throw new IllegalArgumentException(
        s"transformTablesFile: '$other' is not one of explode|compact-safe|compact-unsafe")
    }
    val safeHints = hintsMode match {
      case None | Some("safe") => true
      case Some("unsafe") => false
      case Some(other) => throw new IllegalArgumentException(
        s"hintsMode: '$other' is not one of safe|unsafe")
    }
    val schema = schemaStr.map(ColumnSchema.parse)

    val pre = List.newBuilder[FragmentTransformer]
    if (fixReversedColumnValues) pre += FragmentValuesReverser
    if (filterTitleRows) pre += FilterTitleRowsTransformer
    if (stripLeadingRowNumbers) pre += LeadingRowNumberTransformer
    if (normalizePunctuation) pre += NormalizePunctuationTransformer
    if (splitConjunctionColumns) pre += new SplitColumnTransformer(semanticLanguage)
    pre += FilterEmptyRowsTransformer

    val load = List.newBuilder[LoadTimeAnalyzer]
    if (hintsMode.nonEmpty && hints.nonEmpty) load += new HintsLoadTimeAnalyzer(hints, safeHints)
    if (aliases.nonEmpty) load += new AliasLoadTimeAnalyzer(aliases)
    if (useColumnNameSemantic)
      load += new ColumnNameSemanticLoadTimeAnalyzer(threshold, schema)

    val mergeTime = List.newBuilder[MergeTimeAnalyzer]
    if (useJaccard) mergeTime += new JaccardMergeTimeAnalyzer(threshold, schema)
    if (useColumnValueSemantic)
      mergeTime += new ColumnValueSemanticMergeTimeAnalyzer(threshold, schema)

    MergePipeline.Settings(
      pretransformers = pre.result(),
      tablesFileTransformer = tablesFile,
      loadAnalyzers = load.result(),
      posttransformers = if (removeHeaderRows) List(new FilterHeaderRowsTransformer(hints)) else Nil,
      mergeAnalyzers = mergeTime.result(),
      agreement = distinctReaders.map(new DistinctReadersAgreement(_)).getOrElse(SimpleCountAgreement),
      columnAgreement = columnAgreement,
      postprocessors = PostProcessors.build(schema, filterSchemaColumns, orderSchemaColumns,
        coerceSchemaColumnTypes, onlySemanticColumns, dropEmptyColumns, dropEmptyTables))
  }
}

/** Distributed N-run merge (SURVEY.md §3.2 Spark equivalent): the ONLY wide
  * edge is the groupByKey shuffle on doc_id; each group (a handful of runs
  * of one document, KBs) merges doc-locally in Scala. At 10^12-doc scale
  * this is shuffle-bound, so RunDoc rows carry only extraction output
  * (never html), and doc_id hashing distributes uniformly; skew would come
  * only from a single doc with a pathological table count, bounded upstream
  * by the extractor.
  *
  * One merge per merged Dataset: the paper's dataflow feeds one merge to
  * several consumers (write, stats, CSV/HTML export), so `mergeRuns` caches
  * its result the first time an action reads it, and that cache lives as
  * long as the Dataset does (see `mergeRuns`).
  */
object MergeJob {

  /** Name of the cache behind every `mergeRuns` result: its RDD shows as
    * `In-memory table MergeJob.mergeRuns` in the storage tab and in
    * `SparkContext.getPersistentRDDs`.
    */
  val CacheName = "MergeJob.mergeRuns"

  /** Merges the runs of each document. The returned Dataset merges ONCE,
    * however many actions read it:
    *  - lazy: calling this submits no Spark job. The first action builds a
    *    `MEMORY_AND_DISK` columnar cache of the merged rows inside that
    *    action's job group; every later action (and every plan derived from the
    *    result) reads the cache instead of re-running the read, the parse,
    *    the `groupByKey` shuffle, the merge kernel and the JSON render;
    *  - lineage-safe: the cached RDD keeps its lineage, so an evicted or
    *    lost block is recomputed;
    *  - GC-scoped: the cache is not registered with the session
    *    `CacheManager`; `ContextCleaner` frees it once the result and every
    *    plan derived from it are unreachable and collected. `unpersist()` on
    *    the result is therefore a no-op: a caller has nothing to release,
    *    and cannot release it sooner than by dropping the result;
    *  - not free for one reader: the first action builds the cache even if
    *    nothing reads the result again, at the price of one more job and
    *    of encoding the merged rows into columnar batches and decoding them
    *    back. At corpus scale the cache also holds the whole merged output
    *    on the executors, spilling to disk, until the result is dropped.
    *
    * Why not the simpler designs:
    *  - `cache()`/`persist()` registers the plan in the session
    *    `CacheManager` until someone unpersists it. A caller that never
    *    calls `clearCache` (SparkEntry builds a fresh merge per query)
    *    would leak one cache per call;
    *  - `.rdd.persist` and `localCheckpoint(eager = false)` run the
    *    exchange's map stage as soon as the RDD is taken, because adaptive
    *    execution materializes query stages then: building the query would
    *    run Spark jobs. `localCheckpoint` also drops the lineage.
    */
  def mergeRuns(spark: SparkSession, runs: Dataset[RunDoc], cfg: MergeConfig): Dataset[MergedDoc] = {
    import spark.implicits._
    cfg.toSettings // a bad option value fails here, while the plan is built
    val merged = runs.groupByKey(_.doc_id).flatMapGroups { (docId: String, it: Iterator[RunDoc]) =>
      val settings = cfg.toSettings // rebuilt per group; cheap, task-local
      val sorted = it.toList.sortBy(_.run_idx)
      val docs = sorted.map { r =>
        (TableDoc.fromJsonString(r.tables_json).copy(uuid = Some(r.run_uuid)), r.page_offset)
      }
      MergePipeline.mergeGroup(docs, settings).map { merged =>
        MergedDoc(
          doc_id = docId,
          n_runs = sorted.size,
          n_tables = merged.tables.size,
          n_rows = merged.tables.flatMap(_.fragments).map(_.rows.size).sum,
          merged_json = TableDoc.toJsonString(merged))
      }.iterator
    }
    shim.cachedOnce(merged, StorageLevel.MEMORY_AND_DISK, CacheName)
  }

  /** Curation guard (F17 — tablemerge __main__.py:64-69,215-220): docs whose
    * EXISTING merged output carries human curations are never re-merged.
    * Distributed form: left-anti join the runs against the curated-doc set.
    */
  def curatedDocs(spark: SparkSession, existingMerged: Dataset[MergedDoc]): Dataset[String] = {
    import spark.implicits._
    existingMerged
      .filter(m => TableDoc.fromJsonString(m.merged_json).hasCurations)
      .map(_.doc_id)
  }

  def mergeRunsSkippingCurated(
      spark: SparkSession,
      runs: Dataset[RunDoc],
      curated: Dataset[String],
      cfg: MergeConfig): Dataset[MergedDoc] = {
    import spark.implicits._
    val pending = runs.join(curated.toDF("doc_id"), Seq("doc_id"), "left_anti").as[RunDoc]
    mergeRuns(spark, pending, cfg)
  }

  /** Flattened merged rows (K4 explode semantics) as a narrow map over the
    * merged docs — the relational projection without a nested column.
    */
  def flattenMerged(spark: SparkSession, merged: Dataset[MergedDoc]): Dataset[MergedFlatRow] = {
    import spark.implicits._
    merged.flatMap { m =>
      val doc = TableDoc.fromJsonString(m.merged_json)
      for {
        (table, ti) <- doc.tables.zipWithIndex
        (frag, fi) <- table.fragments.zipWithIndex
        (row, ri) <- frag.rows.zipWithIndex
      } yield MergedFlatRow(m.doc_id, m.n_runs, ti, fi, frag.page, ri,
        row.rowIdx, row.agreementLevel, row.sources.map(_.size).getOrElse(0))
    }
  }

  /** Nested relational view over merged docs (one row per table fragment,
    * rows + cells as a nested column): the typed parse happens ONCE per doc
    * in this flatMap — a SQL user then explodes the materialized struct
    * column freely, with no from_json re-parse per consuming expression
    * (the measured 46 s CollapseProject trap). Nesting is capped at two
    * levels (rows[].cells{}) deliberately: the round-1 lesson is that a
    * 4-level nested encoder generates a serializer method too large for
    * HotSpot to JIT (tasks run interpreted, 50-100× slower).
    */
  def nestedMergedTables(spark: SparkSession, merged: Dataset[MergedDoc]): Dataset[MergedTableView] = {
    import spark.implicits._
    merged.flatMap { m =>
      val doc = TableDoc.fromJsonString(m.merged_json)
      for {
        (table, ti) <- doc.tables.zipWithIndex
        (frag, fi) <- table.fragments.zipWithIndex
      } yield MergedTableView(m.doc_id, m.n_runs, ti, fi, frag.page,
        frag.rows.zipWithIndex.map { case (r, ri) =>
          MergedNestedRow(ri, r.rowIdx, r.agreementLevel,
            r.sources.map(_.size).getOrElse(0),
            r.columns.map { case (n, c) =>
              n -> (c match {
                case Cell.Null => null
                case Cell.Str(v) => v
                case mc: Cell.Multi => Cell.json(mc)
              })
            }.toMap)
        })
    }
  }

  /** Deterministic perturbation used to synthesize a "second reader" run
    * from an extraction: case/whitespace jitter that the merge normalizers
    * must fold back together (exercises same_row + agreement).
    */
  def perturbCell(s: String, salt: Long): String = {
    if (s.isEmpty) s
    else (math.floorMod(salt, 3L): @unchecked) match {
      case 0 => s.toUpperCase(java.util.Locale.ROOT)
      case 1 => "  " + s + " "
      case 2 => s
    }
  }

  def perturbRun(run: RunDoc, newUuid: String, runIdx: Int): RunDoc = {
    val seed = run.doc_id.hashCode.toLong
    val doc = TableDoc.fromJsonString(run.tables_json)
    val perturbed = doc.copy(tables = doc.tables.map { t =>
      TableData(t.fragments.map { f =>
        f.copy(rows = f.rows.zipWithIndex.map { case (r, ri) =>
          r.withColumns(r.columns.zipWithIndex.map { case ((name, cell), ci) =>
            (name, cell.mapStrings(perturbCell(_, seed + ri * 7 + ci)))
          })
        })
      }, rowsForm = t.rowsForm)
    })
    run.copy(run_uuid = newUuid, run_idx = runIdx,
      tables_json = TableDoc.toJsonString(perturbed))
  }
}
