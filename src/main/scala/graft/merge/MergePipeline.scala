package graft.merge

import graft.core._

/** Doc-local merge pipeline = the reference's TablesFileLoader + merge +
  * postprocess phases (/root/reference/src/tablemerge/tablesfile_loader.py:27-43,
  * __main__.py:177-241, README pipeline order: pretransformers → tablesfile
  * transform → load-time align → posttransformers → merge → postprocessors).
  * Pure function over in-memory docs; the Spark layer shuffles docs to it.
  */
object MergePipeline {

  /** Defaults are the tablemerge CLI defaults: --filter-title-rows on,
    * FilterEmptyRows always appended last (__main__.py:675-688),
    * drop-empty-columns/tables postprocessors on.
    */
  final case class Settings(
      pretransformers: List[FragmentTransformer] = List(FilterTitleRowsTransformer, FilterEmptyRowsTransformer),
      tablesFileTransformer: TablesFileTransformer = NullTablesFileTransformer,
      loadAnalyzers: List[LoadTimeAnalyzer] = Nil,
      posttransformers: List[FragmentTransformer] = Nil,
      mergeAnalyzers: List[MergeTimeAnalyzer] = Nil,
      agreement: Agreement = SimpleCountAgreement,
      columnAgreement: Boolean = false,
      postprocessors: List[PostProcessor] = PostProcessors.build(None))

  object Settings {
    /** Assemble like the reference CLI (__main__.py:113-143,675-688). */
    def assemble(
        fixReversedColumnValues: Boolean = false,
        filterTitleRows: Boolean = true,
        stripLeadingRowNumbers: Boolean = false,
        normalizePunctuation: Boolean = false,
        splitConjunctionColumns: Boolean = false,
        semanticLanguage: String = "en",
        hints: List[String] = Nil,
        hintsMode: Option[String] = None, // safe | unsafe
        aliases: Vector[(String, String)] = Vector.empty,
        useColumnNameSemantic: Boolean = false,
        useJaccard: Boolean = false,
        useColumnValueSemantic: Boolean = false,
        threshold: Double = 0.5,
        schema: Option[ColumnSchema] = None,
        removeHeaderRows: Boolean = false,
        transformTablesFile: Option[String] = None, // explode | compact-safe | compact-unsafe
        agreement: Agreement = SimpleCountAgreement,
        filterSchemaColumns: Boolean = false,
        orderSchemaColumns: Boolean = false,
        coerceSchemaColumnTypes: Boolean = false,
        onlySemanticColumns: Boolean = false,
        dropEmptyColumns: Boolean = true,
        dropEmptyTables: Boolean = true): Settings = {

      val pre = List.newBuilder[FragmentTransformer]
      if (fixReversedColumnValues) pre += new FragmentValuesReverser(semanticLanguage)
      if (filterTitleRows) pre += FilterTitleRowsTransformer
      if (stripLeadingRowNumbers) pre += LeadingRowNumberTransformer
      if (normalizePunctuation) pre += NormalizePunctuationTransformer
      if (splitConjunctionColumns) pre += new SplitColumnTransformer(semanticLanguage)
      pre += FilterEmptyRowsTransformer

      val load = List.newBuilder[LoadTimeAnalyzer]
      if (hintsMode.nonEmpty && hints.nonEmpty)
        load += new HintsLoadTimeAnalyzer(hints, safe = hintsMode.contains("safe"))
      if (aliases.nonEmpty) load += new AliasLoadTimeAnalyzer(aliases)
      if (useColumnNameSemantic)
        load += new ColumnNameSemanticLoadTimeAnalyzer(threshold, semanticLanguage, schema)

      val mergeA = List.newBuilder[MergeTimeAnalyzer]
      if (useJaccard) mergeA += new JaccardMergeTimeAnalyzer(threshold, schema)
      if (useColumnValueSemantic)
        mergeA += new ColumnValueSemanticMergeTimeAnalyzer(threshold, semanticLanguage, schema)

      val post = List.newBuilder[FragmentTransformer]
      if (removeHeaderRows) post += new FilterHeaderRowsTransformer(hints)

      val tft = transformTablesFile match {
        case Some("explode") => FragmentsExploder
        case Some("compact-safe") => SafeConsecutiveFragmentsCompactor
        case Some("compact-unsafe") => UnsafeConsecutiveFragmentsCompactor
        case _ => NullTablesFileTransformer
      }

      Settings(
        pretransformers = pre.result(),
        tablesFileTransformer = tft,
        loadAnalyzers = load.result(),
        posttransformers = post.result(),
        mergeAnalyzers = mergeA.result(),
        agreement = agreement,
        postprocessors = PostProcessors.build(schema, filterSchemaColumns,
          orderSchemaColumns, coerceSchemaColumnTypes, onlySemanticColumns,
          dropEmptyColumns, dropEmptyTables))
    }
  }

  private def transformDoc(doc: TableDoc, transformers: List[FragmentTransformer]): TableDoc =
    if (transformers.isEmpty) doc
    else doc.copy(tables = doc.tables.map(t => TableData(t.fragments.map { f =>
      transformers.foldLeft(f)((acc, tr) => tr.transformFragment(acc))
    })))

  private def alignDoc(doc: TableDoc, analyzers: List[LoadTimeAnalyzer]): TableDoc =
    doc.copy(tables = doc.tables.map(t => TableData(t.fragments.map { f =>
      val mapping = ColumnsAligner.loadTimeMapping(f, ColumnNamesNormalizerAnalyzer :: analyzers)
      if (mapping.isEmpty) f
      else f.copy(rows = f.rows.map(ColumnsAligner.renameRow(mapping, _)))
    })))

  /** TablesFileLoader.load phases on an already-parsed doc (loader.py:40-43).
    * Note: the pretransformer pass rebuilds every table in fragments form —
    * same as the reference's transform_tablesfile.
    */
  def load(doc0: TableDoc, settings: Settings): TableDoc = {
    var doc = transformDoc(doc0, settings.pretransformers)
    doc = settings.tablesFileTransformer.transform(doc)
    doc = alignDoc(doc, settings.loadAnalyzers)
    transformDoc(doc, settings.posttransformers)
  }

  /** Phases 1-3 for one document group: load each run's doc, merge, post.
    * Returns None when all inputs have zero tables (merge-skip guard,
    * __main__.py:208-212).
    */
  def mergeGroup(
      docs: List[(TableDoc, Int)], // (doc, pageOffset) in resultset order
      settings: Settings): Option[TableDoc] = {
    val loaded = docs.map { case (d, off) => (load(d, settings), off) }
    if (!loaded.exists(_._1.tables.nonEmpty)) return None
    var merged = Merger.merge(
      loaded.map(_._1),
      Some(loaded.map(_._2)),
      settings.agreement,
      settings.columnAgreement,
      settings.mergeAnalyzers)
    settings.postprocessors.foreach(p => merged = p.postprocess(merged))
    Some(merged)
  }
}
