package graft.merge

import graft.core._

/** Doc-local merge pipeline = the reference's TablesFileLoader + merge +
  * postprocess phases (/root/reference/src/tablemerge/tablesfile_loader.py:27-43,
  * __main__.py:177-241, README pipeline order: pretransformers → tablesfile
  * transform → load-time align → posttransformers → merge → postprocessors).
  * Pure function over in-memory docs; the Spark layer shuffles docs to it.
  */
object MergePipeline {

  /** The stages of one merge, in pipeline order. `MergeConfig.toSettings`
    * builds one from a serializable configuration, and `MergeConfig()`
    * holds the tablemerge CLI defaults.
    */
  final case class Settings(
      pretransformers: List[FragmentTransformer],
      tablesFileTransformer: TablesFileTransformer,
      loadAnalyzers: List[LoadTimeAnalyzer],
      posttransformers: List[FragmentTransformer],
      mergeAnalyzers: List[MergeTimeAnalyzer],
      agreement: Agreement,
      columnAgreement: Boolean,
      postprocessors: List[PostProcessor])

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
