package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Repeated-line stripping — the line-granularity dedup step of the
  * published CCNet/RefinedWeb curation recipes: any line (newline-delimited
  * text unit) whose normalized form occurs at least `minDf` times anywhere
  * in the corpus is boilerplate ("subscribe to our newsletter", cookie
  * banners, nav footers) and is removed from EVERY document, then each
  * document's surviving lines are reassembled in order. Unlike the
  * doc-level and span-level dedup operators this one emits cleaned TEXT —
  * the shape a curation pipeline actually writes out.
  *
  * Scale shape: lines explode on the scan tasks and only
  * (doc_id, idx, 16-byte normalized-line digest) triples shuffle for the
  * frequency count (partial-aggregated, so a footer on a billion pages
  * absorbs map-side). The strip set aggregates to one (doc_id,
  * removed-idx array) row per AFFECTED document before rejoining, so the
  * corpus-side join input is the contaminated sliver; with a
  * low-boilerplate corpus AQE broadcasts it and the corpus text never
  * shuffles, while a boilerplate-heavy crawl degrades to one doc_id
  * shuffle — the same single-regroup cost the published recipes pay. The
  * rebuild splits an affected doc once and is linear in its lines.
  */
object LineDedup {

  /** Line-match normalization: SQL-trim + lowercase (match boilerplate
    * across indentation/case variants; the ORIGINAL line bytes are what
    * get kept or stripped).
    */
  private def normLine(line: Column): Column = lower(trim(line))

  /** (doc_id, idx, h): one row per line with its 0-based index and the
    * 16-byte digest of the normalized line.
    */
  private def lineHashRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), posexplode(split(col("text"), "\n")).as(Seq("idx", "line")))
      .select(col("doc_id"), col("idx"), unhex(md5(normLine(col("line")))).as("h"))

  /** Documents with repeated lines removed: (doc_id, text). Documents all
    * of whose lines were boilerplate come back with empty text (callers
    * drop or keep them; the row stays so per-doc accounting survives).
    */
  def stripRepeatedLines(docs: DataFrame, minDf: Long = 2L): DataFrame = {
    // Spread-guarded: tiny inputs otherwise explode+digest on 1-2 scan
    // tasks. Where it fires, the digest count reuses the rebuild side's
    // exchange; the removed-set side reads the docs again under an inferred
    // isnotnull(doc_id) unless the caller drops null ids (PlanSpec "line strip").
    val d = Spread.spread(docs.select(col("doc_id"), col("text")))
    val lines = lineHashRows(d)
    val repeated = lines.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf).select(col("h"))
    val removedPerDoc = lines.join(repeated, Seq("h"))
      .groupBy(col("doc_id")).agg(collect_set(col("idx")).as("removed"))
    // The outer transform binds the split lines once as a lambda variable:
    // a projected column read by the inner lambda would be inlined there (a
    // filter on the output text is pushed below the projection), re-splitting
    // the doc per kept line. Kept indices: a hash-set difference, in order.
    val rebuilt = element_at(transform(array(split(col("text"), "\n")), ls =>
      array_join(transform(array_except(sequence(lit(0), size(ls) - 1), col("removed")),
        i => element_at(ls, i + 1)), "\n")), 1)
    d.join(removedPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("removed").isNull, col("text")).otherwise(rebuilt).as("text"))
  }
}
