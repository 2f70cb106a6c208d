package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the training-data hygiene pass every LLM
  * pipeline runs before training: any document sharing a word n-gram with
  * an evaluation/benchmark item is flagged (and usually dropped) so eval
  * scores measure generalization, not memorized test items. Engine-added
  * pipeline operator (the reference has no training-data layer); semantics
  * follow the standard published n-gram-overlap rule (GPT-3 appendix C /
  * PaLM-style 8-gram decontamination).
  *
  * Scale shape: the benchmark side is TINY next to the corpus (thousands
  * of eval items vs billions of docs), so its distinct n-grams broadcast;
  * the corpus side stays narrow — tokenize → n-grams → explode happens on
  * the scan tasks — and only (doc_id, matched gram) pairs, i.e. the
  * contaminated sliver, ever shuffle. Document text never shuffles. The
  * strip itself is the consumer's left-anti join on the contaminated ids
  * (q_span_decontam_chain); [[graft.CurateMain]] applies the same rule
  * inside its keyed gate pass ([[Curation.gates]]).
  */
object Decontaminate {

  /** Distinct word n-grams of `text` over [[TextKernel.lowerWordsCol]];
    * texts shorter than n fall back to the whole text as one gram — the
    * Column twin of [[Dedup.shinglesOf]]. */
  def grams(text: Column, n: Int): Column =
    array_distinct(TextKernel.tokenNGrams(TextKernel.lowerWordsCol(text), n))

  /** (doc_id, n_contaminated) for every CONTAMINATED doc — the number of
    * distinct word n-grams the doc shares with any benchmark item. Clean
    * docs are absent (no left join back: at corpus scale the full-corpus
    * flag column would force a doc_id shuffle for a 99.9%-zero column;
    * derive it downstream with the anti-join instead).
    */
  def contaminationHits(spark: SparkSession, docs: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    // benchmark side: tiny (items are sentence-length), the Column path is
    // fine; corpus side: [[Dedup.shingleRows]]'s single typed pass — the
    // Column n-gram HOF re-evaluates the tokenize chain per gram position
    // (the documented Catalyst re-evaluation trap), which is O(tokens²)
    // per document and must never run on the billion-doc side
    val bench = benchmark.select(explode(grams(col("text"), n)).as("gram")).distinct()
    Dedup.shingleRows(spark, docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("gram"))
      .join(broadcast(bench), Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_contaminated"))
  }
}
