package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Plain reference forms that the ops kernels are checked against. Each
  * computes the same value as its production twin the obvious way, with
  * none of the twin's shortcuts.
  */
object OpsReferences {

  /** The winnowing fingerprint set itself (sorted), the set that
    * [[TextAnalysis.winnowFingerprintRows]] summarizes per document.
    */
  def winnowSet(text: String, k: Int = TextAnalysis.WinnowK, w: Int = TextAnalysis.WinnowW): scala.collection.SortedSet[Long] =
    scala.collection.immutable.SortedSet.from(TextAnalysis.winnowDistinctSorted(text, k, w))

  /** One row per k-token window: (doc_id, pos, gram) with 0-based token
    * position and the space-joined gram text, over
    * [[TextKernel.lowerWords]]. `unhex(md5(gram))` over these rows is what
    * [[DupSpans.gramDigestRows]] computes in its typed pass.
    */
  def gramPositionRows(spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].flatMap { case (docId, text) =>
      val toks = TextKernel.lowerWords(text)
      (0 to toks.length - k).iterator.map(i => (docId, i, toks.slice(i, i + k).mkString(" ")))
    }.toDF("doc_id", "pos", "gram")
  }
}
