package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pass — the composition the individual
  * ops exist for: quality gate → repetitiveness gate → exact dedup with a
  * deterministic keeper. A user curating a crawl runs exactly this shape;
  * registering it whole also oracle-checks the ops COMPOSED (join keys,
  * filter order, keeper rule), not just in isolation.
  *
  * Scale design: all per-document signals (content md5, token/char counts,
  * quality predicate, bigram repeat mass) come from ONE typed pass over the
  * scan — the corpus text is read once and never shuffles. (The naive
  * composition — qualityScore ⋈ repetitionSignals ⋈ md5 projection on
  * doc_id — reads the text three times and shuffles three scalar branches;
  * at 100 TB the extra scans are the whole cost.) Survivor filtering
  * happens before the only wide edge, the md5-keeper groupBy, so the
  * shuffle carries post-filter scalar rows only.
  */
object Curation {

  final case class Config(
      /** keep docs with word-bigram repeat mass ≤ this (×1000 scale) */
      maxDupBigramX1000: Long = 100)

  /** Per-doc curation signals, single pass. Semantics mirror the relational
    * ops exactly (oracle-checked via q_curation_pipeline):
    * [[TextAnalysis.tokenCount]], [[TextAnalysis.qualityScore]]'s
    * predicate, [[TextAnalysis.repetitionSignals]]' repeat mass, and SQL
    * `md5(text)`.
    */
  def signals(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].mapPartitions { it =>
      val digest = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, text) =>
        // SQL length() = codepoints; token split uses the explicit
        // [ \t-\r] class (== Java \s exactly) so the RE2 oracle can
        // mirror it byte-for-byte — RE2's \s excludes U+000B
        val nChars = text.codePointCount(0, text.length).toLong
        val trimmed = TextAnalysis.sqlTrim(text)
        val nTokens = trimmed.split("[ \\t-\\r]+").length.toLong
        var punct = 0L
        var i = 0
        while (i < text.length) {
          (text.charAt(i): @annotation.switch) match {
            case '.' | ',' | ';' | ':' | '!' | '?' => punct += 1
            case _ => ()
          }
          i += 1
        }
        val qualityOk = nTokens >= 5 &&
          nChars >= nTokens * 3 && nChars <= nTokens * 13 && punct * 10 <= nChars
        // bigram repeat mass — the shared kernel, so the composed pipeline
        // can never drift from the standalone repetitionSignals op
        val (n, distinct, _) = TextAnalysis.bigramStats(TextKernel.lowerWords(text))
        val dupX = TextAnalysis.dupBigramX1000(n, distinct)
        digest.reset()
        val md5Hex = digest.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString
        (id, md5Hex, nTokens, nChars, qualityOk, dupX)
      }
    }.toDF("doc_id", "content_md5", "n_tokens", "n_chars", "quality_ok", "dup_bigram_x1000")
  }

  /** Curate (doc_id, text) rows: quality_ok && low-repetition && first
    * (minimum doc_id) occurrence of each exact content hash. Returns
    * (doc_id, n_tokens, n_chars, dup_bigram_x1000) for the kept set.
    */
  def curate(spark: SparkSession, docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val survivors = signals(spark, docs)
      .filter(col("quality_ok") && col("dup_bigram_x1000") <= cfg.maxDupBigramX1000)
    // exact dedup among survivors: minimum doc_id per content hash wins,
    // as groupBy + min_by — one scan + one shuffle WITH map-side partial
    // aggregation, so a degenerate corpus where one content hash dominates
    // (mega-duplicate boilerplate) still shuffles one partial row per
    // (task, hash). (The groupBy+self-join form re-scans the corpus per
    // branch; a partitioned window has no partials and funnels a hot hash
    // into a single task.)
    survivors
      .groupBy(col("content_md5"))
      .agg(min_by(
        struct(col("doc_id"), col("n_tokens"), col("n_chars"), col("dup_bigram_x1000")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.n_tokens").as("n_tokens"),
        col("r.n_chars").as("n_chars"), col("r.dup_bigram_x1000").as("dup_bigram_x1000"))
  }

  /** Deterministic exact-duplicate planting (distinct from
    * [[Dedup.withPlantedNearDups]]'s NEAR dups): every doc with
    * doc_id % 17 == 0 gets a byte-identical twin at id + 2000000, so the
    * dedup stage of [[curate]] has real work on the no-duplicate synthetic
    * corpus. SQL-recomputable (a plain UNION ALL).
    */
  def withPlantedExactDups(docs: DataFrame): DataFrame = {
    val twins = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("text"))
    docs.select(col("doc_id"), col("text")).union(twins)
  }
}
