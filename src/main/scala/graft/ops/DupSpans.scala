package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact duplicated-substring spans — the sub-document complement to the
  * doc-level dedup family (exact md5, MinHash+LSH, SimHash): find every
  * maximal token run that is covered by a word k-gram occurring at least
  * `minCount` times anywhere in the corpus (cross-document or repeated
  * within one document). This is the distributed analog of the published
  * suffix-array exact-substring dedup recipe: k-gram seeds stand in for
  * suffix-array matches, and overlapping seeds merge into maximal spans.
  *
  * Scale shape: the corpus tokenizes in a single typed pass on the scan
  * tasks (a `mapPartitions` flatMap — the HOF-lambda re-evaluation trap
  * rules out `transform(sequence(...))` over a computed token array) and
  * only (doc_id, pos, 16-byte gram digest) triples ever shuffle — document
  * text never leaves its scan partition and the corpus is never
  * repartitioned. Gram frequency is a partial-aggregated groupBy, so a
  * boilerplate gram shared by millions of pages is absorbed map-side; the
  * flag-back join is gram-keyed (AQE splits a residual mega-gram), and the
  * span merge is a doc_id-partitioned window whose exchange the final
  * groupBy reuses (grouping keys ⊇ partition keys ⇒ no second shuffle).
  */
object DupSpans {

  /** One row per k-token window over [[TextKernel.lowerWords]]: (doc_id,
    * pos, g) with 0-based token position and the 16-byte MD5 digest of the
    * space-joined gram text. Documents shorter than k tokens emit nothing —
    * no k-window exists, so they can never carry a duplicated span. The
    * digest comes straight from the typed pass — value-identical to
    * `unhex(md5(gram))` over the gram string (MD5 runs over the same UTF-8
    * byte stream, fed token-by-token with the ' ' separator), but the
    * gram STRING is never materialized into a row, and the per-gram
    * hex-encode + unhex round-trip of the Column md5 path disappears
    * (guide §1.2 step 2: per-task work, measured as the dominant narrow
    * stage). Input is [[TextKernel.docTexts]] (spread-guarded): tokenize+hash
    * is the CPU-heavy pass a tiny input would otherwise run on 1-2 scan tasks.
    */
  def gramDigestRows(spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"gram size must be positive, got $k")
    import spark.implicits._
    TextKernel.docTexts(docs)
      .mapPartitions { it =>
        val digest = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (docId, text) =>
          val toks = TextKernel.lowerWords(text)
          if (toks.length < k) Iterator.empty
          else {
            val bytes = tokenBytes(toks)
            (0 to toks.length - k).iterator.map(i => (docId, i, gramDigest(digest, bytes, i, k)))
          }
        }
      }.toDF("doc_id", "pos", "g")
  }

  /** UTF-8 bytes of each token, the input of [[gramDigest]]. */
  private[ops] def tokenBytes(toks: Array[String]): Array[Array[Byte]] =
    toks.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** MD5 of the gram `tokens(from until from+len)` joined by single
    * spaces, fed token by token: equal to `unhex(md5(gram))` of the joined
    * string, without building it. `len = 0` digests the empty string. */
  private[ops] def gramDigest(digest: java.security.MessageDigest,
      bytes: Array[Array[Byte]], from: Int, len: Int): Array[Byte] = {
    digest.reset()
    var j = from
    while (j < from + len) {
      if (j > from) digest.update(' '.toByte)
      digest.update(bytes(j))
      j += 1
    }
    digest.digest()
  }

  /** Maximal duplicated-token spans: (doc_id, start_tok, end_tok), both
    * 0-based inclusive token indices. Every token in a span is covered by
    * some k-gram occurring >= minCount times in the corpus; spans merge on
    * OVERLAP only (two windows k apart touch but share no token, so they
    * stay separate spans). Clean documents are absent — at corpus scale a
    * 99%-empty per-doc span list would force a doc_id shuffle of the whole
    * corpus; derive "clean" downstream by anti-join when needed.
    */
  def dupSpans(spark: SparkSession, docs: DataFrame, k: Int, minCount: Long = 2L): DataFrame = {
    // 16-byte digest (not the gram text) is what shuffles; md5 is already
    // collision-free at corpus scale and cross-engine recomputable, though
    // the digest never leaves this query.
    val grams = gramDigestRows(spark, docs, k)
    val dup = grams.groupBy(col("g")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount).select(col("g"))
    val hits = grams.join(dup, Seq("g")).select(col("doc_id"), col("pos"))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val islands = hits
      .withColumn("new_island",
        when(coalesce(col("pos") - lag(col("pos"), 1).over(w), lit(k)) >= k, 1).otherwise(0))
      .withColumn("island", sum(col("new_island")).over(w))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("start_tok"),
        (max(col("pos")) + (k - 1)).cast("long").as("end_tok"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"))
  }

  /** Per-document duplicated-token budget: (doc_id, n_tokens, dup_tokens)
    * for EVERY document (clean docs carry 0) — the integer-exact form of
    * the "duplicate fraction" quality gate a curation pass thresholds on.
    * The span side aggregates to one row per contaminated doc before the
    * join, so the full-corpus side joins against a sliver.
    */
  def dupCoverage(spark: SparkSession, docs: DataFrame, k: Int, minCount: Long = 2L): DataFrame = {
    val perDoc = dupSpans(spark, docs, k, minCount)
      .groupBy(col("doc_id"))
      .agg(sum(col("end_tok") - col("start_tok") + 1).as("dup_tokens"))
    val toks = TextKernel.lowerWordsCol(col("text"))
    // the n_tokens side reads the same TextKernel.docTexts projection as
    // the gram pass, so when Spread fires the two sides share one reused
    // exchange (one physical evaluation of `docs` instead of two)
    TextKernel.docTexts(docs)
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
  }
}
