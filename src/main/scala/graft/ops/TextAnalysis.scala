package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, fingerprinting. Everything
  * stays in codegen'd built-in functions (no UDFs on the hot path) so the
  * scans remain whole-stage-codegen + column-pruned at 100 TB.
  */
object TextAnalysis {

  /** Whitespace token count. The split class is the EXPLICIT `[ \t-\r]`
    * (≡ Java's `\s` exactly) rather than `\s` itself: RE2's `\s` excludes
    * U+000B, so a bare `\s` in the mirrored DuckDB oracle would diverge
    * on text containing a vertical tab (same cross-engine trap as
    * [[BpePattern]]).
    */
  def tokenCount(text: Column): Column = size(split(trim(text), "[ \\t-\\r]+"))

  /** GPT-2-style pre-tokenizer pattern, restricted to the regex subset
    * Java regex and RE2 implement identically: common contraction
    * suffixes, space-prefixed letter runs, digit runs, punctuation runs,
    * and residual whitespace. The real GPT-2 pattern's trailing
    * `\s+(?!\S)` lookahead is RE2-inexpressible, so residual whitespace
    * runs count as single tokens here — the standard lookahead-free
    * approximation. Whitespace is the EXPLICIT class `[ \t-\r]` (space +
    * U+0009–U+000D), not `\s`: Java's `\s` includes U+000B but RE2's does
    * not, so a bare `\s` would diverge from the DuckDB oracle on any text
    * containing a vertical tab; the explicit range means the same bytes
    * in both engines (and equals Java's `\s` exactly). Counting matches
    * of this pattern estimates the subword-token budget far better than
    * whitespace counting (BPE splits punctuation and numbers; a token
    * budget sized on whitespace words under-counts code/markup-heavy
    * text badly).
    */
  val BpePattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t-\\r]+|[ \\t-\\r]+"

  /** BPE-ish pre-token count: matches of [[BpePattern]] (codegen'd
    * regexp_extract_all — no UDF; DuckDB recomputes with its own
    * regexp_extract_all over the identical pattern).
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Integer quality components (exact across engines — no float ratios). */
  def qualityComponents(df: DataFrame, text: Column): DataFrame =
    df.select(
      col("doc_id"),
      length(text).as("n_chars"),
      tokenCount(text).as("n_tokens"),
      length(regexp_replace(text, "[a-zA-Z]", "")).as("n_non_alpha"),
      length(regexp_replace(text, "[0-9]", "")).as("n_non_digit"),
      length(regexp_replace(text, "[.,;:!?]", "")).as("n_non_punct"))

  /** Quality score + label, derived from the integer components with fixed
    * thresholds: mean word length in [3,12], punctuation below 10%, at
    * least 5 tokens.
    */
  def qualityScore(df: DataFrame, text: Column): DataFrame = {
    qualityComponents(df, text)
      .withColumn("n_alpha", col("n_chars") - col("n_non_alpha"))
      .withColumn("n_punct", col("n_chars") - col("n_non_punct"))
      .withColumn("quality_ok",
        col("n_tokens") >= 5 &&
          col("n_chars") >= col("n_tokens") * 3 &&
          col("n_chars") <= col("n_tokens") * 13 &&
          col("n_punct") * 10 <= col("n_chars"))
      .select("doc_id", "n_chars", "n_tokens", "n_alpha", "n_punct", "quality_ok")
  }

  /** PII redaction — the scrubbing pass a training pipeline runs before
    * text ships: emails, IPv4 addresses and phone-shaped digit runs are
    * replaced with typed placeholders. Pure codegen'd `regexp_replace`
    * chain (no UDF); patterns stay in the regex subset Java regex and RE2
    * implement identically (character classes, bounded repetition,
    * alternation — no lookaround, no backrefs, which RE2 lacks), so the
    * pass is DuckDB-oracle-checkable. Order matters and is fixed: emails
    * first (their digits must not be half-eaten by the phone rule), then
    * IPs (10.x.y.z must not be phone-eaten), then the NANP-shaped full
    * phone rule, then the 7-digit local form.
    *
    * The phone rules are NANP-shaped, not NANP-validating: area codes are
    * any 3 digits ("\b" can't guard a leading "+", so the boundary sits on
    * the first DIGIT alternative), and the 7-digit local rule will fire on
    * any xxx-xxxx run (ISBN/serial fragments included) — demo-grade
    * scrubbing, deliberately loose toward redaction (a false <PHONE> is
    * cheap; a leaked number is not).
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b", "<IP>")
    // +1 555-123-4567 / 1 555 123 4567 / (555) 123-4567 / 555.123.4567 ...
    val full = regexp_replace(ip,
      "(\\+1[-. ]?|\\b1[-. ])?(\\([0-9]{3}\\)[-. ]?|\\b[0-9]{3}[-. ])[0-9]{3}[-. ]?[0-9]{4}\\b",
      "<PHONE>")
    regexp_replace(full, "\\b[0-9]{3}-[0-9]{4}\\b", "<PHONE>")
  }

  /** Corpus-frequency quality signals — the unigram-LM-style filter a
    * training pipeline cuts on (rare-token / OOV-heavy docs are usually
    * boilerplate, markup debris or non-language): per document, over
    * lowercase token OCCURRENCES,
    *   n_tokens     total occurrences,
    *   n_oov        occurrences outside the corpus top-`k` vocabulary,
    *   vocab_mass   Σ corpus-frequency of each occurrence's token (BIGINT —
    *                integer-exact across engines, unlike a log-prob).
    *
    * Scale shape: the vocabulary is one scalar-token shuffle
    * (explode + count) reduced to k rows via orderBy+limit
    * (TakeOrderedAndProject — driver/broadcast state is k-bounded at any
    * corpus size, ties broken deterministically by token), then
    * BROADCAST-joined into the per-doc aggregation, so the corpus text
    * never shuffles and the wide edge carries only (doc_id, freq) scalars.
    * At 100 TB you compute the vocab once and reuse it across runs; the
    * composed form here recomputes it per action for oracle determinism.
    */
  def tokenFrequencyScore(docs: DataFrame, k: Int): DataFrame = {
    // No Spread guard: with one in front of the tokenize+explode, the
    // graft.Bench leaf q_token_freq_quality ran at 0.64x its unguarded
    // speed, so both consumers below read the scan directly
    val toks = docs.select(col("doc_id"), col("text"))
      .select(col("doc_id"), explode(TextKernel.lowerSplitCol(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(k)
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("freq").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("freq"), lit(0L))).as("vocab_mass"))
  }

  /** Context-window chunking — the packing step before tokenization in a
    * training pipeline: each document splits into `chunkSize`-token windows
    * advancing by `chunkSize - overlap` tokens, so consecutive chunks share
    * `overlap` tokens of context. The tail chunk keeps its remainder; a
    * window starting past `n - overlap` would be fully contained in its
    * predecessor and is not emitted (chunk 0 always is). One narrow typed
    * flatMap — rows explode in place, nothing shuffles.
    */
  def chunkTokens(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      chunkSize: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    import spark.implicits._
    TextKernel.docTexts(docs).flatMap { case (id, text) =>
      val toks = TextKernel.words(text)
      val n = toks.length
      Iterator.from(0)
        .map(_ * stride)
        .takeWhile(st => st == 0 || st + overlap < n)
        .zipWithIndex
        .map { case (st, k) =>
          val end = math.min(st + chunkSize, n)
          (id, k, end - st, toks.slice(st, end).mkString(" "))
        }
    }.toDF("doc_id", "chunk_idx", "n_chunk_tokens", "chunk_text")
  }

  /** Stopword tables for the n-gram/stopword language-ID heuristic. */
  val Stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "it", "for", "with", "that", "this"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "una", "los", "las", "por", "con"),
    "fr" -> Set("le", "la", "de", "et", "les", "des", "un", "une", "est", "dans", "pour", "que"),
    "de" -> Set("der", "die", "das", "und", "ist", "in", "den", "von", "mit", "für", "auf", "ein"),
    "zh" -> Set("的", "是", "在", "了", "和", "有", "我", "他", "这", "中", "大", "上"))

  /** Language ID over the token array, expressed with higher-order column
    * functions (filter/size) — fully codegen-friendly, no UDF: pick the
    * language with the highest stopword hit count (ties: lexicographic
    * language order), "und" when nothing hits.
    */
  def langIdColumns(text: Column): Column = {
    val tokens = TextKernel.lowerSplitCol(text)
    val langs = Stopwords.toSeq.sortBy(_._1)
    val scored = langs.zipWithIndex.map { case ((lang, words), i) =>
      val hits = size(filter(tokens, t => t.isInCollection(words)))
      // priority makes hit-count ties resolve to the lexicographically
      // smallest language under the descending struct sort
      struct(hits.as("hits"), lit(langs.size - i).as("prio"), lit(lang).as("lang"))
    }
    val best = sort_array(array(scored: _*), asc = false).getItem(0)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Rolling-hash fingerprint summary: whole-text hash, minimum 3-gram
    * hash, distinct-3-gram count — a SECOND independent instance of the
    * polynomial family (seed 13 vs the poly/winnow twins' seed 7), so the
    * rolling fingerprint carries its own hash space while staying
    * cross-engine recomputable (round 4 hashed with xxhash64, which no
    * other engine implements bit-identically — the one permanently
    * un-oracleable row on the correctness board; xxhash64 carried no
    * semantic the polynomial family lacks). One typed narrow pass per doc,
    * no shuffle — the polyFingerprintRows shape.
    */
  def fingerprintColumns(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    TextKernel.docTexts(docs).mapPartitions { it =>
      it.map { case (id, text) =>
        val t = sqlTrim(text).toLowerCase(java.util.Locale.ROOT)
        val grams = Dedup.shinglesOfTokens(TextKernel.words(t), 3)
        (id, TextKernel.polyHashSeeded(t, 13L, TextKernel.PolyMod),
          grams.iterator.map(TextKernel.polyHashSeeded(_, 13L, TextKernel.PolyMod)).min,
          grams.length.toLong)
      }
    }.toDF("doc_id", "full_hash", "min_gram_hash", "n_distinct_grams")
  }

  /** SQL-trim analog: strips SPACES only (Java String.trim also strips
    * control chars ≤ U+0020, which the DuckDB/Spark SQL trim() does not —
    * a latent cross-engine mismatch on texts with leading newlines/tabs).
    */
  def sqlTrim(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** (doc_id, poly_hash, min_gram_poly): whole-text polynomial hash +
    * minimum over 3-token-gram hashes (winnowing minimum) — one typed pass
    * per doc, no shuffle.
    */
  def polyFingerprintRows(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    TextKernel.docTexts(docs).mapPartitions { it =>
      it.map { case (id, text) =>
        val t = sqlTrim(text).toLowerCase(java.util.Locale.ROOT)
        val grams = Dedup.shinglesOfTokens(TextKernel.words(t), 3)
        (id, TextKernel.polyHash(t), grams.iterator.map(TextKernel.polyHash).min)
      }
    }.toDF("doc_id", "poly_hash", "min_gram_poly")
  }

  /** Per-doc word-bigram multiset summary: (total, distinct, top count).
    * Single source of truth for the repeat-mass arithmetic — shared by
    * [[repetitionSignals]] and the composed curation pass so the standalone
    * op and the pipeline can never drift apart.
    */
  private[ops] def bigramStats(toks: Array[String]): (Long, Long, Long) = {
    val n = math.max(toks.length - 1, 0)
    val counts = new java.util.HashMap[String, Int](n * 2 + 4)
    var i = 0
    var top = 0
    while (i < n) {
      val c = counts.merge(toks(i) + " " + toks(i + 1), 1, (a, b) => a + b)
      if (c > top) top = c
      i += 1
    }
    (n.toLong, counts.size.toLong, top.toLong)
  }

  /** floor(1000 · (n - distinct) / n) — the bigram repeat mass. */
  private[ops] def dupBigramX1000(n: Long, distinct: Long): Long =
    if (n == 0) 0L else 1000L * (n - distinct) / n

  /** Repetition quality signals (the Gopher-style repetitiveness filters a
    * training-data pipeline cuts on): per document, over the ordered word
    * bigram sequence —
    *   n_bigrams          total bigram occurrences,
    *   distinct_bigrams   distinct bigrams,
    *   top_bigram_count   occurrences of the most frequent bigram,
    *   dup_bigram_x1000   floor(1000 · (n - distinct) / n)  (repeat mass),
    *   top_bigram_x1000   floor(1000 · top / n)             (mode mass).
    * Fractions are integer-scaled (never float — cross-engine hash safety)
    * and all columns are BIGINT. One typed narrow pass per doc: the bigram
    * multiset is counted in a per-row hash map and only the 6 scalars leave
    * the task — no shuffle, nothing content-sized moves. (A pure-Column
    * formulation would need aggregate-over-transform HOFs, which re-evaluate
    * the token split per element — the measured round-1 trap.)
    */
  def repetitionSignals(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    TextKernel.docTexts(docs).mapPartitions { it =>
      it.map { case (id, text) =>
        val (n, distinct, top) = bigramStats(TextKernel.lowerWords(text))
        val topX = if (n == 0) 0L else 1000L * top / n
        (id, n, distinct, top, dupBigramX1000(n, distinct), topX)
      }
    }.toDF("doc_id", "n_bigrams", "distinct_bigrams", "top_bigram_count",
      "dup_bigram_x1000", "top_bigram_x1000")
  }

  /** True winnowing fingerprint (the local-minimum document fingerprinting
    * scheme: [[WinnowK]]-gram hashes, sliding window of [[WinnowW]], keep
    * each window's minimum; the distinct minima are the fingerprint set —
    * guarantees any shared run of w+k-1 tokens between two documents
    * shares a selected hash). Poly-hashed so an independent engine can recompute the exact
    * set; summarized per doc as (set size, set min, set sum) to keep the
    * output row small. One typed narrow pass over the scan — no shuffle,
    * nothing but the 4 scalars leaves the task.
    */
  def winnowFingerprintRows(spark: org.apache.spark.sql.SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    TextKernel.docTexts(docs).mapPartitions { it =>
      it.map { case (id, text) =>
        val fp = winnowDistinctSorted(text, WinnowK, WinnowW)
        var sum = 0L
        var i = 0
        while (i < fp.length) { sum += fp(i); i += 1 }
        (id, fp.length, fp(0), sum)
      }
    }.toDF("doc_id", "n_fp", "fp_min", "fp_sum")
  }

  /** Gram length and window width of [[winnowFingerprintRows]]
    * (q_fingerprint_winnow). */
  final val WinnowK = 3
  final val WinnowW = 4

  /** Sorted distinct window minima. Hot path: gram hashes are folded
    * incrementally over the token array (no k-gram strings are ever
    * allocated — hashing "w1 w2 w3" char-by-char with the ' ' separator is
    * value-identical to hashing the joined string), and the sliding minimum
    * is a monotonic deque, O(m) total instead of O(m·w) with per-window
    * boxing. At 100 TB this pass is the whole operator, so constant factors
    * here are the operator's throughput.
    */
  private[ops] def winnowDistinctSorted(text: String, k: Int, w: Int): Array[Long] = {
    val tokens = TextKernel.lowerWords(text)
    // fewer than k tokens: the whole token run is the one gram
    val len = math.min(k, tokens.length)
    val m = tokens.length - len + 1
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) { hs(i) = TextKernel.polyGramHash(tokens, i, len); i += 1 }
    val mins =
      if (m <= w) Array(hs.min)
      else {
        val out = new Array[Long](m - w + 1)
        val dq = new Array[Int](m) // monotonic index deque (values increasing)
        var head = 0
        var tail = 0 // exclusive
        var i = 0
        var o = 0
        while (i < m) {
          while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
          dq(tail) = i
          tail += 1
          if (dq(head) <= i - w) head += 1
          if (i >= w - 1) { out(o) = hs(dq(head)); o += 1 }
          i += 1
        }
        out
      }
    java.util.Arrays.sort(mins)
    // in-place distinct over the sorted array
    var r = 1
    var n = 1
    while (r < mins.length) {
      if (mins(r) != mins(n - 1)) { mins(n) = mins(r); n += 1 }
      r += 1
    }
    if (n == mins.length) mins else java.util.Arrays.copyOf(mins, n)
  }
}
