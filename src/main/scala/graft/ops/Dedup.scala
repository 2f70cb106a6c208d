package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import graft.ops.TextKernel.{FnvOffset, FnvPrime, avalanche, gramHash64}

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), MinHash+LSH, SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design:
  *  - exact dedup is a single hash-shuffle on md5(text) with map-side
  *    partial aggregation;
  *  - MinHash signatures are computed narrowly (one typed pass per doc
  *    over [[TextKernel]] tokens and hashes), then ONLY (band, hash) pairs
  *    shuffle: ~bands×8 bytes per doc instead of the text;
  *  - candidate pairs come from bucket-local self-pairing (collect_list
  *    within an LSH bucket; buckets are tiny by construction), then exact
  *    Jaccard verification joins the shingle sets back by doc id — the
  *    full text is never shuffled.
  */
object Dedup {

  /** Exact dedup (J7/S12 filenorm semantics): group by content hash, keep
    * the minimum key as representative, count members.
    */
  def exactDedup(docs: DataFrame, text: Column, key: Column): DataFrame =
    docs.groupBy(md5(text).as("content_md5"))
      .agg(min(key).as("keep_id"), count(lit(1)).as("dup_count"))

  /** The one MinHash+LSH configuration [[minhashLshPairs]] runs:
    * `NumHashes` seeded permutations in `Bands` bands of
    * `NumHashes / Bands` rows, over word `ShingleSize`-grams; a candidate
    * pair is kept at exact Jaccard >= `JaccardThreshold`. The
    * recall==exact oracles (q_minhash_dedup, q_near_dup_keeper) pin these
    * values.
    */
  final val NumHashes = 32
  final val Bands = 8
  final val ShingleSize = 3
  final val JaccardThreshold = 0.5

  /** Caps LSH bucket size: buckets above it are degenerate
    * (boilerplate/low-information members) and would otherwise enumerate
    * O(n²) pairs — the standard skew guard for LSH dedup at scale.
    */
  final val MaxBucket = 64

  /** Typed (doc_id, shingles) — one linear pass per document over
    * [[TextKernel.docTexts]] (spread-guarded: a tiny input otherwise runs
    * this CPU-heavy pass on 1-2 scan tasks).
    */
  def shingleRows(spark: SparkSession, docs: DataFrame, n: Int): DataFrame = {
    import spark.implicits._
    TextKernel.docTexts(docs)
      .mapPartitions(_.map { case (id, text) => (id, shinglesOf(text, n)) })
      .toDF("doc_id", "shingles")
  }

  // ---- typed fast path: one Scala pass per doc computes all band hashes.
  // Measured: the pure-Column formulation (32 min-aggregates as HOFs) is
  // 10-100x slower because higher-order functions are interpreted and
  // CollapseProject duplicates the shingle build into every aggregate —
  // this is the documented case for dropping to mapPartitions.

  /** Distinct word n-grams of `text` over [[TextKernel.lowerWords]] — the
    * Scala twin of `array_distinct(TextKernel.tokenNGrams(lowerWordsCol))`.
    * Never Java `String.trim` first: it also strips control chars ≤ U+0020,
    * which neither Spark SQL `trim` nor the DuckDB oracles do; on a text
    * starting with U+0001 that variant hash-diverged from every
    * cross-engine shingle oracle.
    */
  def shinglesOf(text: String, n: Int): Array[String] =
    shinglesOfTokens(TextKernel.lowerWords(text), n)

  /** [[shinglesOf]] over an already-computed [[TextKernel.lowerWords]]
    * token array (avoids re-normalizing the raw text on hot paths).
    */
  def shinglesOfTokens(tokens: Array[String], n: Int): Array[String] = {
    val grams =
      if (tokens.length < n) Array(tokens.mkString(" "))
      else Array.tabulate(tokens.length - n + 1)(i => tokens.slice(i, i + n).mkString(" "))
    grams.distinct
  }

  /** (doc_id, band, band_hash) rows via a single fused pass per document.
    *
    * Signature values are EXACTLY `TextKernel.hash64(gram, i * phi)` for every
    * permutation i — the hash family is effectively frozen by the
    * scale-pinned recall==exact oracles (q_minhash_dedup,
    * q_near_dup_keeper): a "one base hash + cheap per-permutation mix"
    * rewrite was tried and dropped ONE true pair at the driver's sf0.01
    * verify scale (80 vs 81 oracle rows), so the per-gram cost floor is the
    * NumHashes re-seeded char folds. What this pass does save, value-
    * identically: the gram strings are never materialized (the
    * `NumHashes` FNV states stream the window's token chars directly —
    * same char sequence as the mkString'd gram, like DupSpans'
    * digest pass), and the former `.distinct` is dropped outright (min
    * over a multiset equals min over its set, so duplicate grams cannot
    * change a signature).
    */
  def bandHashRows(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val rowsPerBand = NumHashes / Bands
    TextKernel.docTexts(docs).mapPartitions { it =>
      val numH = NumHashes
      val states = new Array[Long](numH)
      it.flatMap { case (docId, text) =>
        val tokens = TextKernel.lowerWords(text)
        val n = ShingleSize
        val mins = Array.fill(numH)(Long.MaxValue)
        // fold the gram tokens(from until from+len) joined by ' ' into all
        // numH seeded FNV states, then avalanche + min-update each
        @inline def vote(from: Int, len: Int): Unit = {
          var i = 0
          while (i < numH) { states(i) = FnvOffset ^ (i * 0x9E3779B97F4A7C15L); i += 1 }
          val end = from + len
          var t = from
          while (t < end) {
            if (t > from) {
              var j = 0
              while (j < numH) { states(j) = (states(j) ^ ' '.toLong) * FnvPrime; j += 1 }
            }
            val s = tokens(t)
            var ci = 0
            while (ci < s.length) {
              val c = s.charAt(ci).toLong
              var j = 0
              while (j < numH) { states(j) = (states(j) ^ c) * FnvPrime; j += 1 }
              ci += 1
            }
            t += 1
          }
          var k = 0
          while (k < numH) {
            val h = avalanche(states(k))
            if (h < mins(k)) mins(k) = h
            k += 1
          }
        }
        if (tokens.length < n) vote(0, tokens.length)
        else {
          var st = 0
          val last = tokens.length - n
          while (st <= last) { vote(st, n); st += 1 }
        }
        (0 until Bands).iterator.map { b =>
          var h = FnvOffset ^ b.toLong
          var i = b * rowsPerBand
          while (i < (b + 1) * rowsPerBand) {
            h ^= mins(i); h *= FnvPrime
            i += 1
          }
          (docId, b, h)
        }
      }
    }.toDF("doc_id", "band", "band_hash")
  }

  /** Candidate pairs from LSH buckets (bucket-local pairing + skew cap).
    * Pair emission is a typed flatMap over the bucket id lists — the former
    * Column form (array_sort + nested transform + flatten) ran INTERPRETED
    * per bucket element (HOFs don't participate in whole-stage codegen),
    * which at the replicated-corpus scale emits millions of pair structs
    * through lambda evaluation. Same pair set: ids sorted ascending, all
    * i<j pairs.
    */
  private def candidatesOf(banded: DataFrame): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= MaxBucket)
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val s = ids.toArray
        java.util.Arrays.sort(s)
        for {
          i <- s.indices.iterator.take(s.length - 1)
          j <- (i + 1 until s.length).iterator
        } yield (s(i), s(j))
      }
      .toDF("a", "b")
      .distinct()
  }

  /** Exact-Jaccard verification: join shingle sets back by doc id. */
  private def verifyPairs(withShingles: DataFrame, candidates: DataFrame): DataFrame = {
    val sa = withShingles.select(col("doc_id").as("a"), col("shingles").as("sh_a"))
    val sb = withShingles.select(col("doc_id").as("b"), col("shingles").as("sh_b"))
    candidates.join(sa, "a").join(sb, "b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Typed (doc_id, shingle 64-bit hashes) — the verify-stage twin of
    * [[shingleRows]] (guide §2.3 "shuffle keys and metadata instead of
    * payloads"): the exact-Jaccard join only needs set intersection/union
    * SIZES, which are preserved under an injective-in-practice 64-bit hash
    * of each distinct shingle — 8 bytes per gram cross the verify shuffles
    * instead of the gram text (~2.5× fewer bytes, and long comparisons
    * instead of string). A Jaccard value could shift only on a 64-bit
    * collision INSIDE one pair's union (≲ 10³ grams → P ≈ 10⁶/2⁶⁵ per
    * pair); the corpus-scale expectation stays ≪ 1 pair.
    */
  def shingleHashRows(spark: SparkSession, docs: DataFrame, n: Int): DataFrame = {
    import spark.implicits._
    TextKernel.docTexts(docs)
      .mapPartitions(_.map { case (id, text) =>
        // Streamed [[TextKernel.gramHash64]] produces byte-identical values to
        // TextKernel.hash64(gram.mkString, seed) with zero gram-string allocation;
        // dedup is by hash value (sorted) instead of by gram string —
        // exactly equivalent downstream, because the verify join consumes
        // these arrays only through array_intersect/array_union SIZES
        // (set semantics: order- and duplicate-insensitive).
        val tokens = TextKernel.lowerWords(text)
        val hs =
          if (tokens.length < n) Array(gramHash64(tokens, 0, tokens.length, 0x5EED5EED5EEDL))
          else {
            val out = new Array[Long](tokens.length - n + 1)
            var st = 0
            while (st < out.length) {
              out(st) = gramHash64(tokens, st, n, 0x5EED5EED5EEDL)
              st += 1
            }
            java.util.Arrays.sort(out)
            var w = 0
            var r = 1
            while (r < out.length) {
              if (out(r) != out(w)) { w += 1; out(w) = out(r) }
              r += 1
            }
            if (w + 1 == out.length) out else java.util.Arrays.copyOf(out, w + 1)
          }
        (id, hs)
      })
      .toDF("doc_id", "shingles")
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    * Input must have columns (doc_id, text). Output: (a, b, jaccard) with
    * a < b, jaccard >= [[JaccardThreshold]]. A pair is a candidate when
    * both docs share a (band, band_hash) bucket, so only a bucket key that
    * occurs at least twice (and at most [[MaxBucket]] times) emits pairs.
    * Only (doc_id, band, hash) triples, the candidate ids and 8-byte
    * shingle hashes ever shuffle — never the text.
    */
  def minhashLshPairs(spark: SparkSession, docs: DataFrame): DataFrame =
    verifyPairs(shingleHashRows(spark, docs, ShingleSize), candidatesOf(bandHashRows(spark, docs)))

  /** SimHash bit width (bits 0..61 — see [[TextKernel.polyHash64]]). */
  val SimhashBits = 62

  /** Typed single-pass SimHash signatures over distinct lowercase tokens
    * (the round-1 lesson applies: 62 HOF bit-vote aggregates would be
    * interpreted and duplicated by projection collapse — plain Scala is a
    * single O(tokens*62) pass). Bit k of the signature is the sign of the
    * vote sum over token-hash bit k.
    */
  def simhashRows(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    TextKernel.docTexts(docs).mapPartitions { it =>
      it.map { case (docId, text) =>
        val tokens = TextKernel.lowerWords(text).distinct
        val votes = new Array[Int](SimhashBits)
        var ti = 0
        while (ti < tokens.length) {
          val h = TextKernel.polyHash64(tokens(ti))
          var bit = 0
          while (bit < SimhashBits) {
            if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
            bit += 1
          }
          ti += 1
        }
        var sig = 0L
        var bit = 0
        while (bit < SimhashBits) {
          if (votes(bit) > 0) sig |= (1L << bit)
          bit += 1
        }
        (docId, sig)
      }
    }.toDF("doc_id", "sig")
  }

  /** SimHash near-dup pairs at hamming distance <= 3 via the 4-band
    * exact-match trick: the 62 signature bits split into 4 disjoint 16-bit
    * bands (band 3 carries 14 live bits), and by pigeonhole any pair within
    * distance 3 agrees on at least one whole band — so recall is EXACT, not
    * probabilistic; the only divergence from brute-force all-pairs hamming
    * is the maxBucket skew cap discarding degenerate buckets (boilerplate
    * signatures). The DuckDB oracle recomputes all-pairs hamming exactly.
    */
  def simhashPairs(spark: SparkSession, docs: DataFrame, maxBucket: Int = 64): DataFrame = {
    import spark.implicits._
    val sigs = simhashRows(spark, docs)
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band", "band_val")))
    // Typed bucket pairing (same interpreted-HOF rationale as
    // [[candidatesOf]]), with the hamming cut applied INSIDE the pass:
    // hamming is a pure function of the pair, so filtering before the
    // distinct is result-identical (sig is functionally determined by
    // doc_id, hence distinct(a,b,hamming) ≡ the old
    // distinct(a,b,sig_a,sig_b) + filter) while the dedup exchange sees
    // only the ≤3-distance sliver instead of every bucket pair.
    banded.groupBy(col("band"), col("band_val"))
      .agg(collect_list(struct(col("doc_id"), col("sig"))).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= maxBucket)
      .select(col("members")).as[Seq[(Long, Long)]]
      .flatMap { ms =>
        val s = ms.toArray
        java.util.Arrays.sort(s, Ordering[(Long, Long)])
        for {
          i <- s.indices.iterator.take(s.length - 1)
          j <- (i + 1 until s.length).iterator
          h = java.lang.Long.bitCount(s(i)._2 ^ s(j)._2)
          if h <= 3
        } yield (s(i)._1, s(j)._1, h)
      }
      .toDF("a", "b", "hamming")
      .distinct()
  }

  /** Incremental (append-mode) exact dedup — the at-scale pattern for a
    * growing crawl: a persistent LEDGER of content hashes already accepted
    * is joined against, so each new batch costs O(batch) + one hash
    * anti-join instead of re-deduplicating the whole corpus. Returns ONLY
    * the accepted (content_md5, doc_id) keys — hash not in ledger, minimum
    * doc_id wins within the batch — never the text, so the shuffle moves
    * 16-byte digests at any corpus size; union the accepted hashes back
    * into the ledger afterwards. Use [[incrementalExactDedupRows]] when the
    * caller needs the full accepted rows back.
    */
  def incrementalExactDedup(incoming: DataFrame, ledger: DataFrame): DataFrame = {
    val inBatchKeep = incoming
      .withColumn("content_md5", md5(col("text")))
      .groupBy(col("content_md5")).agg(min(col("doc_id")).as("doc_id"))
    inBatchKeep.join(
      ledger.select(col("content_md5")), Seq("content_md5"), "left_anti")
  }

  /** A Bloom filter over the ledger's digests, in one distributed pass
    * (tree-aggregated per-partition filters; nothing but the
    * ~`1.2 * expectedItems` bytes of bits reaches the driver). 1B digests
    * at fpp 0.01 is ~1.2 GB — broadcastable; at 10B move to fpp 0.03 or
    * shard the ledger.
    */
  def ledgerBloom(ledger: DataFrame, expectedItems: Long, fpp: Double = 0.01): BloomFilter =
    ledger.stat.bloomFilter("content_md5", math.max(expectedItems, 1L), fpp)

  /** Bloom-pruned incremental exact dedup — bit-identical result to
    * [[incrementalExactDedup]], built for the append loop at corpus scale,
    * where the ledger dwarfs every batch and the batch is mostly new.
    * The batch's within-batch winners split on membership in `lb`, a
    * [[ledgerBloom]] over the same ledger:
    *
    *   - mightContain = false → DEFINITELY absent from the ledger (Bloom
    *     filters have no false negatives) → accepted with NO join at all;
    *   - mightContain = true → true duplicate OR false positive (at
    *     the filter's fpp) → verified by the exact ledger anti-join.
    *
    * Only the ~(batch-dup-rate + fpp) candidate slice of the batch reaches
    * the shuffle, so the anti-join's batch side shrinks by ~100× for a
    * 1%-dup crawl batch at fpp 0.01 — and the ledger side can be skipped
    * entirely when `candidates` is empty. Exactness is unconditional:
    * the negative side is exact by Bloom construction, the positive side
    * is re-verified row by row.
    *
    * The membership test is a Scala UDF over an explicit broadcast (one
    * filter copy per executor, not per task). A UDF is acceptable here —
    * it runs on the batch winners' 32-char digests AFTER the map-side
    * combine, never on page payloads, and it exists to delete a shuffle
    * that costs orders of magnitude more than the non-codegen call.
    */
  def incrementalExactDedupBloom(incoming: DataFrame, ledger: DataFrame,
      lb: BloomFilter): DataFrame = {
    val spark = incoming.sparkSession
    val bc = spark.sparkContext.broadcast(lb)
    // null-safe: a null digest (null text) is "definitely new", matching
    // the exact path where a null key never matches the anti-join
    val might = udf((h: String) => h != null && bc.value.mightContainString(h))
    val inBatchKeep = incoming
      .withColumn("content_md5", md5(col("text")))
      .groupBy(col("content_md5")).agg(min(col("doc_id")).as("doc_id"))
    val definitelyNew = inBatchKeep.filter(!might(col("content_md5")))
    val candidates = inBatchKeep.filter(might(col("content_md5")))
    val verifiedNew = candidates.join(
      ledger.select(col("content_md5")), Seq("content_md5"), "left_anti")
    definitelyNew.unionByName(verifiedNew)
  }

  /** incrementalExactDedup returning the FULL accepted rows of `incoming`
    * (all original columns plus content_md5): the digest-only keep set is
    * computed first, then joined back on (content_md5, doc_id) — the
    * second shuffle is what the digest-only variant exists to avoid, so
    * prefer it when downstream only needs keys.
    */
  def incrementalExactDedupRows(incoming: DataFrame, ledger: DataFrame): DataFrame = {
    val withHash = incoming.withColumn("content_md5", md5(col("text")))
    val keep = incrementalExactDedup(incoming, ledger)
    withHash.join(keep, Seq("content_md5", "doc_id"))
  }

  /** Deterministic near-duplicate corpus: every doc with doc_id % 10 == 0
    * gets a twin (id + 1000000) whose text drops the last 2 tokens — used
    * by the dedup demo queries so candidate sets are non-empty.
    */
  def withPlantedNearDups(docs: DataFrame): DataFrame = {
    val twins = docs.filter(col("doc_id") % 10 === 0).select(
      (col("doc_id") + 1000000).as("doc_id"),
      array_join(slice(split(col("text"), " "), lit(1),
        greatest(size(split(col("text"), " ")) - 2, lit(1))), " ").as("text"))
    docs.select(col("doc_id"), col("text")).union(twins)
  }
}
