package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The text kernel every per-document ops pass shares: one word tokenizer
  * (Scala and Column forms), the FNV-1a fold behind the MinHash family,
  * the DuckDB-recomputable polynomial fold behind the fingerprint/SimHash
  * family, and the one typed `(doc_id, text)` reader. Every blocking key,
  * signature and fingerprint sees identical tokens because there is only
  * this one tokenizer.
  *
  * Tokenization is ROOT-lowercase, Java `\s+` split, empty tokens dropped.
  * A leading or trailing SQL-trim is a no-op under that rule (spaces match
  * `\s`, `split` drops trailing empties and the filter drops the leading
  * one), so the Scala form skips it; the Column form keeps `trim` only
  * because it is the planned expression the oracles mirror.
  *
  * NOTE this family deliberately keeps Java `\s` (mirrored as RE2 `\s` in
  * its oracles): the two differ only on U+000B, which the oracle corpus
  * cannot contain (the generator emits words + single spaces), and
  * re-basing the dedup tokenization would reshard every persisted
  * signature. The token-count/quality/curation family, whose outputs are
  * per-doc COUNTS a user reads directly, uses the explicit `[ \t-\r]`
  * class on both sides instead and keeps empty tokens
  * ([[TextAnalysis.tokenCount]], [[Curation.signals]]).
  */
object TextKernel {

  // ---- tokenizer

  /** Whitespace words of `s`, empties dropped, case kept. */
  def words(s: String): Array[String] = s.split("\\s+").filter(_.nonEmpty)

  /** ROOT-lowercased [[words]] of the space-trimmed text — the
    * dedup/fingerprint/vocab token array. Trimmed first, as in
    * [[lowerSplitCol]]: the JDK's final-sigma rule can read an edge space
    * as context (" 𝔸Σ" lowercases to " 𝔸σ", "𝔸Σ" to "𝔸ς").
    */
  def lowerWords(s: String): Array[String] =
    words(TextAnalysis.sqlTrim(s).toLowerCase(java.util.Locale.ROOT))

  /** The raw lowercase split, empties kept — for plans that drop empty
    * tokens after an explode, or match tokens against a set without "".
    */
  def lowerSplitCol(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** Column twin of [[lowerWords]]. */
  def lowerWordsCol(text: Column): Column = filter(lowerSplitCol(text), t => t =!= "")

  /** Word n-grams of a token array as strings "w1 w2 w3"; fewer than n
    * tokens fall back to the whole token run as one gram (the Column twin
    * of [[Dedup.shinglesOfTokens]] before its distinct).
    */
  def tokenNGrams(tokens: Column, n: Int): Column = {
    val idx = sequence(lit(0), greatest(size(tokens) - n, lit(0)))
    when(size(tokens) < n, array(array_join(tokens, " ")))
      .otherwise(transform(idx, i => array_join(slice(tokens, i + 1, lit(n)), " ")))
  }

  // ---- FNV-1a (MinHash / shingle hashes; JVM-only)

  final val FnvOffset = 0xcbf29ce484222325L
  final val FnvPrime = 0x100000001b3L

  /** `h` folded over the chars of `s`. */
  @inline private def fnvFold(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i).toLong) * FnvPrime
      i += 1
    }
    h
  }

  /** Final avalanche applied to every FNV state. */
  @inline def avalanche(h0: Long): Long = {
    var h = h0
    h ^= (h >>> 32); h *= 0xd6e8feb86659fd93L; h ^= (h >>> 32)
    h
  }

  /** Deterministic 64-bit string hash (FNV-1a then avalanche). */
  def hash64(s: String, seed: Long): Long = avalanche(fnvFold(FnvOffset ^ seed, s))

  /** Streamed [[hash64]] over the gram `tokens(from until from+len)` joined
    * by a single space — the same char sequence as hashing the
    * materialized `mkString(" ")` gram, with zero gram-string allocation.
    */
  def gramHash64(tokens: Array[String], from: Int, len: Int, seed: Long): Long = {
    var h = FnvOffset ^ seed
    var t = from
    while (t < from + len) {
      if (t > from) h = (h ^ ' '.toLong) * FnvPrime
      h = fnvFold(h, tokens(t))
      t += 1
    }
    avalanche(h)
  }

  // ---- polynomial codepoint hash (cross-engine recomputable)

  final val PolyMod = 2147483647L

  /** `acc` folded over the codepoints of `s`: acc = (acc*mult + cp) mod. */
  @inline private def polyFold(acc0: Long, s: String, mod: Long, mult: Long): Long = {
    var acc = acc0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * mult + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** Seeded/modulus/multiplier-parameterized polynomial codepoint hash —
    * two independent instances combine into the 62-bit SimHash token hash
    * ([[polyHash64]]) while staying DuckDB-recomputable. Keep
    * `mult * (mod-1)` below 2^63 (both engines hash in signed 64-bit).
    */
  def polyHashSeeded(s: String, seed: Long, mod: Long, mult: Long = 31L): Long =
    polyFold(seed, s, mod, mult)

  /** Polynomial rolling hash over codepoints: acc = (acc*31 + cp) mod
    * 2^31-1, seed 7 — chosen because an independent engine can recompute
    * it exactly (DuckDB: list_reduce over unicode codepoints), giving the
    * fingerprint family a cross-engine oracle that xxhash64 cannot have.
    */
  def polyHash(s: String): Long = polyFold(7L, s, PolyMod, 31L)

  /** Streamed [[polyHash]] over the gram `tokens(from until from+len)`
    * joined by a single space — value-identical to hashing the joined
    * string, with no gram string allocated.
    */
  def polyGramHash(tokens: Array[String], from: Int, len: Int): Long = {
    var acc = 7L
    var t = from
    while (t < from + len) {
      if (t > from) acc = (acc * 31 + ' '.toInt) % PolyMod
      acc = polyFold(acc, tokens(t), PolyMod, 31L)
      t += 1
    }
    acc
  }

  /** 62-bit SimHash token hash from two independent polynomial codepoint
    * hashes: h = scramble(p1) | (scramble(p2) << 31). Chosen over xxhash64
    * so an independent engine recomputes the whole signature exactly
    * (DuckDB: list_reduce over unicode codepoints) — giving SimHash a
    * cross-engine oracle; 62 bits also keeps every shift below the BIGINT
    * sign bit on both engines.
    *
    * Diffusion matters here (measured at sf0.01): the naive `acc*31+cp`
    * poly hash leaves the last characters in the low bits only — token
    * pairs like singular/plural get near-identical hashes, signature bits
    * correlate across documents, and hamming<=3 pair count exploded 1.5k →
    * 16k. Large LCG multipliers (1103515245 / 1566083941, products stay
    * under 2^63) plus a final quadratic scramble (p*p%m+p)%m restore
    * mixing: 1.2k pairs, on par with xxhash64's 1.9k.
    */
  def polyHash64(s: String): Long = {
    def scramble(p: Long, mod: Long): Long = (p * p % mod + p) % mod
    scramble(polyHashSeeded(s, 7L, PolyMod, 1103515245L), PolyMod) |
      (scramble(polyHashSeeded(s, 13L, 2147483629L, 1566083941L), 2147483629L) << 31)
  }

  // ---- typed reader

  /** Typed `(doc_id, text)` over the [[Spread.spread]]-guarded projection —
    * the one reader every per-doc typed pass uses. Two passes over the same
    * docs therefore read the SAME spread subtree, so when it fires
    * exchange reuse evaluates the input once.
    */
  def docTexts(docs: DataFrame): Dataset[(Long, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Spread.spread(docs.select(col("doc_id"), col("text"))).as[(Long, String)]
  }
}
