package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Md5

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

  /** keep docs with word-bigram repeat mass ≤ this (×1000 scale); the
    * q_curation_pipeline oracle mirrors it as `<= 100` */
  private val MaxDupBigramX1000 = 100L

  /** `[ \t-\r]+`, compiled once: a multi-char regex misses
    * `String.split`'s fast path, which would compile it again per doc. */
  private val TokenGap = java.util.regex.Pattern.compile("[ \\t-\\r]+")

  /** One document's quality signals (see [[signals]]). */
  private[ops] final case class Signals(nTokens: Long, nChars: Long, qualityOk: Boolean,
      dupBigramX1000: Long) {
    /** Passes the quality and repetition gates: an exact-dedup candidate. */
    def survives: Boolean = qualityOk && dupBigramX1000 <= MaxDupBigramX1000
  }

  /** [[Signals]] of `text`, whose [[TextKernel.lowerWords]] are `toks`. */
  private[ops] def docSignals(text: String, toks: Array[String]): Signals = {
    // SQL length() = codepoints; token split uses the explicit
    // [ \t-\r] class (== Java \s exactly) so the RE2 oracle can
    // mirror it byte-for-byte — RE2's \s excludes U+000B
    val nChars = text.codePointCount(0, text.length).toLong
    val nTokens = TokenGap.split(TextAnalysis.sqlTrim(text)).length.toLong
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
    val (n, distinct, _) = TextAnalysis.bigramStats(toks)
    Signals(nTokens, nChars, qualityOk, TextAnalysis.dupBigramX1000(n, distinct))
  }

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
        val s = docSignals(text, TextKernel.lowerWords(text))
        (id, Md5.hex(digest, text), s.nTokens, s.nChars, s.qualityOk, s.dupBigramX1000)
      }
    }.toDF("doc_id", "content_md5", "n_tokens", "n_chars", "quality_ok", "dup_bigram_x1000")
  }

  /** Curate (doc_id, text) rows: quality_ok && low-repetition && first
    * (minimum doc_id) occurrence of each exact content hash. Returns
    * (doc_id, n_tokens, n_chars, dup_bigram_x1000) for the kept set.
    */
  def curate(spark: SparkSession, docs: DataFrame): DataFrame = {
    val survivors = signals(spark, docs)
      .filter(col("quality_ok") && col("dup_bigram_x1000") <= MaxDupBigramX1000)
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

  // Row kinds of the keyed stream [[gates]] builds.
  /** one per doc: key = content MD5, pos = its [[TextKernel.lowerWords]] count */
  private final val Doc = 0.toByte
  /** a [[Doc]] row whose doc passed the quality and repetition gates */
  private final val Survivor = 1.toByte
  /** key = digest of the k-gram at token pos */
  private final val Window = 2.toByte
  /** a doc shorter than k: key = digest of its whole token run */
  private final val Run = 3.toByte
  /** key = digest of a benchmark gram; doc_id null */
  private final val Bench = 4.toByte

  /** One document's verdict from the three gates [[gates]] runs. */
  final case class Verdict(doc_id: Long, keeper: Boolean, span_ok: Boolean, contaminated: Boolean)

  /** The three gates of [[graft.CurateMain]] in one keyed pass over
    * `(doc_id, text)` rows, one [[Verdict]] per doc whose text is not
    * empty (an empty doc gets no verdict):
    *  - `keeper`: the doc survives the quality and repetition gates and is
    *    the minimum doc_id of its content MD5 among survivors, as in
    *    [[curate]];
    *  - `span_ok`: the share of its tokens covered by a k-gram that occurs
    *    at least twice in `docs` is at most `maxDupPermille`/1000, as
    *    [[DupSpans.dupCoverage]] counts them;
    *  - `contaminated`: it shares a gram with `benchmark`, as in
    *    [[Decontaminate.contaminationHits]] (never without a benchmark).
    *
    * One typed pass tokenizes each doc once and emits keyed rows: a
    * [[Doc]]/[[Survivor]] row, one [[Window]] digest per k-gram, or one
    * [[Run]] digest for a doc shorter than k. The benchmark's gram digests
    * join that stream, which is hash-partitioned on the key once: one
    * aggregation per key (window count, minimum survivor doc_id, benchmark
    * flag) and the flag-back join read the same partitions, so neither
    * shuffles again. Only the doc rows and the flagged grams then shuffle on
    * doc_id into the verdict fold. Each row reads only the figure of its
    * own kind, so a content MD5 that equals a gram digest changes nothing.
    * Document text never shuffles; a key held by very many windows lands
    * in one task, since nothing is aggregated before the exchange.
    */
  def gates(spark: SparkSession, docs: DataFrame, benchmark: Option[DataFrame], k: Int,
      maxDupPermille: Int): Dataset[Verdict] = {
    require(k >= 1, s"gram size must be positive, got $k")
    import spark.implicits._
    val docRows = TextKernel.docTexts(docs).mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.filter(!_._2.isEmpty).flatMap { case (id, text) =>
        val toks = TextKernel.lowerWords(text)
        val kind = if (docSignals(text, toks).survives) Survivor else Doc
        val doc = (id, kind, md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          toks.length)
        val bytes = DupSpans.tokenBytes(toks)
        val grams =
          if (toks.length < k) Iterator.single((id, Run, DupSpans.gramDigest(md, bytes, 0, toks.length), -1))
          else Iterator.range(0, toks.length - k + 1)
            .map(i => (id, Window, DupSpans.gramDigest(md, bytes, i, k), i))
        Iterator.single(doc) ++ grams
      }
    }.toDF("doc_id", "kind", "key", "pos")
    val benchRows = benchmark.map(_
      .select(explode(Decontaminate.grams(col("text"), k)).as("gram"))
      .select(lit(null).cast("long").as("doc_id"), lit(Bench).as("kind"),
        unhex(md5(col("gram"))).as("key"), lit(-1).as("pos")))
    // one exchange, read by the aggregation and the flag-back join; both
    // must see the same four columns for their exchanges to be one, so the
    // window count reads `pos` and the null-key filter sits below the pin
    val keyed = benchRows.fold(docRows)(docRows.union)
      .filter(col("key").isNotNull).repartition(col("key"))
    val perKey = keyed.groupBy(col("key")).agg(
        count(when(col("kind") === Window, col("pos"))).as("windows"),
        min(when(col("kind") === Survivor, col("doc_id"))).as("first"),
        max(col("kind") === Bench).as("bench"))
      .filter(col("windows") >= DupSpans.MinCount || col("first").isNotNull || col("bench"))
    def flag(c: Column): Column = coalesce(c, lit(false))
    // a hash join over the co-partitioned sides: the broadcast adaptive
    // execution would otherwise pick costs one more job and stage barrier
    keyed.join(perKey.hint("shuffle_hash"), Seq("key"), "left")
      .select(col("doc_id"), col("kind"), col("pos"),
        flag(col("kind") === Survivor && col("first") === col("doc_id")).as("keeper"),
        flag(col("kind") === Window && col("windows") >= DupSpans.MinCount).as("dup"),
        flag(col("kind").isin(Window, Run) && col("bench")).as("hit"))
      .filter(col("kind") <= Survivor || col("dup") || col("hit"))
      .groupBy(col("doc_id")).as[Long, (Long, Byte, Int, Boolean, Boolean, Boolean)]
      .mapGroups { (id, rows) =>
        var nTokens = 0L
        var keeper = false
        var hit = false
        val dups = Array.newBuilder[Int]
        rows.foreach { case (_, kind, pos, kp, dup, h) =>
          if (kind <= Survivor) { nTokens = pos; keeper = kp }
          if (dup) dups += pos
          hit ||= h
        }
        Verdict(id, keeper, coveredTokens(dups.result(), k) * 1000 <= nTokens * maxDupPermille, hit)
      }
  }

  /** Tokens covered by the k-gram windows starting at `starts`: the size of
    * the union of [s, s+k), which is the sum of [[DupSpans.dupSpans]]'
    * merged span lengths. */
  private def coveredTokens(starts: Array[Int], k: Int): Long = {
    java.util.Arrays.sort(starts)
    var covered = 0L
    var end = Int.MinValue
    for (s <- starts) {
      covered += s + k - math.max(s, end)
      end = s + k
    }
    covered
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
