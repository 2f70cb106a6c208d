package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("minhash LSH finds every planted near-duplicate pair") {
    val planted = Dedup.withPlantedNearDups(docs)
    val pairs = Dedup.minhashLshPairs(spark, planted).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000)).toSet
    val found = expected.filter(pairs.contains)
    // twins differ by 2 trailing tokens -> jaccard well above 0.5; LSH with
    // 8 bands of 4 should catch essentially all
    assert(found.size >= (expected.size * 9) / 10,
      s"found ${found.size}/${expected.size} planted pairs")
    // verification step keeps only true near-dups
    val falsePairs = pairs -- expected
    falsePairs.foreach { case (a, b) =>
      assert(a < b, "pairs ordered")
    }
  }

  test("simhash finds planted near-duplicates within hamming 3") {
    val planted = Dedup.withPlantedNearDups(docs)
    val pairs = Dedup.simhashPairs(spark, planted).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = docs.filter(col("doc_id") % 10 === 0)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000)).toSet
    val found = expected.filter(pairs.contains)
    // simhash at hamming<=3 is a coarse detector: twins dropping 2 of ~40
    // distinct tokens flip >3 bits for short docs, so partial recall is the
    // expected behavior (minhash is the high-recall path)
    assert(found.size * 5 >= expected.size * 2, s"simhash found ${found.size}/${expected.size}")
  }

  test("exact dedup groups identical texts") {
    val doubled = docs.select(col("doc_id"), col("text"))
      .union(docs.select((col("doc_id") + 5000).as("doc_id"), col("text")))
    val out = Dedup.exactDedup(doubled, col("text"), col("doc_id")).collect()
    assert(out.forall(_.getLong(2) == 2L)) // every text now has exactly 2 copies
    assert(out.forall(_.getLong(1) < 5000L)) // representative is the original
  }

  test("IVF ANN achieves high recall against brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfTopK(spark, queries, emb, 10, numCentroids = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low") // 4/8 cells probed
    assert(approx.size <= exact.size)
  }

  test("IVF centroid count is fixed, independent of corpus size") {
    // the scale invariant: |centroids| == min(numCentroids, |corpus|) at
    // BOTH corpus sizes — driver/broadcast state never grows with the data
    // (round-2's stride filter collected |corpus|/stride rows)
    val small = emb.filter(col("vec_id") < 100)
    assert(Similarity.ivfCentroids(small, 16).length == 16)
    assert(Similarity.ivfCentroids(emb, 16).length == 16)
    // deterministic pick: same prefix property — the chosen set is a pure
    // function of (vec_id hash order), so re-running yields identical ids
    val a = Similarity.ivfCentroids(emb, 16).map(_._1).toVector
    val b = Similarity.ivfCentroids(emb, 16).map(_._1).toVector
    assert(a == b)
    // tiny corpus: bounded by corpus size
    assert(Similarity.ivfCentroids(emb.filter(col("vec_id") < 5), 16).length == 5)
  }

  test("cosine near-dup finds planted scaled twins (scale-invariance of cosine)") {
    val planted = emb.select(col("vec_id"), col("embedding")).union(
      emb.filter(col("vec_id") % 25 === 0).select(
        (col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding")))
    val pairs = Similarity.cosineNearDupPairs(planted, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = emb.filter(col("vec_id") % 25 === 0)
      .select("vec_id").collect().map(_.getLong(0))
      .map(id => (id, id + 100000)).toSet
    // identical-direction vectors share every hyperplane sign -> same bucket
    assert(expected.forall(pairs.contains), s"missing ${expected -- pairs}")
  }

  test("hyperplane signatures: cached constant matrix, typed pass matches a driver recompute") {
    // the plane matrix is a CONSTANT of dim: one JVM-cached
    // instance (round 3 re-derived every component per row per element
    // inside HOF lambdas — the measured BENCH.md trap, worst benched query)
    val m1 = Similarity.planeMatrix(16)
    assert(m1 eq Similarity.planeMatrix(16)) // same cached instance
    assert(m1.length == Similarity.Planes && m1.head.length == 16)
    assert(m1.flatten.forall(v => v >= -1.0 && v <= 1.0))
    assert(m1(0)(0) != m1(1)(0) || m1(0)(1) != m1(1)(1)) // planes differ

    val sigs = Similarity.hyperplaneSigRows(emb.filter(col("vec_id") < 20))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = emb.filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val id = r.getLong(0)
        val e = r.getSeq[Float](1).toArray
        val m = Similarity.planeMatrix(e.length)
        var sig = 0L
        for (p <- 0 until Similarity.Planes) {
          val acc = e.indices.map(j => e(j) * m(p)(j)).sum
          if (acc > 0) sig |= (1L << p)
        }
        id -> sig
      }.toMap
    assert(sigs == want)
  }

  test("shingle kernel trims SQL-style: control whitespace survives tokenization") {
    // Java String.trim strips ALL chars <= U+0020; SQL/DuckDB trim strips
    // spaces only, and regex \s does not match U+0001 — so a leading \u0001
    // must stay attached to the first token (cross-engine oracle parity)
    val grams = Dedup.shinglesOf("\u0001aa bb cc dd", 3).toSet
    assert(grams == Set("\u0001aa bb cc", "bb cc dd"))
    // leading regex-whitespace (\n) is dropped by the split's empty filter
    // on both engines
    assert(Dedup.shinglesOf("\naa bb cc", 3).toSet == Set("aa bb cc"))
    // pure-space padding behaves as before
    assert(Dedup.shinglesOf("  aa bb cc  ", 3).toSet == Set("aa bb cc"))
  }

  test("BPE-ish token counting: hand-pinned pattern classes") {
    import spark.implicits._
    def counts(t: String): (Int, Int) = {
      val r = Seq(t).toDF("text").select(
        TextAnalysis.tokenCount(col("text")), TextAnalysis.bpeTokenCount(col("text")))
        .collect()(0)
      (r.getInt(0), r.getInt(1))
    }
    // it|'s| a|2|b| 3|.|14|,| ok|! — contraction, letter runs, digit runs,
    // punct runs, space-prefix absorption: 11 BPE pre-tokens vs 4 ws words
    assert(counts("it's a2b 3.14, ok!") == ((4, 11)))
    // residual whitespace runs collapse to ONE token (the documented
    // lookahead-free approximation): a|(2 spaces)|b
    assert(counts("a  b") == ((2, 3)))
    // BPE splits what whitespace counting can't see: markup-ish text is
    // ONE whitespace word but 7 pre-tokens: <|td|>|42|</|td|>
    assert(counts("<td>42</td>") == ((1, 7)))
    // U+000B vertical tab is WHITESPACE under the explicit [ \t-\r] class
    // in BOTH counters (ws: a|. = 2 words; bpe: a|VT|. = 3 pre-tokens) —
    // RE2's \s excludes VT, which is why the mirrored oracles use the
    // explicit class rather than \s (the cross-engine trap it avoids)
    assert(counts("a\u000B.") == ((2, 3)))
  }

  test("PII redaction: placeholders, ordering, and non-PII text untouched") {
    import spark.implicits._
    val rows = Seq(
      "mail me at a.b+c%d@sub.domain.org today",
      "server 192.168.0.1 and phone 555-123-4567",
      "digits 12345 and version 1.2 stay",       // not phone/IP shaped
      "ip-ish 999.999.999.999 still redacts",     // regex is shape-, not range-checked
      "call (555) 123-4567 now",                  // parenthesized area code
      "intl +1 415.555.0100 ok",                  // +1 prefix, dotted
      "spaced 1 415 555 0100 ok",                 // bare-1 prefix, spaced
      "local 555-0100 ok",                        // 7-digit local form
      "date 2024-01-15 stays",                    // not a phone
      "nothing to scrub here").toDF("text")
    val got = rows.select(graft.ops.TextAnalysis.redactPii(col("text")).as("r"))
      .as[String].collect().toSeq
    assert(got == Seq(
      "mail me at <EMAIL> today",
      "server <IP> and phone <PHONE>",
      "digits 12345 and version 1.2 stay",
      "ip-ish <IP> still redacts",
      "call <PHONE> now",
      "intl <PHONE> ok",
      "spaced <PHONE> ok",
      "local <PHONE> ok",
      "date 2024-01-15 stays",
      "nothing to scrub here"))
  }

  test("chunking: tail kept, contained window suppressed, overlap shared") {
    import spark.implicits._
    def chunks(text: String, size: Int, overlap: Int) =
      graft.ops.TextAnalysis.chunkTokens(
        spark, Seq((1L, text)).toDF("doc_id", "text"), size, overlap)
        .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).sortBy(_._1).toSeq
    val ten = (1 to 10).map("w" + _).mkString(" ")
    // size 8 overlap 4 over 10 tokens: [0,8) then [4,10); window [8,10)
    // would be contained in [4,10) and must not appear
    assert(chunks(ten, 8, 4) == Seq(
      (0, 8, (1 to 8).map("w" + _).mkString(" ")),
      (1, 6, (5 to 10).map("w" + _).mkString(" "))))
    // shorter than one window: single chunk
    assert(chunks("a b c", 8, 4) == Seq((0, 3, "a b c")))
    // exact window size: single chunk (next window would start past n - overlap)
    assert(chunks((1 to 8).map("w" + _).mkString(" "), 8, 4)
      == Seq((0, 8, (1 to 8).map("w" + _).mkString(" "))))
    // zero overlap: disjoint windows
    assert(chunks(ten, 5, 0).map(_._1) == Seq(0, 1))
  }

  test("stratified sampling is deterministic, partitioning-invariant, rate-faithful") {
    import spark.implicits._
    val rows = (0L until 4000L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val rates = Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.0)
    def run(parts: Int) = Sampling.stratifiedSample(
      rows.repartition(parts), col("source"), col("doc_id"), rates, defaultRate = 0.1)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val got = run(7)
    assert(got == run(1)) // same kept set under any partitioning (df.sample is not)
    val bySrc = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(bySrc.getOrElse("src0", 0) == 1000) // rate 1.0 keeps everything
    assert(!bySrc.contains("src2")) // rate 0.0 keeps nothing
    val s1 = bySrc.getOrElse("src1", 0) // ~500 of 1000 at rate 0.5
    assert(s1 > 400 && s1 < 600, s"src1 kept $s1")
    val s3 = bySrc.getOrElse("src3", 0) // default 0.1 -> ~100 of 1000
    assert(s3 > 50 && s3 < 150, s"src3 kept $s3")
  }

  test("incremental dedup: min id wins within a batch, ledgered hashes are rejected") {
    import spark.implicits._
    val ledger = Seq("known text").toDF("text").select(md5(col("text")).as("content_md5"))
    val batch = Seq(
      (10L, "known text"), (7L, "fresh text"), (3L, "fresh text"), (9L, "other fresh"))
      .toDF("doc_id", "text")
    val accepted = Dedup.incrementalExactDedup(batch, ledger)
    // within-batch min-id wins; ledgered hash rejected
    assert(accepted.collect().map(_.getLong(1)).toSet == Set(3L, 9L))
    // the ledger grown by the accepted hashes: the SAME batch replayed
    // accepts zero rows, and a later batch dedups against everything so far
    val grown = ledger.union(accepted.select(col("content_md5")))
    assert(Dedup.incrementalExactDedup(batch, grown).count() == 0)
    val next = Seq((20L, "fresh text"), (21L, "brand new")).toDF("doc_id", "text")
    assert(Dedup.incrementalExactDedup(next, grown)
      .collect().map(_.getLong(1)).toSet == Set(21L))
  }

  test("bloom-pruned incremental dedup: result identical to the exact path, append loop idempotent") {
    import spark.implicits._
    // 200-doc ledger, batch = 120 new + 40 ledger replays + in-batch twins:
    // big enough that the fpp=0.2 filter routes rows down BOTH sides
    // (definitely-new skips the join; might-contain is verified)
    val texts = (0 until 200).map(i => s"ledger doc $i content")
    val ledger = texts.toDF("text").select(md5(col("text")).as("content_md5"))
    val batch = (
      (0 until 120).map(i => (1000L + i, s"new doc $i body")) ++ // fresh
        (0 until 40).map(i => (2000L + i, s"ledger doc ${i * 5} content")) ++ // replays
        (0 until 120).map(i => (3000L + i, s"new doc $i body")) // in-batch twins
      ).toDF("doc_id", "text")
    val lb = Dedup.ledgerBloom(ledger, expectedItems = 200, fpp = 0.2)
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val viaBloom = keys(Dedup.incrementalExactDedupBloom(batch, ledger, lb))
    val viaExact = keys(Dedup.incrementalExactDedup(batch, ledger))
    assert(viaBloom == viaExact, "bloom prune must not change the accepted set")
    assert(viaBloom.size == 120 && viaBloom.forall(_._2 < 2000L), "min-id twins win, replays rejected")

    // append loop: grow the ledger, rebuild its filter, replay the same
    // batch -> zero
    val accepted = Dedup.incrementalExactDedupBloom(batch, ledger, lb)
    val ledger2 = ledger.union(accepted.select(col("content_md5")))
    val lb2 = Dedup.ledgerBloom(ledger2, expectedItems = 320, fpp = 0.2)
    assert(Dedup.incrementalExactDedupBloom(batch, ledger2, lb2).count() == 0)
    // a later batch dedups against everything accepted so far
    val next = Seq((5000L, "new doc 7 body"), (5001L, "genuinely unseen")).toDF("doc_id", "text")
    assert(keys(Dedup.incrementalExactDedupBloom(next, ledger2, lb2)).map(_._2) == Set(5001L))
  }

  test("bloom-pruned incremental dedup accepts a null-text row exactly like the exact path") {
    import spark.implicits._
    val ledger = Seq("known text").toDF("text").select(md5(col("text")).as("content_md5"))
    val batch = Seq((1L, "known text"), (2L, null: String), (3L, "fresh")).toDF("doc_id", "text")
    val lb = Dedup.ledgerBloom(ledger, expectedItems = 10, fpp = 0.1)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(1)).toSet
    // null md5 never matches the ledger anti-join on the exact path; the
    // bloom membership UDF must route it the same way, not NPE the task
    assert(ids(Dedup.incrementalExactDedupBloom(batch, ledger, lb)) ==
      ids(Dedup.incrementalExactDedup(batch, ledger)))
  }

  test("bloom ledger: no false negatives") {
    import spark.implicits._
    val ledger = (0 until 500).map(i => s"doc $i").toDF("text")
      .select(md5(col("text")).as("content_md5"))
    val lb = Dedup.ledgerBloom(ledger, expectedItems = 500, fpp = 0.03)
    // Bloom contract the prune's correctness rests on: every ledger digest
    // answers mightContain=true — a false negative would skip verification
    // and admit a duplicate
    val misses = ledger.collect().map(_.getString(0)).count(h => !lb.mightContainString(h))
    assert(misses == 0, s"$misses ledger digests answered mightContain=false")
  }

  test("decontamination: docs sharing an 8-gram with the benchmark flag") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // bench source
      (2L, "totally different words that never overlap with anything here at all"),
      (3L, "prefix alpha beta gamma delta epsilon zeta eta theta suffix"), // embeds the bench 8-gram
      (4L, "short text")).toDF("doc_id", "text")
    val benchmark = Seq("alpha beta gamma delta epsilon zeta eta theta").toDF("text")
    val hits = Decontaminate.contaminationHits(spark, docs, benchmark, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // docs 1 and 3 each share exactly the one benchmark 8-gram; 2 and 4 are clean
    assert(hits == Map(1L -> 1L, 3L -> 1L))
  }

  test("decontamination short-text fallback and normalization: whole-text gram, case/whitespace folded") {
    import spark.implicits._
    val docs = Seq((1L, "tiny snippet"), (2L, "tiny snippet extra")).toDF("doc_id", "text")
    val benchmark = Seq("  Tiny   SNIPPET ").toDF("text") // normalizes to "tiny snippet"
    val hits = Decontaminate.contaminationHits(spark, docs, benchmark, 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // both sides are < 8 tokens -> whole-text grams; only doc 1 matches exactly
    assert(hits == Map(1L -> 1L))
  }

  test("dup spans: overlapping duplicated k-windows merge; k-apart windows stay separate spans") {
    import spark.implicits._
    // k=3; docs 1 and 2 share "a b c d" -> grams (a b c),(b c d) at doc-1
    // positions 2,3 overlap -> one span [2,5]; doc 3 repeats "x y z" twice
    // within itself at positions 0 and 4 (gap 4 >= k) -> two 1-window spans
    val docs = Seq(
      (1L, "p q a b c d r s"),
      (2L, "a b c d"),
      (3L, "x y z w x y z")).toDF("doc_id", "text")
    val spans = DupSpans.dupSpans(spark, docs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans == Set((1L, 2L, 5L), (2L, 0L, 3L), (3L, 0L, 2L), (3L, 4L, 6L)))
  }

  test("dup spans: docs shorter than k emit nothing; coverage reports zero for clean docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b"), // shorter than k: can never span
      (2L, "one two three four five"),
      (3L, "one two three four six")).toDF("doc_id", "text")
    val cov = DupSpans.dupCoverage(spark, docs, k = 3)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    // docs 2,3 share grams (one two three),(two three four) -> span [0,3]
    assert(cov == Map(1L -> ((2L, 0L)), 2L -> ((5L, 4L)), 3L -> ((5L, 4L))))
  }

  test("line dedup: repeated lines strip everywhere (normalized match), unique lines survive in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "unique alpha line\nSubscribe NOW\ntail one"),
      (2L, "subscribe   now\nunique beta line"), // normalizes to the same banner? (extra spaces differ)
      (3L, "  subscribe now \nunique gamma line"), // trim+lower == doc 4's banner
      (4L, "Subscribe Now\nunique delta line")).toDF("doc_id", "text")
    val out = LineDedup.stripRepeatedLines(docs, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    // "subscribe now" (trim+lower) appears in docs 1,3,4 -> stripped there;
    // doc 2's "subscribe   now" has inner double spaces: a DIFFERENT
    // normalized line (df=1) -> kept
    assert(out == Map(
      1L -> "unique alpha line\ntail one",
      2L -> "subscribe   now\nunique beta line",
      3L -> "unique gamma line",
      4L -> "unique delta line"))
  }

  test("line dedup: a doc made entirely of boilerplate comes back with empty text, row retained") {
    import spark.implicits._
    val docs = Seq(
      (1L, "footer line"),
      (2L, "footer line"),
      (3L, "real content here")).toDF("doc_id", "text")
    val out = LineDedup.stripRepeatedLines(docs, minDf = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out == Map(1L -> "", 2L -> "", 3L -> "real content here"))
  }

  test("incremental dedup rows variant returns the full accepted rows") {
    import spark.implicits._
    val ledger = Seq("known text").toDF("text").select(md5(col("text")).as("content_md5"))
    val incoming = Seq(
      (10L, "known text"), (7L, "fresh text"), (3L, "fresh text"), (9L, "other fresh"))
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExactDedupRows(incoming, ledger)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(kept.toSeq == Seq((3L, "fresh text"), (9L, "other fresh")))
  }

  test("cosine near-dup caps degenerate buckets (planted identical-direction cluster)") {
    import spark.implicits._
    // 40 copies of ONE direction all land in the same hyperplane bucket;
    // with maxBucket=8 the degenerate bucket must be dropped, not enumerated
    val dim = 16
    val base = Array.tabulate(dim)(i => 0.1f * (i + 1))
    val cluster = (0 until 40).map(i => (i.toLong, base)).toDF("vec_id", "embedding")
    val capped = Similarity.cosineNearDupPairs(cluster, 0.9, maxBucket = 8).count()
    assert(capped == 0L, s"degenerate bucket should be dropped, got $capped pairs")
    val uncapped = Similarity.cosineNearDupPairs(cluster, 0.9, maxBucket = 64).count()
    assert(uncapped == 40L * 39 / 2)
  }

  test("topK aggregator matches a window rank (score desc, id asc ties)") {
    import spark.implicits._
    // scores with deliberate ties to exercise the neighbor_id tiebreak
    val scored = (0L until 2L).flatMap(q => (0L until 50L).map(n =>
      (q, n, (n % 7).toDouble))).toDS()
    val got = Similarity.topK(scored, 5).collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).sorted
    val want = (0L until 2L).flatMap { q =>
      (0L until 50L).map(n => (n, (n % 7).toDouble))
        .sortBy { case (n, s) => (-s, n) }.take(5).zipWithIndex
        .map { case ((n, _), i) => (q, i + 1, n) }
    }.sorted
    assert(got.toSeq == want)
  }

  test("rolling fingerprint: poly seed-13 values pinned against a hand computation") {
    import spark.implicits._
    // "  Ab c d e  " -> sql-trim + lower -> "ab c d e"; distinct 3-grams
    // {"ab c d", "c d e"}. Pins: acc = (acc*31 + cp) mod 2^31-1, seed 13
    // (independently computed — NOT via polyHashSeeded, so a seed/multiplier
    // regression cannot self-confirm).
    val df = Seq((1L, "  Ab c d e  "), (2L, "xy")).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprintColumns(spark, df)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((1611439592L, 464658047L, 2L)))
    // < 3 tokens: the single fallback gram is the whole token string, so
    // full_hash == min_gram_hash and exactly one distinct gram
    assert(out(2L)._1 == out(2L)._2 && out(2L)._3 == 1L)
    // seed 13 is an INDEPENDENT instance: differs from the seed-7 poly twin
    assert(out(1L)._1 != TextKernel.polyHash("ab c d e"))
  }

  test("winnowing fingerprint: shared w+k-1 token run guarantees an overlap") {
    import spark.implicits._
    // the winnowing guarantee: any run of w+k-1 = 6 shared tokens spans a
    // full window of shared gram hashes, so its minimum is selected by both
    val shared = "lantern fox glass frog ember owl"
    val a = s"alpha beta gamma $shared delta epsilon"
    val b = s"zeta eta theta iota $shared kappa"
    val c = "completely different vocabulary with no overlap at all here"
    assert((OpsReferences.winnowSet(a) & OpsReferences.winnowSet(b)).nonEmpty)
    assert((OpsReferences.winnowSet(a) & OpsReferences.winnowSet(c)).isEmpty)

    // short docs (|grams| <= w) collapse to exactly one window minimum
    assert(OpsReferences.winnowSet("tiny doc").size == 1)
    assert(OpsReferences.winnowSet("one two three four five").size == 1) // 3 grams, w=4

    // the DataFrame summary matches the set
    val df = TextAnalysis.winnowFingerprintRows(spark, Seq((1L, a)).toDF("doc_id", "text"))
      .collect().head
    val set = OpsReferences.winnowSet(a)
    assert(df.getInt(1) == set.size)
    assert(df.getLong(2) == set.head)
    assert(df.getLong(3) == set.sum)
  }

  test("language ID is deterministic and covers the stopword languages") {
    val out = docs.select(col("doc_id"),
      TextAnalysis.langIdColumns(col("text")).as("predicted")).collect()
    assert(out.length == 500)
    val langs = out.map(_.getString(1)).toSet
    assert(langs.subsetOf(Set("en", "es", "fr", "de", "zh", "und")))
    // synthetic corpus text is English-ish vocabulary with 'the'
    assert(out.count(_.getString(1) == "en") > 250)
  }

  test("multimodal decode plumbing: batched, deterministic, full coverage") {
    val meta = Multimodal.mediaMetaQuery(spark, sfDir).collect()
    assert(meta.length == 500)
    val byId = meta.map(r => r.getLong(0) -> r).toMap
    val sample = docs.select("doc_id", "text").collect().take(20)
    sample.foreach { r =>
      val n = r.getString(1).getBytes("UTF-8").length
      val m = byId(r.getLong(0))
      assert(m.getLong(1) == n.toLong)
      assert(m.getInt(3) == n % 1024)
    }
  }
}
