package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SharedSpark

class DupClustersSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private def cc(edges: Seq[(Long, Long)], vertices: Option[Seq[Long]] = None): Map[Long, Long] = {
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    val v = vertices.map(_.toDF("id"))
    DupClusters.connectedComponents(spark, e, v)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain collapses to the minimum id") {
    val got = cc((0L until 9L).map(i => (i, i + 1)))
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("two components, an isolated vertex, self-loops and duplicate edges") {
    val edges = Seq((5L, 3L), (3L, 5L), (3L, 3L), (5L, 9L), (20L, 21L), (21L, 20L))
    val got = cc(edges, vertices = Some(Seq(3L, 5L, 9L, 20L, 21L, 99L)))
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L, 99L -> 99L))
  }

  test("star around a high id still labels by the component minimum") {
    val got = cc(Seq((100L, 1L), (100L, 2L), (100L, 3L), (100L, 4L)))
    assert(got.values.toSet == Set(1L))
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 100L))
  }

  test("pointer doubling converges on a 100-long chain well inside maxIter") {
    import spark.implicits._
    // a plain propagate-only scheme needs ~100 rounds here; the compressed
    // scheme must finish inside DupClusters.MaxIter = 30 (O(log d))
    val e = (0L until 100L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = DupClusters.connectedComponents(spark, e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 100L).map(_ -> 0L).toMap)
  }

  test("reliable checkpoint path: same labels and iteration count as localCheckpoint") {
    import spark.implicits._
    // the chain+skip graph forces multi-round convergence; with a context
    // checkpoint dir set, truncation switches from localCheckpoint to the
    // executor-loss-safe reliable checkpoint — results and round count must
    // be identical (the switch changes durability, not the algorithm)
    val e = ((0L until 40L).filterNot(_ % 13 == 12).map(i => (i, i + 1)) ++ Seq((0L, 26L)))
      .toDF("src", "dst")
    val local = DupClusters.connectedComponentsResult(spark, e)
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    try {
      sc.setCheckpointDir(dir)
      val reliable = DupClusters.connectedComponentsResult(spark, e)
      assert(reliable.iterations == local.iterations)
      assert(reliable.labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        local.labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
      // the reliable path actually wrote checkpoint data
      assert(new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      // restore the shared context: checkpointDir is a private[spark] var,
      // reset through its generated setter so other suites keep the fast
      // localCheckpoint path
      val m = sc.getClass.getMethods.find(_.getName == "checkpointDir_$eq").get
      m.invoke(sc, None)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("clusters from planted LSH pairs put each twin with its original") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val planted = Dedup.withPlantedNearDups(docs)
    val pairs = Dedup.minhashLshPairs(spark, planted)
    val clusters = DupClusters.clustersFromPairs(
      spark, pairs, vertices = Some(planted.select(col("doc_id"))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every planted twin that LSH paired must share its original's cluster,
    // and the cluster id is the original (minimum) id
    val paired = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(paired.nonEmpty)
    paired.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
      assert(clusters(a) <= math.min(a, b))
    }
    // vertices with no pair stay singleton clusters of themselves
    val inPairs = paired.flatMap(p => Seq(p._1, p._2)).toSet
    clusters.foreach { case (id, cl) => if (!inPairs.contains(id)) assert(cl == id) }
  }

  test("registered q_dup_clusters matches a driver-side union-find") {
    val out = graft.SparkEntry.queries("q_dup_clusters")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: sequential union-find over the same edge rule
    val ids = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val present = ids.toSet
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.foreach { i =>
      if (i % 13 != 12 && present.contains(i + 1)) union(i, i + 1)
      if (i % 100 == 0 && present.contains(i + 26)) union(i, i + 26)
    }
    val want = ids.map(i => i -> find(i)).toMap
    assert(out == want)
    // sanity: the skip links actually merged chains (non-trivial diameters)
    assert(want(38L) == 0L && want(12L) == 0L)
  }

  test("curation pipeline: quality, repetition and dedup gates each bite") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),   // kept
      (2L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1 -> dropped (keeper = min id)
      (3L, "run run run run run run run run run run run run"),    // dup_bigram_x1000 = 909 -> dropped (passes quality)
      (4L, "!!! ??? ... ,,, ;;; ::: !!! ??? ... ,,,"),             // punct mass -> quality_ok false -> dropped
      (5L, "ab"),                                                  // < 5 tokens -> dropped
      (6L, "many different words make a normal looking sentence here"))
      .toDF("doc_id", "text")
    val kept = Curation.curate(spark, docs).collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 6L))
  }

  test("planted exact twins double every 17th doc and dedup keeps the original") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val planted = Curation.withPlantedExactDups(docs)
    val nTwins = docs.filter(col("doc_id") % 17 === 0).count()
    assert(planted.count() == docs.count() + nTwins)
    val kept = Curation.curate(spark, planted).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // no twin id survives; its original does (both pass the content gates
    // since the text is byte-identical)
    assert(kept.forall(_ < 2000000))
  }

  test("URL canonicalization: case, ports, tracking params, slashes, fragments") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://Example.COM:80/A/B/?utm_source=x&b=2&a=1#f", "http://example.com/A/B?a=1&b=2"),
      ("https://host.org:443/x", "https://host.org/x"),
      ("https://host.org:8443/x", "https://host.org:8443/x"), // non-default port kept
      ("http://h.io", "http://h.io/"),                         // empty path -> /
      ("http://h.io///", "http://h.io/"),
      ("https://h.io/p?gclid=1&fbclid=2&ref=3&utm_medium=m", "https://h.io/p"),
      ("https://h.io/p?z=1&y=2&x=3", "https://h.io/p?x=3&y=2&z=1"),
      ("http://H.io/P#only-fragment", "http://h.io/P"),
      ("https://h.io/p?utm_source", "https://h.io/p"),            // valueless tracking param
      ("http://user:pw@Example.com/x", "http://example.com/x"),   // userinfo dropped
      ("http://[::1]:8080/x", "http://[::1]:8080/x"))             // IPv6 + non-default port
    val got = cases.map(_._1).toDF("url")
      .select(col("url"), UrlOps.canonicalizeUrl(col("url")).as("canon"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) => assert(got(in) == want, s"for $in") }
    // host extraction ignores port, case, and userinfo; IPv6 keeps brackets
    val hosts = Seq("HTTPS://Ex.COM:8443/p", "http://user:pw@Host.org:80/x", "http://[::1]:8080/")
      .toDF("url").select(UrlOps.urlHost(col("url"))).collect().map(_.getString(0))
    assert(hosts.toSeq == Seq("ex.com", "host.org", "[::1]"))
  }

  test("per-host cap keeps the lowest-id docs and is partitioning-invariant") {
    import spark.implicits._
    val df = Seq.tabulate(30)(i => (i.toLong, if (i % 2 == 0) "big.org" else s"h${i % 3}.org"))
      .toDF("doc_id", "host")
    def run(parts: Int) = Salting.capPerHost(df.repartition(parts), col("host"), col("doc_id"), 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val got = run(4)
    // big.org has ids 0,2,4,... -> keep 0,2,4; h1.org odd ids with i%3==1 -> 1,7,13; h2.org -> 5,11,17
    assert(got.filter(_._2 == "big.org").map(_._1) == Seq(0L, 2L, 4L))
    assert(got.filter(_._2 == "h1.org").map(_._1) == Seq(1L, 7L, 13L))
    assert(got == run(1)) // deterministic under repartitioning
  }

  test("budget cap keeps lowest-id rows within the running-weight budget, partitioning-invariant") {
    import spark.implicits._
    val rows = (0 until 30).map(i => (i.toLong, s"s${i % 3}", 10L + (i % 4)))
    val df = rows.toDF("doc_id", "src", "w")
    def run(parts: Int) = Salting.capPerStratumBudget(
      df.repartition(parts), col("src"), col("doc_id"), col("w"), budget = 40)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val got = run(5)
    assert(got == run(1)) // deterministic under repartitioning
    val want = rows.groupBy(_._2).toSeq.flatMap { case (_, rs) =>
      var sum = 0L
      rs.sortBy(_._1).takeWhile { r => sum += r._3; sum <= 40 }
    }.map(r => (r._1, r._2)).sortBy(_._1)
    assert(got == want)
    // a single over-budget first row keeps nothing from its stratum
    val big = Seq((1L, "s0", 100L), (2L, "s0", 1L)).toDF("doc_id", "src", "w")
    assert(Salting.capPerStratumBudget(big, col("src"), col("doc_id"), col("w"), 40).count() == 0)
  }

  test("incremental dedup: ledger rejects known hashes, batch keeps min id") {
    import spark.implicits._
    val ledger = Seq("known text").toDF("text").select(md5(col("text")).as("content_md5"))
    val incoming = Seq(
      (10L, "known text"),   // in ledger -> rejected
      (7L, "fresh text"),    // accepted
      (3L, "fresh text"),    // in-batch dup -> min id 3 wins
      (9L, "other fresh"))   // accepted
      .toDF("doc_id", "text")
    val kept = Dedup.incrementalExactDedup(incoming, ledger)
      .collect().map(_.getLong(1)).sorted
    assert(kept.toSeq == Seq(3L, 9L))
  }

  test("PPM average-pool resize: hand image pools per channel, malformed input skipped") {
    // 2x2 RGB with byte values = plane index: pooled (1x1) channel c =
    // floor(mean of indices {c, c+3, c+6, c+9}) = c + 4
    val hand = ("P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array.tabulate(12)(_.toByte))
    val r = Multimodal.avgPoolPpm(hand, 2).get
    assert((r.out_w, r.out_h) == (1, 1))
    assert(r.values.toSeq == Seq(4, 5, 6))
    // odd dimension truncates to full blocks; 1-pixel-high image at f=2 -> None
    val thin = ("P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3, 4, 5, 6))
    assert(Multimodal.avgPoolPpm(thin, 2).isEmpty)
    assert(Multimodal.avgPoolPpm("garbage".getBytes("US-ASCII"), 2).isEmpty)
    // f=1 is the identity pooling
    val id = Multimodal.avgPoolPpm(thin, 1).get
    assert(id.values.toSeq == Seq(1, 2, 3, 4, 5, 6))
  }

  test("PPM decode: real parser round-trips the encoder and rejects malformed input") {
    // hand-built 2x1 P6 image, independent of the encoder
    val hand = ("P6\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30, 40, 50, 60))
    assert(Multimodal.decodePpm(hand).contains((2, 1, 255, 210L)))
    // comment lines in the header are skipped (real PPM feature)
    val withComment = ("P6\n# a comment\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3))
    assert(Multimodal.decodePpm(withComment).contains((1, 1, 255, 6L)))
    // encoder -> decoder round trip matches the closed-form pixel sum
    val id = 37L
    val w = 4 + (id % 13).toInt
    val h = 3 + (id % 7).toInt
    val wantSum = (0 until 3 * w * h).map(i => (id + i) % 256).sum
    assert(Multimodal.decodePpm(Multimodal.ppmPayload(id)).contains((w, h, 255, wantSum)))
    // malformed: wrong magic, truncated plane, non-numeric dims
    assert(Multimodal.decodePpm("P5\n1 1\n255\n ".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodePpm(("P6\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3))).isEmpty)
    assert(Multimodal.decodePpm("P6\nx y\n255\n".getBytes("US-ASCII")).isEmpty)
    // oversized dims must return None, not throw or Int-overflow into accept
    assert(Multimodal.decodePpm("P6\n99999999999 1\n255\n ".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodePpm("P6\n100000 100000\n255\n ".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decodePpm("P6\n0 5\n255\n ".getBytes("US-ASCII")).isEmpty)
  }

  test("repetition signals match a per-doc reference count") {
    import spark.implicits._
    val sample = Seq(
      (1L, "a b a b a b"),            // bigrams: ab,ba,ab,ba,ab -> n=5, distinct=2, top=3
      (2L, "x y z w"),                // all distinct -> n=3, distinct=3, top=1
      (3L, "solo"),                   // no bigrams
      (4L, "  t  t   t "))            // whitespace runs: t t t -> n=2, distinct=1, top=2
      .toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(spark, sample)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(1L) == ((5L, 2L, 3L, 1000L * 3 / 5, 1000L * 3 / 5)))
    assert(got(2L) == ((3L, 3L, 1L, 0L, 1000L / 3)))
    assert(got(3L) == ((0L, 0L, 0L, 0L, 0L)))
    assert(got(4L) == ((2L, 1L, 2L, 500L, 1000L)))
  }
}
