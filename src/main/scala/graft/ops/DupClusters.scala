package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: connected components over a near-duplicate
  * pair graph (the step AFTER pair generation in a dedup pipeline — LSH /
  * SimHash emit pairs, but keep-one-per-GROUP needs the transitive closure:
  * A~B, B~C must collapse to one cluster even when A~C was never a
  * candidate pair).
  *
  * Algorithm: distributed min-label propagation with pointer-doubling
  * compression. Each iteration
  *   (1) propagates the minimum label across edges (one shuffle on the
  *       vertex id, map-side partial min), then
  *   (2) compresses paths by re-resolving each vertex's new label through
  *       the current label map (label(v) := label(label(v)) — one join),
  * so the distance to the component minimum roughly halves per round:
  * O(log d) iterations for diameter d, the standard hash-to-min shape for
  * web-scale graphs (near-dup graphs additionally have tiny diameters in
  * practice — LSH buckets emit near-cliques).
  *
  * Scale notes:
  *  - only (id, label) pairs ever shuffle — never document content;
  *  - the edge list is symmetrized, de-duplicated and checkpointed ONCE and
  *    re-read each iteration;
  *  - per-iteration checkpointing truncates the lineage so the plan stays
  *    constant-size across iterations. When the context has a checkpoint
  *    dir (`spark.sparkContext.setCheckpointDir`) the RELIABLE `checkpoint`
  *    is used — executor-loss-safe on a real cluster; otherwise
  *    `localCheckpoint` (blocks are lost with an executor, fine for
  *    local/test runs). Same iteration count either way (spec-gated);
  *  - convergence is detected with a bounded `isEmpty` probe per round, so
  *    easy graphs stop early and [[MaxIter]] only bounds adversarial chains.
  *
  * Output is deterministic regardless of partitioning: every vertex ends
  * with `cluster_id` = the minimum vertex id of its component.
  */
object DupClusters {

  /** Rounds after which propagation stops, converged or not: pointer
    * doubling needs O(log d) rounds for diameter d, so 30 covers chains far
    * longer than any near-dup graph holds. */
  final val MaxIter = 30

  /** Connected components of the undirected graph given by `edges`
    * (columns `src`, `dst`; direction, duplicates and self-loops are
    * ignored). `vertices` (column `id`) optionally adds isolated vertices —
    * every id in it appears in the output even with no incident edge.
    * Returns (id, cluster_id) with cluster_id = min id of the component.
    */
  def connectedComponents(
      spark: SparkSession,
      edges: DataFrame,
      vertices: Option[DataFrame] = None): DataFrame =
    connectedComponentsResult(spark, edges, vertices).labels

  /** connectedComponents plus the convergence iteration count (for tests /
    * metrics).
    */
  final case class CCResult(labels: DataFrame, iterations: Int)

  /** Lineage truncation per round: reliable `checkpoint` when the context
    * has a checkpoint dir (survives executor loss — required on a real
    * cluster for a multi-round fixpoint), `localCheckpoint` otherwise.
    */
  private def truncate(spark: SparkSession, df: DataFrame): DataFrame =
    if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  def connectedComponentsResult(
      spark: SparkSession,
      edges: DataFrame,
      vertices: Option[DataFrame] = None): CCResult = {
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val sym = truncate(spark, e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct())
    val vs = vertices
      .map(v => v.select(v.columns.head).toDF("id").select(col("id").cast("long").as("id")))
      .map(_.union(sym.select(col("src").as("id"))).distinct())
      .getOrElse(sym.select(col("src").as("id")).distinct())

    var labels = truncate(spark, vs.select(col("id"), col("id").as("label")))
    var iter = 0
    var converged = false
    while (iter < MaxIter && !converged) {
      // (1) propagate: min neighbor label per vertex
      val nbr = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      val prop = labels
        .join(nbr, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("lbl1"))
      // (2) compress: follow the proposed label through the current map
      val lookup = labels.select(col("id").as("lk_id"), col("label").as("lk_label"))
      val next = truncate(spark, prop
        .join(lookup, prop("lbl1") === lookup("lk_id"), "left")
        .select(col("id"), col("label"),
          least(col("lbl1"), coalesce(col("lk_label"), col("lbl1"))).as("new_label")))
      converged = next.filter(col("new_label") =!= col("label")).isEmpty
      labels = next.select(col("id"), col("new_label").as("label"))
      iter += 1
    }
    CCResult(labels.select(col("id"), col("label").as("cluster_id")), iter)
  }

  /** Cluster membership from a near-dup pair list (columns `a`, `b`, as
    * produced by [[Dedup.minhashLshPairs]] / [[Dedup.simhashPairs]]).
    * The returned `cluster_id` doubles as the kept representative (minimum
    * id per component) — `filter(col("id") =!= col("cluster_id"))` is the
    * drop set.
    */
  def clustersFromPairs(
      spark: SparkSession,
      pairs: DataFrame,
      vertices: Option[DataFrame] = None): DataFrame =
    connectedComponents(
      spark,
      pairs.select(col("a").as("src"), col("b").as("dst")),
      vertices)
}
