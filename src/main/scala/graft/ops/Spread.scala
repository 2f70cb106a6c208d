package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Scan-parallelism guard for CPU-heavy typed passes (guide §2.5 "input
  * skew" / §6 input-split sizing): a small parquet input produces only one
  * or two scan splits (`maxPartitionBytes` default 128 MB), so a narrow
  * tokenize/hash/shingle pass downstream runs on 1-2 cores while the rest
  * of the cluster idles — measured on the bench corpus: the dup-spans gram
  * pass ran 2 tasks × ~600 ms on a 32-core session. [[spread]] inserts a
  * deterministic hash repartition ONLY when the optimizer's size estimate
  * says the whole input is small; a corpus-scale input already splits into
  * thousands of scan tasks and is passed through untouched, preserving the
  * "document text never shuffles" design at 100 TB.
  *
  * This is the same pattern the synthetic page generator already applies
  * ("the source table is tiny but the render+extract downstream is
  * CPU-bound" — SyntheticPages.pagesReplicated), made conditional so ops
  * can apply it unconditionally at any scale.
  *
  * A second benefit: two passes over the same small input (e.g. the
  * band-hash and shingle passes of MinHash, or the line-digest and rebuild
  * sides of the repeated-line strip) land on IDENTICAL repartition
  * subtrees, which exchange reuse collapses into one physical scan.
  *
  * The threshold is a constant 8 MB/core (`MaxBytesPerCore`): inputs
  * estimated under `cores × 8 MB` bytes repartition; the one-off shuffle
  * of ≤ 8 MB/core of text costs far less than leaving the cluster idle
  * through a CPU-bound pass. Reading plan
  * statistics runs no Spark jobs, keeping query construction lazy.
  */
object Spread {

  private val MaxBytesPerCore = 8L * 1024 * 1024

  private def maxBytes(df: DataFrame): BigInt =
    BigInt(df.sparkSession.sparkContext.defaultParallelism) * MaxBytesPerCore

  /** True when the plan is a narrow chain over source scans (projections,
    * filters, unions, generators) — the only shape whose parallelism is set
    * by input-split layout and whose size estimate is scan-derived. A plan
    * containing a join/aggregate/repartition/typed-map already has an
    * exchange (or unreliable stats) below it: its parallelism is the
    * shuffle-partition count, so spreading again would only add a redundant
    * text exchange — measured inside the curation chain, where the gate ops
    * would otherwise re-spread the already doc_id-partitioned stripped
    * corpus. A `Dataset.observe` tap (CollectMetrics) passes rows through
    * unchanged and counts as narrow.
    */
  private def scanShaped(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: LeafNode => true
      case u: Union => u.children.forall(scanShaped)
      case _: Project | _: Filter | _: Generate | _: SubqueryAlias | _: CollectMetrics =>
        scanShaped(p.children.head)
      case _ => false
    }
  }

  /** `df` hash-repartitioned on `by` when it is a scan-shaped plan whose
    * estimated size is small (see object doc); unchanged otherwise. Hash
    * partitioning on a unique id is deterministic under retry (guide §2.5's
    * rand-repartition trap does not apply) and row placement never changes
    * results.
    */
  def spread(df: DataFrame, by: Column = col("doc_id")): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    if (scanShaped(plan) && plan.stats.sizeInBytes <= maxBytes(df))
      df.repartition(by)
    else df
  }

  /** The dual of [[spread]] for multi-consumer subtrees: pin ONE hash
    * exchange above `df` when it is EXPENSIVE to re-evaluate (not
    * scan-shaped — e.g. the extraction pipeline feeding the curation
    * chain), so exchange reuse collapses all consumers onto a single
    * physical evaluation. A scan-shaped input passes through unchanged:
    * re-scanning it per consumer costs less than shuffling it, and
    * [[spread]] owns its parallelism. The exchange hashes `doc_id`.
    */
  def shareIfComplex(df: DataFrame): DataFrame =
    if (scanShaped(df.queryExecution.optimizedPlan)) df else df.repartition(col("doc_id"))
}
