package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic skew salting (north rule: "AQE skew-join disabled in favor
  * of deterministic salting so per-row output stays byte-stable").
  *
  * For key-skewed aggregations (mega-hosts dominating a per-host groupBy),
  * the skewed keys are split across `saltBuckets` deterministic salt values
  * (pure column expression over the row's own fields — never random, never
  * runtime-adaptive), partially aggregated, then re-aggregated. Results are
  * salt-invariant; only the shuffle distribution changes.
  */
object Salting {

  /** Salt column: 0 for normal keys; hash-of-row-id mod saltBuckets for
    * keys in the skew set — deterministic per row.
    */
  def saltColumn(keyCol: Column, rowIdCol: Column, skewKeys: Seq[String], saltBuckets: Int): Column =
    when(keyCol.isin(skewKeys: _*), pmod(xxhash64(rowIdCol), lit(saltBuckets.toLong)).cast("int"))
      .otherwise(lit(0))

  /** Two-phase salted count+sum per key: partial agg on (key, salt), final
    * agg on key. Equivalent to df.groupBy(key).agg(count, sum) but the
    * skewed key's partials spread over saltBuckets reducers.
    */
  def saltedKeyStats(
      df: DataFrame,
      keyCol: Column,
      rowIdCol: Column,
      valueCol: Column,
      skewKeys: Seq[String],
      saltBuckets: Int): DataFrame = {
    df.withColumn("__salt", saltColumn(keyCol, rowIdCol, skewKeys, saltBuckets))
      .groupBy(keyCol.as("key"), col("__salt"))
      .agg(count(lit(1)).as("partial_n"), sum(valueCol).as("partial_sum"))
      .groupBy(col("key"))
      .agg(sum(col("partial_n")).as("n"), sum(col("partial_sum")).as("total"))
  }

  /** Budget-capped stratum sampling — the token-budget variant of
    * [[capPerHost]] (training-mix construction: "fill each source to N
    * tokens"): keep each stratum's lowest-`orderCol` rows while the running
    * sum of `weightCol` (token/char counts — must be positive) stays within
    * `budget`, deterministically under any partitioning.
    *
    * CONTRACT (same as [[capPerHost]]): `orderCol` must be unique within a
    * stratum (doc id) and `weightCol` positive — a tied order key would
    * make both the window's running sum and the kept boundary depend on
    * partition arrival order.
    *
    * Scale shape: phase 1 sorts within partitions on (stratum, order) and
    * streams a per-partition running sum, keeping rows while the LOCAL
    * running sum is within budget PLUS the first overflowing row (the
    * boundary). Dropping strictly-after-boundary rows is safe because the
    * local prefix is a subset of the global one; keeping the boundary is
    * NECESSARY — its local prefix-inclusive sum alone proves every later
    * global row over budget, so phase 2's window (which only sees pruned
    * rows) still reaches the proof weight. (Dropping the boundary too made
    * a later row from another partition sneak under the under-counted
    * running sum — caught by the partitioning-invariance spec.) Surviving
    * rows per (partition, stratum) are bounded by budget/min(weight) + 1.
    * Phase 2 is the exact global running-sum window over the pruned set.
    */
  def capPerStratumBudget(
      df: DataFrame, stratumCol: Column, orderCol: Column,
      weightCol: Column, budget: Long): DataFrame = {
    val h = "__graft_budget_stratum"
    val o = "__graft_budget_order"
    val wgt = "__graft_budget_weight"
    val run = "__graft_budget_running"
    val tagged = df.withColumn(h, stratumCol).withColumn(o, orderCol)
      .withColumn(wgt, weightCol.cast("long"))
      .sortWithinPartitions(col(h), col(o))
    val schema = tagged.schema
    val hIdx = schema.fieldIndex(h)
    val wIdx = schema.fieldIndex(wgt)
    import org.apache.spark.sql.{Encoders, Row}
    val pruned = tagged.mapPartitions { it =>
      // rows arrive grouped by stratum (sorted) — O(1) state per task
      var current: Any = null
      var acc = 0L
      var started = false
      var overflowed = false
      it.filter { r =>
        val s = r.get(hIdx)
        if (!started || s != current) { current = s; acc = 0L; overflowed = false; started = true }
        if (overflowed) false
        else {
          acc += r.getLong(wIdx)
          if (acc > budget) overflowed = true // keep THIS boundary row, drop the rest
          true
        }
      }
    }(Encoders.row(schema))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(h)).orderBy(col(o).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    pruned.withColumn(run, sum(col(wgt)).over(w))
      .filter(col(run) <= budget)
      .drop(run, h, o, wgt)
  }

  /** Per-host frequency capping — the crawl-sampling step that keeps a
    * mega-host from dominating the training mix: at most `cap` documents
    * per host, chosen deterministically (lowest `orderCol` first). One
    * hash-partitioned window (never global); only (host, order) scalars
    * drive the shuffle.
    *
    * CONTRACT: `orderCol` must be a non-null integral (long) key that is
    * unique within a host (doc id) — row_number breaks ties by partition
    * arrival order, so a tied key (e.g. a coarse timestamp) would make the
    * kept sample depend on partitioning; cast/compose a unique long key
    * first.
    */
  def capPerHost(df: DataFrame, hostCol: Column, orderCol: Column, cap: Int): DataFrame = {
    val h = "__graft_cap_host"
    val o = "__graft_cap_order"
    val rank = "__graft_host_cap_rank"
    val tagged = df.withColumn(h, hostCol).withColumn(o, orderCol)
    val schema = tagged.schema
    val hIdx = schema.fieldIndex(h)
    val oIdx = schema.fieldIndex(o)
    // phase 1 — map-side prune (the window below has no partial
    // aggregation, so WITHOUT this a mega-host funnels its entire row set
    // into one reducer): keep only the `cap` smallest orders per host per
    // input partition, bounding the shuffle to cap × numPartitions rows
    // per host. State per task = (hosts in partition) × cap rows — the
    // same bound as a hash-agg partial.
    import org.apache.spark.sql.{Encoders, Row}
    val pruned = tagged.mapPartitions { it =>
      val perHost = scala.collection.mutable.HashMap
        .empty[Any, scala.collection.mutable.PriorityQueue[Row]]
      val ord = Ordering.by[Row, Long](_.getLong(oIdx)) // max-heap: evict largest
      it.foreach { r =>
        val q = perHost.getOrElseUpdate(r.get(hIdx),
          scala.collection.mutable.PriorityQueue.empty[Row](ord))
        if (q.size < cap) q.enqueue(r)
        else if (ord.lt(r, q.head)) { q.dequeue(); q.enqueue(r) }
      }
      perHost.valuesIterator.flatMap(_.iterator)
    }(Encoders.row(schema))
    // phase 2 — exact global top-cap per host over the pruned set
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(h)).orderBy(col(o).asc)
    pruned.withColumn(rank, row_number().over(w))
      .filter(col(rank) <= cap)
      .drop(rank, h, o)
  }
}
