package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic stratified sampling — the training-mix construction step
  * (weight web text vs reference text vs code, down-sample a dominant
  * source): keep a row iff its id's hash bucket falls under the stratum's
  * rate threshold.
  *
  * Scale design: a PURE NARROW FILTER — no shuffle, no RNG, no driver
  * state. The decision is a function of (id, stratum) alone, so the kept
  * set is identical across runs, partitionings and cluster sizes
  * (`df.sample` is seed-stable only per partition LAYOUT — a repartition
  * changes the sample, which is exactly what a resumable 100 TB pipeline
  * cannot have), and an append-mode re-run keeps its previous decisions.
  * The bucket hash is the 31-bit polynomial over the decimal id (the
  * cross-engine family every oracle recomputes), so sampling is
  * DuckDB-checkable like everything else.
  */
object Sampling {

  /** Bucket resolution: rates are honored in steps of 1/10000. */
  val Buckets = 10000L

  /** Hash bucket in [0, Buckets) from an id column — deterministic, engine-
    * recomputable (polyHash over the decimal string, seed 7).
    */
  def hashBucket(id: Column): Column =
    graft.functions.GraftFunctions.poly_hash(id.cast("string")) % Buckets

  /** Keep rows whose bucket falls under their stratum's threshold.
    * `rates` maps stratum value -> keep fraction in [0, 1]; strata absent
    * from the map use `defaultRate`. Thresholds are fixed at plan time
    * (round(rate * Buckets)) — no per-row float arithmetic can drift
    * between engines.
    */
  def stratifiedSample(
      df: DataFrame,
      stratumCol: Column,
      idCol: Column,
      rates: Map[String, Double],
      defaultRate: Double = 0.0): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    val thr = rates.toSeq.sortBy(_._1).foldLeft(lit(math.round(defaultRate * Buckets))) {
      case (acc, (k, r)) => when(stratumCol === k, lit(math.round(r * Buckets))).otherwise(acc)
    }
    df.filter(hashBucket(idCol) < thr)
  }
}
