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

  /** The split's OWN hash bucket: same polynomial, but over the salted
    * string "<id>:split" — effectively independent of [[hashBucket]], so
    * composing [[trainHoldoutSplit]] with [[stratifiedSample]] on the same
    * id column is safe. (Both previously keyed low buckets of the SAME
    * hash: after sampling a stratum at rate r, the holdout buckets
    * survived sampling entirely, inflating the holdout fraction of the
    * sampled corpus to cut/(r·Buckets) — 10% holdout after 0.5 sampling
    * was actually 20%.)
    *
    * The salt must be a SUFFIX: a polynomial hash with a shared suffix is
    * affine in the id's length class (h("p"+id) = h(id) + (h("p")−seed)·31^len),
    * so a PREFIX salt only shifts the bucket interval — the holdout would
    * still be a contiguous slice of the sample hash and composition stays
    * skewed (measured 21.5% for a 10% split after 0.5 sampling). Appending
    * instead gives h(id+"s") = h(id)·31^len(s) + c mod p, and the mod-p
    * multiplication decorrelates the two buckets (measured 9.7%).
    */
  def splitBucket(id: Column): Column =
    graft.functions.GraftFunctions.poly_hash(concat(id.cast("string"), lit(":split"))) % Buckets

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

  /** Deterministic train/holdout split on an INDEPENDENT bucket hash
    * ([[splitBucket]]): returns (train, holdout) with holdoutPermille/1000
    * of ids held out — the leakage-safe eval-split primitive (membership is
    * a pure function of the id, so a document can never migrate between
    * splits as the corpus grows or repartitions, and the split composes
    * safely with [[stratifiedSample]] on the same id).
    */
  def trainHoldoutSplit(df: DataFrame, idCol: Column, holdoutPermille: Int): (DataFrame, DataFrame) = {
    require(holdoutPermille >= 0 && holdoutPermille <= 1000, "holdoutPermille in [0, 1000]")
    val cut = holdoutPermille * (Buckets / 1000L)
    val b = splitBucket(idCol)
    (df.filter(b >= cut), df.filter(b < cut))
  }
}
