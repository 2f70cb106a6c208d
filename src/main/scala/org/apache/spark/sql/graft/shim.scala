package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Dataset, classic}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** Forwarders to Spark internals that Spark 4 keeps `private[sql]` or
  * `private[spark]`; third-party libraries conventionally reach them via a
  * shim in the org.apache.spark.sql namespace. Four live here: the
  * Column <-> Expression bridge (Spark Connect split), the listener-bus
  * drain, the analysis-time input type alias and the unregistered cache.
  */
object shim {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** `ds` read through an `InMemoryRelation` over its own plan that is NOT
    * registered with the session's `CacheManager` (the relation's
    * constructor and `classic.Dataset`'s are internal). Nothing runs here:
    * the first action builds the cache inside that action's job group, and
    * later actions read it. The cached RDD, named `In-memory table <name>`,
    * keeps its lineage and is freed by `ContextCleaner` once the returned
    * Dataset and every plan built on it are unreachable; `unpersist()` on
    * the result finds no `CacheManager` entry, so it is a no-op.
    */
  def cachedOnce[T](ds: Dataset[T], level: StorageLevel, name: String): Dataset[T] = {
    val enc = ds.encoder
    val rel = InMemoryRelation(level, ds.queryExecution, Some(name))
    new classic.Dataset[T](ds.sparkSession.asInstanceOf[classic.SparkSession], rel, () => enc)
  }

  /** Blocks until every event posted so far has reached every listener
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`), so a listener
    * read right after an action sees all of that action's stage events.
    */
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** `AbstractDataType` is `private[sql]` in Spark 4 (sql-api split), so
    * an external package can't even NAME the type that
    * `ExpectsInputTypes.inputTypes` returns. This public alias (legal to
    * export from the sql namespace; dealiases to the private type at use
    * sites) lets the engine's expressions declare analysis-time input
    * types instead of failing at codegen/eval with a ClassCastException.
    */
  type InputType = org.apache.spark.sql.types.AbstractDataType
  val stringInput: Seq[InputType] = Seq(org.apache.spark.sql.types.StringType)
}
