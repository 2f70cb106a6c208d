package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 hides `Column.expr` behind
  * `private[sql]` (Spark Connect split); third-party expression libraries
  * conventionally expose it via a shim in the org.apache.spark.sql
  * namespace. Only these two forwarders live here, plus the listener-bus
  * drain below.
  */
object shim {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

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
