package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.AbstractDataType

/** Minimal bridge into `private[sql]` Column↔Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils) — Spark 4 removed the
  * public `new Column(Expression)` constructor. This is the documented
  * extension-point pattern for libraries shipping custom Catalyst
  * expressions. Also drains the `private[spark]` listener bus for
  * `graft.Profile`.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every queued listener event has been delivered (the
    * listener bus is `private[spark]`), so task metrics read after an
    * action are complete.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Public-safe `ImplicitCastInputTypes`: Spark's `AbstractDataType` is
  * `private[sql]`, so expressions outside this package can't override
  * `inputTypes` directly. They implement `graftInputTypes` (plain public
  * `DataType`s) instead, and this trait bridges it — giving SQL-registered
  * custom functions proper analysis-time coercion (e.g. decimal literals →
  * double) rather than runtime ClassCastExceptions.
  */
trait GraftExpectsInputTypes extends ImplicitCastInputTypes {
  self: Expression =>
  def graftInputTypes: Seq[org.apache.spark.sql.types.DataType]
  override def inputTypes: Seq[AbstractDataType] = graftInputTypes
}
