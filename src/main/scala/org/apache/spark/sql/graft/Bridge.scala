package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.AbstractDataType

/** Minimal bridge into `private[sql]` Column↔Expression conversion
  * (org.apache.spark.sql.classic.ExpressionUtils) — Spark 4 removed the
  * public `new Column(Expression)` constructor. This is the documented
  * extension-point pattern for libraries shipping custom Catalyst
  * expressions. Also posts to and drains the `private[spark]` listener bus
  * (`graft.Decisions`, `graft.Profile`), and builds and releases
  * `graft.ops.Materialized` checkpoints (measured `LogicalRDD` statistics,
  * `unpersistRDD`).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every queued listener event has been delivered (the
    * listener bus is `private[spark]`), so task metrics read after an
    * action are complete.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Queues `event` for every registered listener (`onOtherEvent`). */
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)

  /** Rebuilds a local checkpoint's frame with measured statistics: its
    * stored bytes (memory + disk, read from the block manager, no job) and
    * `rows`. Returns the frame, the checkpointed RDD and the bytes.
    */
  def withMeasuredStats(checkpointed: DataFrame, rows: Long): (DataFrame, RDD[_], Long) = {
    val ds = checkpointed.asInstanceOf[ClassicDataset[Row]]
    val lrdd = ds.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val bytes = ds.sparkSession.sparkContext.getRDDStorageInfo(_.id == lrdd.rdd.id)
      .map(i => i.memSize + i.diskSize).sum
    val plan = lrdd.copy()(ds.sparkSession,
      Some(Statistics(sizeInBytes = bytes, rowCount = Some(rows))),
      Some(lrdd.constraints))
    (ClassicDataset.ofRows(ds.sparkSession, plan), lrdd.rdd, bytes)
  }

  /** Drops a local checkpoint's blocks and returns once they are gone,
    * without `RDD.unpersist`'s warning that its lineage cannot be
    * recomputed: the caller releases it because nothing reads it again.
    */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = true)
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
