package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/** The one way `ops/` and `sources/` materialize an intermediate table: an
  * eager local checkpoint that measures what it stored and frees its blocks
  * at a known point.
  *
  * `Materialized(df)` runs the checkpoint with `df.observe(count)` attached,
  * so the row count comes back from the materializing job itself; reads the
  * stored bytes from the block manager (no job); and rebuilds the frame as
  * the checkpoint's `LogicalRDD` carrying those measured statistics. The
  * planner then chooses broadcast or shuffle for a join against the table
  * from its real size against `spark.sql.autoBroadcastJoinThreshold`, where
  * a bare checkpoint keeps the (usually far larger) estimate of the plan it
  * came from.
  *
  * Lifetime, one rule at every site:
  *  - a table used only inside its operator is [[Materialized#release]]d
  *    before the operator returns (or once the materialization that
  *    replaces it exists — a loop releases round n−1 after round n);
  *  - a table the returned lazy frame still reads is handed to the
  *    innermost [[Materialized.scope]] with [[Materialized#scoped]] and
  *    released when that scope exits. With no scope open it is left to
  *    ContextCleaner, which frees the blocks once the frame is GC'd.
  */
final class Materialized private (val df: DataFrame, val rows: Long,
                                  val bytes: Long, rdd: RDD[_]) {

  /** Drops the checkpointed blocks and returns once they are gone. The
    * frame must not be read afterwards.
    */
  def release(): Unit = Bridge.release(rdd)

  /** Registers the table with the innermost open scope and returns its
    * frame: for tables that the caller's lazy result still reads.
    */
  def scoped: DataFrame = {
    Materialized.open.get.headOption.foreach(_ += this)
    df
  }
}

object Materialized {
  private val open = ThreadLocal.withInitial[List[ArrayBuffer[Materialized]]](() => Nil)

  /** Materializes `df` (eagerly, lineage truncated) at `level`, default the
    * local checkpoint's MEMORY_AND_DISK.
    */
  def apply(df: DataFrame, level: Option[StorageLevel] = None): Materialized = {
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"))
    val cp = level.fold(observed.localCheckpoint())(observed.localCheckpoint(true, _))
    val rows = obs.get("rows").asInstanceOf[Long]
    val (measured, rdd, bytes) = Bridge.withMeasuredStats(cp, rows)
    new Materialized(measured, rows, bytes, rdd)
  }

  /** Runs `body`; every table registered with [[Materialized#scoped]]
    * inside it (and not inside a nested scope) is released when it exits,
    * normally or by an exception.
    */
  def scope[T](body: => T): T = {
    val held = ArrayBuffer.empty[Materialized]
    open.set(held :: open.get)
    try body
    finally {
      open.set(open.get.tail)
      held.foreach(_.release())
    }
  }
}
