package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

import graft.Decisions

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
  *
  * An operator loop that materializes a table per round runs through
  * [[Materialized.iterate]], which applies this rule round by round.
  *
  * Each materialization is recorded as a `materialize` decision (rows,
  * bytes, whether those bytes allow a broadcast join, then every observed
  * metric), each loop as an `iterate` decision (rounds, converged).
  */
final class Materialized private (val df: DataFrame, val rows: Long,
                                  val bytes: Long,
                                  val observed: Map[String, Any],
                                  rdd: RDD[_]) {

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
    * local checkpoint's MEMORY_AND_DISK. Each of `metrics` (named
    * aggregates) is observed by the same job and lands in `observed`.
    */
  def apply(df: DataFrame, level: Option[StorageLevel] = None,
            metrics: Seq[Column] = Nil): Materialized = {
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"), metrics: _*)
    val cp = level.fold(observed.localCheckpoint())(observed.localCheckpoint(true, _))
    val values = obs.get
    val rows = values("rows").asInstanceOf[Long]
    val (measured, rdd, bytes) = Bridge.withMeasuredStats(cp, rows)
    val spark = df.sparkSession
    Decisions.record(spark, "materialize", Seq("rows" -> rows, "bytes" -> bytes,
      "broadcast" -> (bytes <= spark.sessionState.conf.autoBroadcastJoinThreshold)) ++
      (values - "rows"): _*)
    new Materialized(measured, rows, bytes, values, rdd)
  }

  /** The fixed-point loop of the iterative operators. Materializes `init`,
    * then per round the frame `step` returns from the current table, each
    * at `level` with `metrics` observed by the materializing job. A round
    * runs inside its own [[scope]], so a `.scoped` intermediate of the step
    * is released once the round's table exists; the previous table is
    * released then too. Stops when `step` returns `None`, when
    * `done(previous, next)` holds, or after `maxRounds` rounds; an
    * exception releases every table of the loop. Returns the last table
    * (the caller's to release or scope), the round count, and whether the
    * loop converged (`None` or `done`).
    */
  def iterate(init: DataFrame, maxRounds: Int, metrics: Seq[Column] = Nil,
              level: Option[StorageLevel] = None,
              done: (Materialized, Materialized) => Boolean = (_, _) => false)(
      step: Materialized => Option[DataFrame]): (Materialized, Int, Boolean) = {
    var (cur, rounds, converged) = (Materialized(init, level, metrics), 0, false)
    try {
      while (!converged && rounds < maxRounds) {
        val next = scope(step(cur).map(Materialized(_, level, metrics)))
        converged = next.isEmpty
        next.foreach { n =>
          val prev = cur
          cur = n; rounds += 1
          try converged = done(prev, n) finally prev.release()
        }
      }
      Decisions.record(init.sparkSession, "iterate", "rounds" -> rounds,
        "converged" -> converged)
      (cur, rounds, converged)
    } catch { case e: Throwable => cur.release(); throw e }
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
