package graft

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** The one channel for plan choices: which branch an operator took and the
  * figures it took it on — a kNN ladder round, the tiling histogram's
  * coarsening, a salt factor, a materialization's measured size and the
  * join strategy it allows, a fixed-point loop's rounds, the hot buckets a
  * blocking cap dropped.
  *
  * [[record]] posts one [[Decisions.Decision]] on Spark's own listener bus,
  * tagged with the calling thread's job group (`spark.jobGroup.id`, which
  * [[Profile]] sets to `leaf/phase`). Any `SparkListener` receives it in
  * `onOtherEvent`; Profile files it under the phase that ran it. Nothing is
  * buffered here: with no listener interested, a record is one enqueue on
  * the bus, which Spark bounds and drains.
  */
object Decisions {

  /** One plan choice: the job group it was made under (null outside one),
    * what was decided, and its figures in the order recorded.
    */
  final case class Decision(group: String, kind: String,
                            fields: Seq[(String, Any)]) extends SparkListenerEvent

  /** Posts a `kind` decision with `fields` for the caller's job group. */
  def record(spark: SparkSession, kind: String, fields: (String, Any)*): Unit = {
    val sc = spark.sparkContext
    Bridge.post(sc, Decision(sc.getLocalProperty("spark.jobGroup.id"), kind, fields))
  }
}
