package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Bridge

/** A plain listener's view of the [[Decisions]] channel. */
object DecisionLog {

  /** The decisions of `kind` recorded while `body` ran, in order, each as
    * its fields.
    */
  def of(spark: SparkSession, kind: String)(body: => Unit): Seq[Map[String, Any]] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[Decisions.Decision]()
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case d: Decisions.Decision => seen.add(d)
        case _ =>
      }
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(l)
    try { body; Bridge.drainListeners(sc) }
    finally sc.removeSparkListener(l)
    seen.asScala.toSeq.filter(_.kind == kind).map(_.fields.toMap)
  }
}
