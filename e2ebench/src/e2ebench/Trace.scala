package e2ebench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into each engine layer. A span is
  * (id, parent, name, start, end); self time is computed from the parent
  * links when the record is aggregated. The untraced run uses [[Spans.Off]],
  * which only evaluates the body.
  */
class Spans(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)

  private val done = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Spans recorded since the last call, start times relative to `origin`. */
  def drain(origin: Long): Seq[Map[String, Any]] = {
    val out = done.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "t0_s" -> (s.t0 - origin) / 1e9, "t1_s" -> (s.t1 - origin) / 1e9))
    done.clear()
    out.toSeq
  }
}

object Spans {
  val Off = new Spans(false)
}

/** Collects Spark task metrics for stages whose job carried the
  * `e2ebench.tag` local property, so each traced op's tasks can be told
  * apart from every other job of the run (set-up, checks, prefix ladder).
  */
class TaskListener extends SparkListener {
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[(String, Seq[Any])]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TaskListener.TagKey)))
    tag.foreach(stageTag.put(e.stageInfo.stageId, _))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val tag = stageTag.get(e.stageId)
    if (tag != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      val failed = e.reason != Success
      tasks.add(tag -> (if (m == null) Seq(e.stageId, i.launchTime, i.finishTime,
        0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, failed)
      else Seq(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
        m.peakExecutionMemory, failed)))
    }
  }

  /** Task rows of one tag, in [[TaskListener.Columns]] order. Call after
    * the listener bus is drained.
    */
  def take(tag: String): Seq[Seq[Any]] = {
    val mine = tasks.asScala.filter(_._1 == tag).toSeq
    mine.foreach(tasks.remove)
    mine.map(_._2)
  }
}

object TaskListener {
  val TagKey = "e2ebench.tag"
  val Columns: Seq[String] = Seq("stage", "launch_ms", "finish_ms", "run_ms",
    "cpu_ns", "gc_ms", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes", "peak_exec_mem",
    "failed")

  def tag(sc: SparkContext, t: String): Unit = sc.setLocalProperty(TagKey, t)
}
