package e2ebench

import scala.collection.mutable

import org.apache.spark.e2ebench.BusDrain
import org.apache.spark.sql.SparkSession

/** Runs one workload as a closed loop — one client on local[cores] that
  * sends the next op only after the previous one returned — and writes the
  * raw run record (set-up times, one record per op, spans, task metrics,
  * prefix timings) as JSON. `run.py` turns the record into metrics.
  *
  * Input generation runs first, in a session of its own, so the cold JVM's
  * first jobs stay out of every timing.
  * Set-up is session start plus the build-side preparation, repeated three
  * times (once when traced), each in a fresh session of the warm JVM. Then
  * the workload's checked, untimed warm-up ops, and then ops run for
  * `--seconds`; with
  * `--trace 1` every other op is traced (task listener, spans, and the
  * prefix ladder after the op), so traced and untraced ops share the same
  * period of the run and their throughput ratio is the tracing overhead.
  *
  * After every op, outside its time: drain the listener bus, read the
  * block memory the op left behind, run a full GC and read the live heap,
  * check the output, then free every cache and persisted RDD the op made.
  */
object Main {

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("e2ebench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.ui.enabled", "false")
      // the status store's history would otherwise grow the live heap with
      // every op, making the heap metric depend on run length
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val wl = Workload(a("workload"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = a.getOrElse("cores", "4").toInt
    val setupRounds = if (traced) 1 else 3

    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "task_columns" -> TaskListener.Columns)
    var next = 0 // op counter; op k reads slice k % slices
    var keep = Set.empty[Int]

    def free(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep(id)) rdd.unpersist(blocking = true)
      }
    }

    def prepare(spark: SparkSession): Double = {
      val t0 = System.nanoTime()
      wl.prepare(spark)
      keep = spark.sparkContext.getPersistentRDDs.keySet.toSet
      secs(t0)
    }

    var spark = session(work, cores)
    val t0 = System.nanoTime()
    rec("input") = wl.generate(spark, seed, s"$work/input")
    rec("gen_s") = secs(t0)
    rec("setup_s") = (1 to setupRounds).map { _ =>
      stop(spark)
      val t = System.nanoTime()
      spark = session(work, cores)
      secs(t) + prepare(spark)
    }
    while (next < wl.warmOps) {
      val o = wl.op(spark, next, Spans.Off)
      o.check().foreach(e => throw new IllegalStateException(s"warm-up op failed its check: $e"))
      free(spark)
      wl.cleanup(next)
      next += 1
    }
    rec("warm_ops") = next

    val sc = spark.sparkContext
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    val listener = new TaskListener

    /** Heap in use after a full GC. The first GC lets Spark's context cleaner
      * release the blocks of collected RDDs and broadcasts, the second
      * collects what that released; of two such readings 100 ms apart the
      * smaller is kept, so memory that asynchronous clean-up is about to
      * drop does not count.
      */
    def liveHeapMb(): Double = Seq.fill(2) {
      System.gc()
      Thread.sleep(50)
      System.gc()
      val used = memory.getHeapMemoryUsage.getUsed / 1048576.0
      Thread.sleep(50)
      used
    }.min

    def runOp(trace: Boolean): Map[String, Any] = {
      val k = next
      next += 1
      val sp = if (trace) new Spans(true) else Spans.Off
      if (trace) {
        sc.addSparkListener(listener)
        TaskListener.tag(sc, s"op-$k")
      }
      val wall0 = System.currentTimeMillis()
      val t = System.nanoTime()
      val res = try Right(wl.op(spark, k, sp)) catch { case e: Throwable => Left(e) }
      val latency = secs(t)
      val wall1 = System.currentTimeMillis()
      TaskListener.tag(sc, null)
      if (trace) BusDrain.drain(sc)
      val retainedMb = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / 1048576.0
      val heapMb = liveHeapMb()
      val err = res match {
        case Left(e) => Some(s"op threw $e")
        case Right(o) => try o.check() catch { case e: Throwable => Some(s"check threw $e") }
      }
      err.foreach(e => System.err.println(s"[e2ebench] op $k failed: $e"))
      val r = mutable.LinkedHashMap[String, Any]("k" -> k, "ok" -> err.isEmpty,
        "heap_mb" -> heapMb, "retained_block_mb" -> retainedMb)
      if (err.isEmpty) {
        r("latency_s") = latency
        r("rows") = res.toOption.get.rows
      }
      if (trace) {
        r("wall_ms") = Seq(wall0, wall1)
        r("spans") = sp.drain(t)
        r("tasks") = listener.take(s"op-$k")
        res.foreach(o => r("info") = o.info)
      }
      free(spark)
      wl.cleanup(k)
      if (trace) {
        if (err.isEmpty) {
          r("ladder") = wl.ladder(spark, k)
          free(spark)
        }
        sc.removeSparkListener(listener)
      }
      r.toMap
    }

    val untracedOps = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracedOps = mutable.ArrayBuffer.empty[Map[String, Any]]
    if (traced) {
      rec("setup_ladder") = wl.setupLadder(spark)
      free(spark)
    }
    val loopStart = System.nanoTime()
    while (secs(loopStart) < seconds || untracedOps.size < 3 ||
      (traced && tracedOps.size < 3)) {
      if (traced && untracedOps.size > tracedOps.size) tracedOps += runOp(trace = true)
      else untracedOps += runOp(trace = false)
    }
    rec("timed") = untracedOps.toSeq
    if (traced) rec("traced") = tracedOps.toSeq
    rec("loop_s") = secs(loopStart)
    stop(spark)
    Json.mapper.writeValue(new java.io.File(a("out")), rec)
  }
}
