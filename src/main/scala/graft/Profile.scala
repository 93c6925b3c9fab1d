package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.geom.Cells
import graft.model.Synth
import graft.ops._

/** Per-phase profiler for the [[Bench]] leaves. Each leaf runs as phase
  * `full` with Bench's body; tiling, obj_encode and the two dedup leaves
  * also run sub-phases that isolate one layer each (noop-sink timing of the
  * computation without its consumer). Same session settings, env names and
  * input directory as Bench; a missing input is generated first, untimed.
  *
  * Every phase runs under Spark job group `leaf/phase`, and a listener sums
  * the task metrics, counts the jobs and collects the [[Decisions]] of each
  * group. Each rep runs in its own [[graft.ops.Materialized.scope]], so the
  * materializations a rep leaves behind are released before the next phase
  * starts. One untimed warm-up and [[Reps]] timed reps, interleaved over
  * all phases as in Bench, with `clearCache()` after every run. A rep that
  * throws counts as failed and is not timed. Prints ONE JSON line:
  * {{{
  * {"metric":"profile", "cpus", "sf_dir", "input", "n_images", "n_buildings",
  *  "warmup", "reps", "leaves":{"<leaf>":{"plan":"<formatted plan>",
  *    "phases":{"<phase>":{"min_s", "median_s", "max_s", "rep_s":[..],
  *      "failed", "jobs":[..], "tasks", "run_ms", "cpu_ms", "gc_ms",
  *      "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
  *      "fetch_wait_ms", "spill_bytes", "peak_exec_mem_max", "task_max_ms",
  *      "task_median_ms", "decisions":[[{"kind", ..}, ..], ..] }}}}}
  * }}}
  * Task metrics cover the successful timed reps, summed (peak execution
  * memory: the largest task's); `jobs` lists each such rep's job count and
  * `decisions` each such rep's plan choices in the order recorded, one
  * object per [[Decisions.Decision]]: its kind, then its fields.
  * `input_bytes` is Spark's input metric: file-source bytes as the Hadoop
  * FS counters see them plus reads of cached and checkpointed blocks. The
  * knn leaf's plan is ladder round 0.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf dir> SPARK_GRAFT_CPUS=4
  *        sbt "runMain graft.Profile"
  */
object Profile {
  val Warmup = 1
  val Reps = 3

  /** One timed unit of a leaf. */
  final case class Phase(name: String, body: () => Long)
  final case class Leaf(name: String, plan: () => DataFrame, phases: Seq[Phase])

  private val GroupKey = "spark.jobGroup.id"
  /** Task metrics summed per phase; a task row holds these, then the
    * task's peak execution memory.
    */
  private val Summed = Seq("run_ms", "cpu_ms", "gc_ms", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms",
    "spill_bytes")

  /** Task rows of every stage whose job ran under a job group, the
    * group's job count and its decisions, kept per group until taken.
    */
  private final class GroupMetrics extends SparkListener {
    private val stageGroup = new ConcurrentHashMap[Int, String]()
    private val tasks = new ConcurrentHashMap[String, ArrayBuffer[Array[Long]]]()
    private val jobs = new ConcurrentHashMap[String, AtomicInteger]()
    private val decisions = new ConcurrentHashMap[String, ArrayBuffer[ListMap[String, Any]]]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).foreach { g =>
        e.stageIds.foreach(stageGroup.put(_, g))
        jobs.computeIfAbsent(g, _ => new AtomicInteger).incrementAndGet()
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val group = stageGroup.get(e.stageId)
      val m = e.taskMetrics
      if (group != null && m != null)
        tasks.computeIfAbsent(group, _ => ArrayBuffer.empty) += Array(
          m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled,
          m.peakExecutionMemory)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case Decisions.Decision(group, kind, fields) if group != null =>
        decisions.computeIfAbsent(group, _ => ArrayBuffer.empty) +=
          ListMap[String, Any]("kind" -> kind) ++ fields
      case _ =>
    }

    /** The group's task rows, job count and decisions, forgotten once
      * taken.
      */
    def take(sc: SparkContext, group: String)
        : (Seq[Array[Long]], Int, Seq[ListMap[String, Any]]) = {
      Bridge.drainListeners(sc)
      (Option(tasks.remove(group)).map(_.toSeq).getOrElse(Nil),
        Option(jobs.remove(group)).map(_.get).getOrElse(0),
        Option(decisions.remove(group)).map(_.toSeq).getOrElse(Nil))
    }
  }

  private final class Runs {
    val secs = ArrayBuffer.empty[Double]
    var failed = 0
    val jobs = ArrayBuffer.empty[Int]
    val tasks = ArrayBuffer.empty[Array[Long]]
    val decisions = ArrayBuffer.empty[Seq[ListMap[String, Any]]]
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def summary(r: Runs): ListMap[String, Any] = {
    def time(f: Seq[Double] => Double): Any = if (r.secs.isEmpty) null else f(r.secs.toSeq)
    val sums = Summed.indices.map(i => Summed(i) -> r.tasks.map(_(i)).sum)
    val runMs = r.tasks.map(_(0).toDouble).toSeq
    ListMap[String, Any]("min_s" -> time(_.min), "median_s" -> time(median),
      "max_s" -> time(_.max), "rep_s" -> r.secs.toSeq, "failed" -> r.failed,
      "jobs" -> r.jobs.toSeq, "tasks" -> r.tasks.length) ++ sums ++
      ListMap("peak_exec_mem_max" -> r.tasks.map(_(Summed.length)).maxOption.getOrElse(0L),
        "task_max_ms" -> runMs.maxOption.getOrElse(0.0),
        "task_median_ms" -> (if (runMs.isEmpty) 0.0 else median(runMs)),
        "decisions" -> r.decisions.toSeq)
  }

  /** Runs `leaves` (warm-up, then [[Reps]] interleaved timed reps) and
    * returns the per-leaf JSON object: plan and per-phase summaries.
    */
  def profile(spark: SparkSession, leaves: Seq[Leaf]): ListMap[String, Any] = {
    val sc = spark.sparkContext
    val listener = new GroupMetrics
    val runs = for (l <- leaves; p <- l.phases) yield (l, p, new Runs)
    sc.addSparkListener(listener)
    try {
      for (rep <- -Warmup until Reps; (l, p, r) <- runs) {
        val group = s"${l.name}/${p.name}"
        sc.setJobGroup(group, group)
        val t0 = System.nanoTime()
        val ok = try { Materialized.scope(p.body()); true } catch {
          case NonFatal(e) =>
            System.err.println(s"[profile] $group rep $rep failed: $e")
            false
        } finally sc.clearJobGroup()
        val sec = (System.nanoTime() - t0) / 1e9
        val (tasks, jobs, decisions) = listener.take(sc, group)
        if (rep >= 0 && ok) {
          r.secs += sec
          r.jobs += jobs
          r.tasks ++= tasks
          r.decisions += decisions
        } else if (rep >= 0) r.failed += 1
        spark.catalog.clearCache()
      }
    } finally sc.removeSparkListener(listener)
    ListMap.from(leaves.map { l =>
      val plan =
        try l.plan().queryExecution.explainString(FormattedMode)
        catch { case NonFatal(e) => s"plan failed: $e" }
      val phases = ListMap.from(runs.collect {
        case (ll, p, r) if ll eq l => p.name -> summary(r)
      })
      l.name -> ListMap("plan" -> plan, "phases" -> phases)
    })
  }

  /** Renders maps, sequences, case classes and numbers as JSON. */
  def json(v: Any): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the sf directory Bench reads"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // session and input exactly as in Bench
    val localDir =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-spark-tmp"
      else System.getProperty("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sf = SparkEntry.sfOf(sfDir)
    val mult = sys.env.getOrElse("SPARK_GRAFT_IMAGES_MULT", "1").toInt
    val nB = math.max(64L, (20000 * sf).toLong)
    val nI = math.max(4096L, (40000000 * sf).toLong) * mult
    val benchBase = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASE", "/tmp")
    val base = s"$benchBase/graft_bench_${sf}_m${mult}_v1"
    val surfP = s"$base/surfaces.parquet"
    val imgP = s"$base/images.parquet"
    if (!new java.io.File(surfP).exists()) {
      Synth.surfaces(spark, nB).write.mode("overwrite").parquet(surfP)
      Synth.withAnchors(Synth.images(spark, nI, nB).toDF(), nB)
        .write.mode("overwrite").parquet(imgP)
    }
    val surfaces = spark.read.parquet(surfP)
    val images = spark.read.parquet(imgP)
    def docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // untimed build sides, as in Bench
    val (ok, _) = ObjPipeline.validated(surfaces)
    val triCells = SpatialOps.triangleCells(
      SpatialOps.triangles(ObjPipeline.withoutOpenings(ok))).localCheckpoint()
    val bpeMerges = BpeTokenizer.trainFromDocs(
      docs.where(pmod(col("doc_id"), lit(10L)) === 0), nMerges = 24)
    val probes = images.where(pmod(col("phash"), lit(4L)) === 0)

    // each leaf's frame: Bench's body is one action on it
    def cpuControl = spark.range(0, 4L << 30, 1, cpus.toInt)
      .select(max(xxhash64(xxhash64(xxhash64(col("id"))))))
    def join(build: DataFrame, salt: Int) = SpatialOps.cellCounts(
      SpatialOps.spatialJoin(SpatialOps.imageCells(images), build, salt))
      .agg(sum("n_matches"))
    def tiles = ImageOps.materializeTiles(spark, SpatialOps.imageCells(images))
      .toDF().where(col("psnr") >= 40.0 || col("psnr").isNull)
    def knnRound0 = SpatialOps.knnTopK(SpatialOps.knnRoundCandidates(
      probes.select(col("image_id"), col("anchor_x"), col("anchor_y")),
      SpatialOps.surfaceCentroids(surfaces, SpatialOps.KnnLevel),
      Cells.sizeAt(SpatialOps.KnnLevel) / 2,
      math.min(SpatialOps.KnnLevel + 1, Cells.MaxLevel), SpatialOps.KnnLevel), 3)
    def obj = ObjPipeline.run(spark, surfaces, semantics = true)
    def minhash = TextOps.minhashNearDups(docs,
      k = 3, bands = 16, rows = 2, threshold = 0.5)
    def keepList = {
      val d = docs
      Clustering.keepList(d.select("doc_id"),
        TextOps.simhashNearDups(d).select("doc_a", "doc_b")).where(col("is_keep"))
    }
    def packs = TextOps.packOffsetsOf(
      BpeTokenizer.tokenCounts(docs, bpeMerges), capacity = 2048)
      .agg(max("last_bin"))
    def ann = AnnOps.bruteForceTopK(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), (0L until 32L), k = 10)
    def query(name: String) = SparkEntry.queries(name)(spark, sfDir)
    def noop(df: DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); 0L
    }

    def phase(name: String)(body: => Long) = Phase(name, () => body)
    def leaf(name: String, frame: => DataFrame)(full: => Long, subs: Phase*) =
      Leaf(name, () => frame, phase("full")(full) +: subs)

    val leaves = Seq(
      leaf("cpu_control", cpuControl)(cpuControl.head().getLong(0).abs.min(1L)),
      leaf("spatial_join", join(broadcast(triCells), 1))(
        join(broadcast(triCells), 1).head().getLong(0)),
      leaf("spatial_join_shuffle_salted", join(triCells.hint("shuffle_hash"), 8))(
        join(triCells.hint("shuffle_hash"), 8).head().getLong(0)),
      leaf("tiling", tiles)(tiles.count(),
        phase("scan")(noop(images.select("image_id", "bytes", "w", "h", "fmt"))),
        phase("codec")(noop(SpatialOps.imageCells(images)
          .select(col("image_id"), graft.expr.ImageFunctions.tile_encode(
            col("bytes"), col("w"), col("h"), col("fmt"), col("cell_id")).as("t"))
          .select(col("image_id"), col("t.psnr").as("psnr"))))),
      leaf("knn", knnRound0) {
        val r = SpatialOps.knnAssign(probes, surfaces, k = 3)
        val n = r.count()
        r.unpersist(blocking = false)
        n
      },
      leaf("obj_encode", obj._1)({ val (v, f, _) = obj; v.count() + f.count() },
        phase("corners")(noop(ObjPipeline.corners(
          SpatialOps.triangles(ObjPipeline.withoutOpenings(ok)), semantics = true))),
        phase("vertices")(obj._1.count())),
      leaf("dedup_minhash", minhash)(minhash.count(),
        phase("bands")(noop(TextOps.minhashBandTable(docs, 3, 16, 2)))),
      leaf("dedup_cluster", keepList)(keepList.count(),
        phase("signatures")(noop(
          docs.select(col("doc_id"), TextOps.simhash(col("text")).as("sim")))),
        phase("edges")(TextOps.simhashNearDups(docs).count())),
      leaf("bpe_pack", packs)(packs.head().getLong(0).max(1L)),
      leaf("ann_bruteforce", ann)(ann.count()),
      leaf("q01_pricing_agg", query("q01_pricing_agg"))(query("q01_pricing_agg").count()),
      leaf("q03_revenue_by_nation", query("q03_revenue_by_nation"))(
        query("q03_revenue_by_nation").count()))

    println(json(ListMap("metric" -> "profile", "cpus" -> cpus.toInt,
      "sf_dir" -> sfDir, "input" -> base, "n_images" -> nI, "n_buildings" -> nB,
      "warmup" -> Warmup, "reps" -> Reps, "leaves" -> profile(spark, leaves))))
    spark.stop()
  }
}
