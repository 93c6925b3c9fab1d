package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[Materialized]]: measured rows and bytes from the materializing job,
  * planner decisions from those bytes, blocks freed at a known point, and
  * the source guard that keeps every checkpoint going through it.
  */
class MaterializedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def agg1000: DataFrame = spark.range(0, 5000)
    .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)).as("n"))

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  /** Ids of the RDDs persisted while `body` ran. */
  private def newPersisted(body: => Unit): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    body
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
  }

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(l)
    try { body; Bridge.drainListeners(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("rows and bytes are measured; the join plans broadcast from them, " +
    "shuffle when the threshold is below the bytes") {
    val m = Materialized(agg1000)
    try {
      assert(m.rows === 1000L)
      assert(m.bytes > 0L && m.bytes < 10L * 1024 * 1024, s"bytes = ${m.bytes}")
      assert(m.df.queryExecution.optimizedPlan.stats.sizeInBytes === BigInt(m.bytes))
      val probe = spark.range(0, 100000).select((col("id") % 1000).as("k"))
      assert(plan(probe.join(m.df, "k")).contains("BroadcastHashJoin"))
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.get(key)
      spark.conf.set(key, (m.bytes - 1).toString)
      try {
        val p = plan(probe.join(m.df, "k"))
        assert(!p.contains("BroadcastHashJoin") && p.contains("SortMergeJoin"), p)
      } finally spark.conf.set(key, old)
    } finally m.release()
  }

  test("an empty frame materializes with rows = 0") {
    val m = Materialized(spark.range(0, 10).toDF().where(col("id") < 0))
    try assert(m.rows === 0L && m.df.count() === 0L)
    finally m.release()
  }

  test("the helper runs as many jobs as a bare localCheckpoint") {
    val bare = jobsOf(agg1000.localCheckpoint())
    var m: Materialized = null
    val helper = jobsOf { m = Materialized(agg1000) }
    m.release()
    assert(helper === bare, s"bare $bare jobs, helper $helper")
  }

  test("release() unpersists the checkpoint at once, no GC") {
    var m: Materialized = null
    val ids = newPersisted { m = Materialized(agg1000) }
    assert(ids.size === 1 && ids.forall(persisted))
    m.release()
    assert(!ids.exists(persisted))
  }

  test("a scope releases its tables on normal and on exceptional exit") {
    var ids = Set.empty[Int]
    val n = Materialized.scope {
      ids = newPersisted {
        val t = Materialized(agg1000).scoped
        // a nested scope releases only its own table
        Materialized.scope(Materialized(agg1000).scoped.count())
        assert(t.count() === 1000L)
      }
      assert(ids.count(persisted) === 1)
      42
    }
    assert(n === 42 && !ids.exists(persisted))
    val thrown = intercept[IllegalStateException] {
      Materialized.scope {
        ids = newPersisted(Materialized(agg1000).scoped)
        throw new IllegalStateException("body failed")
      }
    }
    assert(thrown.getMessage === "body failed")
    assert(ids.nonEmpty && !ids.exists(persisted))
  }

  test("ops/ and sources/ checkpoint only through Materialized") {
    val roots = Seq("src/main/scala/graft/ops", "src/main/scala/graft/sources")
      .map(new java.io.File(_))
    assert(roots.forall(_.isDirectory), "run from the repository root")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val offenders = roots.flatMap(files)
      .filter(f => f.getName.endsWith(".scala") && f.getName != "Materialized.scala")
      .filter(f => java.nio.file.Files.readString(f.toPath).contains("localCheckpoint("))
    assert(offenders.isEmpty, s"bare localCheckpoint in: ${offenders.mkString(", ")}")
  }
}
