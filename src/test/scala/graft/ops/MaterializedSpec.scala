package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.{DecisionLog, TestSpark}

/** [[Materialized]]: measured rows and bytes from the materializing job,
  * planner decisions from those bytes, blocks freed at a known point, the
  * fixed-point loop [[Materialized.iterate]], and the source guard that
  * keeps every checkpoint going through it.
  */
class MaterializedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def agg1000: DataFrame = spark.range(0, 5000)
    .groupBy((col("id") % 1000).as("k")).agg(count(lit(1)).as("n"))

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  private def persistedNow: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the RDDs persisted while `body` ran. */
  private def newPersisted(body: => Unit): Set[Int] = {
    val before = persistedNow
    body
    persistedNow -- before
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

  test("iterate: a projection step runs one job per round, and the " +
    "observed metric is the round's own count") {
    var out: (Materialized, Int, Boolean) = null
    val jobs = jobsOf {
      out = Materialized.iterate(spark.range(0, 1000).toDF("x"), 3,
        Seq(count_if(col("x") % 3 === 0).as("threes"))) {
        m => Some(m.df.select((col("x") + 1).as("x")))
      }
    }
    val (last, rounds, converged) = out
    try {
      assert(rounds === 3 && !converged)
      assert(jobs === 1 + 3, s"$jobs jobs for init + 3 rounds")
      assert(last.observed("threes") === last.df.where(col("x") % 3 === 0).count())
      assert(last.rows === 1000L && last.df.agg(min("x")).head().getLong(0) === 3L)
    } finally last.release()
  }

  test("iterate: at most two state tables are persisted during the loop, " +
    "one after it") {
    val before = persistedNow
    var most = 0
    def look(): Unit = most = math.max(most, (persistedNow -- before).size)
    val (last, rounds, _) = Materialized.iterate(agg1000, 4,
      done = (_, _) => { look(); false }) { m =>
      look()
      Some(m.df.select(col("k"), (col("n") + 1).as("n")))
    }
    assert(rounds === 4 && most === 2, s"rounds $rounds, most $most")
    assert((persistedNow -- before).size === 1)
    last.release()
    assert((persistedNow -- before).isEmpty)
  }

  test("iterate: a step that throws in round 2 releases the state and the " +
    "round intermediates, no GC") {
    val before = persistedNow
    var seen = Set.empty[Int]
    var calls = 0
    val thrown = intercept[IllegalStateException] {
      Materialized.iterate(agg1000, 5) { m =>
        calls += 1
        val mid = Materialized(m.df.select(col("k"), (col("n") * 2).as("n"))).scoped
        seen ++= persistedNow -- before
        if (calls == 2) throw new IllegalStateException("round 2 failed")
        Some(mid.select(col("k"), (col("n") - 1).as("n")))
      }
    }
    assert(thrown.getMessage === "round 2 failed")
    // init, round 1's state, and both rounds' intermediates
    assert(seen.size === 4, s"seen $seen")
    assert(!seen.exists(persisted))
  }

  test("iterate stops on None, on done, and at maxRounds") {
    def run(maxRounds: Int, noneAt: Int, doneAt: Long): (Int, Boolean, Long) = {
      var calls = 0
      val (last, rounds, converged) = Materialized.iterate(
        spark.range(0, 10).withColumn("r", lit(0L)), maxRounds,
        Seq(max(col("r")).as("r")),
        done = (_, next) => next.observed("r") == doneAt) { m =>
        calls += 1
        if (calls == noneAt) None
        else Some(m.df.select(col("id"), (col("r") + 1).as("r")))
      }
      try (rounds, converged, last.df.agg(max("r")).head().getLong(0))
      finally last.release()
    }
    assert(run(10, noneAt = 3, doneAt = 99L) === ((2, true, 2L)))
    assert(run(10, noneAt = 99, doneAt = 4L) === ((4, true, 4L)))
    assert(run(3, noneAt = 99, doneAt = 99L) === ((3, false, 3L)))
    assert(run(0, noneAt = 99, doneAt = 99L) === ((0, false, 0L)))
  }

  test("each materialization records one decision with its rows, bytes, " +
    "join strategy and observed metrics") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    def one(): (Materialized, Map[String, Any]) = {
      var m: Materialized = null
      val ds = DecisionLog.of(spark, "materialize") {
        m = Materialized(agg1000, metrics = Seq(max(col("n")).as("most")))
      }
      assert(ds.size === 1, s"$ds")
      (m, ds.head)
    }
    val (m, d) = one()
    try {
      assert(d("rows") === m.rows && d("bytes") === m.bytes, s"$d")
      assert(d("broadcast") === true && d("most") === 5L, s"$d")
    } finally m.release()
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val (off, dOff) = try one() finally spark.conf.set(key, old)
    off.release()
    assert(dOff("broadcast") === false && dOff("rows") === 1000L)
  }

  test("iterate records its round count and whether it converged") {
    val ds = DecisionLog.of(spark, "iterate") {
      val (last, _, _) = Materialized.iterate(spark.range(0, 10).toDF(), 3) {
        m => Some(m.df.select((col("id") + 1).as("id")))
      }
      last.release()
      val (done, _, _) = Materialized.iterate(spark.range(0, 10).toDF(), 5,
        done = (_, _) => true)(m => Some(m.df))
      done.release()
    }
    assert(ds === Seq(Map("rounds" -> 3, "converged" -> false),
      Map("rounds" -> 1, "converged" -> true)))
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
