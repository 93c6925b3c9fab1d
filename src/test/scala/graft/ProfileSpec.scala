package graft

import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.Profile.{Leaf, Phase}

/** Profile's harness on small synthetic phases: every phase is reported,
  * task metrics land in their own phase's job group, and a failing phase is
  * reported as failed without disturbing the next one; a phase's job
  * count per rep is what a plain job listener counts for the same body,
  * and the decisions its body records are reported under it alone.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def noop(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save(); 0L
  }
  private def range = spark.range(0, 20000, 1, 4).toDF()
  /** Two actions, one of them with a shuffle. */
  private def twoActions(): Long =
    range.count() + noop(range.repartition(4, col("id")))

  private lazy val out: JsonNode = {
    val boom = udf((i: Long) => if (i == 77L) throw new IllegalStateException("boom") else i)
    val leaves = Seq(
      Leaf("ops", () => range, Seq(
        Phase("scan", () => noop(range)),
        Phase("exchange", () => noop(range.repartition(4, col("id")))),
        Phase("decision", () => {
          Decisions.record(spark, "probe", "n" -> 7L, "why" -> "test")
          range.count()
        }),
        Phase("jobs", () => twoActions()))),
      Leaf("bad", () => range, Seq(
        Phase("throws", () => {
          Decisions.record(spark, "probe", "n" -> 8L)
          range.where(boom(col("id")) >= 0L).count()
        }))),
      Leaf("after", () => range, Seq(
        Phase("count", () => range.where(col("id") % 3 === 0).count()))))
    new ObjectMapper().readTree(Profile.json(Profile.profile(spark, leaves)))
  }
  private def phase(leaf: String, name: String): JsonNode =
    out.get(leaf).get("phases").get(name)

  test("every phase is reported with min <= median <= max over the timed reps") {
    for ((leaf, name) <- Seq("ops" -> "scan", "ops" -> "exchange",
      "ops" -> "decision", "after" -> "count")) {
      val p = phase(leaf, name)
      assert(p.get("failed").asInt === 0, s"$leaf/$name")
      assert(p.get("rep_s").size === Profile.Reps, s"$leaf/$name")
      val (lo, mid, hi) = (p.get("min_s").asDouble, p.get("median_s").asDouble,
        p.get("max_s").asDouble)
      assert(lo > 0 && lo <= mid && mid <= hi, s"$leaf/$name: $lo $mid $hi")
      assert(p.get("tasks").asLong > 0, s"$leaf/$name ran no task")
    }
    assert(out.get("ops").get("plan").asText.contains("Range"))
  }

  test("task metrics land in their own phase's job group") {
    val scan = phase("ops", "scan")
    val exchange = phase("ops", "exchange")
    assert(scan.get("shuffle_write_bytes").asLong === 0L)
    assert(exchange.get("shuffle_write_bytes").asLong > 0L)
    assert(exchange.get("shuffle_read_bytes").asLong > 0L)
    // 4 range partitions per rep; the exchange adds its reduce tasks
    assert(scan.get("tasks").asLong === 4L * Profile.Reps)
    assert(exchange.get("tasks").asLong > scan.get("tasks").asLong)
    assert(scan.get("task_max_ms").asDouble >= scan.get("task_median_ms").asDouble)
  }

  test("a phase's jobs per rep equal a plain job listener's count of the same body") {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(l)
    try { twoActions(); Bridge.drainListeners(sc) }
    finally sc.removeSparkListener(l)
    val jobs = phase("ops", "jobs").get("jobs")
    assert(n.get >= 2)
    assert(jobs.size === Profile.Reps)
    (0 until Profile.Reps).foreach(i => assert(jobs.get(i).asInt === n.get, s"rep $i: $jobs"))
    assert(phase("bad", "throws").get("jobs").size === 0)
  }

  test("a phase that throws is failed with no time; the next phase is unaffected") {
    val bad = phase("bad", "throws")
    assert(bad.get("failed").asInt === Profile.Reps)
    assert(bad.get("rep_s").size === 0)
    assert(bad.get("min_s").isNull && bad.get("median_s").isNull && bad.get("max_s").isNull)
    assert(bad.get("tasks").asLong === 0L)
    val after = phase("after", "count")
    assert(after.get("failed").asInt === 0)
    assert(after.get("rep_s").size === Profile.Reps)
    assert(after.get("shuffle_write_bytes").asLong > 0L) // count's partial aggregate
  }

  test("a decision recorded in a phase is reported under it for every timed rep") {
    val reps = phase("ops", "decision").get("decisions")
    assert(reps.size === Profile.Reps)
    (0 until Profile.Reps).foreach { i =>
      val d = reps.get(i)
      assert(d.size === 1, s"rep $i: $d")
      assert(d.get(0).get("kind").asText === "probe")
      assert(d.get(0).get("n").asLong === 7L && d.get(0).get("why").asText === "test")
    }
    for ((leaf, name) <- Seq("ops" -> "scan", "ops" -> "jobs", "after" -> "count")) {
      val other = phase(leaf, name).get("decisions")
      assert(other.size === Profile.Reps, s"$leaf/$name")
      (0 until Profile.Reps).foreach(i =>
        assert(other.get(i).size === 0, s"$leaf/$name rep $i: ${other.get(i)}"))
    }
  }

  test("a failed rep contributes no decisions") {
    assert(phase("bad", "throws").get("decisions").size === 0)
  }
}
