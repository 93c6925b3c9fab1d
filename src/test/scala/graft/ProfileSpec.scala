package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Profile.{Leaf, Phase}

/** Profile's harness on small synthetic phases: every phase is reported,
  * task metrics land in their own phase's job group, and a failing phase is
  * reported as failed without disturbing the next one.
  */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def noop(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save(); 0L
  }
  private def range = spark.range(0, 20000, 1, 4).toDF()

  private lazy val out: JsonNode = {
    val boom = udf((i: Long) => if (i == 77L) throw new IllegalStateException("boom") else i)
    val leaves = Seq(
      Leaf("ops", () => range, Seq(
        Phase("scan", () => noop(range)),
        Phase("exchange", () => noop(range.repartition(4, col("id")))),
        Phase("detail", () => range.count(), detail = Some(() => Seq(1, 2))))),
      Leaf("bad", () => range, Seq(
        Phase("throws", () => range.where(boom(col("id")) >= 0L).count()))),
      Leaf("after", () => range, Seq(
        Phase("count", () => range.where(col("id") % 3 === 0).count()))))
    new ObjectMapper().readTree(Profile.json(Profile.profile(spark, leaves)))
  }
  private def phase(leaf: String, name: String): JsonNode =
    out.get(leaf).get("phases").get(name)

  test("every phase is reported with min <= median <= max over the timed reps") {
    for ((leaf, name) <- Seq("ops" -> "scan", "ops" -> "exchange",
      "ops" -> "detail", "after" -> "count")) {
      val p = phase(leaf, name)
      assert(p.get("failed").asInt === 0, s"$leaf/$name")
      assert(p.get("rep_s").size === Profile.Reps, s"$leaf/$name")
      val (lo, mid, hi) = (p.get("min_s").asDouble, p.get("median_s").asDouble,
        p.get("max_s").asDouble)
      assert(lo > 0 && lo <= mid && mid <= hi, s"$leaf/$name: $lo $mid $hi")
      assert(p.get("tasks").asLong > 0, s"$leaf/$name ran no task")
    }
    assert(phase("ops", "detail").get("rep_detail").size === Profile.Reps)
    assert(phase("ops", "scan").get("rep_detail") === null)
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
}
