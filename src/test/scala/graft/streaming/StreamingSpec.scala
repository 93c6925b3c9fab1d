package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Synth

/** Streaming ingest agrees with the batch path on the same rows. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("watermarked windowed per-cell counts over a timestamped stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, java.sql.Timestamp)]
    val df = mem.toDF().toDF("image_id", "phash", "event_time")
    val counts = StreamingIngest.cellCounts(df, 8L)
    val q = counts.writeStream.format("memory").queryName("cellcounts")
      .outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:10")
    val late = java.sql.Timestamp.valueOf("2026-01-01 00:10:00")
    mem.addData((0 until 32).map(i => (f"img$i%04d", Synth.mix64(i.toLong), t0)): _*)
    q.processAllAvailable()
    // advance watermark far past the first window so it closes
    mem.addData(("imgZZ", 1L, late))
    q.processAllAvailable()
    val rows = spark.sql("select * from cellcounts").collect()
    q.stop()
    assert(rows.nonEmpty)
    assert(rows.map(_.getLong(2)).sum === 32L) // first window emitted, late row's window still open
  }

  test("eventWindowCounts append mode: closed windows emit once, late rows drop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val ev = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val q = StreamingIngest.eventWindowCounts(ev)
      .writeStream.format("memory").queryName("evwindows")
      .outputMode("append").start()
    mem.addData((1L, t("2026-01-01 00:10:00"), "click", 1.0),
      (2L, t("2026-01-01 00:20:00"), "click", 2.0))
    q.processAllAvailable()
    // push the watermark well past 01:00 so the first window closes
    mem.addData((3L, t("2026-01-01 03:00:00"), "view", 5.0))
    q.processAllAvailable()
    mem.addData((4L, t("2026-01-01 05:00:00"), "view", 5.0))
    q.processAllAvailable()
    // late arrival into the CLOSED first window: must be dropped
    mem.addData((5L, t("2026-01-01 00:30:00"), "click", 9.0))
    q.processAllAvailable()
    mem.addData((6L, t("2026-01-01 08:00:00"), "view", 5.0))
    q.processAllAvailable()
    val first = spark.sql(
      "select * from evwindows where window.start = '2026-01-01 00:00:00'")
      .collect()
    q.stop()
    assert(first.length === 1, "closed window emits exactly once")
    assert(first(0).getAs[Long]("n_events") === 2L,
      "late row must not be counted")
    assert(first(0).getAs[Double]("sum_value") === 3.0)
  }

  test("stateful streaming dedup suppresses duplicates across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = StreamingIngest.dedupStream(docs)
      .writeStream.format("memory").queryName("dedupstream")
      .outputMode("append").start()
    // batch 1: in-batch duplicate (docs 1 and 2 share text)
    mem.addData((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
    q.processAllAvailable()
    // batch 2: cross-batch duplicate of "gamma" + one new text
    mem.addData((4L, "gamma"), (5L, "delta"))
    q.processAllAvailable()
    val rows = spark.sql("select keep_doc_id from dedupstream")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    // first arrivals only: min-id in batch for in-batch dups, earlier batch
    // wins across batches
    assert(rows === Seq(1L, 3L, 5L))
  }

  test("stream-stream interval join equals the relational interval join " +
    "and evicts matched-out rows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val vm = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cm = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def named(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("event_id", "user_id", "ts")
    val q = StreamingIngest.intervalJoin(named(vm), named(cm),
        horizonMinutes = 120)
      .writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()
    // user 1: view at 00:00, clicks at +30min (in), +121min (OUT — past
    // horizon), and one click BEFORE the view (out). user 2: click with no
    // view. user 1 second view at 01:00 catches the +121min click (=02:01).
    vm.addData((10L, 1L, t("2026-01-01 00:00:00")),
      (11L, 1L, t("2026-01-01 01:00:00")))
    cm.addData((20L, 1L, t("2026-01-01 00:30:00")),
      (21L, 1L, t("2026-01-01 02:01:00")),
      (22L, 1L, t("2025-12-31 23:00:00")),
      (23L, 2L, t("2026-01-01 00:10:00")))
    q.processAllAvailable()
    val got = spark.sql("select view_id, click_id from ivjoin")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // relational truth: view 10 ⋈ click 20 (+30min) ONLY — click 21 is
    // 121min after view 10; view 11 ⋈ clicks 20 (before view? 00:30 <
    // 01:00 → no) and 21 (+61min → yes)
    assert(got === Set((10L, 20L), (11L, 21L)))
  }

  test("intervalJoinOuter: unmatched views flush null-padded once the " +
      "watermark passes their horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val vm = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val cm = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = StreamingIngest.intervalJoinOuter(
        vm.toDF().toDF("event_id", "user_id", "ts"),
        cm.toDF().toDF("event_id", "user_id", "ts"), horizonMinutes = 120)
      .writeStream.format("memory").queryName("ivouter")
      .outputMode("append").start()
    // user 1: view 10 matched by click 20; user 2: view 11 NEVER matched;
    // user 3: view 12's only click is past the horizon → unmatched
    vm.addData((10L, 1L, t("2026-01-01 00:00:00")),
      (11L, 2L, t("2026-01-01 00:05:00")),
      (12L, 3L, t("2026-01-01 00:10:00")))
    cm.addData((20L, 1L, t("2026-01-01 00:30:00")),
      (21L, 3L, t("2026-01-01 05:00:00")))
    q.processAllAvailable()
    // BEFORE the watermark moves, only the inner match may have emitted
    val early = spark.sql("select view_id from ivouter where click_id is null")
    assert(early.count() === 0L, "outer rows must wait for the watermark")
    // sentinel batch on BOTH sides pushes the watermark past every horizon
    vm.addData((90L, -1L, t("2026-02-01 00:00:00")))
    cm.addData((91L, -1L, t("2026-02-01 00:00:00")))
    q.processAllAvailable()
    val got = spark.sql(
        "select view_id, click_id from ivouter where user_id >= 0")
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    q.stop()
    assert(got === Set((10L, 20L), (11L, -1L), (12L, -1L)))
  }
}
