package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.expr.GeomFunctions._
import graft.ops.SpatialOps

/** Structured-Streaming ingest for the image table (optional per SURVEY.md
  * §2.10 — the reference is strictly batch; this is the engine's
  * incremental-ingest path, not a parity item).
  *
  * readStream (new image files landing in a directory / any source the
  * caller binds) → anchor + cell encode (same expressions as batch) →
  * watermarked per-cell windowed counts → sink. The batch and streaming
  * paths share every operator, so per-cell counts agree with the batch
  * engine on the same rows (asserted in StreamingSpec).
  */
object StreamingIngest {

  /** Cell-encode a (possibly streaming) image frame: identical logic to the
    * batch path — anchors from phash, Morton cell at the join level.
    */
  def encodeCells(images: DataFrame, nBuildings: Long): DataFrame =
    SpatialOps.imageCells(graft.model.Synth.withAnchors(images, nBuildings))

  /** Watermarked sliding-window per-cell arrival counts: the streaming
    * metrics feed (1-minute windows, 2-minute watermark for late rows).
    */
  def cellCounts(imagesWithTs: DataFrame, nBuildings: Long): DataFrame =
    encodeCells(imagesWithTs, nBuildings)
      .withWatermark("event_time", "2 minutes")
      .groupBy(window(col("event_time"), "1 minute"), col("cell_id"))
      .agg(count(lit(1)).as("n_images"))

  /** Watermarked tumbling-window event aggregation (the metrics leg of the
    * streaming surface): hourly counts + exact-decimal value sums per
    * event type. In append mode the 1-hour watermark bounds state (closed
    * windows evict and emit); the q72 gate replays it in complete mode so
    * the full result is deterministic single-run, and the DuckDB oracle
    * recomputes it as a batch date_trunc group-by — streaming and batch
    * MUST agree window for window (the sum goes through the same
    * DECIMAL(28,6) cast as the batch dsum discipline, so doubles match
    * bit-for-bit).
    */
  def eventWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("sum_value"))

  /** Native session windows (Spark's `session_window` operator — the
    * streaming counterpart of the batch `ops.Sessionize`): a session keeps
    * absorbing events while each next event arrives strictly inside
    * `gap` of the previous one; at `gap` or beyond a new session opens
    * (note `>=` close vs the batch op's `>` — both gated, semantics
    * documented). The watermark bounds state in append mode; the q95 gate
    * replays in complete mode for single-run determinism, value sums
    * through the DECIMAL(28,6) discipline.
    */
  def sessionWindows(events: DataFrame, gap: String): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("val_sum"))

  /** Streaming exact dedup with CUSTOM STATE (training-pipeline op): keyed
    * by content hash via `flatMapGroupsWithState` — the first arrival of a
    * hash is emitted, every later duplicate (same batch or any later batch)
    * is suppressed by the per-key boolean state. At scale the state store
    * is partitioned by the hash key, so memory per executor is bounded by
    * its key share; pair with a TTL timeout when the dedup horizon is
    * finite.
    */
  def dedupStream(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.streaming.GroupStateTimeout
    import org.apache.spark.sql.streaming.GroupState
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").cast("long"), md5(col("text")).as("text_hash"))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Boolean, (Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            // deterministic representative within the batch: min doc_id
            Iterator.single(rows.minBy(_._1))
          }
      }
      .toDF("keep_doc_id", "text_hash")
  }

  /** Stream-stream event-time interval join — the remaining core
    * Structured Streaming capability next to windowed aggs
    * ([[eventWindowCounts]]), session windows ([[sessionWindows]]), and
    * stateful dedup ([[dedupStream]]): views ⋈ clicks of the SAME user
    * with the click inside [view_ts, view_ts + horizon]. Both sides carry
    * watermarks and the join condition bounds event time on BOTH sides,
    * so the state store evicts rows once they can no longer match —
    * state per executor is bounded by (watermark + horizon) of stream
    * volume, not by stream length. Inner join in append mode emits each
    * matched pair exactly once (the q101 gate replays the events table
    * through two file streams in a single AvailableNow batch, so the
    * append result is deterministic and equals the relational join).
    */
  def intervalJoin(views: DataFrame, clicks: DataFrame,
                   horizonMinutes: Int,
                   watermark: String = "1 hour"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"), col("user_id"),
      col("ts").as("view_ts")).withWatermark("view_ts", watermark)
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c, expr(
      s"""user_id = click_user AND
          click_ts >= view_ts AND
          click_ts <= view_ts + interval $horizonMinutes minutes"""))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** LEFT OUTER stream-stream interval join (round 6) — the stateful
    * shape [[intervalJoin]] cannot express: a view with NO click inside
    * its horizon must still emit, null-padded, and in a stream that can
    * only happen once the watermark proves no matching click can ever
    * arrive. State is evicted (and the outer row emitted) when the
    * watermark passes view_ts + horizon; until then the row waits in the
    * join state store — bounded by (watermark delay + horizon) of stream
    * volume, never stream length.
    *
    * Determinism protocol (the q169 gate): outer rows flush only on a
    * micro-batch AFTER the watermark advances past them, so the replay
    * feeds a far-future SENTINEL row on both sides in a SECOND batch
    * (maxFilesPerTrigger=1) — every real view then expires before the
    * query terminates and the result equals the relational LEFT JOIN
    * exactly. The sentinel pair joins itself and is filtered by key
    * afterwards.
    */
  def intervalJoinOuter(views: DataFrame, clicks: DataFrame,
                        horizonMinutes: Int,
                        watermark: String = "1 hour"): DataFrame = {
    val v = views.select(col("event_id").as("view_id"), col("user_id"),
      col("ts").as("view_ts")).withWatermark("view_ts", watermark)
    val c = clicks.select(col("event_id").as("click_id"),
      col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c, expr(
      s"""user_id = click_user AND
          click_ts >= view_ts AND
          click_ts <= view_ts + interval $horizonMinutes minutes"""),
      "left_outer")
      .select(col("user_id"), col("view_id"), col("click_id"))
  }
}
