package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trajectory operators over (walker_id, seq, ts_us, x, y) track tables —
  * the GPS/telemetry side of the geo stack.
  */
object TrajectoryOps {

  /** Stop (dwell) detection: maximal runs of consecutive track points in
    * the same `cellSize` grid cell, kept when they span at least
    * `minPoints` points — the grid-dwell variant of Li et al. 2008
    * stay-points (public), chosen over the radius-scan variant because it
    * is ONE window pass (no sequential per-trajectory cursor): cell
    * assignment is pure column math, run boundaries are a LAG compare,
    * run ids a ROWS-framed running sum — the q88 sessionize skeleton with
    * a spatial predicate. Partitions are per-walker (trajectory-sized,
    * never corpus-sized); everything replays verbatim in SQL.
    *
    * Caller contract: coordinates non-negative (integer `div` floors
    * only match SQL `//` there) and one row per (walker_id, seq).
    */
  def stopDetection(tracks: DataFrame, cellSize: Long,
                    minPoints: Int): DataFrame = {
    val byW = Window.partitionBy("walker_id").orderBy("seq")
    tracks
      .withColumn("cx", expr(s"x div $cellSize"))
      .withColumn("cy", expr(s"y div $cellSize"))
      .withColumn("brk",
        when(lag("cx", 1).over(byW) === col("cx") &&
          lag("cy", 1).over(byW) === col("cy"), 0L).otherwise(1L))
      .withColumn("grp", sum(col("brk")).over(
        byW.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("walker_id", "grp", "cx", "cy")
      .agg(min(col("ts_us")).as("enter_us"), max(col("ts_us")).as("exit_us"),
        count(lit(1)).as("n_points"))
      .where(col("n_points") >= minPoints)
      .select("walker_id", "cx", "cy", "enter_us", "exit_us", "n_points")
  }

  /** Symmetric Hausdorff distance between trajectory pairs — the exact
    * "how far apart do these two tracks ever get" similarity every
    * map-matching / trip-dedup pipeline ranks by. Returns the `k` closest
    * candidate pairs as (track_a, track_b, hausdorff_sq) in exact integer
    * squared units (no sqrt — order-preserving and engine-exact).
    *
    * Semantics: tracks are downsampled to every `sampleEvery`-th point
    * (seq % sampleEvery == 0 — deterministic, the classic
    * simplify-then-compare step); CANDIDATE pairs are those whose point
    * AABBs are within `maxGap` of each other (exact per-axis gap test —
    * the blocking below only generates, never decides, so the result is
    * blocking-independent); for each candidate,
    * hausdorff_sq = max over both directions of
    * max_{p∈A} min_{q∈B} dist²(p,q).
    *
    * Plan shape (the 100 TB story): per-track AABBs are one
    * map-side-combined aggregate; candidates come from covering each
    * maxGap-expanded AABB with `cellSize` cells and equi-joining cover
    * cells (a pair within maxGap shares a covering cell — recall
    * complete), then the exact gap screen. The point-vs-point stage costs
    * |A|·|B| per CANDIDATE pair only — bounded by the sampling rate and
    * the gap screen, never corpus-quadratic — and both min and max are
    * partial aggregates. The final k is TakeOrdered.
    *
    * Caller contract: coordinates ≥ maxGap (integer `div` cover math;
    * checked against the materialized AABBs).
    */
  def hausdorffPairs(tracks: DataFrame, sampleEvery: Long, maxGap: Long,
                     cellSize: Long, k: Int): DataFrame = {
    require(sampleEvery >= 1 && maxGap >= 0 && cellSize >= 1 && k >= 1)
    val pts = Materialized(tracks.where(pmod(col("seq"), lit(sampleEvery)) === 0L)
      .select(col("walker_id"), col("seq"), col("x").cast("long").as("x"),
        col("y").cast("long").as("y"))).scoped // reused: AABBs + both point sides
    val bb = Materialized(pts.groupBy("walker_id").agg(
      min("x").as("mnx"), max("x").as("mxx"),
      min("y").as("mny"), max("y").as("mxy")))
      .scoped // reused: both cover sides + the contract check
    val gmn = bb.agg(min(least(col("mnx"), col("mny")))).head()
    require(gmn.isNullAt(0) || gmn.getLong(0) >= maxGap,
      s"coordinates must be >= maxGap=$maxGap for the cover grid math")

    def cover(df: DataFrame, idAs: String, pre: String,
              pad: Long): DataFrame =
      df.select(col("walker_id").as(idAs),
          col("mnx").as(s"${pre}mnx"), col("mxx").as(s"${pre}mxx"),
          col("mny").as(s"${pre}mny"), col("mxy").as(s"${pre}mxy"))
        .withColumn("cx", explode(sequence(
          expr(s"(${pre}mnx - $pad) div $cellSize"),
          expr(s"(${pre}mxx + $pad) div $cellSize"))))
        .withColumn("cy", explode(sequence(
          expr(s"(${pre}mny - $pad) div $cellSize"),
          expr(s"(${pre}mxy + $pad) div $cellSize"))))
    val gapx = greatest(lit(0L), col("a_mnx") - col("b_mxx"),
      col("b_mnx") - col("a_mxx"))
    val gapy = greatest(lit(0L), col("a_mny") - col("b_mxy"),
      col("b_mny") - col("a_mxy"))
    val cand = cover(bb, "ta", "a_", pad = maxGap)
      .join(cover(bb, "tb", "b_", pad = 0L), Seq("cx", "cy"))
      .where(col("ta") < col("tb"))
      .select("ta", "tb", "a_mnx", "a_mxx", "a_mny", "a_mxy",
        "b_mnx", "b_mxx", "b_mny", "b_mxy")
      .distinct() // a pair can share several cover cells
      .where(gapx * gapx + gapy * gapy <= lit(maxGap * maxGap))
      .select("ta", "tb")

    // both directions; min-per-source-point then max are partial aggs
    val dp = cand.unionByName(
      cand.select(col("tb").as("ta"), col("ta").as("tb")))
    val dm = dp
      .join(pts.select(col("walker_id").as("ta"), col("seq").as("a_seq"),
        col("x").as("ax"), col("y").as("ay")), Seq("ta"))
      .join(pts.select(col("walker_id").as("tb"), col("x").as("bx"),
        col("y").as("by")), Seq("tb"))
      .groupBy("ta", "tb", "a_seq")
      .agg(min((col("ax") - col("bx")) * (col("ax") - col("bx")) +
        (col("ay") - col("by")) * (col("ay") - col("by"))).as("md"))
      .groupBy("ta", "tb").agg(max("md").as("h"))
    dm.select(least(col("ta"), col("tb")).as("track_a"),
        greatest(col("ta"), col("tb")).as("track_b"), col("h"))
      .groupBy("track_a", "track_b").agg(max("h").as("hausdorff_sq"))
      .orderBy(col("hausdorff_sq").asc, col("track_a").asc,
        col("track_b").asc)
      .limit(k)
  }

  /** Depth-capped Douglas-Peucker polyline simplification — the classic
    * track thinning (Douglas & Peucker 1973), run breadth-first for
    * exactly `levels` split rounds (production systems cap the recursion;
    * the cap also makes the op replayable as a fixed CTE chain).
    *
    * Semantics per round, per active segment (s..e): the interior point
    * maximizing the squared chord deviation — cross²(s,e,p) compared
    * against tol²·len²(s,e) in EXACT integers (no division, no sqrt;
    * degenerate s==e chords compare |sp|² against tol²) — splits the
    * segment iff strictly above tolerance; ties break to the smallest
    * seq. Split points are kept (tagged with their round); segments at or
    * below tolerance retire, dropping their interior points. Track
    * endpoints are always kept (round 0).
    *
    * Plan shape: the loop state is one slim frame (walker, seq, x, y,
    * segment endpoints) — interior points of live segments only, which
    * SHRINKS every round (retired segments leave, split points leave);
    * each round is one map-side-combined argmax aggregate (max of a
    * (score, -seq) struct) + one broadcast-sized join of the split table
    * back onto the frame, materialized (iterative discipline).
    * Everything is per-walker — no cross-track data motion at all.
    *
    * Overflow headroom: per-walker coordinate EXTENT e satisfies
    * cross² ≤ (2e²)² — extents to ~1.5e4 with tol ≤ 1e3 stay inside
    * Long; the synth walkers' extent is ~4e3.
    */
  def douglasPeucker(tracks: DataFrame, tol: Long, levels: Int): DataFrame = {
    require(tol >= 0 && levels >= 0)
    val base = Materialized(tracks.select(col("walker_id"), col("seq"),
      col("x").cast("long").as("x"), col("y").cast("long").as("y"))).scoped
    val ends = base.groupBy("walker_id")
      .agg(min("seq").as("s_seq"), max("seq").as("e_seq"))
    val ep = base.select(col("walker_id"), col("seq"), col("x"), col("y"))
    // initial frame: interior points tagged with segment endpoint coords
    var pts = Materialized(base.join(ends, Seq("walker_id"))
      .join(ep.select(col("walker_id"), col("seq").as("s_seq"),
        col("x").as("sx"), col("y").as("sy")), Seq("walker_id", "s_seq"))
      .join(ep.select(col("walker_id"), col("seq").as("e_seq"),
        col("x").as("ex"), col("y").as("ey")), Seq("walker_id", "e_seq"))
      .where(col("seq") > col("s_seq") && col("seq") < col("e_seq"))
      .select("walker_id", "seq", "x", "y", "s_seq", "e_seq",
        "sx", "sy", "ex", "ey")).scoped
    val kept0 = base.join(ends, Seq("walker_id"))
      .where(col("seq") === col("s_seq") || col("seq") === col("e_seq"))
      .select(col("walker_id"), col("seq"), col("x"), col("y"),
        lit(0).as("round_added"))
    var kept = kept0
    val lhs = when(col("len2") === 0L, col("ap2")).otherwise(col("cross2"))
    val rhs = when(col("len2") === 0L, lit(tol * tol))
      .otherwise(lit(tol * tol) * col("len2"))
    for (round <- 1 to levels) {
      val scored = pts
        .withColumn("len2", (col("ex") - col("sx")) * (col("ex") - col("sx"))
          + (col("ey") - col("sy")) * (col("ey") - col("sy")))
        .withColumn("cross2",
          ((col("ex") - col("sx")) * (col("y") - col("sy")) -
            (col("ey") - col("sy")) * (col("x") - col("sx"))) *
          ((col("ex") - col("sx")) * (col("y") - col("sy")) -
            (col("ey") - col("sy")) * (col("x") - col("sx"))))
        .withColumn("ap2", (col("x") - col("sx")) * (col("x") - col("sx"))
          + (col("y") - col("sy")) * (col("y") - col("sy")))
        .withColumn("lhs", lhs).withColumn("rhs", rhs)
      val splits = scored
        .groupBy("walker_id", "s_seq")
        .agg(max(struct(col("lhs"), (-col("seq")).as("nseq"),
          col("seq").as("mseq"), col("x").as("mx"), col("y").as("my"),
          col("rhs").as("mrhs"))).as("m"))
        .where(col("m.lhs") > col("m.mrhs"))
        .select(col("walker_id"), col("s_seq"),
          col("m.mseq").as("m_seq"), col("m.mx").as("m_x"),
          col("m.my").as("m_y"))
      kept = kept.unionByName(splits.select(col("walker_id"),
        col("m_seq").as("seq"), col("m_x").as("x"), col("m_y").as("y"),
        lit(round).as("round_added")))
      // reassign interior points of split segments; retire the rest (the
      // last round's would be read by nothing)
      if (round < levels) pts = Materialized(pts.join(splits, Seq("walker_id", "s_seq"))
        .where(col("seq") =!= col("m_seq"))
        .select(col("walker_id"), col("seq"), col("x"), col("y"),
          when(col("seq") > col("m_seq"), col("m_seq"))
            .otherwise(col("s_seq")).as("s_seq"),
          when(col("seq") < col("m_seq"), col("m_seq"))
            .otherwise(col("e_seq")).as("e_seq"),
          when(col("seq") > col("m_seq"), col("m_x"))
            .otherwise(col("sx")).as("sx"),
          when(col("seq") > col("m_seq"), col("m_y"))
            .otherwise(col("sy")).as("sy"),
          when(col("seq") < col("m_seq"), col("m_x"))
            .otherwise(col("ex")).as("ex"),
          when(col("seq") < col("m_seq"), col("m_y"))
            .otherwise(col("ey")).as("ey"))).scoped
    }
    kept
  }
}
