package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sessionization (the clickstream/telemetry operator between raw events
  * and any per-session analytics): split each user's event stream at gaps
  * larger than `gapUs` microseconds, number sessions by the running gap
  * count, aggregate per session.
  *
  * 100 TB design: ONE hash exchange on user_id does all the work — the
  * lag, the boundary flag, the running session number, and the final
  * per-session aggregate all share that partitioning (the groupBy keys
  * start with user_id, so Catalyst reuses the exchange instead of
  * reshuffling). Timestamps are compared as integer epoch microseconds —
  * no timezone or calendar math on the hot path.
  */
object Sessionize {

  /** Per-event session assignment: (user_id, event_id, ts_us, session_id).
    * `ROWS`-framed running sum with an event_id tiebreak, so duplicate
    * timestamps can't merge or split sessions nondeterministically.
    */
  def assign(events: DataFrame, gapUs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"))
      .withColumn("prev_us", lag(col("ts_us"), 1).over(w))
      .withColumn("boundary",
        col("prev_us").isNotNull && col("ts_us") - col("prev_us") > gapUs)
      .withColumn("session_id",
        sum(col("boundary").cast("long")).over(run))
      .drop("prev_us", "boundary")
  }

  /** Per-session rollup: event count, exact id sum, duration in
    * microseconds, value sum as DECIMAL(28,6) (order-independent exact
    * addition — double sums reassociate under partitioning).
    */
  def sessions(events: DataFrame, gapUs: Long): DataFrame =
    assign(events, gapUs)
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("val_sum"))

  /** First-touch funnel analysis (the product-analytics staple — e.g.
    * view → click → purchase within a horizon): per user, step 1 anchors
    * at the EARLIEST step-1 event, each later step at the earliest
    * qualifying event strictly after the previous step, and every step
    * must land within `horizonUs` of the anchor (first-touch semantics —
    * the industry default; a later anchor is never retried). Per step:
    * users reached and the exact summed anchor lag. Each stage is one
    * filtered aggregate joined forward — per-user partitions, integer
    * epoch-microsecond arithmetic, no windows over the raw event stream.
    */
  def funnel(events: DataFrame, steps: Seq[String],
             horizonUs: Long): DataFrame = {
    require(steps.nonEmpty, "at least one funnel step")
    val m = Materialized(events.select(col("user_id"), col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("us"))) // scanned once per step
    val e = m.df
    val spark = events.sparkSession
    import spark.implicits._
    var reached = e.where(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("us")).as("t1"))
      .withColumn("tPrev", col("t1"))
    var out = Seq((1L, steps.head,
      reached.count(),
      0L))
    try steps.zipWithIndex.drop(1).foreach { case (step, i) =>
      reached = e.where(col("event_type") === step)
        .join(reached, Seq("user_id"))
        .where(col("us") > col("tPrev"))
        .groupBy(col("user_id"), col("t1"))
        .agg(min(col("us")).as("tCur"))
        .where(col("tCur") - col("t1") <= horizonUs)
        .withColumn("tPrev", col("tCur"))
      val r = reached.agg(count(lit(1)), sum(col("tCur") - col("t1")))
        .head()
      out = out :+ ((i + 1L), step, r.getLong(0),
        if (r.isNullAt(1)) 0L else r.getLong(1))
    } finally m.release()
    out.toDF("step", "step_name", "n_users", "lag_us_sum")
  }

  /** Retention cohort matrix (the product-analytics companion of
    * [[funnel]]): users cohorted by the epoch-week of their FIRST
    * `anchorType` event, activity = any event in a later epoch-week;
    * one row per (cohort_week, week_offset) with the retained-user
    * count. Epoch weeks are integer floor-divisions of epoch days —
    * engine-identical, no calendar library. Plan: one tiny cohort
    * aggregate broadcast onto the distinct (user, week) activity set.
    */
  def retentionCohorts(events: DataFrame, anchorType: String): DataFrame = {
    val e = Materialized(events.select(col("user_id"),
      col("event_type"),
      unix_micros(col("ts").cast("timestamp")).as("us"))).scoped
    val cohort = e.where(col("event_type") === anchorType)
      .groupBy("user_id")
      .agg(expr("min(us) div 604800000000").as("cohort_week"))
    val active = e.select(col("user_id"),
      expr("us div 604800000000").as("week")).distinct()
    // r7: no forced broadcast — the cohort table is one row per USER
    // (data-sized at web scale); AQE broadcasts it when actually small.
    active.join(cohort, Seq("user_id"))
      .where(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"),
        (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Event-type transition matrix (session path analysis): within each
    * [[assign]]-style ordering (per user, by time with the event_id
    * tiebreak), count consecutive event-type bigrams — the Markov-chain
    * statistics behind next-action prediction and bot detection. One
    * window pass, partial-aggregated counts.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    events.select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("next_type", lead("event_type", 1).over(byUser))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Time-weighted value integral per user (the TWAP/telemetry
    * aggregation): each event's `value` is held until the next event
    * (time + event_id order); emitted as the EXACT pair (numerator =
    * Σ value·hold_us in DECIMAL micros — order-independent, the q88
    * discipline — and denominator = total held time), never as a
    * floating division. One window pass, per-user partitions.
    */
  def timeWeightedValue(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    events.select(col("user_id"), col("event_id"),
        col("value").cast("decimal(18,6)").as("v"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("next_us", lead("us", 1).over(byUser))
      .where(col("next_us").isNotNull)
      .withColumn("hold_us", col("next_us") - col("us"))
      .groupBy("user_id")
      // exact DECIMAL sum presented as scale-6 TEXT: a double cast
      // rounds differently per engine at 1e14 magnitudes (1-ulp diffs,
      // measured), while both engines print decimals scale-preserving
      .agg(sum(col("v") * col("hold_us")).cast("decimal(28,6)")
          .cast("string").as("vt_sum"),
        sum(col("hold_us")).as("hold_us_sum"),
        count(lit(1)).as("n_holds"))
  }

  /** Peak session concurrency (capacity planning's sweep-line op): +1 at
    * each session start, −1 just after its inclusive end, boundaries
    * GROUPED PER TIMESTAMP so the running state is permutation-
    * independent (the peak candidate at a timestamp is the state after
    * its starts and before its ends), and the global running sum is the
    * budgetCut two-pass — range partition, local ROWS window, broadcast
    * per-partition totals — never one reducer over the boundary stream.
    * Returns ONE row: (peak, peak_us = earliest peak instant,
    * n_sessions).
    */
  def peakConcurrency(events: DataFrame, gapUs: Long): DataFrame = {
    val sess = assign(events, gapUs)
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"))
    val bounds = sess
      .select(col("start_us").as("us"), lit(1L).as("p"), lit(0L).as("m"))
      .unionByName(sess.select((col("end_us") + 1L).as("us"),
        lit(0L).as("p"), lit(1L).as("m")))
      .groupBy("us").agg(sum(col("p")).as("plus"), sum(col("m")).as("minus"))
    val spark = events.sparkSession
    import spark.implicits._
    val cum = PrefixSum
      .runningSum(bounds, Nil, Seq("us"), col("plus") - col("minus"), "cumv")
      .withColumn("cand", col("cumv") + col("minus"))
    val peak = cum.agg(max(col("cand"))).head().getLong(0)
    val peakUs = cum.where(col("cand") === peak)
      .agg(min(col("us"))).head().getLong(0)
    val nSess = sess.count()
    Seq((peak, peakUs, nSess)).toDF("peak", "peak_us", "n_sessions")
  }

  /** Deterministic A/B exposure assignment + sample-ratio-mismatch check
    * (the experimentation-platform gate op): users bucket by a seeded
    * md5 hash (no RNG state — same user, same variant, any engine or
    * rerun), per-variant reached/converted counts, and the 1-df
    * chi-square SRM statistic in nano units against the 50/50 design —
    * flagged at the 95% critical value 3.841. Counts are exact; the
    * statistic's doubles are built only from exact integers.
    */
  def abSrmCheck(events: DataFrame, convertType: String): DataFrame = {
    val users = events.groupBy("user_id")
      .agg(max(when(col("event_type") === convertType, 1L)
        .otherwise(0L)).as("converted"))
      .withColumn("variant", pmod(
        conv(substring(md5(concat(lit("ab1"),
          col("user_id").cast("string"))), 1, 15), 16, 10).cast("long"),
        lit(2L)))
    val per = users.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converted"))
    val Seq(nTotal) =
      per.agg(sum(col("n_users"))).collect().map(_.getLong(0)).toSeq
    val exp = nTotal.toDouble / 2.0
    per.withColumn("chi2_nano",
        round((((col("n_users") - exp) * (col("n_users") - exp)) / exp)
          .multiply(2.0) * 1e9, 0).cast("long"))
      .withColumn("srm", col("chi2_nano") > 3841000000L)
  }
}
