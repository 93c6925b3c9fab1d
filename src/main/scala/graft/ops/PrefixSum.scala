package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The grouped two-pass distributed prefix sum — the single shared engine
  * behind every "global running total without a single-reducer window" in
  * the library ([[TextOps.packOffsetsOf]] token offsets,
  * [[TextOps.budgetCut]] per-source budget lines,
  * [[Sessionize.peakConcurrency]] sweep line,
  * [[ObjPipeline.assignOrdinals]] vertex ordinals — which previously
  * hand-rolled the same pattern four times; r5 verdict item #6).
  *
  * Shape: range-partition by (group ++ order) keys so each group's rows are
  * contiguous and ordered across partitions, window-cumsum LOCALLY per
  * partition (ROWS frame — duplicate order keys keep distinct running
  * values), then close the cross-partition carry with a tiny collected
  * offset table broadcast back. Driver state is O(partitions × groups)
  * rows of (pid, group, offset) — scale bound: fine for grouping columns
  * with up to ~10⁵ distinct values per partition (class names, sources),
  * NOT for per-row groups; the offset scan is a per-group scanLeft over
  * pid-sorted totals, O(k log k) overall in k = driver rows.
  *
  * Materialization discipline built in (r5 items): the range partitioner
  * SAMPLES its child with an RDD-id-derived seed, so the totals job and
  * the final job must see identical bounds — the partitioned frame is
  * materialized once ([[Materialized]]). The pre-exchange input is
  * released as soon as that frame exists; the partitioned frame, which
  * the returned frame reads, belongs to the caller's
  * [[Materialized.scope]]. Unlike persist(), nothing enters the
  * CacheManager, so no per-call cache pins the session or leaks into
  * min-of-reps benchmarks.
  */
object PrefixSum {

  /** Within-group inclusive running sum of `value` over rows ordered by
    * `orderCols` (ties keep distinct running values; which duplicate gets
    * which value is tie-broken by partition order, not semantics).
    * Returns every input column plus `pid` (the range partition id, which
    * callers usually drop) and `cumName` (the running sum, long).
    * `groupCols` may be empty for one global sequence.
    */
  def runningSum(df: DataFrame, groupCols: Seq[String],
                 orderCols: Seq[String], value: Column,
                 cumName: String = "cum"): DataFrame = {
    require(orderCols.nonEmpty, "runningSum needs at least one order column")
    val keyCols = (groupCols ++ orderCols).map(col)
    // r7: checkpoint the INPUT before the range exchange. RangePartitioner
    // SAMPLES its child with a full evaluation pass (a reservoir per
    // partition still computes every row), so an expensive child (a BPE
    // encode, the OBJ corner chain) used to run twice — once for the
    // sample, once for the exchange. The checkpoint makes both passes
    // re-reads of slim materialized blocks.
    val pre = Materialized(df.withColumn("__v", value.cast("long")))
    val sorted =
      try Materialized(pre.df.repartitionByRange(keyCols: _*)
        .withColumn("pid", spark_partition_id())).scoped
      finally pre.release()
    val gCols = groupCols.map(col)
    val totals = sorted.groupBy(col("pid") +: gCols: _*)
      .agg(sum(col("__v")).as("__ptot"))
      .collect()
    // exclusive scan per group over pid-sorted partition totals
    val offRows = totals.toSeq
      .groupBy(_.toSeq.slice(1, 1 + groupCols.size)).toSeq
      .flatMap { case (_, rows) =>
        var acc = 0L
        rows.sortBy(_.getInt(0)).map { r =>
          val o = Row.fromSeq(r.toSeq.dropRight(1) :+ acc)
          acc += r.getLong(r.length - 1)
          o
        }
      }
    val offSchema = StructType(
      StructField("pid", IntegerType, nullable = false) +:
        groupCols.map(c => sorted.schema(c)) :+
        StructField("__off", LongType, nullable = false))
    val offDf = df.sparkSession.createDataFrame(offRows.asJava, offSchema)
    val w = Window.partitionBy((col("pid") +: gCols): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sorted
      .withColumn("__l", sum(col("__v")).over(w))
      .join(broadcast(offDf), "pid" +: groupCols)
      .withColumn(cumName, col("__l") + col("__off"))
      .drop("__v", "__l", "__off")
  }
}
