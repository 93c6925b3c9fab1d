package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Synth

/** Round-5 item #2: per-call materializations (the range-partitioned frames
  * inside `ObjPipeline.assignOrdinals` and `TextOps.packOffsetsOf`) must not
  * pin session memory for the life of the session. They go through
  * [[Materialized]]: inside a [[Materialized.scope]] their blocks are
  * released when the scope exits, and with no scope open they are left to
  * ContextCleaner, which frees them once the frame is GC'd. Neither path
  * is a DataFrame.persist, which would sit in the CacheManager forever
  * (strong ref, plus plan-canonicalization dedup handing rep N's cache to
  * rep N+1 in min-of-reps benchmarks: the round-2 kNN artifact class).
  */
class CacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  // scope the ops in a method so no local retains the checkpointed frames
  private def runOps(): Unit = {
    val counts = spark.range(0, 500).select(
      format_string("doc%04d", col("id")).as("doc_id"),
      (col("id") % 7 + 1).as("n_tokens"))
    assert(TextOps.packOffsetsOf(counts, 64).count() === 500L)
    val surf = Synth.surfaces(spark, 6L).toDF
    val (v, f, _) = ObjPipeline.run(spark, surf, semantics = true)
    assert(v.count() > 0 && f.count() > 0)
  }

  test("inside a scope, assignOrdinals/packOffsets materializations are " +
    "released at scope exit, no GC") {
    // ids only: unscoped checkpoints of other suites may still await a GC
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    var during = Set.empty[Int]
    Materialized.scope {
      runOps()
      during = persisted -- before
    }
    assert(during.nonEmpty, "the ops materialized nothing — probe is vacuous")
    assert((persisted -- before).isEmpty,
      s"materializations outlived their scope: ${persisted -- before}")
  }

  test("assignOrdinals/packOffsets materializations are GC-released, " +
    "never session-pinned") {
    runOps()
    // release CacheManager entries other suites may have parked (their lazy
    // frames recompute on next use); what must then drain to zero is the
    // checkpoint block set — via ContextCleaner's weak refs on GC. A
    // persist-based implementation would keep a strong CacheManager ref and
    // this poll would time out.
    spark.catalog.clearCache()
    // poll the COUNT only: holding getPersistentRDDs' snapshot map across
    // System.gc() would itself strongly pin the RDDs (self-defeating probe)
    def pinnedCount: Int = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.currentTimeMillis() + 60000
    while (pinnedCount > 0 && System.currentTimeMillis() < deadline) {
      System.gc()
      Thread.sleep(250)
    }
    assert(pinnedCount === 0,
      s"per-call materializations still pinned after GC: " +
        spark.sparkContext.getPersistentRDDs.values.map(_.toString).mkString("; "))
  }
}
