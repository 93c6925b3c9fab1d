package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Round-6: k-core decomposition (q168). Pins (a) brute-force peel
  * agreement (survivor set AND within-core degrees) on seeded random
  * graphs across several k, (b) the cascade case (everything peels),
  * (c) k=1 (loops/dups normalized, every edged vertex survives),
  * (d) a hand chain+clique fixture, (e) partition invariance, (f) an
  * empty edge set.
  */
class KCoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(edges: Seq[(Long, Long)], k: Int,
                  parts: Int = 4): Map[Long, Long] =
    Clustering.kCore(
        spark.createDataset(edges).repartition(parts).toDF("a", "b"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def brute(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var es = edges.filter(p => p._1 != p._2)
      .flatMap(p => Seq(p, p.swap)).distinct.toSet
    var changed = true
    while (changed) {
      val deg = es.groupBy(_._1).map { case (v, g) => v -> g.size }
      val keep = deg.filter(_._2 >= k).keySet
      val es2 = es.filter(p => keep(p._1) && keep(p._2))
      changed = es2.size < es.size
      es = es2
    }
    es.groupBy(_._1).map { case (v, g) => v -> g.size.toLong }
  }

  test("chain + clique: the chain peels, the clique survives") {
    // path 10-11-12-13 hanging off a K4 (0,1,2,3)
    val e = (for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)) ++
      Seq((3L, 10L), (10L, 11L), (11L, 12L), (12L, 13L))
    assert(run(e, 3) === Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L))
    assert(run(e, 4) === Map.empty)
  }

  test("brute-force agreement on seeded random graphs") {
    val rnd = new scala.util.Random(19)
    for (trial <- 1 to 4; k <- Seq(1, 2, 3)) {
      val n = 25 + trial * 8
      val edges = Seq.fill(n * 2)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(run(edges, k) === brute(edges, k), s"trial $trial k=$k")
    }
  }

  test("k=1 keeps every vertex with a real (non-loop) edge") {
    val e = Seq((1L, 2L), (2L, 1L), (3L, 3L), (4L, 5L))
    assert(run(e, 1) === Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("an empty edge set (or only loops) has an empty core") {
    assert(run(Seq.empty, 1) === Map.empty)
    assert(run(Seq((7L, 7L)), 1) === Map.empty)
  }

  test("partition invariance") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    assert(run(edges, 3, parts = 1) === run(edges, 3, parts = 11))
  }
}
