package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Shortest paths (q135). Pins (a) Dijkstra equality on the seeded road
  * grid, (b) hand graphs — a shorter multi-hop detour beats the direct
  * edge; unreachable vertices emit nothing, (c) fixpoint termination well
  * under maxRounds, and no early stop when a round lowers a distance
  * without reaching a new vertex, (d) partition invariance.
  */
class ShortestPathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(edges: Seq[(Long, Long, Long)], src: Long,
                  parts: Int = 4): Map[Long, Long] =
    Clustering.shortestPaths(
      edges.toDF("src", "dst", "w").repartition(parts), src, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def dijkstra(edges: Seq[(Long, Long, Long)],
                       src: Long): Map[Long, Long] = {
    val adj = edges.groupBy(_._1)
      .map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
    val dist = scala.collection.mutable.Map(src -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, src))(
      Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d == dist(u))
        adj.getOrElse(u, Seq.empty).foreach { case (v, w) =>
          if (!dist.contains(v) || d + w < dist(v)) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
        }
    }
    dist.toMap
  }

  test("hand graph: multi-hop detour beats the direct edge") {
    val edges = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 3L, 1L),
      (3L, 1L, 1L), (4L, 5L, 1L)) // 4→5 unreachable from 0
    val got = run(edges, 0L)
    assert(got === Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 2L))
  }

  test("a round that only lowers a distance is not the fixpoint") {
    // rounds 1-2 reach 1 at 10 and 4 at 11 over the direct edge; round 3
    // lowers 1 to 3 through the detour and reaches nothing new (same
    // reached count); only round 4 carries the lower distance on to 4
    val edges = Seq((0L, 1L, 10L), (0L, 2L, 1L), (2L, 3L, 1L), (3L, 1L, 1L),
      (1L, 4L, 1L))
    assert(run(edges, 0L) === Map(0L -> 0L, 1L -> 3L, 2L -> 1L, 3L -> 2L, 4L -> 4L))
    assert(run(edges, 0L) === dijkstra(edges, 0L))
  }

  test("matches Dijkstra on the seeded road grid") {
    val edges = graft.SparkEntry.synthGridEdges(spark, 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(edges, 0L) === dijkstra(edges, 0L))
  }

  test("matches Dijkstra on a random non-DAG graph") {
    val rnd = new scala.util.Random(23)
    val edges = (0 until 400).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong,
        (1 + rnd.nextInt(20)).toLong)).filter(e => e._1 != e._2)
    assert(run(edges, 0L) === dijkstra(edges, 0L))
  }

  test("partition invariance") {
    val edges = graft.SparkEntry.synthGridEdges(spark, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run(edges, 0L, 3) === run(edges, 0L, 17))
  }
}
