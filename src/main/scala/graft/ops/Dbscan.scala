package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed DBSCAN over integer-coordinate 2-D points — the density
  * clustering a geospatial curation pipeline runs on GPS fixes, POI dumps
  * and image anchor clouds (cluster = "place", noise = junk fixes).
  *
  * Semantics (classic DBSCAN, Ester et al. 1996, deterministic variant):
  *   - neighbor: dist²(p,q) ≤ eps² (inclusive), exact INTEGER math;
  *   - core: |N_eps(p)| ≥ minPts, where N includes p itself;
  *   - cluster: connected component of the core-core eps-graph, labeled
  *     by its minimum core point id (engine-independent canonical label);
  *   - border: non-core point with ≥1 core neighbor — assigned the MIN
  *     cluster label among its core neighbors (the classic algorithm
  *     assigns "whichever core reached it first", which is scan-order
  *     dependent; min-label is the deterministic refinement, so the
  *     result is partition- and engine-invariant);
  *   - noise: everything else, cluster = -1.
  *
  * Plan shape (the 100 TB story): one cell-grid equi-join produces every
  * eps-pair exactly once per direction — the LEFT side explodes to its
  * 3×3 neighbor ring (cell side = eps ⇒ recall-complete), the RIGHT side
  * keys by its own cell, so no pair dedup pass is needed. Neighbor counts
  * and border assignment are map-side-combinable aggregates over that
  * pair stream; the only iteration is the pointer-jumping label
  * propagation ([[Clustering.connectedComponents]], O(log diameter)
  * rounds over two slim columns). Nothing is all-pairs: a uniform-density
  * corpus yields O(n · points-per-cell) pair rows. Degenerate dense cells
  * (everything in one eps-box) make the pair join quadratic IN THAT CELL —
  * the same hot-bucket story as HammingBlocking; at that density the
  * answer itself is quadratic-sized evidence, and the cap/salting
  * machinery there applies if needed.
  *
  * Coordinates must be non-negative (integer `div` grid math — the
  * synth layers' [0, 2^20) contract); eps² must fit a long (eps < 2^31).
  */
object Dbscan {

  /** Run DBSCAN. `points` needs (`idCol`: long, `x`: long, `y`: long),
    * non-negative coordinates. Returns (idCol, role, cluster) with role in
    * {'core','border','noise'} and cluster = min core id of the component
    * (-1 for noise), one row per input point.
    */
  def dbscan(points: DataFrame, eps: Long, minPts: Int,
             idCol: String = "point_id"): DataFrame = {
    require(eps > 0, "eps must be positive")
    require(eps < (1L << 31), "eps^2 must fit a long")
    require(minPts >= 1, "minPts must be >= 1")
    // reused by three joins below — materialize once; dead once `roles`
    // (the last of them) exists
    val pts = Materialized(points.select(col(idCol).cast("long").as("pid"),
      col("x").cast("long").as("x"), col("y").cast("long").as("y")))

    // cell grid with side = eps: every eps-pair lands in the 3×3 ring
    val cellOf = (cx: String, cy: String) =>
      expr(s"($cx div $eps) * 4194304 + ($cy div $eps)")
    val rhs = pts.df.select(col("pid").as("qid"), col("x").as("qx"),
      col("y").as("qy"), cellOf("x", "y").as("cell"))
    val ring = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      expr(s"((x div $eps) + $dx) * 4194304 + ((y div $eps) + $dy)")): _*)
    val lhs = pts.df.select(col("pid"), col("x"), col("y"),
      explode(ring).as("cell"))

    // every directed eps-pair exactly once (rhs is keyed by its OWN cell)
    val pairs = Materialized(lhs.join(rhs, Seq("cell"))
      .where(col("pid") =!= col("qid") &&
        (col("x") - col("qx")) * (col("x") - col("qx")) +
          (col("y") - col("qy")) * (col("y") - col("qy")) <= lit(eps * eps))
      .select(col("pid"), col("qid")))
      .scoped // reused by counts, core edges, border assignment

    // |N_eps(p)| including p itself — a map-side-combined count
    val nbrCount = pairs.groupBy("pid").agg(count(lit(1)).as("nn"))
    val roles =
      try Materialized(pts.df.join(nbrCount, Seq("pid"), "left")
        .select(col("pid"),
          (coalesce(col("nn"), lit(0L)) + 1L >= minPts.toLong).as("is_core"))).scoped
      finally pts.release()

    val corePids = roles.where(col("is_core")).select(col("pid"))
    // core-core eps-edges, canonical direction (components symmetrize)
    val coreEdges = pairs
      .join(corePids, Seq("pid"))
      .join(corePids.select(col("pid").as("qid")), Seq("qid"))
      .where(col("pid") < col("qid"))
      .select(col("pid").as("a"), col("qid").as("b"))
    val comp = Clustering.connectedComponents(
      corePids.select(col("pid").as("doc_id")), coreEdges,
      idCol = "doc_id", aCol = "a", bCol = "b")
      .select(col("doc_id").as("pid"), col("component").as("core_cluster"))

    // border: min core-neighbor cluster (deterministic tie resolution)
    val borderAssign = pairs
      .join(comp.select(col("pid").as("qid"),
        col("core_cluster").as("q_cluster")), Seq("qid"))
      .groupBy("pid").agg(min(col("q_cluster")).as("border_cluster"))

    roles
      .join(comp, Seq("pid"), "left")
      .join(borderAssign, Seq("pid"), "left")
      .select(col("pid").as(idCol),
        when(col("is_core"), lit("core"))
          .when(col("border_cluster").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        coalesce(col("core_cluster"),
          when(!col("is_core"), col("border_cluster")),
          lit(-1L)).as("cluster"))
  }
}
