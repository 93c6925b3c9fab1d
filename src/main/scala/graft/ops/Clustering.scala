package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed near-dup graph clustering (round-5 item #1): connected
  * components over the union of near-dup edge tables (the q21/q22/q28/q51
  * shapes) and the canonical keep-list every dedup pipeline ends with —
  * "pick one document per component".
  *
  * Algorithm: iterative min-label propagation WITH pointer jumping —
  * each round every vertex takes
  *     l ← min( l(v), min over neighbors u of l(u), l(l(v)) )
  * The neighbor term alone walks one hop per round (O(diameter) rounds);
  * the l(l(v)) jump makes label distances DOUBLE per round once
  * propagation starts, giving O(log diameter) rounds (pinned empirically
  * by ClusteringSpec on chains up to length 1024). Everything is
  * hash-equi-joins on (vertex, label) keys. Every loop of this object
  * runs through [[Materialized.iterate]]: each round's frame is
  * materialized so the self-referencing lineage truncates, the round's
  * change count is observed by that same job, and round n−1's blocks are
  * released once round n exists.
  *
  * Invariants: labels are always ids of vertices in the SAME component
  * (initial l(v)=v; both update terms adopt labels from the component), and
  * l(v) ≤ v monotonically decreases, bounded by the component min — so the
  * fixed point (no label changed) has every vertex at its component min.
  *
  * 100 TB notes: per round the shuffled state is two slim (id, label)
  * columns — payloads never enter the loop; edges are checkpointed once and
  * re-joined per round. Round count is log-bounded by the near-dup graph
  * diameter, which for dedup graphs is small (near-dup chains of length
  * 2^k need k pathological intermediate documents).
  */
object Clustering {

  /** Connected components of the undirected graph (`vertices` ∪ edge
    * endpoints, `edges`). `vertices` needs column `idCol`; `edges` needs
    * `aCol`/`bCol` of the same type (numeric or string — anything with a
    * total order under `least`). Returns (idCol, component) with component
    * = min id in the component.
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
                          idCol: String = "doc_id", aCol: String = "doc_a",
                          bCol: String = "doc_b",
                          maxRounds: Int = 64): DataFrame =
    connectedComponentsWithRounds(vertices, edges, idCol, aCol, bCol,
      maxRounds)._1

  /** [[connectedComponents]] plus the number of label-propagation rounds it
    * took to converge (exposed for the O(log diameter) bound spec).
    */
  def connectedComponentsWithRounds(vertices: DataFrame, edges: DataFrame,
                                    idCol: String = "doc_id",
                                    aCol: String = "doc_a",
                                    bCol: String = "doc_b",
                                    maxRounds: Int = 64): (DataFrame, Int) = {
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
    // symmetric closure, materialized once — re-read every round
    val sym = Materialized(e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct())
    // vertex set ∪ edge endpoints: a dangling endpoint still clusters
    val verts = vertices.select(col(idCol).as("v"))
      .unionByName(sym.df.select(col("a").as("v"))).distinct()
    val (labels, rounds, converged) =
      try Materialized.iterate(
        verts.select(col("v"), col("v").as("l"), lit(false).as("changed")),
        maxRounds, Seq(count_if(col("changed")).as("changed")),
        done = (_, next) => next.observed("changed") == 0L) { labels =>
        // min neighbor label per vertex
        val nbr = sym.df
          .join(labels.df.select(col("v").as("a"), col("l").as("al")), Seq("a"))
          .groupBy(col("b").as("v")).agg(min(col("al")).as("nl"))
        // r7: carry the round's starting label `l` through l1 instead of
        // re-joining `labels` at the end — one fewer shuffle join per
        // round. l1 is materialized so its self-join (the pointer jump)
        // reads blocks instead of aggregating the neighbors twice.
        val l1 = Materialized(labels.df.join(nbr, Seq("v"), "left")
          .select(col("v"), col("l"),
            least(col("l"), coalesce(col("nl"), col("l"))).as("l1"))).scoped
        // pointer jump: adopt the label OF the label (labels are vertex
        // ids, so l1 self-joins as the lookup table)
        val l2 = least(col("l1"), coalesce(col("ll"), col("l1")))
        Some(l1.join(l1.select(col("v").as("lv"), col("l1").as("ll")),
            col("l1") === col("lv"), "left")
          .select(col("v"), l2.as("l"), (l2 =!= col("l")).as("changed")))
      } finally sym.release()
    if (!converged) labels.release()
    require(converged, s"label propagation did not converge in $maxRounds rounds")
    (labels.scoped.select(col("v").as(idCol), col("l").as("component")), rounds)
  }

  /** Canonical keep-list: every vertex with its component and the keep flag
    * (keep = the component's min id — deterministic, engine-independent).
    * Downstream: `where(is_keep)` is the deduplicated corpus; joining the
    * component column back tags every dropped doc with its surviving
    * representative.
    */
  def keepList(vertices: DataFrame, edges: DataFrame,
               idCol: String = "doc_id", aCol: String = "doc_a",
               bCol: String = "doc_b"): DataFrame =
    connectedComponents(vertices, edges, idCol, aCol, bCol)
      .withColumn("is_keep", col(idCol) === col("component"))

  /** Canonicalization by QUALITY: per near-dup component keep the
    * best-`scoreCol` vertex (ties → smallest id) instead of the arbitrary
    * min-id representative — "keep the longest / highest-quality copy",
    * which is what production dedup pipelines actually do with a cluster.
    *
    * The argmax is a `max_by(id, struct(score, -id))` PARTIAL aggregate,
    * not a per-component window: a degenerate giant component (the
    * hot-bucket corpus) costs a map-side combine, never a single-reducer
    * sort. Returns (id, component, score, keep_id, is_keep).
    */
  def keepListBy(vertices: DataFrame, scores: DataFrame, edges: DataFrame,
                 scoreCol: String = "score", idCol: String = "doc_id",
                 aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val comp = connectedComponents(vertices, edges, idCol, aCol, bCol)
      .join(scores.select(col(idCol), col(scoreCol)), Seq(idCol))
    val best = comp.groupBy(col("component")).agg(
      max_by(col(idCol),
        struct(col(scoreCol), (col(idCol) * lit(-1)).as("neg")))
        .as(s"keep_$idCol"))
    comp.join(best, Seq("component"))
      .withColumn("is_keep", col(idCol) === col(s"keep_$idCol"))
      .select(col(idCol), col("component"), col(scoreCol),
        col(s"keep_$idCol"), col("is_keep"))
  }

  /** Deterministic integer PageRank with a FIXED iteration count — the
    * link-graph quality signal a web-crawl corpus pipeline attaches to
    * pages (rank-as-quality-weight, the classic crawl-filtering side
    * input).
    *
    * All arithmetic is INTEGER: ranks live in `scale` micro-units
    * (initial mass `scale div n` each), an edge carries
    * `rank_u div out_degree`, and the damped update is
    * `(15*scale div 100) div n + (85 * inflow) div 100`. Integer sums are
    * order-independent, so the result is bit-identical across engines,
    * partitionings, and reruns — the q103 oracle unrolls the same five
    * iterations as a SQL CTE chain. Truncation "leaks" < 1 unit per edge
    * per round (the documented leaked-mass variant); a dangling vertex
    * keeps only its base mass.
    *
    * Plan shape per iteration: ONE hash equi-join of the slim (id, rank)
    * frame onto the out-degree-annotated edge table + one
    * map-side-combined groupBy(dst) sum, materialized by
    * [[Materialized.iterate]] for exactly `iters` rounds; the edge table
    * is materialized once outside the loop.
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int,
               idCol: String = "id", srcCol: String = "src",
               dstCol: String = "dst",
               scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 0 && scale > 0, "iters >= 0, scale > 0")
    val verts = Materialized(vertices.select(col(idCol).cast("long").as("v"))
      .distinct())
    val n = verts.rows
    require(n > 0, "pageRank needs at least one vertex")
    val e = Materialized(edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")))
    val withDeg =
      try Materialized(e.df
        .join(e.df.groupBy("src").agg(count(lit(1)).as("odeg")), Seq("src")))
      finally e.release()
    // driver-side Long division == SQL integer `div` for non-negative
    // operands — the oracle carries the identical base literal chain
    val base = (scale * 15L / 100L) / n
    val (ranks, _, _) =
      try Materialized.iterate(verts.df.withColumn("rank_u", lit(scale / n)),
        iters) { ranks =>
        val inflow = withDeg.df
          .join(ranks.df.withColumnRenamed("v", "src"), Seq("src"))
          .select(col("dst").as("v"), expr("rank_u div odeg").as("c"))
          .groupBy("v").agg(sum(col("c")).as("s"))
        Some(verts.df.join(inflow, Seq("v"), "left")
          .select(col("v"),
            (lit(base) + expr("(85 * coalesce(s, 0)) div 100")).as("rank_u")))
      } finally { verts.release(); withDeg.release() }
    ranks.scoped.select(col("v").as(idCol), col("rank_u"))
  }

  /** Single-source shortest paths by synchronous Bellman-Ford relaxation
    * rounds to a FIXPOINT (deterministic: integer weights, min-reduce) —
    * the route-cost/traversal op of the road-graph stack next to
    * [[pageRank]] and [[connectedComponents]]. Each round is one hash
    * equi-join of the slim reached-set onto the edge table, a union, and
    * a map-side-combined min, materialized by [[Materialized.iterate]];
    * the fixpoint test reads the reached count and distance sum that the
    * same job observes. Rounds needed = longest
    * shortest-path hop count (≤ the graph's hop diameter on a DAG);
    * `maxRounds` is a safety bound. At cluster scale the same plan
    * delta-steps by partitioning the frontier — a scheduling change, not
    * a plan change. Unreached vertices emit no row.
    */
  def shortestPaths(edges: DataFrame, sourceId: Long,
                    maxRounds: Int): DataFrame = {
    val spark = edges.sparkSession
    val e = Materialized(edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"), col("w").cast("long").as("w")))
    // a round changed nothing exactly when the reached count and the
    // distance sum (decimal(38,0): no overflow) both held, since per vertex
    // dist never rises and the reached set never shrinks
    val (dist, _, _) =
      try Materialized.iterate(
        spark.range(1).select(lit(sourceId).as("v"), lit(0L).as("dist")), maxRounds,
        Seq(sum(col("dist").cast("decimal(38,0)")).as("dist_sum")),
        done = (p, n) => n.rows == p.rows &&
          n.observed("dist_sum") == p.observed("dist_sum")) { dist =>
        Some(e.df
          .join(dist.df.withColumnRenamed("v", "src")
            .withColumnRenamed("dist", "ds"), Seq("src"))
          .select(col("dst").as("v"), (col("ds") + col("w")).as("dist"))
          .unionByName(dist.df)
          .groupBy("v").agg(min(col("dist")).as("dist")))
      } finally e.release()
    dist.scoped.select(col("v"), col("dist"))
  }

  /** k-core decomposition (round 6): the maximal subgraph in which every
    * vertex keeps degree ≥ k, by iterative peeling (Matula–Beck /
    * Batagelj–Zaveršnik, public) — the standard "strip spam shells off
    * the link graph" curation signal. Returns (`v`, `deg`) for the
    * vertices of the k-core with their WITHIN-CORE degrees.
    *
    * Plan shape: the symmetric edge frame SHRINKS monotonically — per
    * round one map-side-combined degree count, one semi-join style
    * double filter (both endpoints surviving), one materialization
    * ([[Materialized.iterate]]) to truncate the self-referencing lineage
    * (the peel reads its predecessor three times: unpinned, the plan tree
    * grows 3^rounds); round count ≤ peel depth (≤ longest degeneracy
    * chain, small on real graphs). Payloads never enter the loop; the
    * loop stops when a round's measured edge count holds, or at once on
    * an empty edge set.
    * Peeling is monotone, so extra rounds past the fixpoint are no-ops —
    * the property the gate oracle's fixed-depth CTE replay relies on.
    */
  def kCore(edges: DataFrame, k: Int, aCol: String = "a",
            bCol: String = "b", maxRounds: Int = 64): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .where(col("a") =!= col("b"))
    // SERIALIZED storage: a deserialized 2-long row costs ~5× its
    // UnsafeRow bytes in heap — at 10M-vertex peels that difference is the
    // difference between fitting and a task-level heap OOM
    val (sym, _, _) = Materialized.iterate(
      e0.unionByName(e0.select(col("b").as("a"), col("a").as("b"))).distinct(),
      maxRounds, level = Some(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER),
      done = (p, n) => n.rows == p.rows) { sym =>
      if (sym.rows == 0) None
      else {
        val keep = sym.df.groupBy("a").agg(count(lit(1)).as("deg"))
          .where(col("deg") >= k.toLong).select("a")
        Some(sym.df.join(keep, Seq("a"))
          .join(keep.select(col("a").as("b")), Seq("b"))
          .select(col("a"), col("b")))
      }
    }
    sym.scoped.groupBy(col("a").as("v")).agg(count(lit(1)).as("deg"))
  }

  /** Exact per-vertex triangle counts — the compact-forward / degree-
    * orientation algorithm (Chiba–Nishizeki / Schank–Wagner, public):
    * orient every undirected edge from its (degree, id)-smaller endpoint
    * to the larger, enumerate wedges as self-join pairs of OUT-edges
    * sharing their apex, and close each wedge against the canonical edge
    * table. The apex of a triangle is its unique (degree, id)-minimum
    * corner, so every triangle is generated exactly once — no dedup pass.
    *
    * 100 TB shape: degree orientation bounds every out-degree by
    * O(√m), so the wedge self-join — the only super-linear site — emits
    * Σ outdeg² = O(m^1.5) rows worst-case and far fewer on real
    * power-law graphs (the heavy hub's edges all point INTO it, so the
    * hub never fans out wedges — the skew story handled by construction,
    * not salting). Everything else is hash equi-joins and one
    * map-side-combined count; per-vertex output only for corners of ≥1
    * triangle (join back against the vertex table for zeros).
    *
    * Returns (`v`, `n_tri`), one row per vertex appearing in ≥1 triangle.
    */
  def triangleCounts(edges: DataFrame, aCol: String = "a",
                     bCol: String = "b"): DataFrame = {
    // canonical undirected edge set: a < b, loops dropped, deduped —
    // reused by the orientation AND as the wedge-closing probe side
    val e = Materialized(edges.select(
        least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()).scoped
    val deg = e.select(col("a").as("v"))
      .unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient by the total order (deg, v): src strictly smaller
    val or = Materialized(e
      .join(deg.select(col("v").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("deg").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("a")).otherwise(col("b")).as("src"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")),
          col("b")).otherwise(col("a")).as("dst"))).scoped // reused: both wedge sides
    // wedges (u, w) with u < w out of a shared apex; closing edge is then
    // canonical (u, w) — one equi-join against e decides it
    val wedges = or.select(col("src"), col("dst").as("u"))
      .join(or.select(col("src"), col("dst").as("w")), Seq("src"))
      .where(col("u") < col("w"))
    val tris = wedges
      .join(e, wedges("u") === e("a") && wedges("w") === e("b"))
      .select(col("src"), col("u"), col("w"))
    tris.select(explode(array(col("src"), col("u"), col("w"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
  }
}
