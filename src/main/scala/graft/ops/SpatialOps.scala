package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.GeomFunctions._

/** Spark-first spatial operators (SURVEY.md §2.6/§2.9): triangulate → cell
  * cover → salted equi-join on cell_id → exact PIP refinement; kNN via
  * neighbor-ring cells + window top-k. All DataFrame/Dataset API; shuffles
  * only at the declared joins/windows; joins key on `cell_id` so Catalyst
  * plans hash joins and AQE can split residual skew.
  */
object SpatialOps {

  /** Join/tiling cell level: 64 m cells (Cells.World / 2^14). House blocks
    * are 50 m pitch, so a triangle AABB touches ≤ 4 cells and an anchor point
    * exactly 1 — bounded fan-out at any scale.
    */
  final val JoinLevel = 14

  /** kNN candidate level: 64 m cells. Round 1 of the exact expansion loop
    * probes the cover of [anchor ± 64 m] (≤ 3×3 cells, ~10 buildings in the
    * synth city); probes whose k-th candidate isn't provably final expand —
    * see [[knnAssign]]. Coarser levels bloat the per-probe candidate
    * list, which is what dominates kNN cost at scale.
    */
  final val KnnLevel = 14

  /** surfaces → one row per triangle (O-36 + explode). Keeps lineage columns
    * for the OBJ emission-order contract; the optional `-a` material columns
    * pass through when present (columnar lineage — never a re-attach join).
    */
  def triangles(surfaces: DataFrame): DataFrame = {
    val extra = Seq("material_all", "material_cls", "component")
      .filter(surfaces.columns.contains(_)).map(col)
    surfaces
      .withColumn("tris", ear_clip(col("ext"), col("holes")))
      .select(Seq(col("building_id"), col("surface_id"), col("surface_class"),
        col("building_ord"), col("poly_ord")) ++ extra :+
        posexplode(col("tris")).as(Seq("tri_idx", "tri")): _*)
  }

  /** Triangle rows → (cell_id, triangle) pairs at `level` via AABB cover
    * (O-56). Exact refinement happens in the join predicate, so cover
    * looseness costs probe work only, never correctness.
    */
  def triangleCells(tris: DataFrame, level: Int = JoinLevel): DataFrame = {
    val xs = array(col("tri.a.x"), col("tri.b.x"), col("tri.c.x"))
    val ys = array(col("tri.a.y"), col("tri.b.y"), col("tri.c.y"))
    tris
      .withColumn("cells", cell_cover(
        array_min(xs), array_min(ys), array_max(xs), array_max(ys), lit(level)))
      .withColumn("cell_id", explode(col("cells")))
      .drop("cells")
  }

  /** images (+anchor_x/anchor_y) → cell_id at `level` (O-55, codegen'd). */
  def imageCells(images: DataFrame, level: Int = JoinLevel): DataFrame =
    images.withColumn("cell_id",
      cell_encode(col("anchor_x"), col("anchor_y"), lit(level)))

  /** Point-in-polygon spatial join (O-38): images × triangulated surfaces.
    *
    * Stage 1 — equi-join on cell_id. Stage 2 — exact PIP refinement.
    * Salting (O-58): the triangle side (small) is replicated `salt` ways and
    * the image side (huge, skewed: hot downtown cells) is split by
    * `pmod(xxhash64(image_id), salt)`, so one hot cell fans across `salt`
    * reducers. Default salt = 1: salting only helps SHUFFLE joins — when the
    * build side broadcasts (the common case), replication just inflates the
    * driver-built hashed relation (measured 2.1 s vs 1.4 s). Callers opt in
    * with salt > 1 at forced-shuffle-join sites (see Bench's
    * spatial_join_shuffle_salted). Row counts are invariant in `salt`
    * (asserted in tests).
    */
  def spatialJoin(imagesWithCells: DataFrame, triCells: DataFrame,
                  salt: Int = 1): DataFrame = {
    // salt = 1 fast path (r7): pmod(xxhash64(id), 1) is constantly 0 and
    // explode(sequence(0, 0)) replicates nothing — the salt column is pure
    // per-row overhead (an xxhash64 per probe row plus a second join key)
    // that the optimizer cannot fold away. Join on cell_id alone; output
    // rows are identical (salt was dropped anyway).
    if (salt <= 1) {
      imagesWithCells.join(triCells, Seq("cell_id"))
        .where(pip_contains(col("anchor_x"), col("anchor_y"), col("tri")))
    } else {
      val probe = imagesWithCells
        .withColumn("salt", pmod(xxhash64(col("image_id")), lit(salt.toLong)).cast("int"))
      val build = triCells
        .withColumn("salt", explode(sequence(lit(0), lit(salt - 1))))
      probe.join(build, Seq("cell_id", "salt"))
        .where(pip_contains(col("anchor_x"), col("anchor_y"), col("tri")))
        .drop("salt")
    }
  }

  /** Per-cell join-output materialization counts (O-47) — the north rule's
    * acceptance metric table.
    */
  def cellCounts(joined: DataFrame): DataFrame =
    joined.groupBy("cell_id").agg(
      count(lit(1)).as("n_matches"),
      countDistinct(col("image_id")).as("n_images"),
      countDistinct(col("surface_id")).as("n_surfaces"))

  /** Surface centroids (anchor of the kNN metric), with their cell at
    * `level`. Centroid = arithmetic mean over ALL exterior ring points (the
    * stored ring including closure), matching the reference's centroid
    * contract (polygon3dmodule.py:338-348).
    */
  private[graft] def surfaceCentroids(surfaces: DataFrame, level: Int): DataFrame =
    surfaces.select(
      col("surface_id"), col("building_id"), col("surface_class"),
      (aggregate(col("ext"), lit(0.0), (acc, p) => acc + p.getField("x")) /
        size(col("ext"))).as("cx"),
      (aggregate(col("ext"), lit(0.0), (acc, p) => acc + p.getField("y")) /
        size(col("ext"))).as("cy"))
      .withColumn("knn_cell", cell_encode(col("cx"), col("cy"), lit(level)))

  /** Candidate rows for one expansion round: probe the cell cover of the
    * square [anchor ± reach] and carry `safe` — the exact distance from the
    * anchor to the border of the EXPLORED region (domain borders count as
    * explored: no cell, hence no centroid, lies outside the domain).
    * A probe's top-k is provably exact once its k-th candidate distance is
    * strictly below `safe`: every unexplored centroid is ≥ `safe` away.
    */
  /** Z-order parent-cell column: morton(ix >> d, iy >> d) == morton >> 2d,
    * so coarsening a cell key is two shifts and an OR (same bit math as
    * Cells.parent, kept columnar so it rides inside whole-stage codegen).
    */
  private def parentCellCol(cell: Column, fromLevel: Int, toLevel: Int): Column =
    if (toLevel == fromLevel) cell
    else shiftleft(lit(toLevel.toLong), 2 * graft.geom.Cells.MaxLevel).bitwiseOR(
      shiftright(cell.bitwiseAND(lit((1L << (2 * graft.geom.Cells.MaxLevel)) - 1)),
        2 * (fromLevel - toLevel)))

  private[graft] def knnRoundCandidates(probes: DataFrame, cents: DataFrame,
                                        reach: Double, roundLevel: Int,
                                        baseLevel: Int): DataFrame = {
    val size = graft.geom.Cells.sizeAt(roundLevel)
    val world = graft.geom.Cells.World.toDouble
    val big = lit(Double.MaxValue)
    val xlo = floor((col("anchor_x") - reach) / size) * size
    val xhi = (floor((col("anchor_x") + reach) / size) + 1) * size
    val ylo = floor((col("anchor_y") - reach) / size) * size
    val yhi = (floor((col("anchor_y") + reach) / size) + 1) * size
    val safe = least(
      when(xlo <= 0.0, big).otherwise(col("anchor_x") - xlo),
      when(xhi >= world, big).otherwise(xhi - col("anchor_x")),
      when(ylo <= 0.0, big).otherwise(col("anchor_y") - ylo),
      when(yhi >= world, big).otherwise(yhi - col("anchor_y")))
    val dx = col("anchor_x") - col("cx")
    val dy = col("anchor_y") - col("cy")
    // centroid keys coarsen to the round's level via parent bit math — the
    // probe side's cover stays a ~3×3 equi-join key set at EVERY reach, so
    // no round ever degenerates to a cross/nested-loop join
    // only (surface_id, cx, cy) ride into the candidate stream — the heavy
    // lineage columns (building_id, surface_class) re-attach AFTER top-k
    // prunes ~100 candidates/probe down to k (the sort/exchange then moves
    // ~40% fewer bytes; the re-join exchanges only k·|probes| rows)
    // r7: roundLevel may now be FINER than the centroid base level (the
    // round-0 tight cover below) — re-encode the centroid key at the round
    // level then (36k-row projection, not a corpus cost); coarser levels
    // keep the parent bit shift.
    val roundKey =
      if (roundLevel <= baseLevel)
        parentCellCol(col("knn_cell"), baseLevel, roundLevel)
      else cell_encode(col("cx"), col("cy"), lit(roundLevel))
    val centsAtLevel = cents
      .select(col("surface_id"), col("cx"), col("cy"),
        roundKey.as("round_cell"))
    // dist < safe pre-filter (r7): provably result-identical top-k pruning.
    // A probe RESOLVES iff its k-th candidate distance is strictly below
    // `safe`; the k smallest distances of the unfiltered set are then all
    // < safe, so top-k over {dist < safe} equals top-k overall for every
    // resolved probe, and ≥k surviving candidates ⟺ kth < safe — the
    // resolution decision is unchanged too (unresolved probes' rows are
    // never used; safe = ∞ in the whole-domain round keeps everything).
    // Effect: the window/sort input drops from |covered centroids| (~100
    // rows/probe) to the few candidates actually inside the explored
    // square — ~10-20× less sorted+shuffled volume, zero result change.
    probes
      .withColumn("safe", safe)
      .withColumn("round_cell", explode(cell_cover(
        col("anchor_x") - reach, col("anchor_y") - reach,
        col("anchor_x") + reach, col("anchor_y") + reach, lit(roundLevel))))
      .join(centsAtLevel, Seq("round_cell"))
      .withColumn("dist", sqrt(dx * dx + dy * dy))
      .where(col("dist") < col("safe"))
  }

  /** Top-k per probe over candidate rows: a window ranked by
    * (dist, surface_id), a total order, so the output is deterministic at
    * any parallelism.
    */
  private[graft] def knnTopK(cands0: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r7 (guide §2.3: explicit project before the exchange): only the four
    // columns the top-k consumes enter the sort + window shuffle — the
    // probe anchors, centroid coords and the join cell would otherwise
    // ride along (the optimizer does not always insert the pruning
    // projection below a Window).
    val cands = cands0.select(col("image_id"), col("surface_id"),
      col("dist"), col("safe"))
    val w = Window.partitionBy(col("image_id"))
      .orderBy(col("dist").asc, col("surface_id").asc)
    cands.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("image_id"), col("rk"), col("surface_id"),
        col("dist"), col("safe"))
  }

  /** One ladder round of the last [[knnAssign]] run: round index, cell
    * level, reach in meters, stragglers REMAINING after the round, and the
    * round's wall-clock seconds. Bench and Profile embed these in their
    * JSON so an outlier knn record is self-explaining (a round-5 knn
    * minimum sat 25% above its expected band on co-tenant noise alone,
    * and nothing in the JSON could say which round absorbed the stall).
    */
  final case class KnnRound(round: Int, level: Int, reach: Double,
                            remaining: Long, sec: Double)

  /** Ladder diagnostics of the most recent [[knnAssign]] call
    * (volatile snapshot — read it right after the call returns; concurrent
    * kNN runs overwrite each other, which Bench's serial reps never do).
    */
  @volatile var lastKnnRounds: Seq[KnnRound] = Nil

  /** kNN nearest-surface assignment (O-39/O-53), EXACT by construction and
    * TERMINATION-COMPLETE — no brute-force tail, no cross join, ever.
    *
    * A fixed neighbor ring silently returns wrong answers once the true
    * k-th neighbor lies past the ring (a 3×3 ring at 64 m cells guarantees
    * only ~64 m reach from an edge anchor, not 128 m). Instead: iterative
    * ring expansion — probe the cell cover of [anchor ± reach], keep a
    * probe's top-k only when its k-th candidate distance is strictly below
    * the distance to the unexplored boundary (`safe`), quadruple `reach`
    * for the unresolved probes. Each round the candidate CELL LEVEL coarsens
    * by 2 (parent-cell bit shift on the centroid key), so the probe-side
    * cover stays a ~3×3 key set at any reach and every round remains a hash
    * equi-join — a probe cluster kilometers from any surface (empty regions
    * at 100× domain scale) costs O(stragglers × local density) per round,
    * never |stragglers| × |centroids| except in the provably-final
    * whole-domain round (level 0: one cell, still an equi-join). Once the
    * explored square covers the whole domain, `safe` = ∞ and every probe
    * with ≥1 candidate resolves (a world with fewer than k centroids yields
    * all of them); probes with zero candidates anywhere yield no rows.
    * Cost at scale: round 1 is the bounded 3×3 fan-out and resolves ~all
    * probes; later rounds touch only stragglers, so exchange volume stays
    * ~k·|images|. Per-round driver actions are O(1) aggregates, never data
    * collects.
    *
    * The returned frame is persisted and already materialized (the loop's
    * round caches are dropped eagerly once the union is computed); callers
    * issuing many kNN calls should `unpersist()` the result when done.
    */
  def knnAssign(imagesWithAnchors: DataFrame, surfaces: DataFrame,
                k: Int = 3, level: Int = KnnLevel): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val cellSize = graft.geom.Cells.sizeAt(level)
    val world = graft.geom.Cells.World.toDouble
    // reach schedule: half a cell (2×2 cover — the cheap pass that resolves
    // the bulk), one cell (3×3), then ×4 per round with the cell level
    // coarsening in lockstep (cover stays ~3×3 keys at any reach). Rounds
    // until reach ≥ world — by then the cover square spans the whole domain
    // and everything resolves.
    val rounds = (math.ceil(
      math.log(world / cellSize) / math.log(4.0)).toInt + 3).max(2)
    // r7: one slim (surface_id, lineage, cx, cy, cell) table, checkpointed —
    // every round's candidate broadcast and every per-round meta re-attach
    // used to re-scan the surfaces source and re-run the centroid folds
    // (~2 scans per round). The table is one row per surface.
    val cents = surfaceCentroids(surfaces, level).localCheckpoint()
    // lineage columns re-attach AFTER top-k (see knnRoundCandidates): the
    // meta side is one row per surface, joined against only k·|done| rows
    val meta = cents.select(col("surface_id"), col("building_id"),
      col("surface_class"))
    val out = col("image_id") :: col("rk") :: col("surface_id") ::
      col("building_id") :: col("surface_class") ::
      round(col("dist"), 6).as("dist") :: Nil
    // round-0 probes keep their (flat) input lineage — checkpointing the
    // full probe set up front would write |images| rows for nothing
    var remaining = imagesWithAnchors
      .select(col("image_id"), col("anchor_x"), col("anchor_y"))
    val rankedCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // round 1 always runs (an empty probe set just yields empty rounds);
    // only the post-round straggler counts — tiny — are materialized
    var nRemaining = Long.MaxValue
    val results = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val ladder = scala.collection.mutable.ArrayBuffer.empty[KnnRound]
    var reach = cellSize / 2
    var roundNo = 0
    while (roundNo < rounds && nRemaining > 0) {
      val tRound = System.nanoTime()
      // r7: round 0 probes at ONE LEVEL FINER than the base grid — the
      // cover of [anchor ± half a base cell] at half-size cells is a ~3×3
      // key set whose union square is ~(1.5 base cells)² instead of the
      // (2 base cells)² of the base-level 2×2 cover, so the bulk round
      // enumerates ~45% fewer (probe, centroid) pairs and the explored
      // border sits closer (safe still ≥ reach: xlo = floor((x−r)/s)·s
      // ≤ x−r for any cell size s, so correctness and the resolve rule
      // are untouched — only how much is explored per round changes,
      // which the exactness proof already parameterizes over).
      val roundLevel =
        if (roundNo == 0) math.min(level + 1, graft.geom.Cells.MaxLevel)
        else math.max(0, level - 2 * (roundNo - 1))
      val ranked = knnTopK(
        knnRoundCandidates(remaining, cents, reach, roundLevel, level),
        k).persist(StorageLevel.MEMORY_AND_DISK)
      rankedCaches += ranked
      // resolved = provably-exact top-k (kth strictly inside the explored
      // square) OR the explored square is the whole domain (safe = ∞): then
      // whatever was found IS the global answer, even if fewer than k rows
      val doneIds = ranked.groupBy(col("image_id"))
        .agg(count(lit(1)).as("n"), max(col("dist")).as("kth"),
          min(col("safe")).as("safe_min"))
        .where((col("n") >= k && col("kth") < col("safe_min")) ||
          col("safe_min") === lit(Double.MaxValue))
        .select(col("image_id"))
      // localCheckpoint (not persist): each straggler set derives from the
      // previous round's full plan, so lineage must be TRUNCATED per round
      // or the logical tree compounds ~3× per round (3^9 nodes by the
      // whole-domain round — analysis itself OOMs). The checkpointed sets
      // are tiny (unresolved probes only); blocks free on GC.
      remaining = remaining.join(doneIds, Seq("image_id"), "left_anti")
        .localCheckpoint() // eager: materializes AND truncates lineage
      nRemaining = remaining.count()
      // r7: the round's resolved rows = ranked MINUS the new straggler set
      // (ranked only holds probes probed this round, so anti-join against
      // `remaining` ≡ semi-join against doneIds — same rows). The straggler
      // set is checkpointed, tiny, and EXACTLY COUNTED (nRemaining), so it
      // broadcasts under a measured gate instead of shuffling the k·|done|
      // ranked rows by image_id for a semi-join; past the gate (a
      // pathological straggler flood) the plain shuffle anti-join stands.
      val resolvedFrom =
        if (nRemaining <= 4000000L && nRemaining > 0)
          ranked.join(broadcast(remaining.select(col("image_id"))),
            Seq("image_id"), "left_anti")
        else if (nRemaining == 0L) ranked
        else ranked.join(remaining.select(col("image_id")),
          Seq("image_id"), "left_anti")
      // meta (lineage) re-attaches ONCE over the final union, not per
      // round — joining after the union is row-identical (an equi-join
      // distributes over union) and builds one broadcast instead of one
      // per round.
      results += resolvedFrom
      ladder += KnnRound(roundNo, roundLevel, reach, nRemaining,
        (System.nanoTime() - tRound) / 1e9)
      reach *= (if (roundNo == 0) 2 else 4) // 0.5, 1, 4, 16, … cells
      roundNo += 1
    }
    val union = results
      .map(_.select(col("image_id"), col("rk"), col("surface_id"),
        col("dist"), col("safe")))
      .reduce(_.unionByName(_))
      .join(meta, Seq("surface_id")).select(out: _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    union.count() // materialize so every per-round cache can be freed NOW
    lastKnnRounds = ladder.toSeq
    rankedCaches.foreach(_.unpersist(blocking = false))
    union
  }

  /** Bounding box + buffer (O-43): per-building AABB over exterior points of
    * the five structural classes, buffered ±3 m (code wins over README's 2 m,
    * componentseparationmodule.py:103-109).
    */
  def buildingBBoxes(surfaces: DataFrame, buffer: Double = 3.0): DataFrame = {
    val pts = surfaces
      .where(col("surface_class").isin(
        "GroundSurface", "WallSurface", "RoofSurface", "ClosureSurface", "CeilingSurface"))
      .select(col("building_id"), explode(col("ext")).as("p"))
    pts.groupBy("building_id").agg(
      (min(col("p.x")) - buffer).as("xmin"), (max(col("p.x")) + buffer).as("xmax"),
      (min(col("p.y")) - buffer).as("ymin"), (max(col("p.y")) + buffer).as("ymax"),
      (min(col("p.z")) - buffer).as("zmin"), (max(col("p.z")) + buffer).as("zmax"))
  }

  /** Range/interval membership join (O-40): anchors × buffered bboxes.
    * Pre-filtered by a coarse cell equi-join so the theta residual never
    * degenerates to a cross product at scale.
    */
  def bboxJoin(imagesWithAnchors: DataFrame, bboxes: DataFrame,
               level: Int = KnnLevel): DataFrame = {
    val b = bboxes.withColumn("cells", cell_cover(
        col("xmin"), col("ymin"), col("xmax"), col("ymax"), lit(level)))
      .withColumn("bb_cell", explode(col("cells"))).drop("cells")
    val p = imagesWithAnchors.withColumn("bb_cell",
      cell_encode(col("anchor_x"), col("anchor_y"), lit(level)))
    p.join(b, Seq("bb_cell"))
      .where(col("anchor_x").between(col("xmin"), col("xmax")) &&
             col("anchor_y").between(col("ymin"), col("ymax")))
      .drop("bb_cell")
  }

  /** Spatial hot-spot detection (the Getis-Ord-style window-density
    * screen): bucket points into a cw-sized grid, then flag every occupied
    * cell whose 3×3-window count exceeds `k`× the mean density of occupied
    * cells. The decision is EXACT integer cross-multiplication
    * (n_window · n_cells > 9k · n_points) — no float z-score, so the flag
    * is bit-stable across engines and partitionings.
    *
    * Plan: one partial-aggregated groupBy over the points (the only
    * point-sized pass); the neighbor sum explodes CELL-COUNT rows 9× (cell
    * table, orders of magnitude smaller than the points) into one
    * equi-join; totals are a 2-scalar driver collect. The inner join back
    * to occupied cells drops window rows centered on empty cells.
    */
  def hotSpots(points: DataFrame, xCol: String = "anchor_x",
               yCol: String = "anchor_y", cw: Double = 16.0,
               k: Long = 4L): DataFrame = {
    val cells = points.select(
        floor(col(xCol) / lit(cw)).cast("long").as("cx"),
        floor(col(yCol) / lit(cw)).cast("long").as("cy"))
      .groupBy("cx", "cy").agg(count(lit(1)).as("n_self"))
      .localCheckpoint() // reused thrice: totals, neighbor explode, join
    val tot = cells.agg(sum(col("n_self")), count(lit(1))).head()
    val (nPoints, nCells) = (tot.getLong(0), tot.getLong(1))
    val nbr = cells
      .select(col("cx").as("bx"), col("cy").as("by"),
        col("n_self").as("c"))
      .withColumn("dx", explode(array((-1 to 1).map(lit(_)): _*)))
      .withColumn("dy", explode(array((-1 to 1).map(lit(_)): _*)))
      .select((col("bx") + col("dx")).as("cx"),
        (col("by") + col("dy")).as("cy"), col("c"))
      .groupBy("cx", "cy").agg(sum(col("c")).as("n_window"))
    cells.join(nbr, Seq("cx", "cy"))
      .withColumn("is_hot",
        col("n_window") * lit(nCells) > lit(9L * k) * lit(nPoints))
      .select("cx", "cy", "n_self", "n_window", "is_hot")
  }

  /** Per-(triangle, cell) EXACT clipped areas — the kernel of the q109
    * vector→raster transfer. Input rows carry flat 2D corners
    * (ax, ay, bx, by, cx, cy) plus any passthrough columns; output adds
    * (gx, gy, ar) where ar = round(area(triangle ∩ cell rect), 6) for
    * every `cs`-sized grid cell the triangle's bbox spans. The four
    * Sutherland-Hodgman half-plane clips and the shoelace run as ONE
    * dialect-abstracted codegen'd expression chain
    * ([[graft.OracleSql.shClip]]/[[graft.OracleSql.shArea]] with
    * spark = true) — the DuckDB oracle renders the same template, so the
    * intersection float math is bit-identical across engines. No UDF, no
    * shuffle: pure per-row column math after a bbox-bounded explode.
    */
  def clipCellAreas(tri2d: DataFrame, cs: Double = 16.0): DataFrame = {
    val O = graft.OracleSql
    tri2d
      .withColumn("gx0",
        floor(least(col("ax"), col("bx"), col("cx")) / cs).cast("long"))
      .withColumn("gx1",
        floor(greatest(col("ax"), col("bx"), col("cx")) / cs).cast("long"))
      .withColumn("gy0",
        floor(least(col("ay"), col("by"), col("cy")) / cs).cast("long"))
      .withColumn("gy1",
        floor(greatest(col("ay"), col("by"), col("cy")) / cs).cast("long"))
      .withColumn("gx", explode(sequence(col("gx0"), col("gx1"))))
      .withColumn("gy", explode(sequence(col("gy0"), col("gy1"))))
      .withColumn("rx0", col("gx") * cs)
      .withColumn("rx1", (col("gx") + 1) * cs)
      .withColumn("ry0", col("gy") * cs)
      .withColumn("ry1", (col("gy") + 1) * cs)
      .withColumn("p0", array(
        struct(col("ax").as("x"), col("ay").as("y")),
        struct(col("bx").as("x"), col("by").as("y")),
        struct(col("cx").as("x"), col("cy").as("y"))))
      .withColumn("p1", expr(O.shClip("p0", 'x', isMin = true, "rx0",
        spark = true)))
      .withColumn("p2", expr(O.shClip("p1", 'x', isMin = false, "rx1",
        spark = true)))
      .withColumn("p3", expr(O.shClip("p2", 'y', isMin = true, "ry0",
        spark = true)))
      .withColumn("p4", expr(O.shClip("p3", 'y', isMin = false, "ry1",
        spark = true)))
      .withColumn("ar",
        round(expr(O.shArea("p4", spark = true)), 6) + lit(0.0))
      .drop("gx0", "gx1", "gy0", "gy1", "rx0", "rx1", "ry0", "ry1",
        "p0", "p1", "p2", "p3", "p4")
  }

  /** Vector→raster area transfer rollup: per grid cell, the number of
    * triangles contributing positive clipped area and the exact
    * DECIMAL(28,6) sum of the per-pair rounded areas (order-independent).
    * Σ over a triangle's cells equals its area — conservation is pinned by
    * ClipTransferSpec.
    */
  def clipTransfer(tri2d: DataFrame, cs: Double = 16.0): DataFrame =
    clipCellAreas(tri2d, cs)
      .groupBy("gx", "gy").agg(
        sum(when(col("ar") > 0, 1L).otherwise(0L)).as("n_tris"),
        sum(col("ar").cast("decimal(28,6)")).as("dsum"))
      .where(col("n_tris") > 0)
      .select(col("gx"), col("gy"), col("n_tris"),
        (round(col("dsum").cast("double"), 6) + lit(0.0)).as("area_sum"))

  /** O-43 corner triangles: 8 unit-edge triangles at the buffered bbox
    * corners (componentseparationmodule.py:13-33, 225-241) — emitted as
    * triangle rows compatible with the OBJ writers.
    */
  def cornerTriangles(bboxes: DataFrame): DataFrame = {
    def corner(cx: org.apache.spark.sql.Column, cy: org.apache.spark.sql.Column,
               cz: org.apache.spark.sql.Column,
               sx: Int, sy: Int) = struct(
      struct(cx.as("x"), cy.as("y"), cz.as("z")).as("a"),
      struct((cx + sx).as("x"), cy.as("y"), cz.as("z")).as("b"),
      struct(cx.as("x"), (cy + sy).as("y"), cz.as("z")).as("c"))
    val tris = array(
      corner(col("xmin"), col("ymin"), col("zmin"), 1, 1),
      corner(col("xmax"), col("ymin"), col("zmin"), -1, 1),
      corner(col("xmin"), col("ymax"), col("zmin"), 1, -1),
      corner(col("xmax"), col("ymax"), col("zmin"), -1, -1),
      corner(col("xmin"), col("ymin"), col("zmax"), 1, 1),
      corner(col("xmax"), col("ymin"), col("zmax"), -1, 1),
      corner(col("xmin"), col("ymax"), col("zmax"), 1, -1),
      corner(col("xmax"), col("ymax"), col("zmax"), -1, -1))
    bboxes.select(col("building_id"), posexplode(tris).as(Seq("tri_idx", "tri")))
  }

  /** O-46 window-approximation hulls (`-appW`). Default = PER OPENING,
    * matching the reference, which hulls each Window/Door polygon separately
    * and writes one component per opening
    * (componentseparationmodule.py:533-544) — a per-row hull expression, no
    * shuffle at all. `perOpening = false` pools all opening points per
    * building (round-1 behavior, kept as an option; one groupBy shuffle).
    */
  def windowHulls(surfaces: DataFrame, perOpening: Boolean = true): DataFrame = {
    import graft.expr.GeomFunctions._
    val openings = surfaces.where(col("surface_class").isin("Window", "Door"))
    if (perOpening)
      openings
        .withColumn("tris", hull_3d(col("ext")))
        .select(col("building_id"), col("surface_id"),
          posexplode(col("tris")).as(Seq("tri_idx", "tri")))
    else
      openings
        .select(col("building_id"), explode(col("ext")).as("p"))
        .groupBy("building_id")
        .agg(collect_list(col("p")).as("pts"))
        .withColumn("tris", hull_3d(col("pts")))
        .select(col("building_id"), lit("pooled").as("surface_id"),
          posexplode(col("tris")).as(Seq("tri_idx", "tri")))
  }

  /** Geohash base32 encoding (public standard: Niemeyer 2008) as PURE
    * column math — bit-interleaved lon/lat quantization, longitude first,
    * then 5-bit groups through the geohash alphabet. `chars` ∈ [1, 8]
    * (8 chars = 40 bits = 20 per axis). Everything is shifts/ands/ors over
    * codegen'd built-ins (the q84 spread16 discipline) — no UDF — and the
    * oracle replays every bit in SQL.
    *
    * Geohash vs the engine's Morton cells: same space-filling idea, but
    * geohash's STRING form is the interop surface real pipelines partition
    * and prefix-filter by — a shared prefix of k chars bounds both axes,
    * so prefix rollups are locality rollups.
    */
  def geohashEncode(lon: Column, lat: Column, chars: Int): Column = {
    require(chars >= 1 && chars <= 8, s"chars must be in [1, 8], got $chars")
    val xn = floor((lon + lit(180.0)) / lit(360.0) * lit(1048576.0))
      .cast("long")
    val yn = floor((lat + lit(90.0)) / lit(180.0) * lit(1048576.0))
      .cast("long")
    // clamp the closed upper edge (lon = 180 / lat = 90) into the last cell
    val xc = least(xn, lit((1L << 20) - 1))
    val yc = least(yn, lit((1L << 20) - 1))
    // bit k of the 40-bit value (MSB first): even positions take lon bits
    // 19..0, odd positions lat bits 19..0
    val inter = (0 until 20).foldLeft(lit(0L)) { (acc, k) =>
      acc
        .bitwiseOR(shiftleft(
          shiftright(xc, 19 - k).bitwiseAND(lit(1L)), 39 - 2 * k))
        .bitwiseOR(shiftleft(
          shiftright(yc, 19 - k).bitwiseAND(lit(1L)), 38 - 2 * k))
    }
    val alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    val arr = array(alphabet.map(c => lit(c.toString)): _*)
    concat((0 until chars).map { i =>
      element_at(arr,
        (shiftright(inter, 35 - 5 * i).bitwiseAND(lit(31L)) + lit(1L))
          .cast("int"))
    }: _*)
  }

  /** Great-circle (haversine) radius join — the geodesic twin of the
    * planar bbox/PIP joins: all point pairs within `radiusM` meters on the
    * sphere, rolled up per point. Blocking is a `gridDeg` lon/lat grid
    * with a latitude-adaptive neighbor ring: `dy` spans ±1 (REQUIRE:
    * `gridDeg` ≥ the radius in degrees of meridian arc, checked against
    * the worst-case 1°≈110.574 km minor arc), while `dx` widens per probe
    * row as sec(latitude) — one degree of LONGITUDE spans 111320·cos(lat)
    * meters, so a fixed ±1 lon ring under-covers past the latitude where
    * the radius exceeds one lon cell (r5 ADVICE). The per-row bound uses
    * the row's own |lat|+gridDeg (a true pair's |Δlat| ≤ gridDeg by the
    * require, so that bounds the partner too) against a 105 km/deg
    * constant whose ~5% slack absorbs asin curvature for
    * radiusM/cos(maxAbsLat) up to ~500 km. Unsupported envelope (both
    * documented, neither reachable by current callers): |lat| >
    * 89°−gridDeg (the sec clamp at 89° could under-cover) and the ±180°
    * antimeridian (cells don't wrap). Then the exact haversine refine.
    * Distances round to integer METERS
    * before the compare and the sums, so the only transcendentals sit
    * behind a fixed-point shield ≥ 10⁹ ulp wide (q118 discipline) and the
    * per-point rollups are order-independent integer sums the oracle
    * recomputes from an O(n²) brute force — independently of the blocking,
    * which proves candidate completeness, not just refine math.
    *
    * 100 TB notes: candidates are bounded by true spatial density (the 3×3
    * neighborhood), the payloadless join keys are (cell, id, lon, lat),
    * and a genuinely dense radius neighborhood is quadratic OUTPUT — no
    * blocking scheme can beat its own result size.
    */
  def haversineNeighbors(pts: DataFrame, radiusM: Double,
                         gridDeg: Double): DataFrame = {
    require(gridDeg * 110574.0 > radiusM,
      s"gridDeg $gridDeg too small for radius $radiusM m")
    val base = pts.select(col("image_id"), col("lon"), col("lat"),
      floor(col("lon") / gridDeg).cast("long").as("cx"),
      floor(col("lat") / gridDeg).cast("long").as("cy"))
    // lon ring half-width from the row's own latitude (+1 cell of slack
    // to bound the partner's); 105000 m/deg < the true 111194.9 m/deg of
    // great-circle arc — the ~5% headroom covers asin curvature.
    val dxm = greatest(lit(1L), ceil(lit(radiusM) /
      (lit(105000.0 * gridDeg) *
        cos(radians(least(lit(89.0), abs(col("lat")) + lit(gridDeg))))))
      .cast("long"))
    val probes = base
      .withColumn("dx", explode(sequence(-dxm, dxm)))
      .withColumn("dy", explode(sequence(lit(-1L), lit(1L))))
      .select(col("image_id").as("ia"), col("lon").as("lon_a"),
        col("lat").as("lat_a"),
        (col("cx") + col("dx")).as("cx"),
        (col("cy") + col("dy")).as("cy"))
    val cand = probes.join(
      base.select(col("image_id").as("ib"), col("lon").as("lon_b"),
        col("lat").as("lat_b"), col("cx"), col("cy")), Seq("cx", "cy"))
      .where(col("ia") =!= col("ib"))
    val sLat = sin((radians(col("lat_b")) - radians(col("lat_a"))) / 2)
    val sLon = sin((radians(col("lon_b")) - radians(col("lon_a"))) / 2)
    val dist = lit(2.0) * lit(6371000.0) * asin(sqrt(
      sLat * sLat + cos(radians(col("lat_a"))) * cos(radians(col("lat_b")))
        * sLon * sLon))
    cand.withColumn("dm", round(dist, 0).cast("long"))
      .where(col("dm") <= lit(radiusM))
      .groupBy(col("ia").as("image_id"))
      .agg(count(lit(1)).as("n_nbr"), sum(col("dm")).as("sum_dist_m"),
        min(col("dm")).as("min_dist_m"))
  }




  /** Kernel-density heatmap splat (the grid-KDE rendering/hot-spot
    * surface): every point adds a separable 5×5 integer kernel
    * (4-2-1 per axis, products 1..16) onto the cells around its own —
    * a 25-way slim-row explode whose per-cell sum partial-aggregates
    * map-side, so the downtown hot cell combines locally before the
    * exchange (the O-58 skew answer for additive aggregation: no salt
    * needed when the combiner runs first). Out-of-domain targets drop;
    * integer weights make the surface engine- and partitioning-exact.
    */
  def kernelDensity(points: DataFrame, xCol: String, yCol: String,
                    level: Int): DataFrame = {
    val size = graft.geom.Cells.sizeAt(level)
    val max = 1L << level
    val k = Seq(1L, 2L, 4L, 2L, 1L)
    val offsets = array((for (dx <- -2 to 2; dy <- -2 to 2) yield
      struct(lit(dx).as("dx"), lit(dy).as("dy"),
        lit(k(dx + 2) * k(dy + 2)).as("w"))): _*)
    points
      .select(floor(col(xCol) / size).cast("long").as("ix"),
        floor(col(yCol) / size).cast("long").as("iy"))
      .select(col("ix"), col("iy"), explode(offsets).as("o"))
      .select((col("ix") + col("o.dx")).as("cx"),
        (col("iy") + col("o.dy")).as("cy"), col("o.w").as("w"))
      .where(col("cx") >= 0 && col("cy") >= 0 &&
        col("cx") < max && col("cy") < max)
      .groupBy("cx", "cy").agg(sum(col("w")).as("density"))
  }

  /** Snap-to-road (map-matching primitive): each point joins its nearest
    * segment within `radius`, by exact point-to-segment distance. The
    * candidate join is recall-complete — a point within `radius` of a
    * segment lies in a cell overlapping the segment's radius-buffered
    * AABB, so the buffered cell cover vs the point's own cell is an
    * equi-join that can never miss. Distance stays INTEGER until one
    * final division (cross² / len2, operands ≤ 2^50 — exact doubles,
    * identical IEEE op in the SQL replay); ties break to the smallest
    * seg_id; points with no segment in range drop. Exchange carries slim
    * (cell, id, 4 coords) rows; the per-point argmin is a window over
    * candidates only.
    */
  def snapToSegments(points: DataFrame, segments: DataFrame, radius: Long,
                     level: Int = 13): DataFrame = {
    val r = radius.toDouble
    val segC = segments.select(col("seg_id"),
      col("x1"), col("y1"), col("x2"), col("y2"),
      explode(cell_cover(
        least(col("x1"), col("x2")).cast("double") - r,
        least(col("y1"), col("y2")).cast("double") - r,
        greatest(col("x1"), col("x2")).cast("double") + r,
        greatest(col("y1"), col("y2")).cast("double") + r,
        lit(level))).as("cell"))
    val ptsC = points.select(col("point_id"), col("x"), col("y"),
      cell_encode(col("x").cast("double"), col("y").cast("double"),
        lit(level)).as("cell"))
    val vx = col("x") - col("x1"); val vy = col("y") - col("y1")
    val wx = col("x") - col("x2"); val wy = col("y") - col("y2")
    val dx = col("x2") - col("x1"); val dy = col("y2") - col("y1")
    val len2 = dx * dx + dy * dy
    val tnum = vx * dx + vy * dy
    val cross = vx * dy - vy * dx
    val d2 = when(len2 === 0 || tnum <= 0,
        (vx * vx + vy * vy).cast("double"))
      .when(tnum >= len2, (wx * wx + wy * wy).cast("double"))
      .otherwise((cross * cross).cast("double") / len2)
    val byPoint = org.apache.spark.sql.expressions.Window
      .partitionBy("point_id")
      .orderBy(col("d2").asc, col("seg_id").asc)
    ptsC.join(segC, Seq("cell"))
      .withColumn("d2", d2)
      .where(col("d2") <= lit((radius * radius).toDouble))
      .select("point_id", "seg_id", "d2")
      .distinct() // a pair can meet in several cells — same exact d2
      .withColumn("rn", row_number().over(byPoint))
      .where(col("rn") === 1).drop("rn")
  }

  /** Proper segment-crossing join between two line layers (road × wall /
    * trajectory × boundary overlay — the line-feature sibling of the PIP
    * join): candidate pairs from a cell-cover equi-join on the segments'
    * AABB covers (a crossing pair's AABBs overlap, and overlapping AABB
    * covers on one lattice always share a cell — recall-lossless), then
    * the exact test as pure integer column math: segments cross properly
    * iff each strictly separates the other's endpoints (both products of
    * orientation determinants < 0; touching/collinear excluded by the
    * strict sign, deterministic on integer coordinates). Multi-cell
    * duplicates collapse with a distinct on the surviving pairs — the
    * filter runs first, so the exchange dedups crossing pairs only, not
    * candidates.
    */
  def segmentCrossings(segA: DataFrame, segB: DataFrame,
                       level: Int = 13): DataFrame = {
    def covered(df: DataFrame, p: String): DataFrame =
      df.select(col("seg_id").as(s"${p}_id"),
        col("x1").as(s"${p}x1"), col("y1").as(s"${p}y1"),
        col("x2").as(s"${p}x2"), col("y2").as(s"${p}y2"),
        explode(cell_cover(
          least(col("x1"), col("x2")).cast("double"),
          least(col("y1"), col("y2")).cast("double"),
          greatest(col("x1"), col("x2")).cast("double"),
          greatest(col("y1"), col("y2")).cast("double"),
          lit(level))).as("cell"))
    def orient(px: Column, py: Column, qx: Column, qy: Column,
               rx: Column, ry: Column): Column =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val a = covered(segA, "a")
    val b = covered(segB, "b")
    a.join(b, Seq("cell"))
      .where(
        orient(col("ax1"), col("ay1"), col("ax2"), col("ay2"),
          col("bx1"), col("by1")) *
        orient(col("ax1"), col("ay1"), col("ax2"), col("ay2"),
          col("bx2"), col("by2")) < 0 &&
        orient(col("bx1"), col("by1"), col("bx2"), col("by2"),
          col("ax1"), col("ay1")) *
        orient(col("bx1"), col("by1"), col("bx2"), col("by2"),
          col("ax2"), col("ay2")) < 0)
      .select("a_id", "b_id").distinct()
  }

  /** Adaptive quadtree refinement (region quadtree / S2-style adaptive
    * cell cover — the skew-adaptive answer to a fixed-level grid): a cell
    * splits iff it holds more than `cap` points and is shallower than
    * `maxLevel`; every point lands in its shallowest non-splitting
    * ancestor. Because per-cell counts are monotone along an ancestor
    * chain, the whole top-down recursion collapses into ONE closed-form
    * pass — explode each point's ancestor chain (pure bit math off the
    * finest-level Morton id), count per (level, cell), and pick the first
    * level whose count fits — no iterative driver loop, no per-level job.
    * Shuffles: one partial-aggregated count on (level, cell) and one
    * slim-row join back; explode factor = maxLevel−baseLevel+1 rows per
    * point of 3 longs each. Returns one row per LEAF: (level, cell_id,
    * n_points) — dense hot spots descend to `maxLevel`, sparse country
    * stays coarse, which is exactly the balanced-partition currency the
    * fixed-level join (O-55/O-58) lacks on pathological skew.
    */
  def quadtreeAssign(points: DataFrame, idCol: String, xCol: String,
                     yCol: String, baseLevel: Int, maxLevel: Int,
                     cap: Long): DataFrame = {
    require(0 <= baseLevel && baseLevel <= maxLevel &&
      maxLevel <= graft.geom.Cells.MaxLevel,
      s"need 0 <= base <= max <= ${graft.geom.Cells.MaxLevel}")
    val mask = (1L << (2 * graft.geom.Cells.MaxLevel)) - 1
    val anc = points.select(col(idCol).as("__id"),
        cell_encode(col(xCol), col(yCol), lit(maxLevel)).as("cmax"))
      .select(col("__id"), col("cmax"),
        explode(sequence(lit(baseLevel), lit(maxLevel))).as("l"))
      .withColumn("cell", expr(
        s"shiftleft(cast(l as bigint), ${2 * graft.geom.Cells.MaxLevel}) " +
          s"| shiftright(cmax & $mask, 2 * ($maxLevel - l))"))
    val counts = anc.groupBy("l", "cell").agg(count(lit(1)).as("n"))
    // only SPLITTING cells matter (count > cap), and each holds > cap
    // points, so their number is bounded by levels·n/cap — metadata-scale
    // for any sane cap. Broadcasting them turns the per-point lookup into
    // a map-side join: the exploded frame shuffles ONCE (the final
    // per-point min), not three times. A shuffle join remains the
    // fallback if a degenerate cap makes the splitting set data-sized.
    val splitting = counts.where(col("n") > cap)
      .select(col("l"), col("cell"), lit(true).as("split"))
    val nSplit = splitting.count()
    val joined =
      if (nSplit <= 4000000L)
        anc.join(broadcast(splitting), Seq("l", "cell"), "left")
      else anc.join(splitting, Seq("l", "cell"), "left")
    joined
      .groupBy("__id")
      .agg(coalesce(min(when(col("split").isNull, col("l"))),
        lit(maxLevel)).as("level"), min(col("cmax")).as("cmax"))
      .select(col("__id").as(idCol), col("level"), expr(
        s"shiftleft(cast(level as bigint), ${2 * graft.geom.Cells.MaxLevel})" +
          s" | shiftright(cmax & $mask, 2 * ($maxLevel - level))")
        .as("cell_id"))
  }

  /** [[quadtreeAssign]] rolled up to one row per LEAF. */
  def quadtreeLeaves(points: DataFrame, idCol: String, xCol: String,
                     yCol: String, baseLevel: Int, maxLevel: Int,
                     cap: Long): DataFrame =
    quadtreeAssign(points, idCol, xCol, yCol, baseLevel, maxLevel, cap)
      .groupBy("level", "cell_id").agg(count(lit(1)).as("n_points"))
}
