package graft.geom

/** S2/H3-style hierarchical cell index, built from scratch (no H3/S2 jar in
  * the sandbox — SURVEY.md §7.6). Quadtree with Morton (Z-order) leaf
  * numbering over a fixed local-CRS square domain [0, WORLD)², mirroring
  * S2's face-cell bit layout: id = (level << 2·MAX_LEVEL) | morton(ix, iy).
  *
  * The domain is the reference's translated local CRS (SURVEY.md O-42/O-44
  * provide the bounded, origin-anchored coordinate space). Pure bit math —
  * codegen-friendly (see graft.expr.CellEncodeExpr).
  */
object Cells {
  final val MaxLevel = 24          // 2^24 × 2^24 grid at the finest level
  final val World = 1 << 20        // 1,048,576 m square local domain

  /** Cell side length at a level, in domain units (meters). */
  def sizeAt(level: Int): Double = World.toDouble / (1L << level).toDouble

  @inline def clampIdx(i: Long, level: Int): Long = {
    val max = (1L << level) - 1
    if (i < 0) 0L else if (i > max) max else i
  }

  /** Interleave the low 24 bits of x (even positions) and y (odd). */
  def interleave(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)

  private def spread(vIn: Long): Long = {
    var v = vIn & 0xFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  private def compact(vIn: Long): Long = {
    var v = vIn & 0x5555555555555555L
    v = (v | (v >> 1)) & 0x3333333333333333L
    v = (v | (v >> 2)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v >> 4)) & 0x00FF00FF00FF00FFL
    v = (v | (v >> 8)) & 0x0000FFFF0000FFFFL
    v = (v | (v >> 16)) & 0xFFFFFFL
    v
  }

  /** Encode a point to its containing cell at `level`. Out-of-domain points
    * clamp to the border cell (never fails — reference swallow-errors
    * contract).
    */
  def encode(x: Double, y: Double, level: Int): Long = {
    val size = sizeAt(level)
    val ix = clampIdx(math.floor(x / size).toLong, level)
    val iy = clampIdx(math.floor(y / size).toLong, level)
    (level.toLong << (2 * MaxLevel)) | interleave(ix, iy)
  }

  def level(cell: Long): Int = (cell >>> (2 * MaxLevel)).toInt
  def ix(cell: Long): Long = compact(cell & ((1L << (2 * MaxLevel)) - 1))
  def iy(cell: Long): Long = compact((cell & ((1L << (2 * MaxLevel)) - 1)) >> 1)

  def fromIdx(ixv: Long, iyv: Long, level: Int): Long =
    (level.toLong << (2 * MaxLevel)) |
      interleave(clampIdx(ixv, level), clampIdx(iyv, level))

  /** Parent cell at a coarser level. */
  def parent(cell: Long, parentLevel: Int): Long = {
    val l = level(cell)
    require(parentLevel <= l)
    fromIdx(ix(cell) >> (l - parentLevel), iy(cell) >> (l - parentLevel), parentLevel)
  }

  /** Cells whose square overlaps the AABB [xmin..xmax]×[ymin..ymax] at
    * `level` (SURVEY.md O-56 CellCover — AABB cover; exact refinement is the
    * join's PIP predicate, so a slightly loose cover only costs probe work,
    * never correctness).
    */
  def cover(xmin: Double, ymin: Double, xmax: Double, ymax: Double,
            level: Int): Array[Long] = {
    val size = sizeAt(level)
    val ix0 = clampIdx(math.floor(xmin / size).toLong, level)
    val ix1 = clampIdx(math.floor(xmax / size).toLong, level)
    val iy0 = clampIdx(math.floor(ymin / size).toLong, level)
    val iy1 = clampIdx(math.floor(ymax / size).toLong, level)
    val out = new Array[Long](((ix1 - ix0 + 1) * (iy1 - iy0 + 1)).toInt)
    var k = 0
    var i = ix0
    while (i <= ix1) {
      var j = iy0
      while (j <= iy1) {
        out(k) = (level.toLong << (2 * MaxLevel)) | interleave(i, j)
        k += 1; j += 1
      }
      i += 1
    }
    out
  }


  /** Hilbert curve index of (x, y) on a 2^bits × 2^bits grid (the
    * iterative xy2d form — Hilbert 1891; public). Unlike Morton order,
    * consecutive indices are ALWAYS grid neighbors, so file ranges cut
    * from a Hilbert sort carry the tightest per-file bounding boxes any
    * space-filling layout can give — the locality currency behind
    * StatsManifest.hilbertWrite.
    */
  def hilbert(x0: Long, y0: Long, bits: Int): Long = {
    val mask = (1L << bits) - 1
    var x = x0 & mask; var y = y0 & mask
    var d = 0L
    var s = 1L << (bits - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Inverse (d2xy) — test harness for the bijectivity/adjacency pins. */
  def hilbertInv(d0: Long, bits: Int): (Long, Long) = {
    var x = 0L; var y = 0L
    var t = d0
    var s = 1L
    while (s < (1L << bits)) {
      val rx = (t / 2) & 1
      val ry = (t ^ rx) & 1
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tt = x; x = y; y = tt
      }
      x += s * rx; y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  /** 3×3 ring of neighbors (incl. self) — the kNN candidate cells
    * (SURVEY.md O-39). Border cells return fewer.
    */
  def neighbors(cell: Long): Array[Long] = {
    val l = level(cell)
    val cx = ix(cell); val cy = iy(cell)
    val max = (1L << l) - 1
    val out = new scala.collection.mutable.ArrayBuffer[Long](9)
    var dx = -1
    while (dx <= 1) {
      var dy = -1
      while (dy <= 1) {
        val nx = cx + dx; val ny = cy + dy
        if (nx >= 0 && nx <= max && ny >= 0 && ny <= max)
          out += fromIdx(nx, ny, l)
        dy += 1
      }
      dx += 1
    }
    out.toArray
  }
}
