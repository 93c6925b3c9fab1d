package e2ebench

import java.nio.charset.StandardCharsets.UTF_8

import graft.model.{ImageCodec, Pt, Synth}

/** Seeded benchmark inputs and the expectations the output checks compare
  * against. Everything here is plain Scala: the expectations are computed
  * on the driver from the generator itself, never from the engine code an
  * op times.
  *
  * The seed moves anchors, pixels (hence image bytes) and the order of
  * buildings over CityGML files. It never moves sizes: a slice has a fixed
  * row count, exactly every 5th image sits in the downtown hot cell
  * (building 0's footprint) and exactly every 10th image is raw rather
  * than PNG.
  */
object Inputs {

  final case class Img(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                       fmt: String, caption: String, phash: Long,
                       anchor_x: Double, anchor_y: Double, slice: Int)

  final val Px = 16

  def imageHash(seed: Long, slice: Int, i: Int): Long =
    Synth.mix64(Synth.mix64(seed) ^ ((slice.toLong << 32) | i.toLong))

  def isHot(i: Int): Boolean = i % 5 == 0

  def imageId(slice: Int, i: Int): String = f"img$slice%03d_$i%07d"

  /** Anchor of image `i`. Offsets are (k + ½)/2^20 of the span, so with the
    * synth city's integer building edges no anchor ever lies on an edge,
    * the roof ridge or a corner-to-corner diagonal of a footprint, roof
    * slab or ground rectangle; the one exception, a hot anchor on a
    * diagonal of building 0's footprint (a = b or a + b = 2^20 − 1), is
    * moved off it. So an anchor inside a surface lies in exactly one of its
    * triangles, whichever diagonals the ear clipper picks.
    */
  def anchor(seed: Long, slice: Int, i: Int, nBuildings: Long): (Double, Double) = {
    val h = imageHash(seed, slice, i)
    val a = (h >>> 44) & 0xFFFFFL
    var b = (h >>> 24) & 0xFFFFFL
    if (isHot(i)) while (b == a || a + b == 0xFFFFFL) b = (b + 2) & 0xFFFFFL
    val u = (a + 0.5) / (1 << 20)
    val v = (b + 0.5) / (1 << 20)
    if (isHot(i)) (Synth.Ox0 + u * Synth.W, Synth.Oy0 + v * Synth.D)
    else {
      val span = Synth.gridSide(nBuildings) * Synth.Pitch
      (Synth.Ox0 + u * span, Synth.Oy0 + v * span)
    }
  }

  def image(seed: Long, slice: Int, i: Int, nBuildings: Long): Img = {
    val h = imageHash(seed, slice, i)
    val px = ImageCodec.seededPixels(Px, Px, h)
    val png = i % 10 != 0
    val (ax, ay) = anchor(seed, slice, i, nBuildings)
    val bref = java.lang.Long.remainderUnsigned(h, nBuildings)
    Img(imageId(slice, i),
      if (png) ImageCodec.encodePng(px, Px, Px) else ImageCodec.encodeRaw(px),
      Px, Px, if (png) "png" else "raw", s"building $bref facade view $i", h,
      ax, ay, slice)
  }

  /** 64-bit hash of every column of an image row; summed (mod 2^64) over
    * rows it gives an order-independent digest of the table.
    */
  def rowDigest(r: Img): Long = {
    import scala.util.hashing.MurmurHash3.{bytesHash, mix, finalizeHash, stringHash}
    def h(seed: Int): Int = {
      var x = mix(seed, stringHash(r.image_id))
      x = mix(x, bytesHash(r.bytes))
      x = mix(x, stringHash(s"${r.w} ${r.h} ${r.fmt} ${r.caption} ${r.phash} ${r.slice}"))
      x = mix(x, java.lang.Double.hashCode(r.anchor_x))
      x = mix(x, java.lang.Double.hashCode(r.anchor_y))
      finalizeHash(x, 6)
    }
    (h(0x5eed).toLong << 32) | (h(0x0bad).toLong & 0xFFFFFFFFL)
  }

  /** The same digest over the synth city's surface rows. */
  def surfacesDigest(nBuildings: Long): String = {
    val side = Synth.gridSide(nBuildings)
    val sum = (0L until nBuildings).iterator.flatMap(b => Synth.houseFor(b, side))
      .map(s => (s.hashCode.toLong << 32) | (s.toString.hashCode & 0xFFFFFFFFL)).sum
    f"$sum%016x"
  }

  def crc32(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  // ---- Morton cell id, written out independently of graft.geom.Cells ----

  private def spread(v0: Long): Long = {
    var v = v0 & 0xFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  def cellOf(x: Double, y: Double, level: Int): Long = {
    val size = (1 << 20).toDouble / (1L << level).toDouble
    (level.toLong << 48) | spread(math.floor(x / size).toLong) |
      (spread(math.floor(y / size).toLong) << 1)
  }

  // ---- join / tile expectations (the q16 / q20 oracle shapes) ----

  /** Even-odd ray-casting point-in-ring test in x, y. */
  def inRing(x: Double, y: Double, r: IndexedSeq[Pt]): Boolean = {
    var in = false
    var j = r.size - 1
    for (i <- r.indices) {
      val (p, q) = (r(i), r(j))
      if ((p.y > y) != (q.y > y) && x < (q.x - p.x) * (y - p.y) / (q.y - p.y) + p.x) in = !in
      j = i
    }
    in
  }

  def areaXY(r: IndexedSeq[Pt]): Double =
    r.indices.map(i => r(i).x * r((i + 1) % r.size).y - r((i + 1) % r.size).x * r(i).y).sum / 2

  /** A thematic surface seen from above: its cleaned exterior and holes. */
  final case class Footprint(surfaceId: String, ext: IndexedSeq[Pt], holes: Seq[IndexedSeq[Pt]])

  /** The surfaces of building `b` the join can match, straight from the
    * generator: valid, not an opening, and covering area seen from above
    * (a vertical wall's triangles are segments no anchor lies on).
    */
  def footprints(b: Long, side: Long): Seq[Footprint] =
    Synth.houseFor(b, side).flatMap { s =>
      val ext = cleanRing(s.ext).toIndexedSeq
      if (!isValid(ext) || Set("Window", "Door")(s.surface_class) ||
        math.abs(areaXY(ext)) < 1e-9) None
      else Some(Footprint(s.surface_id, ext,
        s.holes.map(h => cleanRing(h).toIndexedSeq).filter(_.size >= 4)))
    }

  /** Per-cell (n_matches, n_images, n_surfaces) of one slice's images
    * against the city: polygon-with-holes containment per surface, computed
    * without the engine's triangles (the q16 shape). An anchor inside a
    * surface lies in exactly one of its triangles (see `anchor`), so a hit
    * surface is one match. Surfaces of building b lie inside b's lattice
    * square, so an anchor is only tested against that building.
    */
  def expectedJoin(seed: Long, slice: Int, n: Int, nBuildings: Long, level: Int)
      : Map[Long, (Long, Long, Long)] = {
    val side = Synth.gridSide(nBuildings)
    val byBuilding = scala.collection.mutable.Map.empty[Long, Seq[Footprint]]
    val matches = scala.collection.mutable.Map.empty[Long, Long]
    val images = scala.collection.mutable.Map.empty[Long, Long]
    val surfaces = scala.collection.mutable.Map.empty[Long, Set[String]]
    for (i <- 0 until n) {
      val (x, y) = anchor(seed, slice, i, nBuildings)
      val gx = math.floor((x - Synth.Ox0) / Synth.Pitch).toLong
      val gy = math.floor((y - Synth.Oy0) / Synth.Pitch).toLong
      val b = gy * side + gx
      val fs = if (gx < side && b < nBuildings) byBuilding.getOrElseUpdate(b, footprints(b, side)) else Nil
      val hits = fs.filter(f => inRing(x, y, f.ext) && !f.holes.exists(inRing(x, y, _)))
      if (hits.nonEmpty) {
        val c = cellOf(x, y, level)
        matches(c) = matches.getOrElse(c, 0L) + hits.size
        images(c) = images.getOrElse(c, 0L) + 1
        surfaces(c) = surfaces.getOrElse(c, Set.empty[String]) ++ hits.map(_.surfaceId)
      }
    }
    matches.keys.map(c => c -> ((matches(c), images(c), surfaces(c).size.toLong))).toMap
  }

  /** Per-cell (tile count, Σ crc32(image_id)) of one slice. */
  def expectedTiles(seed: Long, slice: Int, n: Int, nBuildings: Long,
                    level: Int): Map[Long, (Long, Long)] =
    (0 until n).map { i =>
      val (x, y) = anchor(seed, slice, i, nBuildings)
      (cellOf(x, y, level), crc32(imageId(slice, i)))
    }.groupBy(_._1).map { case (c, xs) => c -> ((xs.size.toLong, xs.map(_._2).sum)) }

  // ---- CityGML directories and OBJ expectations (the q18 Euler count) ----

  /** Building ids of directory `d`, in the seeded order they are laid out
    * over files.
    */
  def dirBuildings(seed: Long, d: Int, perDir: Int): Seq[Long] =
    (d.toLong * perDir until (d.toLong + 1) * perDir)
      .sortBy(b => Synth.mix64(Synth.mix64(seed) + b))

  def citygmlFiles(buildings: Seq[Long], side: Long, nFiles: Int): Seq[(String, String)] = {
    val per = (buildings.size + nFiles - 1) / nFiles
    buildings.grouped(per).zipWithIndex.map { case (bs, f) =>
      val members = bs.map { b =>
        val surf = Synth.houseFor(b, side).map(s =>
          (s.surface_id, s.surface_class, s.ext, s.holes, s.attrs, null: String, false))
        val doc = graft.sources.GmlXml.objectDocument(f"bldg$b%08d", "Building", surf)
        val open = "<core:cityObjectMember>"
        val close = "</core:cityObjectMember>"
        doc.substring(doc.indexOf(open), doc.indexOf(close) + close.length)
      }.mkString("\n ")
      (f"part$f%02d.gml",
        s"""<?xml version="1.0" encoding="UTF-8"?>
<core:CityModel xmlns:core="http://www.opengis.net/citygml/2.0" xmlns:gml="http://www.opengis.net/gml" xmlns:bldg="http://www.opengis.net/citygml/building/2.0">
 $members
</core:CityModel>
""")
    }.toSeq
  }

  /** Ring cleaning and validity as the reference defines them: duplicate
    * points dropped (first kept), then closed, ≥ 4 points, no consecutive
    * repeats, planar within 0.01 of the first three points' plane.
    */
  def cleanRing(r: Seq[Pt]): Seq[Pt] =
    if (r.isEmpty) r else r.dropRight(1).distinct :+ r.last

  def isValid(r: Seq[Pt]): Boolean = {
    if (r.size < 4 || r.head != r.last) return false
    if (r.sliding(2).exists(p => p(0) == p(1))) return false
    val (a, b, c) = (r(0), r(1), r(2))
    val (ux, uy, uz) = (b.x - a.x, b.y - a.y, b.z - a.z)
    val (vx, vy, vz) = (c.x - a.x, c.y - a.y, c.z - a.z)
    val (nx, ny, nz) = (uy * vz - uz * vy, uz * vx - ux * vz, ux * vy - uy * vx)
    val m = math.sqrt(nx * nx + ny * ny + nz * nz)
    m > 0 && r.drop(3).forall(p =>
      math.abs(((p.x - a.x) * nx + (p.y - a.y) * ny + (p.z - a.z) * nz) / m) <= 0.01)
  }

  /** Expected content of one OBJ file: face lines, and the distinct vertex
    * lines (their count and an order-independent crc32 sum).
    */
  final case class ObjFile(faces: Long, vertices: Long, vertexDigest: Long)

  def objLine(p: Pt): String =
    "v " + Seq(p.x, p.y, p.z).map(c => String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(c))).mkString(" ")

  /** Expected `-s 1` output of one directory: file name → content. Faces
    * per thematic surface follow the ear-clip Euler count
    * T = n_ext + Σ n_hole − 2 + 2·n_holes over holes with ≥ 3 points.
    */
  def expectedObj(buildings: Seq[Long], side: Long): Map[String, ObjFile] = {
    val faces = scala.collection.mutable.Map.empty[String, Long]
    val verts = scala.collection.mutable.Map.empty[String, Set[Pt]]
    for (b <- buildings; s <- Synth.houseFor(b, side)) {
      val ext = cleanRing(s.ext)
      if (isValid(ext) && !Set("Window", "Door")(s.surface_class)) {
        val holes = s.holes.map(cleanRing).map(_.dropRight(1)).filter(_.size >= 3)
        val open = ext.dropRight(1)
        val t = open.size + holes.map(_.size).sum - 2 + 2 * holes.size
        val pts = (open ++ holes.flatten).toSet
        for (cls <- Seq("All", s.surface_class)) {
          faces(cls) = faces.getOrElse(cls, 0L) + t
          verts(cls) = verts.getOrElse(cls, Set.empty[Pt]) ++ pts
        }
      }
    }
    faces.keys.map { cls =>
      val file = if (cls == "All") "citygml.obj" else s"citygml-$cls.obj"
      file -> ObjFile(faces(cls), verts(cls).size.toLong,
        verts(cls).iterator.map(p => crc32(objLine(p))).sum)
    }.toMap
  }

  def polygonsOf(buildings: Seq[Long], side: Long): Long =
    buildings.map(b => Synth.houseFor(b, side).size.toLong).sum

  /** SHA-256 over (relative path, bytes) of every file under `dir`, sorted. */
  def dirDigest(dir: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def walk(f: java.io.File, rel: String): Unit =
      if (f.isDirectory) f.listFiles().sortBy(_.getName).foreach(c => walk(c, s"$rel/${c.getName}"))
      else { md.update(rel.getBytes(UTF_8)); md.update(java.nio.file.Files.readAllBytes(f.toPath)) }
    walk(dir, "")
    md.digest().map(b => f"${b & 0xFF}%02x").mkString
  }
}
