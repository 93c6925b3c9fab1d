package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.geom.Vec3

/** One row per gml:Polygon — the reference's polygon data model
  * (FIXTURES.md F-1; markup3dmodule.py:101-148 extraction semantics).
  */
final case class Pt(x: Double, y: Double, z: Double) {
  def v: Vec3 = Vec3(x, y, z)
}
final case class Surface(
    building_id: String,
    surface_id: String,
    surface_class: String,
    ext: Seq[Pt],
    holes: Seq[Seq[Pt]],
    attrs: Map[String, Double],
    building_ord: Long,
    poly_ord: Long)

/** Image+caption row, verbatim per BASELINE.json input_hint. */
final case class ImageRow(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long)

/** Deterministic synthetic generators — fixed seed, no wall clock, no RNG in
  * outputs (FIXTURES.md). Generation is distributed (spark.range → typed
  * flatMap), never driver-side loops, so it scales with the cluster.
  */
object Synth {

  /** splitmix64 — deterministic 64-bit mix, the seed discipline for every
    * "random" value in the synth tables.
    */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // City layout: gabled houses on a sqrt grid, 50 m pitch, 20×10 m footprint,
  // eave 6 m, ridge 9 m; origin (100, 100) in the local CRS.
  final val Pitch = 50.0
  final val Ox0 = 100.0
  final val Oy0 = 100.0
  final val W = 20.0   // footprint x-extent
  final val D = 10.0   // footprint y-extent
  final val He = 6.0   // eave height
  final val Hr = 9.0   // ridge height

  def gridSide(nBuildings: Long): Long =
    math.ceil(math.sqrt(nBuildings.toDouble)).toLong.max(1L)

  /** Overall city extent (square side, meters) for nBuildings. */
  def extent(nBuildings: Long): Double = Ox0 + gridSide(nBuildings) * Pitch

  /** Generate the surfaces table for nBuildings houses. Each house exercises
    * every projection branch of the reference triangulator: horizontal ground
    * (XY), YZ-parallel wall (all-x-equal), vertical walls (XZ), tilted roofs,
    * a 4-point gable triangle (the ==4-clean-points passthrough, SURVEY.md
    * O-14f), and a window hole + matching opening polygon (anti-join fixture,
    * CityGML2OBJs.py:755-762). Every 64th building additionally emits one
    * deliberately invalid polygon cycling the four invalidity modes of
    * isPolyValid (polygon3dmodule.py:70-102).
    */
  /** Mixed-city surface row: [[Surface]] plus the ingest schema extensions
    * (object_kind / feature_id / implicit_geom) of GmlXml.RawPoly.
    */
  final case class MixedSurface(
      building_id: String,
      surface_id: String,
      surface_class: String,
      ext: Seq[Pt],
      holes: Seq[Seq[Pt]],
      attrs: Map[String, Double],
      building_ord: Long,
      poly_ord: Long,
      object_kind: String,
      feature_id: String,
      implicit_geom: Boolean)

  /** Non-building object kinds, cycling in the mixed city (the reference's
    * 'Other' route, CityGML2OBJs.py:597-603).
    */
  val OtherKinds: Seq[String] = Seq("Road", "PlantCover", "GenericCityObject",
    "CityFurniture", "Relief", "Tunnel", "WaterBody", "Bridge")

  /** Mixed city (round-4 'Other' route): the building grid, plus a
    * BuildingInstallation feature on every 8th building (the `-sepC`
    * extended component path), plus `nOther` non-building city objects —
    * kind cycling through [[OtherKinds]], one flat quad each, placed on the
    * inter-house grid; every CityFurniture object is IMPLICIT geometry
    * (template — excluded from CRS translation). All coordinates are
    * integers so cross-engine double sums are exact.
    */
  def mixedCity(spark: SparkSession, nBuildings: Long, nOther: Long): DataFrame = {
    import spark.implicits._
    val side = gridSide(nBuildings)
    val b = surfaces(spark, nBuildings).toDF
      .withColumn("object_kind", lit("Building"))
      .withColumn("feature_id", lit(null).cast("string"))
      .withColumn("implicit_geom", lit(false))
    val inst = spark.range(0L, nBuildings, 1L,
        math.max(1, math.min(64, nBuildings / 16 + 1)).toInt).as[Long]
      .filter(_ % 8 == 0)
      .map { bi =>
        val gx = bi % side; val gy = bi / side
        val x0 = Ox0 + gx * Pitch; val y0 = Oy0 + gy * Pitch
        val bid = f"bldg$bi%08d"
        // awning quad cantilevered off the south wall, above the window
        val awn = Seq(Pt(x0 + 3, y0 - 2, 5), Pt(x0 + 9, y0 - 2, 5),
          Pt(x0 + 9, y0, 5), Pt(x0 + 3, y0, 5), Pt(x0 + 3, y0 - 2, 5))
        MixedSurface(bid, f"$bid-inst", "BuildingInstallation", awn, Nil,
          Map.empty, bi, 90L, "Building", f"inst$bi%08d", implicit_geom = false)
      }.toDF
    val others = spark.range(0L, nOther, 1L,
        math.max(1, math.min(64, nOther / 16 + 1)).toInt).as[Long]
      .map { j =>
        val kind = OtherKinds((j % 8).toInt)
        val gx = j % side; val gy = j / side
        // offset +25/+25 sits in the street gap between houses
        val x0 = Ox0 + gx * Pitch + 25; val y0 = Oy0 + gy * Pitch + 25
        val oid = f"oth$j%08d"
        val z = (j % 3).toDouble // vary height
        val ext =
          if (kind == "Bridge" || kind == "Tunnel") // vertical quad (XZ)
            Seq(Pt(x0, y0, z), Pt(x0 + 8, y0, z), Pt(x0 + 8, y0, z + 4),
              Pt(x0, y0, z + 4), Pt(x0, y0, z))
          else // horizontal quad (XY)
            Seq(Pt(x0, y0, z), Pt(x0 + 10, y0, z), Pt(x0 + 10, y0 + 6, z),
              Pt(x0, y0 + 6, z), Pt(x0, y0, z))
        MixedSurface(oid, f"$oid-p00", "Other", ext, Nil, Map.empty,
          nBuildings + j, 0L, kind, null, implicit_geom = kind == "CityFurniture")
      }.toDF
    b.unionByName(inst).unionByName(others)
  }

  def surfaces(spark: SparkSession, nBuildings: Long): Dataset[Surface] = {
    import spark.implicits._
    val sideL = gridSide(nBuildings)
    spark.range(0L, nBuildings, 1L, math.max(1, math.min(64, nBuildings / 16 + 1)).toInt)
      .as[Long]
      .flatMap(b => houseFor(b, sideL))
  }

  def houseFor(b: Long, side: Long): Seq[Surface] = {
    val gx = b % side
    val gy = b / side
    val ox = Ox0 + gx * Pitch
    val oy = Oy0 + gy * Pitch
    val bid = f"bldg$b%08d"
    def s(i: Long, cls: String, ext: Seq[Pt], holes: Seq[Seq[Pt]] = Nil,
          attrs: Map[String, Double] = Map.empty): Surface =
      Surface(bid, f"$bid-p$i%02d", cls, ext, holes, attrs, b, i)

    val x0 = ox; val x1 = ox + W
    val y0 = oy; val y1 = oy + D
    val ym = oy + D / 2 // ridge line y
    // ground (normal −z: clockwise seen from above)
    val ground = Seq(Pt(x0, y0, 0), Pt(x0, y1, 0), Pt(x1, y1, 0), Pt(x1, y0, 0), Pt(x0, y0, 0))
    // long walls (y = y0 facing −y, y = y1 facing +y), vertical, not x-constant
    val wallS = Seq(Pt(x0, y0, 0), Pt(x1, y0, 0), Pt(x1, y0, He), Pt(x0, y0, He), Pt(x0, y0, 0))
    val wallN = Seq(Pt(x1, y1, 0), Pt(x0, y1, 0), Pt(x0, y1, He), Pt(x1, y1, He), Pt(x1, y1, 0))
    // west wall: x-constant pentagon up to the ridge (YZ-parallel branch)
    val wallW = Seq(Pt(x0, y1, 0), Pt(x0, y0, 0), Pt(x0, y0, He), Pt(x0, ym, Hr), Pt(x0, y1, He), Pt(x0, y1, 0))
    // east wall rectangle + gable triangle (4 points incl. closure)
    val wallE = Seq(Pt(x1, y0, 0), Pt(x1, y1, 0), Pt(x1, y1, He), Pt(x1, y0, He), Pt(x1, y0, 0))
    val gableE = Seq(Pt(x1, y0, He), Pt(x1, y1, He), Pt(x1, ym, Hr), Pt(x1, y0, He))
    // roof slabs (tilted)
    val roofS = Seq(Pt(x0, y0, He), Pt(x1, y0, He), Pt(x1, ym, Hr), Pt(x0, ym, Hr), Pt(x0, y0, He))
    val roofN = Seq(Pt(x1, y1, He), Pt(x0, y1, He), Pt(x0, ym, Hr), Pt(x1, ym, Hr), Pt(x1, y1, He))
    // window hole in the south wall + matching opening polygon
    val win = Seq(Pt(x0 + 4, y0, 2), Pt(x0 + 8, y0, 2), Pt(x0 + 8, y0, 4), Pt(x0 + 4, y0, 4), Pt(x0 + 4, y0, 2))
    val irr = (mix64(b) >>> 11).toDouble / (1L << 53).toDouble * 1000.0

    val base = Seq(
      s(0, "GroundSurface", ground, attrs = Map("irradiation" -> irr)),
      s(1, "WallSurface", wallS, holes = Seq(win), attrs = Map("irradiation" -> irr * 0.5)),
      s(2, "WallSurface", wallN),
      s(3, "WallSurface", wallW),
      s(4, "WallSurface", wallE),
      s(5, "WallSurface", gableE),
      s(6, "RoofSurface", roofS, attrs = Map("irradiation" -> irr * 1.5)),
      s(7, "RoofSurface", roofN, attrs = Map("irradiation" -> irr * 1.4)),
      s(8, "Window", win))

    if (b % 64 == 63) {
      // one invalid polygon per 64th building, cycling invalidity modes
      val bad = (b / 64) % 4 match {
        case 0 => // open ring
          Seq(Pt(x0, y0, 0), Pt(x1, y0, 0), Pt(x1, y1, 0), Pt(x0, y1, 0))
        case 1 => // <4 points incl. closure
          Seq(Pt(x0, y0, 0), Pt(x1, y0, 0), Pt(x0, y0, 0))
        case 2 => // non-planar: offset just above eps=0.01
          Seq(Pt(x0, y0, 0), Pt(x1, y0, 0), Pt(x1, y1, 0), Pt(x0, y1, 0.02), Pt(x0, y0, 0))
        case _ => // consecutive duplicate point
          Seq(Pt(x0, y0, 0), Pt(x1, y0, 0), Pt(x1, y0, 0), Pt(x1, y1, 0), Pt(x0, y0, 0))
      }
      base :+ s(9, "GroundSurface", bad)
    } else base
  }

  /** Images table per input_hint: deterministic bytes (raw RGB or lossless
    * PNG of the same seeded pixels), caption tied to a building id, phash =
    * splitmix64(id). ~90% PNG, 10% raw — like a real crawl corpus, images
    * arrive compressed.
    */
  def images(spark: SparkSession, n: Long, nBuildings: Long): Dataset[ImageRow] = {
    import spark.implicits._
    val parts = math.max(1, math.min(64, n / 1024 + 1)).toInt
    spark.range(0L, n, 1L, parts).as[Long].map { id =>
      val ph = mix64(id)
      val w = 16; val h = 16
      val px = ImageCodec.seededPixels(w, h, ph)
      val isPng = java.lang.Long.remainderUnsigned(ph, 10L) != 0L
      val bytes = if (isPng) ImageCodec.encodePng(px, w, h) else ImageCodec.encodeRaw(px)
      val bref = java.lang.Long.remainderUnsigned(ph, math.max(1L, nBuildings))
      ImageRow(f"img$id%012d", bytes, w, h, if (isPng) "png" else "raw",
        s"building $bref facade view $id", ph)
    }
  }

  /** Anchor placement (derived at ingest; FIXTURES.md F-2): deterministic
    * from phash; ~20% of images land in one "downtown" hot cell (building 0's
    * block) for skew-handling tests — pure column math, codegen'd.
    */
  def withAnchors(images: DataFrame, nBuildings: Long): DataFrame = {
    // anchors spread over the building lattice [Ox0, Ox0 + side·Pitch): every
    // anchor is within ~half a block of some building (bounds the kNN ring)
    val span = gridSide(nBuildings) * Pitch
    val u = pmod(col("phash"), lit(1000000L)).cast("double") / lit(1000000.0)
    val v = pmod(shiftright(col("phash"), 20), lit(1000000L)).cast("double") / lit(1000000.0)
    val hot = pmod(col("phash"), lit(10L)) < lit(2L)
    // downtown hot cell = inside building 0's footprint (real join skew)
    val ax = when(hot, lit(Ox0) + u * W).otherwise(lit(Ox0) + u * span)
    val ay = when(hot, lit(Oy0) + v * D).otherwise(lit(Oy0) + v * span)
    images.withColumn("anchor_x", ax).withColumn("anchor_y", ay)
  }

  /** Tile mosaic fixture for distributed raster connected-component
    * labeling (q114): `side`×`side` tiles of 16×16 RGB pixels cut from ONE
    * deterministic virtual raster, so foreground blobs are coherent ACROSS
    * tile boundaries — the case per-tile labeling alone cannot solve.
    * Pixel (wx, wy) in world coordinates: a 4×4 super-cell site mask
    * (35% density — below the 4-adjacency site-percolation threshold, so
    * blobs stay bounded and the oracle's transitive-closure CTE stays
    * small) picks bright (~190 luma) vs dark (~60) base, with per-pixel
    * channel jitter that keeps every pixel strictly on its side of the
    * 128 threshold while exercising the BT.601 luma math. ~10% of tiles
    * PNG-encoded, rest raw (the q57 container-mix discipline).
    */
  def mosaicTiles(spark: SparkSession, side: Int): DataFrame = {
    import spark.implicits._
    val parts = math.max(1, math.min(16, side * side / 4))
    spark.range(0L, side.toLong * side, 1L, parts).map { id =>
      val tx = (id % side).toInt; val ty = (id / side).toInt
      val w = 16; val h = 16
      val px = new Array[Byte](w * h * 3)
      var j = 0
      while (j < w * h) {
        val wx = tx * w + j % w; val wy = ty * h + j / w
        val on = java.lang.Long.remainderUnsigned(
          mix64(wy.toLong / 4 * 1000003L + wx / 4), 100L) < 35L
        val base = if (on) 190 else 60
        px(3 * j) = (base + wx % 7).toByte
        px(3 * j + 1) = (base + wy % 5).toByte
        px(3 * j + 2) = (base + (wx + wy) % 3).toByte
        j += 1
      }
      val isPng = java.lang.Long.remainderUnsigned(mix64(id + 77L), 10L) == 0L
      val bytes = if (isPng) ImageCodec.encodePng(px, w, h)
                  else ImageCodec.encodeRaw(px)
      (f"mos_${tx}%03d_${ty}%03d", bytes, w, h, if (isPng) "png" else "raw",
        tx, ty)
    }.toDF("image_id", "bytes", "w", "h", "fmt", "tile_x", "tile_y")
  }

  /** Clustered embedding corpus — mixture of `nClusters` directions with
    * per-point noise `eps` (deterministic, splitmix64-seeded). Real
    * embedding corpora are CLUSTERED, not uniform: the uniform synth table
    * is SRP-LSH's theoretical worst case, so recall claims need this shape
    * too (VERDICT round-2 "Next round #5"). Points are unit-normalized;
    * same-cluster cosine ≈ 1/(1+eps²)^½.
    */
  def clusteredEmbeddings(spark: SparkSession, n: Long, dim: Int,
                          nClusters: Int, eps: Double): DataFrame = {
    import spark.implicits._
    def u(h: Long): Double = (h >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
    val parts = math.max(1, math.min(64, n / 1024 + 1)).toInt
    spark.range(0L, n, 1L, parts).as[Long].map { id =>
      val cl = (id % nClusters).toInt
      val v = new Array[Double](dim)
      var s = 0.0
      var d = 0
      while (d < dim) {
        val c = u(mix64(cl.toLong * 1000003L + d))
        val noise = u(mix64(id * 1315423911L + d + 7919))
        v(d) = c + eps * noise
        s += v(d) * v(d)
        d += 1
      }
      val inv = 1.0 / math.sqrt(s)
      (id, cl, v.map(x => (x * inv).toFloat).toSeq)
    }.toDF("vec_id", "cluster", "embedding")
  }

  /** Envelope fixtures for the exact-decimal translation ops (FIXTURES.md
    * F-3): lower corner stored GML-order (northing, easting),
    * CityGMLTranslation.py:190-191.
    */
  def envelopes(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n).select(
      format_string("file%04d", col("id")).as("file_id"),
      struct(
        (lit(java.math.BigDecimal.valueOf(5334000.25)) +
          pmod(col("id") * 37, lit(1000)).cast("decimal(38,10)")).as("a"),
        (lit(java.math.BigDecimal.valueOf(690000.75)) +
          pmod(col("id") * 53, lit(1000)).cast("decimal(38,10)")).as("b")
      ).as("lower_corner"),
      struct(
        (lit(java.math.BigDecimal.valueOf(5334500.25)) +
          pmod(col("id") * 37, lit(1000)).cast("decimal(38,10)")).as("a"),
        (lit(java.math.BigDecimal.valueOf(690500.75)) +
          pmod(col("id") * 53, lit(1000)).cast("decimal(38,10)")).as("b")
      ).as("upper_corner"),
      lit("EPSG:25832").as("srs_name"),
      lit("3").as("srs_dim"))
  }

  /** Chained near-dup corpus for the clustering gate (q62): per group g,
    * three documents built from a sliding 30-token window over the group's
    * private token stream (steps of 5 tokens), so with 3-shingles
    * J(v0,v1) = J(v1,v2) = 23/33 ≈ 0.697 and J(v0,v2) = 18/38 ≈ 0.474 —
    * at threshold 0.6 the near-dup edge set is exactly the CHAIN
    * v0—v1—v2 (A~B~C but A≁C), the transitive case a pair table alone
    * cannot deduplicate. Plus one edge-free singleton doc per group.
    * Pure column math — deterministic across partitionings and engines.
    */
  def chainDocs(spark: SparkSession, nGroups: Long): DataFrame = {
    val chains = spark.range(0L, nGroups * 3).select(
      col("id").as("doc_id"),
      expr("id div 3").as("g"),
      (col("id") % 3).cast("int").as("k"))
      .select(col("doc_id"),
        concat_ws(" ", transform(
          sequence(col("k") * 5, col("k") * 5 + 29),
          j => concat(lit("w"), col("g"), lit("_"), j))).as("text"))
    val singles = spark.range(nGroups * 3, nGroups * 4).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), lit(29)),
        j => concat(lit("s"), col("id"), lit("_"), j))).as("text"))
    chains.unionByName(singles)
  }

  /** PII-planted corpus for the q80 scrub gate: word soup with
    * deterministically injected emails (every 3rd doc), SSN-shaped ids
    * (every 5th), and phone-shaped numbers (every 7th) — digits derived
    * from doc_id so the fixture is pure column math (no RNG, identical at
    * any partitioning). Some docs carry several kinds, some none.
    */
  def piiDocs(spark: SparkSession, n: Long): DataFrame = {
    def d(m: Int, w: Int) =
      lpad((col("id") % m).cast("string"), w, "0")
    spark.range(0L, n).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        lit("alpha beta gamma"),
        when(col("id") % 3 === 0,
          concat(lit("user"), col("id"), lit(".x@mail"), col("id") % 10,
            lit(".example.com"))).otherwise(lit("delta")),
        lit("epsilon zeta"),
        when(col("id") % 5 === 0,
          concat(d(900, 3), lit("-"), d(90, 2), lit("-"), d(9000, 4)))
          .otherwise(lit("eta")),
        when(col("id") % 7 === 0,
          concat(lit("("), d(800, 3), lit(") "), d(700, 3), lit("-"), d(9500, 4)))
          .otherwise(lit("theta")),
        lit("iota kappa")).as("text"))
  }
}
