package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Synth

/** End-to-end Spark specs: synth city + images through validation,
  * triangulation, the salted PIP spatial join, kNN, dictionary encoding,
  * and tiling — the minimum slice of SURVEY.md §7.3 plus its invariants.
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val NB = 16L      // buildings (one of them emits an invalid polygon)
  private val NI = 400L     // images
  private lazy val surfaces = Synth.surfaces(spark, NB).toDF.cache()
  private lazy val images = Synth.withAnchors(
    Synth.images(spark, NI, NB).toDF, NB).cache()

  test("synth surfaces: 9 polygons per building + 1 invalid per 64th") {
    val n = surfaces.count()
    assert(n === NB * 9 + (NB / 64))
    assert(n === 144) // NB=16 → no invalid-row building in range? 16/64=0
  }

  test("validation routes invalid rows to rejects with reasons") {
    val big = Synth.surfaces(spark, 128L).toDF // buildings 63 and 127 emit bad rows
    val (ok, rejects) = ObjPipeline.validated(big)
    assert(rejects.count() === 2)
    val reasons = rejects.select("reason").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().sorted
    assert(reasons.forall(Set("open_ring", "lt4points", "non_planar_or_dup")))
    assert(ok.count() === big.count() - 2)
  }

  test("per-polygon triangle counts match the Euler contract") {
    val (ok, _) = ObjPipeline.validated(surfaces)
    val tris = SpatialOps.triangles(ObjPipeline.withoutOpenings(ok))
    val counts = tris.groupBy("building_id", "poly_ord")
      .count().collect()
      .map(r => (r.getLong(1), r.getLong(2))).toMap
    // ground square → 2; wallS (4 ext + 4 hole verts) → 8; walls → 2;
    // pentagon wallW → 3; gable triangle → 1; roofs → 2
    assert(counts(0L) === 2)  // ground
    assert(counts(1L) === 8)  // wall with window hole: T = 8 − 2 + 2
    assert(counts(2L) === 2)
    assert(counts(3L) === 3)  // pentagon
    assert(counts(4L) === 2)
    assert(counts(5L) === 1)  // gable triangle passthrough
    assert(counts(6L) === 2)
    assert(counts(7L) === 2)
    assert(!counts.contains(8L)) // window opening anti-joined away
  }

  test("triangulated area equals polygon net area per surface") {
    val (ok, _) = ObjPipeline.validated(surfaces)
    import graft.expr.GeomFunctions._
    val perPoly = SpatialOps.triangles(ObjPipeline.withoutOpenings(ok))
      .withColumn("tri_area", expr(
        """sqrt(pow((tri.b.y-tri.a.y)*(tri.c.z-tri.a.z)-(tri.b.z-tri.a.z)*(tri.c.y-tri.a.y),2)
               +pow((tri.b.z-tri.a.z)*(tri.c.x-tri.a.x)-(tri.b.x-tri.a.x)*(tri.c.z-tri.a.z),2)
               +pow((tri.b.x-tri.a.x)*(tri.c.y-tri.a.y)-(tri.b.y-tri.a.y)*(tri.c.x-tri.a.x),2))/2"""))
      .groupBy("surface_id").agg(sum("tri_area").as("tri_sum"))
    val expected = ObjPipeline.withoutOpenings(ok)
      .select(col("surface_id"), area_gml(col("ext"), col("holes")).as("net_area"))
    val joined = perPoly.join(expected, "surface_id")
      .withColumn("diff", abs(col("tri_sum") - col("net_area")))
    assert(joined.where(col("diff") > 1e-6).count() === 0)
  }

  test("spatial join: anchors inside a footprint match ground+roof; row count salt-invariant") {
    val (ok, _) = ObjPipeline.validated(surfaces)
    val triCells = SpatialOps.triangleCells(SpatialOps.triangles(ObjPipeline.withoutOpenings(ok)))
    val imgCells = SpatialOps.imageCells(images)
    val j1 = SpatialOps.spatialJoin(imgCells, triCells, salt = 1)
    val j8 = SpatialOps.spatialJoin(imgCells, triCells, salt = 8)
    val c1 = j1.count(); val c8 = j8.count()
    assert(c1 === c8, "salting must not change join cardinality")
    assert(c1 > 0, "some anchors must land inside footprints")
    // every match is geometrically true: anchor inside the 2D projection
    val per = j1.groupBy("image_id", "surface_class").count()
      .groupBy("surface_class").agg(max("count").as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // an anchor strictly inside a footprint hits ground (2 tris cover it → 1-2
    // matches) and exactly one roof slab region
    assert(per.contains("GroundSurface") && per.contains("RoofSurface"))
  }

  test("per-cell counts identical across parallelism levels (scaling gate)") {
    val (ok, _) = ObjPipeline.validated(surfaces)
    val triCells = SpatialOps.triangleCells(SpatialOps.triangles(ObjPipeline.withoutOpenings(ok)))
    val imgCells = SpatialOps.imageCells(images)
    val counts = SpatialOps.cellCounts(SpatialOps.spatialJoin(imgCells, triCells))
      .orderBy("cell_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val counts2 = SpatialOps.cellCounts(
      SpatialOps.spatialJoin(imgCells.repartition(13), triCells.repartition(3), salt = 4))
      .orderBy("cell_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(counts.toSeq === counts2.toSeq)
  }

  test("kNN: k rows per image, distances ascending, nearest is sane") {
    val res = SpatialOps.knnAssign(images.limit(50), surfaces, k = 3).cache()
    val byImage = res.groupBy("image_id").count().collect()
    assert(byImage.forall(_.getLong(1) === 3L))
    val bad = res.groupBy("image_id")
      .agg(min(when(col("rk") === 1, col("dist"))).as("d1"),
           max(when(col("rk") === 3, col("dist"))).as("d3"))
      .where(col("d1") > col("d3")).count()
    assert(bad === 0)
  }

  test("bbox join: buffered AABB membership") {
    val boxes = SpatialOps.buildingBBoxes(surfaces)
    assert(boxes.count() === NB)
    val r = boxes.where(col("building_id") === "bldg00000000").head()
    assert(r.getDouble(1) === Synth.Ox0 - 3.0) // xmin − 3 m buffer
    val j = SpatialOps.bboxJoin(images, boxes)
    // every joined row satisfies the range predicate by construction; spot
    // check: the downtown hot block (building 0) collects ≥ the skew share
    val hot = j.where(col("building_id") === "bldg00000000")
      .select("image_id").distinct().count()
    assert(hot >= NI / 10, s"downtown should capture ~20% of images, got $hot")
  }

  test("dictionary encoding: contiguous 1-based ordinals, faces resolve") {
    val (ok, _) = ObjPipeline.validated(surfaces)
    val tris = SpatialOps.triangles(ObjPipeline.withoutOpenings(ok))
    val (verts, faces) = ObjPipeline.dictionaryEncode(ObjPipeline.corners(tris, semantics = true))
    val perCls = verts.groupBy("cls")
      .agg(count(lit(1)).as("n"), min("ordinal").as("lo"), max("ordinal").as("hi"),
        countDistinct("ordinal").as("nd")).collect()
    perCls.foreach { r =>
      assert(r.getLong(1) === r.getLong(4)) // ordinals distinct
      assert(r.getInt(2) === 1)             // 1-based
      assert(r.getInt(3).toLong === r.getLong(1)) // contiguous
    }
    // faces reference existing ordinals
    val maxOrd = verts.where(col("cls") === "All").agg(max("ordinal")).head().getInt(0)
    val badFace = faces.where(col("cls") === "All")
      .where(col("ia") > maxOrd || col("ib") > maxOrd || col("ic") > maxOrd ||
        col("ia") < 1 || col("ib").isNull).count()
    assert(badFace === 0)
    // 'All' face count = total triangles
    assert(faces.where(col("cls") === "All").count() === tris.count())
  }

  test("assignOrdinals at component cardinality: 20k classes, dense per-class") {
    // the -sepC path routes one class PER COMPONENT through the ordinal
    // assignment — the driver-side offset table must stay O(k log k), not
    // O(k²) (the naive per-key rescan melted at this cardinality)
    import spark.implicits._
    val firstSeen = spark.range(0, 60000)
      .select(format_string("comp%05d", col("id") % 20000).as("cls"),
        (col("id") * 7 % 997).cast("double").as("x"),
        (col("id") * 11 % 991).cast("double").as("y"),
        lit(0.0).as("z"),
        struct(col("id").as("building_ord"), lit(0L).as("poly_ord"),
          lit(0).as("tri_idx"), lit(0).as("corner")).as("first_seen"))
    val t0 = System.nanoTime()
    val ords = ObjPipeline.assignOrdinals(firstSeen)
    val perCls = ords.groupBy("cls").agg(count(lit(1)).as("n"),
      min("ordinal").as("lo"), max("ordinal").as("hi"),
      countDistinct("ordinal").as("nd")).collect()
    val dt = (System.nanoTime() - t0) / 1e9
    assert(perCls.length === 20000)
    perCls.foreach { r =>
      assert(r.getInt(2) === 1 && r.getInt(3).toLong === r.getLong(1) &&
        r.getLong(1) === r.getLong(4), s"non-dense ordinals for ${r.getString(0)}")
    }
    assert(dt < 120.0, f"ordinal assignment took $dt%.1f s at 20k classes")
  }

  test("objLines golden for one tiny building") {
    val one = Synth.surfaces(spark, 1L).toDF
    val (v, f, _) = ObjPipeline.run(spark, one, semantics = false)
    val lines = ObjPipeline.objLines(v, f).where(col("cls") === "All")
      .orderBy("line_no").select("line").collect().map(_.getString(0))
    assert(lines.count(_.startsWith("v ")) === v.count())
    assert(lines.count(_.startsWith("f ")) === f.count())
    // vertices come before faces; first vertex is the first-seen corner
    assert(lines.head.startsWith("v "))
    assert(lines.last.startsWith("f "))
    // deterministic across runs
    val (v2, f2, _) = ObjPipeline.run(spark, one, semantics = false)
    val lines2 = ObjPipeline.objLines(v2, f2).where(col("cls") === "All")
      .orderBy("line_no").select("line").collect().map(_.getString(0))
    assert(lines.toSeq === lines2.toSeq)
  }

  test("translate-to-min makes the lexicographic min vertex (0,0,0)") {
    val (v, _, _) = ObjPipeline.run(spark, surfaces, semantics = false, translate = true)
    val m = v.agg(min(struct(col("x"), col("y"), col("z")))).head().getStruct(0)
    assert(m.getDouble(0) === 0.0 && m.getDouble(1) === 0.0 && m.getDouble(2) === 0.0)
  }

  test("decimal translation params: negated int-truncated mean (O-44)") {
    val env = Synth.envelopes(spark, 4L)
    val p = Translate.translationParams(env).head()
    val meanA = env.agg(avg(col("lower_corner.a"))).head().getDecimal(0)
    assert(p.getDecimal(0).negate().toBigInteger === meanA.toBigInteger)
    // exactness: translated surfaces shift by exactly the params
    val dx = -123.0; val dy = -456.0
    val t = Translate.applySurfaces(surfaces, dx, dy, 0.0)
    val before = surfaces.select(explode(col("ext")).as("p")).agg(sum("p.x")).head().getDouble(0)
    val after = t.select(explode(col("ext")).as("p")).agg(sum("p.x")).head().getDouble(0)
    val nPts = surfaces.select(explode(col("ext"))).count()
    assert(math.abs((after - before) - dx * nPts) < 1e-6 * nPts)
  }

  test("tiles: lossless PSNR, caption integrity, per-cell metrics") {
    val imgCells = SpatialOps.imageCells(images.limit(64))
    val tiles = ImageOps.materializeTiles(spark, imgCells)
    val m = ImageOps.tileMetrics(tiles).agg(
      sum("n_tiles").as("n"), min("min_psnr").as("p"), min("captions_ok").as("c")).head()
    assert(m.getLong(0) === 64L)
    assert(m.getDouble(1) === Double.MaxValue || m.getDouble(1) >= 40.0)
    assert(m.getInt(2) === 1)
  }

  test("thumbnails: box-average resize is mean-preserving and deterministic") {
    import graft.model.ImageCodec
    // flat-color buffer resizes to the same flat color
    val flat = Array.fill(16 * 16 * 3)(77.toByte)
    assert(ImageCodec.resize(flat, 16, 16, 4, 4).forall(_ == 77.toByte))
    // global mean is preserved by box averaging (within integer truncation)
    val px = ImageCodec.seededPixels(16, 16, 42L)
    val small = ImageCodec.resize(px, 16, 16, 4, 4)
    def mean(a: Array[Byte]) = a.iterator.map(_ & 0xFF).sum.toDouble / a.length
    assert(math.abs(mean(px) - mean(small)) < 4.0)
    // operator: one thumb per image, deterministic bytes
    val t1 = ImageOps.thumbnails(spark, images.limit(64), 4, 4)
      .select("image_id", "thumb_bytes").collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    val t2 = ImageOps.thumbnails(spark, images.limit(64).repartition(7), 4, 4)
      .select("image_id", "thumb_bytes").collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1).toSeq)).toMap
    assert(t1 === t2 && t1.size === 64)
  }

  test("image features: deterministic channel means") {
    val f = ImageOps.extractFeatures(spark, images.limit(16)).collect()
    assert(f.length === 16)
    f.foreach(r => assert(r.getDouble(1) >= 0 && r.getDouble(1) <= 255))
    val f2 = ImageOps.extractFeatures(spark, images.limit(16)).collect()
    assert(f.map(_.toString).sorted.toSeq === f2.map(_.toString).sorted.toSeq)
  }
}
