package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Materialized, ObjPipeline, SpatialOps, Translate}
import graft.sink.{GmlSink, MtlSink, ObjWriter}
import graft.sources.ChunkedGml

/** Reference-compatible command line (CityGML2OBJs.py:196-253): a user of
  * the reference can point the same flags at this engine.
  *
  * {{{
  * spark-submit --class graft.Cli <jar> -i in/ -o out/ -s 1 -g 1 -a 1 -t 1
  * }}}
  *
  *  - `-i/-o`  input dir of .gml/.xml files / output dir (required)
  *  - `-s 1`   one OBJ per semantic class (plus the 'All' union)
  *  - `-g 1`   `o <building>` object records            (:642-659, 717-723)
  *  - `-a 1|2|3` attribute→material: the reference's hard-coded irradiation
  *             configurations (:384-394) — 1 = polygon `irradiation`
  *             350..1300 + building `yearlyIrradiation`, 2 = polygon
  *             `totalIrradiation` 157.0136575..83371.4359245, 3 =
  *             building-level only, 24925..103454. Writes colormap.mtl,
  *             the colorbar legend PNG, and `mtllib`/`usemtl` lines.
  *  - `-v 1`   report the reject count (validation is ALWAYS on in this
  *             engine — invalid rings route to a rejects table instead of
  *             crashing mid-run; documented divergence)
  *  - `-t 1`   translate vertices so the smallest is at the origin
  *  - `-p 1`   SKIPTRI: n-ary faces, no triangulation   (:137-148)
  *  - `-tC/-tCw 1` translate the CityGML into a local CRS first; `-tCw`
  *             additionally writes `*_local_.gml` per building + the
  *             `_parameters.txt` sidecar (CityGMLTranslation.py). Envelope
  *             lower corners are derived from building AABBs (the ingest is
  *             building-granular; documented divergence).
  *  - `-sepC 1` component separation: one OBJ per BUILDING plus one per
  *             installation feature (BuildingInstallation /
  *             BuildingConstructiveElement / outerBuildingInstallation,
  *             componentseparationmodule.py:621-624) plus an 'Other' bin
  *             for non-building city objects, with index.json rows
  *             (filename = sanitized id; the reference writes per-feature
  *             files — documented granularity divergence), openings
  *             included; files written executor-side
  *  - `-appW 1` (with -sepC) windows/doors approximated by convex hulls
  *  - `-addBB 1` (with -sepC) corner triangles of the buffered AABB
  *  - `-importBB <file>` use bounding boxes from a bbox.json instead
  *  - `-addBBJSON 1` write the bbox.json sidecar
  *  - `-tbw`   accepted and ignored (unfinished in the reference, :248)
  */
object Cli {

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i)
      if (!k.startsWith("-")) { System.err.println(s"unexpected arg $k"); sys.exit(2) }
      if (i + 1 < args.length && !args(i + 1).startsWith("-")) {
        m += k -> args(i + 1); i += 2
      } else { m += k -> "1"; i += 1 }
    }
    m.toMap
  }

  /** The reference's hard-coded attribute configurations (:384-394). */
  private[graft] def attrConfig(mode: String): (String, String, Double, Double) =
    mode match {
      case "1" => ("irradiation", "yearlyIrradiation", 350.0, 1300.0)
      case "2" => ("totalIrradiation", "totalIrradiation", 157.0136575, 83371.4359245)
      case "3" => ("__building_only__", "yearlyIrradiation", 24925.0, 103454.0)
      case m => System.err.println(s"unknown -a mode $m"); sys.exit(2)
    }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val in = a.getOrElse("-i", a.getOrElse("--directory",
      { System.err.println("missing -i <dir>"); sys.exit(2) }))
    val out = a.getOrElse("-o", a.getOrElse("--results",
      { System.err.println("missing -o <dir>"); sys.exit(2) }))

    val builder = SparkSession.builder().appName("citygml2objv2spark")
    // standalone convenience: default master only when spark-submit didn't set one
    if (!new org.apache.spark.SparkConf(true).contains("spark.master"))
      builder.master("local[*]")
    val spark = builder
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    run(spark, in, out, a).foreach(println)
  }

  /** The whole pipeline, returned as printed summary lines (separated from
    * main so the spec can drive it without forking a JVM).
    */
  def run(spark: SparkSession, in: String, out: String,
          a: Map[String, String]): Seq[String] = {
    // ---- ingest (chunked byte-range scan: any file size, any prefix) ----
    // persisted: -v / -tC / -a / the write pipeline / -addBBJSON each run
    // their own actions, and re-scanning multi-GB inputs per action is
    // exactly what this path exists to avoid; a lazily filled cache (the
    // first action fills it, no extra job), released on every exit path,
    // since one JVM may call run() many times. The operators' own
    // materializations are released with the run's scope.
    val (raw0, rejects) = ChunkedGml.ingestFiles(spark, s"$in/*.{gml,xml}")
    val raw = raw0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try Materialized.scope(convert(spark, raw, rejects, in, out, a))
    finally raw.unpersist(blocking = false)
  }

  /** Everything after the ingest, over its persisted rows. */
  private def convert(spark: SparkSession, raw: DataFrame, rejects: DataFrame,
                      in: String, out: String,
                      a: Map[String, String]): Seq[String] = {
    def on(f: String) = a.get(f).contains("1")
    val msgs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (raw.isEmpty) {
      msgs += s"no buildings found under $in (*.gml / *.xml)"
      return msgs.toSeq
    }
    if (on("-v")) {
      // ingest-stage rejects (posList token violations) AND ring-validation
      // rejects (open / <4-point / non-planar) — the reference warns on both
      val nr = rejects.count() + ObjPipeline.validated(raw)._2.count()
      msgs += s"validation: $nr invalid polygon(s) routed to rejects"
    }

    // ---- optional CRS translation BEFORE further processing (EP-3) ----
    val (surfaces, transParams) =
      if (on("-tC") || on("-tCw")) {
        val bb = SpatialOps.buildingBBoxes(raw, buffer = 0.0)
        val env = bb.select(struct(col("ymin").as("a"), col("xmin").as("b"))
          .as("lower_corner"))
        val p = Translate.translationParams(env).head()
        if (p.isNullAt(0) || p.isNullAt(1)) {
          // no structural surfaces anywhere (e.g. openings-only input): a
          // clean message beats an NPE from null translation decimals
          msgs += "-tC: no structural surfaces to derive translation from; skipped"
          return msgs.toSeq
        }
        val dy = p.getDecimal(0); val dx = p.getDecimal(1)
        val t = Translate.applySurfaces(raw, dx.doubleValue, dy.doubleValue, 0.0)
        if (on("-tCw")) {
          val pp = GmlSink.writeTranslatedDistributed(t, dy, dx, out, "citygml")
          msgs += s"translated CityGML + $pp"
        }
        msgs += s"CRS translation applied: dy=$dy dx=$dx"
        (t, Some((dx.doubleValue, dy.doubleValue)))
      } else (raw, None)

    val attr = a.get("-a").filter(_ != "0").map(attrConfig)
    val buildingAttrs = attr.map { case (_, bAttr, _, _) =>
      surfaces.groupBy(col("building_id"))
        .agg(max(element_at(col("battrs"), bAttr)).as("batt"))
    }

    if (on("-sepC")) {
      // ---- EP-2: component separation — one OBJ per building, one per
      // installation feature (componentseparationmodule.py:621-624), plus
      // the 'Other' bin for non-building city objects (which the reference's
      // sepC run still routes through its plain write path) ----
      if (attr.nonEmpty)
        msgs += "-a has no effect with -sepC (reference parity: the sepC " +
          "building loop continues before any material logic, CityGML2OBJs.py:616-637)"
      val instSeq = graft.sources.GmlXml.InstallationClasses.toSeq
      val isOtherObj = ObjPipeline.isOtherObject(surfaces)
      val fidOr = ObjPipeline.featureIdOrClass(surfaces)
      val withComp = surfaces.withColumn("component",
        ObjPipeline.componentKey(surfaces))
      val (ok, _) = ObjPipeline.validated(withComp)
      val thematic = ObjPipeline.withoutOpenings(ok)
      val openings = ok.where(col("surface_class").isin("Window", "Door"))
      val faceCols = Seq(col("building_id"), col("surface_id"),
        col("surface_class"), col("building_ord"), col("poly_ord"),
        col("tri_idx"), col("tri"), col("component"))
      val openTris =
        if (on("-appW")) {
          val ords = openings.select("building_id", "surface_id",
            "surface_class", "building_ord", "poly_ord", "component").distinct()
          SpatialOps.windowHulls(openings)
            .join(ords, Seq("building_id", "surface_id"))
            .select(faceCols: _*)
        } else SpatialOps.triangles(openings).select(faceCols: _*)
      val bboxes = a.get("-importBB") match {
        case Some(path) =>
          msgs += s"bounding boxes imported from $path"
          GmlSink.readBboxJson(spark, path)
            .select(col("building_id"),
              col("min_x").as("xmin"), col("max_x").as("xmax"),
              col("min_y").as("ymin"), col("max_y").as("ymax"),
              col("min_z").as("zmin"), col("max_z").as("zmax"))
        case None => SpatialOps.buildingBBoxes(ok)
      }
      val bbTris =
        if (on("-addBB") || a.contains("-importBB")) Some {
          val ords = ok.groupBy("building_id")
            .agg(min(col("building_ord")).as("building_ord"))
          SpatialOps.cornerTriangles(bboxes)
            .join(ords, Seq("building_id"))
            .withColumn("surface_id", concat(col("building_id"), lit("_bbox")))
            .withColumn("surface_class", lit("BBox"))
            .withColumn("poly_ord", lit(1000000L) + col("tri_idx"))
            .withColumn("component", ObjPipeline.safeSeg(col("building_id")))
            .select(faceCols: _*)
        } else None
      val faceRows = bbTris.foldLeft(
        SpatialOps.triangles(thematic).select(faceCols: _*)
          .unionByName(openTris))(_ unionByName _)
      // corners bins by the pre-computed `component` column
      val cs = ObjPipeline.corners(faceRows, semantics = false)
      val (v0, f) = ObjPipeline.dictionaryEncode(cs)
      val v = if (on("-t")) ObjPipeline.translateToMin(v0) else v0
      val nFiles = ObjWriter.writeIndexedDistributed(
        ObjPipeline.objLines(v, f), out, "component")
      // index.json: obj filename → tag / parentID / gmlID
      // (add_identifier_to_json contract); the 'Other' bin gets one entry.
      // Built from the VALIDATED rows, so a component whose every polygon
      // was rejected never gets an index row pointing at a missing file
      val comps = ok.select(
        concat(lit("component-"), col("component"), lit(".obj")).as("filename"),
        when(isOtherObj, lit("Other"))
          .when(col("surface_class").isin(instSeq: _*), col("surface_class"))
          .otherwise(lit("Building")).as("tag"),
        when(isOtherObj, lit("")).otherwise(col("building_id")).as("parent_id"),
        when(isOtherObj, lit(""))
          .when(col("surface_class").isin(instSeq: _*), fidOr)
          .otherwise(col("building_id")).as("gml_id")).distinct()
      msgs += s"component index: ${GmlSink.writeIndexJson(comps, out)}"
      msgs += s"component separation: $nFiles OBJ file(s) under $out"
    } else {
      // ---- EP-1: plain conversion with the full flag surface ----
      val (v, f, _) = ObjPipeline.runFlags(spark, surfaces,
        semantics = on("-s"), translate = on("-t"), skipTri = on("-p"),
        attribute = attr.map { case (pAttr, _, lo, hi) => (pAttr, lo, hi) },
        buildingAttrs = buildingAttrs)
      val lines = ObjPipeline.objLines(v, f,
        objects = on("-g"), mtllib = attr.nonEmpty)
      val n = ObjWriter.writeIndexedDistributed(lines, out, "citygml")
      msgs += s"wrote $n OBJ file(s) under $out"
      if (attr.nonEmpty) {
        msgs += s"materials: ${MtlSink.write(out)}"
        // colorbar annotated over the -a mode's value range (the reference
        // hardcodes vmin/vmax per configuration, plotcolorbar.py:43-44)
        val (_, _, lo, hi) = attr.get
        msgs += s"colorbar: ${MtlSink.colorbarPng(out, vmin = lo, vmax = hi)}"
      }
    }

    if (on("-addBBJSON")) {
      // bboxSidecar applies (dx, dy) itself, so the boxes must come from the
      // UNTRANSLATED surfaces or the translation would apply twice
      val (okRaw, _) = ObjPipeline.validated(raw)
      val (dx, dy) = transParams.getOrElse((0.0, 0.0))
      val sidecar = GmlSink.bboxSidecar(
        SpatialOps.buildingBBoxes(okRaw), dx, dy, 0.0)
      msgs += s"bbox sidecar: ${GmlSink.writeBboxJson(sidecar, out)}"
    }
    if (a.contains("-tbw"))
      msgs += "-tbw: unfinished in the reference (CityGML2OBJs.py:248) — ignored"
    msgs.toSeq
  }
}
