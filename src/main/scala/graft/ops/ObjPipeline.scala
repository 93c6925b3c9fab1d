package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expr.GeomFunctions._

/** Reference-parity OBJ pipeline (SURVEY.md EP-1): clean → validate →
  * anti-join openings → triangulate → dictionary-encode vertices →
  * 1-based face indices, per semantic class, in document emission order.
  *
  * The reference's O(n²) driver-side `get_index` list scan
  * (CityGML2OBJs.py:68-77) is replaced by a distributed first-occurrence
  * window (O-41) that reproduces the same ordinal assignment: every distinct
  * vertex gets the ordinal of its first appearance in
  * (building_ord, poly_ord, tri_idx, corner) document order.
  */
object ObjPipeline {

  /** Route rows: cleaned valid polygons vs a rejects table with reasons
    * (reference prints-and-skips, CityGML2OBJs.py:163-170; we keep the
    * never-fail contract but make rejects queryable).
    */
  def validated(surfaces: DataFrame): (DataFrame, DataFrame) = {
    val cleaned = surfaces
      .withColumn("ext_clean", clean_ring(col("ext")))
      .withColumn("holes_clean",
        transform(col("holes"), h => clean_ring(h)))
      .withColumn("valid", is_poly_valid(col("ext_clean")))
    val ok = cleaned.where(col("valid"))
      .drop("ext", "holes", "valid")
      .withColumnRenamed("ext_clean", "ext")
      .withColumnRenamed("holes_clean", "holes")
    val rejects = cleaned.where(!col("valid"))
      .select(col("building_id"), col("surface_id"), col("surface_class"),
        when(size(col("ext_clean")) < 4, "lt4points")
          .when(element_at(col("ext_clean"), 1) =!= element_at(col("ext_clean"), -1), "open_ring")
          .otherwise("non_planar_or_dup").as("reason"))
    (ok, rejects)
  }

  /** Thematic polygons minus opening polygons (O-13b / O-37): left-anti join
    * on the ring geometry identity, mirroring the reference's identity
    * membership scan (CityGML2OBJs.py:755-762). Openings are a small side —
    * broadcast. The hint stays: `openings` is an un-materialized filter
    * whose size estimate is the whole surfaces scan, and materializing it
    * to measure it would add a job to every conversion.
    */
  def withoutOpenings(surfaces: DataFrame): DataFrame = {
    val openings = surfaces
      .where(col("surface_class").isin("Window", "Door"))
      .select(col("ext").as("open_ext")).distinct()
    surfaces
      .where(!col("surface_class").isin("Window", "Door"))
      .join(broadcast(openings), col("ext") === col("open_ext"), "left_anti")
  }

  /** Face source for `-p`/SKIPTRI mode (CityGML2OBJs.py:137-148, 174-183):
    * triangulation bypassed, each polygon becomes ONE n-ary face over its
    * OPEN exterior ring (the closing point dropped); interior rings are
    * ignored, exactly like the reference's `t = [epoints_clean[:-1]]`.
    * Output schema matches [[SpatialOps.triangles]] plus `pts` (the face's
    * point list) instead of a `tri` struct.
    */
  def polygonFaces(thematic: DataFrame): DataFrame = {
    val extra = Seq("material_all", "material_cls", "component")
      .filter(thematic.columns.contains(_)).map(col)
    thematic.select(Seq(col("building_id"), col("surface_id"),
      col("surface_class"), col("building_ord"), col("poly_ord"),
      lit(0).as("tri_idx"),
      slice(col("ext"), lit(1), size(col("ext")) - 1).as("pts")) ++ extra: _*)
  }

  /** Face corners in document order, with the 'All' + per-class routing of
    * the reference (O-52): every polygon contributes to class 'All'; with
    * semantics enabled it also contributes to its own class. Accepts either
    * triangle rows (`tri` struct from [[SpatialOps.triangles]]) or n-ary
    * face rows (`pts` array from [[polygonFaces]]); carries surface_id and
    * the optional material lineage (`material_all` for the 'All' bin —
    * building-level attribute in the reference — and `material_cls` for
    * class bins).
    */
  def corners(faces: DataFrame, semantics: Boolean): DataFrame = {
    val withPts =
      if (faces.columns.contains("pts")) faces
      else faces.withColumn("pts",
        array(col("tri.a"), col("tri.b"), col("tri.c")))
    val withMat = Seq("material_all", "material_cls").foldLeft(withPts) {
      (df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast("string"))
    }
    // 'Other' rows (non-building city objects) go ONLY to the 'Other' bin,
    // never 'All' (CityGML2OBJs.py:772-784 converts them with cl='Other';
    // they are outside the per-building 'All' loop). Classes the reference's
    // semantic loop doesn't know (installations, unwrapped LOD1 polys → 'None')
    // go to 'All' only even with semantics on (CityGML2OBJs.py:560-562).
    val knownCls = (graft.sources.GmlXml.SemanticClasses ++
      graft.sources.GmlXml.OpeningClasses).toSeq
    // a pre-computed `component` column overrides class routing entirely —
    // the `-sepC` path bins by (building | installation feature | 'Other')
    val classes =
      if (faces.columns.contains("component")) array(col("component"))
      else when(col("surface_class") === "Other", array(lit("Other")))
        .otherwise(
          if (semantics)
            when(col("surface_class").isin(knownCls: _*),
              array(lit("All"), col("surface_class")))
              .otherwise(array(lit("All")))
          else array(lit("All")))
    withMat
      .withColumn("cls", explode(classes))
      .withColumn("material",
        when(col("cls") === "All", col("material_all"))
          .otherwise(col("material_cls")))
      .select(col("cls"), col("building_id"), col("surface_id"),
        col("building_ord"), col("poly_ord"), col("tri_idx"), col("material"),
        posexplode(col("pts")).as(Seq("corner", "v")))
  }

  /** Untrusted-id → safe path segment as COLUMN math, collision-proofed:
    * whenever sanitization/truncation changed the id, a stable hash suffix
    * keeps distinct ids ('b.1' vs 'b_1') from merging into one file.
    * (graft.HadoopConfs.fileSafe's columnar twin — SAME crc32-hex suffix,
    * so component-OBJ and GML-sink namespaces agree on every segment.)
    */
  def safeSeg(c: Column): Column = {
    val s = substring(regexp_replace(c, "[^A-Za-z0-9_-]", "_"), 1, 200)
    when(s === c, s)
      .otherwise(concat(s, lit("_h"), lower(hex(crc32(c.cast("binary"))))))
  }

  /** Non-building city-object predicate (requires the ingest's object_kind
    * column; surfaces without it are all building-owned).
    */
  def isOtherObject(df: DataFrame): Column =
    if (df.columns.contains("object_kind"))
      !col("object_kind").isin("Building", "None")
    else lit(false)

  /** Installation feature id, falling back to the class name when the
    * feature carried no gml:id.
    */
  def featureIdOrClass(df: DataFrame): Column =
    if (df.columns.contains("feature_id"))
      coalesce(when(col("feature_id") =!= "", col("feature_id")),
        col("surface_class"))
    else col("surface_class")

  /** The `-sepC` component key (shared by Cli and the q56 gate): Other
    * objects → one 'Other' bin; installation features → their own
    * `<building>__<feature>` component (componentseparationmodule.py:
    * 621-624); everything else → its building.
    */
  def componentKey(df: DataFrame): Column = {
    val instSeq = graft.sources.GmlXml.InstallationClasses.toSeq
    when(isOtherObject(df), lit("Other"))
      .when(col("surface_class").isin(instSeq: _*),
        safeSeg(concat(col("building_id"), lit("__"), featureIdOrClass(df))))
      .otherwise(safeSeg(col("building_id")))
  }

  /** O-41 vertex dictionary encoding: per class, distinct vertices get
    * 1-based ordinals in first-occurrence document order.
    * Returns (vertices, faces):
    *   vertices(cls, ordinal, x, y, z)
    *   faces(cls, building_id, building_ord, surface_id, poly_ord, tri_idx,
    *         idx: array<int> (corner-ordered vertex ordinals — length 3 for
    *         triangles, n for SKIPTRI faces), ia/ib/ic (first three, for the
    *         triangle consumers), material (nullable, `-a` lineage)
    */
  def dictionaryEncode(corners: DataFrame): (DataFrame, DataFrame) = {
    // r7: checkpoint the corner table — it feeds BOTH the first-seen
    // vertex aggregation and the face-side ordinal re-attach join, and
    // each reference used to recompute the whole upstream chain
    // (clean → validate → anti-join → ear-clip → double explode). One
    // compute, two slim re-reads. Both returned frames read it.
    val corners0 = Materialized(corners).scoped
    val seq = struct(col("building_ord"), col("poly_ord"), col("tri_idx"), col("corner"))
    val firstSeen = corners0
      .groupBy(col("cls"), col("v.x").as("x"), col("v.y").as("y"), col("v.z").as("z"))
      .agg(min(seq).as("first_seen"))
    val ordinals = assignOrdinals(firstSeen)
    val vertices = ordinals.select(col("cls"), col("ordinal"),
      col("x"), col("y"), col("z"))
    val c = corners0.as("c")
    val o = ordinals.drop("first_seen").as("o")
    val indexed = c.join(o,
      col("c.cls") === col("o.cls") &&
        col("c.v.x") === col("o.x") &&
        col("c.v.y") === col("o.y") &&
        col("c.v.z") === col("o.z"))
      .select(col("c.cls").as("cls"), col("c.building_id").as("building_id"),
        col("c.building_ord").as("building_ord"),
        col("c.surface_id").as("surface_id"), col("c.poly_ord").as("poly_ord"),
        col("c.tri_idx").as("tri_idx"), col("c.material").as("material"),
        col("c.corner").as("corner"), col("o.ordinal").as("ordinal"))
    val faces = indexed
      .groupBy(col("cls"), col("building_id"), col("building_ord"),
        col("surface_id"), col("poly_ord"), col("tri_idx"))
      .agg(
        transform(array_sort(collect_list(struct(col("corner"), col("ordinal")))),
          e => e.getField("ordinal")).as("idx"),
        // every corner of a face shares the face's material (or null)
        max(col("material")).as("material"))
      .withColumn("ia", get(col("idx"), lit(0)))
      .withColumn("ib", get(col("idx"), lit(1)))
      .withColumn("ic", get(col("idx"), lit(2)))
    (vertices, faces)
  }

  /** Scalable per-class dense ordinal assignment. A plain
    * `row_number over (partition by cls order by first_seen)` serializes each
    * class into ONE reducer — with a handful of classes that caps parallelism
    * at #classes regardless of cluster size. Instead: range-partition by
    * (cls, first_seen) so the global order maps to partition order, rank
    * locally per (partition, cls), and add per-(partition, cls) offsets —
    * the offset table is tiny (≤ partitions × classes) and is the only
    * driver-side data. Same semantics, full parallelism.
    */
  def assignOrdinals(firstSeen: DataFrame): DataFrame =
    // running count (value = 1) == per-class row_number; PrefixSum carries
    // the materialization discipline and the O(k log k) offset scan the
    // -sepC path (one class PER COMPONENT — potentially millions of
    // (partition, class) pairs driver-side) depends on
    PrefixSum.runningSum(firstSeen, Seq("cls"), Seq("first_seen"),
        lit(1L), "__ord")
      .withColumn("ordinal", col("__ord").cast("int"))
      .drop("pid", "__ord")

  /** Global-min translation (O-42, `-t` flag): lexicographic min vertex over
    * all classes, subtracted from every vertex — two passes, like the
    * reference (CityGML2OBJs.py:789-805). The min is a single scalar: the
    * only driver-side collect in the pipeline.
    */
  def translateToMin(vertices: DataFrame): DataFrame = {
    val m = vertices.agg(min(struct(col("x"), col("y"), col("z"))).as("m"))
      .select(col("m.x"), col("m.y"), col("m.z")).head()
    vertices.select(col("cls"), col("ordinal"),
      (col("x") - m.getDouble(0)).as("x"),
      (col("y") - m.getDouble(1)).as("y"),
      (col("z") - m.getDouble(2)).as("z"))
  }

  /** Render OBJ text lines per class (O-4 global path: `v x y z` in ordinal
    * order, then `f i1 i2 … in` in document order). Flags mirror the
    * reference CLI:
    *  - `objects` (`-g`): one `o <building_id>` record before each
    *    building's faces in the 'All' bin (CityGML2OBJs.py:642-659); in a
    *    class bin, `o <building_id>_<first feature id>` before the
    *    building's first face of that class (CityGML2OBJs.py:717-723 — the
    *    reference interpolates the raw xpath LIST there, `o id_['gml_id']`;
    *    the engine emits the id itself, documented divergence).
    *  - `mtllib` (`-a` header): `mtllib colormap.mtl` as the first line
    *    (CityGML2OBJs.py:568-570); `usemtl <mat>` before EVERY face whose
    *    material is non-null (CityGML2OBJs.py:160, 192 — the reference
    *    repeats usemtl per face, no dedup).
    * Returns a DataFrame of (cls, line_no, line) — written one file per
    * class, executor-side, by [[graft.sink.ObjWriter.writeIndexedDistributed]]
    * (or collected by [[graft.sink.ObjWriter.writeIndexed]] for byte-exact
    * goldens).
    */
  def objLines(vertices: DataFrame, faces: DataFrame,
               objects: Boolean = false, mtllib: Boolean = false): DataFrame = {
    def key(section: Int, ord: Column, o2: Column, o3: Column, o4: Int) =
      struct(lit(section).as("section"), ord.cast("long").as("ord"),
        o2.cast("long").as("o2"), o3.cast("long").as("o3"),
        lit(o4).as("o4")).as("k")
    val vLines = vertices.select(col("cls"),
      key(0, col("ordinal"), lit(0L), lit(0L), 0),
      format_string("v %s %s %s",
        fmtNum(col("x")), fmtNum(col("y")), fmtNum(col("z"))).as("line"))
    val fLines = faces.select(col("cls"),
      key(1, col("building_ord"), col("poly_ord"), col("tri_idx"), 1),
      concat(lit("f "),
        concat_ws(" ", transform(col("idx"), i => i.cast("string")))).as("line"))
    var all = vLines.unionByName(fLines)
    if (mtllib) {
      val header = vertices.select(col("cls")).distinct().select(col("cls"),
        key(-1, lit(0L), lit(0L), lit(0L), 0),
        lit("mtllib colormap.mtl").as("line"))
      all = all.unionByName(header)
    }
    if (objects) {
      val oLines = faces
        .groupBy(col("cls"), col("building_id"), col("building_ord"))
        .agg(min(struct(col("poly_ord"), col("surface_id"))).as("fs"))
        .select(col("cls"),
          key(1, col("building_ord"), lit(-1L), lit(-1L), 0),
          when(col("cls") === "All",
            format_string("o %s", col("building_id")))
            .otherwise(format_string("o %s_%s",
              col("building_id"), col("fs.surface_id"))).as("line"))
      all = all.unionByName(oLines)
    }
    val useMtl = faces.where(col("material").isNotNull).select(col("cls"),
      key(1, col("building_ord"), col("poly_ord"), col("tri_idx"), 0),
      format_string("usemtl %s", col("material")).as("line"))
    all = all.unionByName(useMtl)
    all
      .withColumn("line_no",
        row_number().over(Window.partitionBy(col("cls")).orderBy(col("k"))))
      .select(col("cls"), col("line_no"), col("line"))
  }

  /** Python-repr-style float formatting: integers as "1.0", else shortest
    * round-trip decimal (matches the reference's str(float) OBJ emission).
    */
  private def fmtNum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c === c.cast("long").cast("double"),
      format_string("%.1f", c)).otherwise(c.cast("string"))

  /** `-a` material assignment (O-35 + CityGML2OBJs.py:707-747 semantics):
    *  - class bins: the polygon's OWN attribute, but only for the classes the
    *    reference colors (RoofSurface for ATTRIBUTE 1/2) — other classes get
    *    no usemtl even when the attribute exists;
    *  - the 'All' bin: the BUILDING-level attribute (yearlyIrradiation in
    *    the reference), applied to every face of the building — supplied as
    *    a small (building_id, batt) frame, broadcast.
    * Adds nullable `material_all`/`material_cls` columns consumed by
    * [[corners]].
    */
  def withMaterials(surfaces: DataFrame, attrName: String,
                    minV: Double, maxV: Double,
                    classBins: Seq[String] = Seq("RoofSurface"),
                    buildingAttrs: Option[DataFrame] = None): DataFrame = {
    val att = element_at(col("attrs"), attrName)
    val base = surfaces.withColumn("material_cls",
      when(col("surface_class").isin(classBins: _*) && att.isNotNull,
        graft.sink.MtlSink.materialFor(att, minV, maxV)))
    buildingAttrs match {
      case Some(b) =>
        base.join(broadcast(b.select(col("building_id"), col("batt"))),
            Seq("building_id"), "left")
          .withColumn("material_all",
            when(col("batt").isNotNull,
              graft.sink.MtlSink.materialFor(col("batt"), minV, maxV)))
          .drop("batt")
      case None =>
        base.withColumn("material_all", lit(null).cast("string"))
    }
  }

  /** Full parity run: surfaces → (vertices, faces, rejects) per flags. */
  def run(spark: SparkSession, surfaces: DataFrame, semantics: Boolean = true,
          translate: Boolean = false): (DataFrame, DataFrame, DataFrame) =
    runFlags(spark, surfaces, semantics = semantics, translate = translate)

  /** Full flag surface (EP-1): `-s` semantics, `-t` translate, `-p` skipTri
    * (n-ary faces, no triangulation), `-a` attribute→material (set
    * `attribute`; see [[withMaterials]]). Render the result with
    * [[objLines]](v, f, objects = `-g`, mtllib = attribute.nonEmpty).
    */
  def runFlags(spark: SparkSession, surfaces: DataFrame,
               semantics: Boolean = true, translate: Boolean = false,
               skipTri: Boolean = false,
               attribute: Option[(String, Double, Double)] = None,
               attrClassBins: Seq[String] = Seq("RoofSurface"),
               buildingAttrs: Option[DataFrame] = None)
      : (DataFrame, DataFrame, DataFrame) = {
    val (ok, rejects) = validated(surfaces)
    val thematic0 = withoutOpenings(ok)
    val thematic = attribute match {
      case Some((name, lo, hi)) =>
        withMaterials(thematic0, name, lo, hi, attrClassBins, buildingAttrs)
      case None => thematic0
    }
    val faceRows =
      if (skipTri) polygonFaces(thematic)
      else SpatialOps.triangles(thematic)
    val (v0, f) = dictionaryEncode(corners(faceRows, semantics))
    val v = if (translate) translateToMin(v0) else v0
    (v, f, rejects)
  }
}
