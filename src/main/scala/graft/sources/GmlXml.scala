package graft.sources

import java.io.StringReader
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Pt

/** Real CityGML XML ingest (SURVEY.md O-2/O-3/O-9/O-10/O-11).
  *
  * The reference front door is a whole-document DOM parse + namespace-set
  * dispatch + XPath extraction (CityGML2OBJs.py:433-506,
  * markup3dmodule.py:101-148). The engine's equivalent is DISTRIBUTED and
  * STREAMING: one task per document, a StAX pull parser (bounded memory —
  * no DOM, so a multi-GB tile parses in O(ring) space), and the numeric
  * posList → points conversion stays columnar (GmlIngest.parsePosList,
  * codegen'd) — the JVM parser only lifts out text spans.
  *
  * Version sniff (O-3): the reference hardcodes three namespace sets keyed
  * on the root CityModel tag (1.0 / 3.0 / else 2.0). All three differ only
  * in URI suffixes, so the parser matches namespaces by family —
  * `http://www.opengis.net/gml[/3.2]` and
  * `http://www.opengis.net/citygml/building/{1.0,2.0,3.0}` — and reports
  * the sniffed version per row.
  *
  * Ring text extraction mirrors GMLpoints: a single `gml:posList` per ring,
  * or multiple `gml:pos` concatenated in document order; the `% 3 == 0`
  * assert becomes reject routing (engine never-fail contract).
  */
object GmlXml {

  /** One gml:Polygon lifted out of a document: ring TEXTS (exterior first),
    * classified by the innermost enclosing semantic element. `attrs` carries
    * the polygon's direct core-namespace child elements (the reference's
    * per-polygon `irradiation`/`totalIrradiation` read,
    * CityGML2OBJs.py:729-739); `battrs` the enclosing building's (the
    * `yearlyIrradiation` read, CityGML2OBJs.py:662-665).
    */
  final case class RawPoly(
      building_id: String,
      surface_id: String,
      surface_class: String,
      ext_text: String,
      hole_texts: Seq[String],
      attrs: Map[String, String],
      battrs: Map[String, String],
      citygml_version: Int,
      building_seq: Long,
      poly_seq: Long,
      object_kind: String,
      feature_id: String,
      implicit_geom: Boolean)

  /** The reference's semantic boundary classes (CityGML2OBJs.py:560-562). */
  val SemanticClasses: Set[String] = Set(
    "GroundSurface", "WallSurface", "RoofSurface", "ClosureSurface",
    "CeilingSurface", "InteriorWallSurface", "FloorSurface",
    "OuterCeilingSurface", "OuterFloorSurface")
  val OpeningClasses: Set[String] = Set("Window", "Door")

  /** Non-building city-object roots the reference routes to the 'Other' OBJ
    * bin (CityGML2OBJs.py:597-603): all of their polygons convert with class
    * 'Other' (CityGML2OBJs.py:772-784), never entering 'All' or any semantic
    * bin. Tag names are the reference's EXACT match list — note it matches
    * `Relief`, not the CityGML 2.0 `ReliefFeature` root, so a standard DEM
    * export is dropped by the reference too (parity kept; `ReliefFeature` is
    * accepted additionally as a documented engine extension).
    */
  val OtherRootClasses: Set[String] = Set(
    "Road", "PlantCover", "GenericCityObject", "CityFurniture", "Relief",
    "ReliefFeature", "Tunnel", "WaterBody", "Bridge")

  /** Component-path extended surface list (componentseparationmodule.py:
    * 621-624): installation features separate into their own component files
    * under `-sepC`; in the plain converter their polygons go to 'All' only
    * (they are absent from CityGML2OBJs.py:560-562's class list).
    */
  val InstallationClasses: Set[String] = Set(
    "BuildingInstallation", "BuildingConstructiveElement",
    "outerBuildingInstallation")

  private def isGmlNs(uri: String): Boolean =
    uri != null && (uri == "http://www.opengis.net/gml" ||
      uri.startsWith("http://www.opengis.net/gml/"))
  private def isBldgNs(uri: String): Boolean =
    uri != null && uri.startsWith("http://www.opengis.net/citygml/building/")
  /** The CORE CityGML namespace (the reference's ns_citygml) — where the
    * attribute extensions (irradiation, yearlyIrradiation, …) live.
    */
  private def isCoreNs(uri: String): Boolean =
    uri != null && uri.startsWith("http://www.opengis.net/citygml/") &&
      !uri.substring("http://www.opengis.net/citygml/".length).contains("/")
  /** Any CityGML module namespace (transportation, vegetation, generics,
    * cityfurniture, relief, tunnel, waterbody, bridge, …) — version-family
    * matching like the building namespace, so 1.0/2.0/3.0 all dispatch.
    */
  private def isCityModuleNs(uri: String): Boolean =
    uri != null && uri.startsWith("http://www.opengis.net/citygml/")
  private def versionOf(rootNs: String): Int =
    if (rootNs == null) 2
    else if (rootNs.endsWith("/1.0")) 1
    else if (rootNs.endsWith("/3.0")) 3
    else 2

  /** Pull-parse one CityGML document. Never throws on malformed content —
    * returns what was extracted before the error (swallow-errors contract,
    * CityGML2OBJs.py:144-148); posList arity violations are routed to
    * rejects downstream, not here.
    */
  // factory construction runs classpath service discovery — cache per thread
  // (chunked ingest parses one fragment per building: millions of calls)
  private val xmlFactories = ThreadLocal.withInitial[XMLInputFactory] { () =>
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, java.lang.Boolean.TRUE)
    // untrusted input: no DTDs, no external entities
    f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
    f
  }

  def parseDocument(xml: String, docId: String): Seq[RawPoly] = {
    val out = ArrayBuffer.empty[RawPoly]
    try {
      val r = xmlFactories.get().createXMLStreamReader(new StringReader(xml))

      var version = 2
      var sawRoot = false
      var building: String = null
      var objectKind: String = null // "Building" | an OtherRootClasses tag
      var buildingSeq = -1L
      var polySeq = 0L
      // (class name, feature gml:id) — the id is captured for installation
      // features only (component-path separation key), null otherwise
      val classStack = ArrayBuffer.empty[(String, String)]
      // nesting count of core:ImplicitGeometry elements: polygons inside are
      // TEMPLATE geometry — converted at template coordinates like the
      // reference, but excluded from CRS translation
      // (CityGMLTranslation.py:288-298 skip contract)
      var implicitNest = 0
      // polygon state
      var inPoly = false
      var polyId: String = null
      var ringKind: String = null // "exterior" | "interior"
      var rings: ArrayBuffer[String] = null // exterior at 0
      var ringText: StringBuilder = null
      var capturing = false
      var captured = new StringBuilder
      // attribute state (core-ns direct children of Building / Polygon)
      var depth = 0
      var buildingDepth = -1
      var polyDepth = -1
      var attrName: String = null
      var attrDepth = -1
      var attrBuf: StringBuilder = null
      var polyAttrs = Map.empty[String, String]
      var bldgAttrs = Map.empty[String, String]
      // polys emitted for the CURRENT building: their battrs are patched at
      // </Building>, when the building's attribute set is COMPLETE — the
      // reference reads attributes via xpath findall, which is document-
      // order independent, so an attribute element placed after the last
      // boundedBy must still reach every polygon of the building
      var bldgFirstPoly = 0

      def gmlId(): String = {
        var i = 0
        var id: String = null
        while (i < r.getAttributeCount) {
          if (r.getAttributeLocalName(i) == "id" &&
            isGmlNs(r.getAttributeNamespace(i))) id = r.getAttributeValue(i)
          i += 1
        }
        id
      }

      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            depth += 1
            val ns = r.getNamespaceURI
            val ln = r.getLocalName
            if (!sawRoot) { sawRoot = true; version = versionOf(ns) }
            if (isBldgNs(ns)) {
              if (ln == "Building") {
                buildingSeq += 1
                polySeq = 0
                building = Option(gmlId()).getOrElse(f"${docId}_b$buildingSeq%04d")
                objectKind = "Building"
                buildingDepth = depth
                bldgAttrs = Map.empty
                bldgFirstPoly = out.length
              } else if (SemanticClasses(ln) || OpeningClasses(ln)) {
                classStack += ((ln, null))
              } else if (InstallationClasses(ln)) {
                classStack += ((ln, gmlId()))
              }
            } else if (isGmlNs(ns)) {
              ln match {
                case "Polygon" =>
                  inPoly = true
                  polyId = gmlId()
                  rings = ArrayBuffer.empty[String]
                  ringKind = null
                  polyDepth = depth
                  polyAttrs = Map.empty
                case "exterior" | "interior" if inPoly =>
                  ringKind = ln
                  ringText = new StringBuilder
                case "posList" | "pos" if inPoly && ringKind != null =>
                  capturing = true
                  captured = new StringBuilder
                case _ =>
              }
            } else if (isCoreNs(ns) && ln == "ImplicitGeometry") {
              // checked BEFORE attr capture: ImplicitGeometry can be a direct
              // core-ns child of a city object and must mark geometry, not
              // masquerade as an attribute extension
              implicitNest += 1
            } else if (isCoreNs(ns) &&
              ((inPoly && depth == polyDepth + 1) ||
                (!inPoly && building != null && depth == buildingDepth + 1))) {
              // attribute extension element: direct child of Polygon
              // (irradiation, CityGML2OBJs.py:739-747) or of Building
              // (yearlyIrradiation, CityGML2OBJs.py:662-665)
              attrName = ln
              attrDepth = depth
              attrBuf = new StringBuilder
            } else if (building == null && !inPoly && isCityModuleNs(ns) &&
              OtherRootClasses(ln)) {
              // non-building city-object root (Road/PlantCover/…): its
              // polygons convert with class 'Other' (CityGML2OBJs.py:597-603,
              // 772-784); reuse the building slot as the object identity
              buildingSeq += 1
              polySeq = 0
              building = Option(gmlId()).getOrElse(f"${docId}_b$buildingSeq%04d")
              objectKind = ln
              buildingDepth = depth
              bldgAttrs = Map.empty
              bldgFirstPoly = out.length
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (capturing) captured.append(r.getText)
            else if (attrName != null) attrBuf.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            val ns = r.getNamespaceURI
            val ln = r.getLocalName
            if (attrName != null && depth == attrDepth && isCoreNs(ns) &&
              ln == attrName) {
              val v = attrBuf.toString.trim
              if (inPoly) polyAttrs += (attrName -> v)
              else bldgAttrs += (attrName -> v)
              attrName = null
            }
            if (isCoreNs(ns) && ln == "ImplicitGeometry" && implicitNest > 0)
              implicitNest -= 1
            if (isGmlNs(ns)) {
              ln match {
                case "posList" | "pos" if capturing =>
                  capturing = false
                  if (ringText.nonEmpty) ringText.append(' ')
                  ringText.append(captured.toString.trim)
                case "exterior" if inPoly =>
                  // reference GMLpoints reads ONE ring per exterior
                  rings.insert(0, ringText.toString)
                  ringKind = null
                case "interior" if inPoly =>
                  rings += ringText.toString
                  ringKind = null
                case "Polygon" if inPoly =>
                  inPoly = false
                  val bid = Option(building).getOrElse(s"${docId}_nobldg")
                  val sid = Option(polyId).getOrElse(f"${bid}_p$polySeq%04d")
                  // other-object polygons: always class 'Other' (reference
                  // poly_to_obj(poly, 'Other')); building polygons: innermost
                  // semantic/opening/installation wrapper, or 'None' (the
                  // reference bins those to 'All' only)
                  val cls =
                    if (objectKind != null && objectKind != "Building") "Other"
                    else classStack.lastOption.map(_._1).getOrElse("None")
                  // innermost installation feature's gml:id, if any (the
                  // `-sepC` extended-component key)
                  val fid = classStack.reverseIterator
                    .find(e => InstallationClasses(e._1))
                    .map(e => Option(e._2).getOrElse("")).orNull
                  if (rings.nonEmpty)
                    out += RawPoly(bid, sid, cls, rings.head,
                      rings.tail.toSeq, polyAttrs, bldgAttrs, version,
                      math.max(buildingSeq, 0L), polySeq,
                      Option(objectKind).getOrElse("None"), fid,
                      implicitNest > 0)
                  polySeq += 1
                case _ =>
              }
            } else if (isBldgNs(ns)) {
              if ((SemanticClasses(ln) || OpeningClasses(ln) ||
                InstallationClasses(ln)) &&
                classStack.lastOption.exists(_._1 == ln))
                classStack.remove(classStack.length - 1)
              else if (ln == "Building") {
                // patch the finished building's polys with its complete
                // attribute set (order-independence; see bldgFirstPoly)
                var pi = bldgFirstPoly
                while (pi < out.length) {
                  out(pi) = out(pi).copy(battrs = bldgAttrs)
                  pi += 1
                }
                building = null
                objectKind = null
              }
            } else if (objectKind != null && objectKind != "Building" &&
              ln == objectKind && depth == buildingDepth && isCityModuleNs(ns)) {
              // close of a non-building city-object root: patch battrs like
              // </Building> (attribute order-independence) and clear identity
              var pi = bldgFirstPoly
              while (pi < out.length) {
                out(pi) = out(pi).copy(battrs = bldgAttrs)
                pi += 1
              }
              building = null
              objectKind = null
            }
            depth -= 1
          case _ =>
        }
      }
      r.close()
    } catch {
      // never-throw covers PARSE errors only: fatal JVM errors and task
      // interrupts must propagate, or a dying executor would return a
      // truncated parse as a "successful" partial result
      case scala.util.control.NonFatal(_) => /* keep what we have */
    }
    out.toSeq
  }

  /** Distributed ingest of CityGML documents. `docs` must have columns
    * `doc_id: string, xml: string` (one row per document — e.g. from
    * spark.read binaryFile/wholetext over a .gml directory). Returns
    * (surfaces, rejects): surfaces carry typed rings plus lineage ordinals
    * (building_ord/poly_ord from document order — NOTE: per document, so
    * multi-document callers that need globally ordered ordinals should use
    * [[ChunkedGml.ingestFiles]], which packs a file index into them);
    * `% 3` posList violations route to rejects.
    */
  def ingest(docs: DataFrame): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val raw = docs.select(col("doc_id"), col("xml"))
      .as[(String, String)]
      .flatMap { case (id, xml) => parseDocument(xml, id) }
      .toDF()
    routeParsed(raw)
  }

  /** Parsed rows ([[RawPoly]]s) → (surfaces, rejects), shared by both XML
    * ingests: the parser's sequence columns become the lineage ordinals,
    * posLists route through [[GmlIngest.route]], and attribute text is
    * typed to doubles (reference float() cast, :663, :735); non-numeric
    * values drop out instead of failing (never-fail contract).
    */
  private[sources] def routeParsed(raw: DataFrame): (DataFrame, DataFrame) = {
    val numeric = "map_filter(transform_values(%s, (k, v) -> try_cast(v AS double)), (k, v) -> v IS NOT NULL)"
    val (ok, rejects) = GmlIngest.route(raw
      .withColumnRenamed("building_seq", "building_ord")
      .withColumnRenamed("poly_seq", "poly_ord"))
    (ok.withColumn("attrs", expr(numeric.format("attrs")))
      .withColumn("battrs", expr(numeric.format("battrs"))), rejects)
  }

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** CityGML module namespace prefix per non-building object kind (the
    * reference's ns_tran/ns_veg/… set, CityGML2OBJs.py:597-603).
    */
  val KindPrefix: Map[String, (String, String)] = Map(
    "Road" -> ("tran", "http://www.opengis.net/citygml/transportation/2.0"),
    "PlantCover" -> ("veg", "http://www.opengis.net/citygml/vegetation/2.0"),
    "GenericCityObject" -> ("gen", "http://www.opengis.net/citygml/generics/2.0"),
    "CityFurniture" -> ("frn", "http://www.opengis.net/citygml/cityfurniture/2.0"),
    "Relief" -> ("dem", "http://www.opengis.net/citygml/relief/2.0"),
    "ReliefFeature" -> ("dem", "http://www.opengis.net/citygml/relief/2.0"),
    "Tunnel" -> ("tun", "http://www.opengis.net/citygml/tunnel/2.0"),
    "WaterBody" -> ("wtr", "http://www.opengis.net/citygml/waterbody/2.0"),
    "Bridge" -> ("brid", "http://www.opengis.net/citygml/bridge/2.0"))

  /** Render one city object's surfaces as a CityGML 2.0 document (thematic
    * classes under boundedBy, Window/Door under boundedBy/WallSurface/
    * opening, installation features as their own elements, non-building
    * kinds under their module namespace — the element paths the reference
    * dispatches on). Coordinates print via Double.toString (shortest
    * round-trip repr), so parse(render(x)) == x exactly. Per-surface tuple:
    * (surface_id, class, ext, holes, attrs, feature_id, implicit_geom).
    */
  def objectDocument(objectId: String, kind: String,
                     surfaces: Seq[(String, String, Seq[Pt], Seq[Seq[Pt]],
                       Map[String, Double], String, Boolean)]): String = {
    def posList(ring: Seq[Pt]): String =
      ring.map(p => s"${p.x} ${p.y} ${p.z}").mkString(" ")
    def polygon(sid: String, ext: Seq[Pt], holes: Seq[Seq[Pt]],
                attrs: Map[String, Double]): String = {
      val hs = holes.map(h =>
        s"<gml:interior><gml:LinearRing><gml:posList>${posList(h)}</gml:posList></gml:LinearRing></gml:interior>").mkString
      // attribute extensions as core-ns children of the Polygon — the exact
      // path the reference reads them from (CityGML2OBJs.py:739-747);
      // Double.toString round-trips bit-exactly through the parser
      // element names can't be escaped like text — sanitize to NCName chars
      def nm(k: String): String = {
        val s = k.replaceAll("[^A-Za-z0-9_.-]", "_")
        if (s.isEmpty || !(s(0).isLetter || s(0) == '_')) "_" + s else s
      }
      val as = attrs.toSeq.sortBy(_._1).map { case (k, v) =>
        s"<core:${nm(k)}>$v</core:${nm(k)}>"
      }.mkString
      s"""<gml:Polygon gml:id="${esc(sid)}"><gml:exterior><gml:LinearRing><gml:posList>${posList(ext)}</gml:posList></gml:LinearRing></gml:exterior>$hs$as</gml:Polygon>"""
    }
    def wrapImplicit(body: String, isImplicit: Boolean): String =
      if (isImplicit)
        s"<core:ImplicitGeometry><core:relativeGMLGeometry>$body</core:relativeGMLGeometry></core:ImplicitGeometry>"
      else body
    def wrap(cls: String, fid: String, body: String): String =
      if (OpeningClasses(cls))
        s"""<bldg:boundedBy><bldg:WallSurface><bldg:opening><bldg:$cls><bldg:lod3MultiSurface><gml:MultiSurface><gml:surfaceMember>$body</gml:surfaceMember></gml:MultiSurface></bldg:lod3MultiSurface></bldg:$cls></bldg:opening></bldg:WallSurface></bldg:boundedBy>"""
      else if (InstallationClasses(cls)) {
        val id = if (fid != null && fid.nonEmpty) s""" gml:id="${esc(fid)}"""" else ""
        s"""<bldg:$cls$id><bldg:lod2Geometry><gml:MultiSurface><gml:surfaceMember>$body</gml:surfaceMember></gml:MultiSurface></bldg:lod2Geometry></bldg:$cls>"""
      } else if (SemanticClasses(cls))
        s"""<bldg:boundedBy><bldg:$cls><bldg:lod2MultiSurface><gml:MultiSurface><gml:surfaceMember>$body</gml:surfaceMember></gml:MultiSurface></bldg:lod2MultiSurface></bldg:$cls></bldg:boundedBy>"""
      else // 'None' (no semantic wrapper — e.g. LOD1 geometry)
        s"""<bldg:lod1MultiSurface><gml:MultiSurface><gml:surfaceMember>$body</gml:surfaceMember></gml:MultiSurface></bldg:lod1MultiSurface>"""
    if (kind == "Building") {
      val members = surfaces.map { case (sid, cls, ext, holes, attrs, fid, imp) =>
        wrapImplicit(wrap(cls, fid, polygon(sid, ext, holes, attrs)), imp)
      }.mkString("\n   ")
      s"""<?xml version="1.0" encoding="UTF-8"?>
<core:CityModel xmlns:core="http://www.opengis.net/citygml/2.0" xmlns:gml="http://www.opengis.net/gml" xmlns:bldg="http://www.opengis.net/citygml/building/2.0">
 <core:cityObjectMember>
  <bldg:Building gml:id="${esc(objectId)}">
   $members
  </bldg:Building>
 </core:cityObjectMember>
</core:CityModel>"""
    } else {
      // non-building city object: polygons directly under the module-ns root
      // (class is forced to 'Other' at parse, so no semantic wrapping)
      val (pfx, uri) = KindPrefix.getOrElse(kind,
        ("gen", "http://www.opengis.net/citygml/generics/2.0"))
      val members = surfaces.map { case (sid, _, ext, holes, attrs, _, imp) =>
        wrapImplicit(
          s"<gml:MultiSurface><gml:surfaceMember>${polygon(sid, ext, holes, attrs)}</gml:surfaceMember></gml:MultiSurface>",
          imp)
      }.mkString("\n   ")
      s"""<?xml version="1.0" encoding="UTF-8"?>
<core:CityModel xmlns:core="http://www.opengis.net/citygml/2.0" xmlns:gml="http://www.opengis.net/gml" xmlns:bldg="http://www.opengis.net/citygml/building/2.0" xmlns:$pfx="$uri">
 <core:cityObjectMember>
  <$pfx:$kind gml:id="${esc(objectId)}">
   $members
  </$pfx:$kind>
 </core:cityObjectMember>
</core:CityModel>"""
    }
  }

  /** surfaces → one CityGML document per city object: (doc_id, xml).
    * Grouping is a single shuffle on building_id; rendering is per-group,
    * bounded by the surfaces of one object. `object_kind` / `feature_id` /
    * `implicit_geom` columns are honored when present (mixed-city render),
    * defaulted to plain building surfaces otherwise.
    */
  def render(surfaces: DataFrame): DataFrame = {
    val spark = surfaces.sparkSession
    import spark.implicits._
    def defaulted(df: DataFrame, c: String, d: Column): DataFrame =
      if (df.columns.contains(c)) df else df.withColumn(c, d)
    val withAttrs = defaulted(defaulted(defaulted(defaulted(surfaces,
      "attrs", map().cast("map<string,double>")),
      "object_kind", lit("Building")),
      "feature_id", lit(null).cast("string")),
      "implicit_geom", lit(false))
    withAttrs
      .select(col("building_id"), col("surface_id"), col("surface_class"),
        col("poly_ord"), col("ext"), col("holes"), col("attrs"),
        col("object_kind"), col("feature_id"), col("implicit_geom"))
      .as[(String, String, String, Long, Seq[Pt], Seq[Seq[Pt]],
        Map[String, Double], String, String, Boolean)]
      .groupByKey(_._1)
      .mapGroups { (bid, it) =>
        val rows = it.toSeq.sortBy(_._4)
        val kind = rows.headOption.map(r => Option(r._8).getOrElse("Building"))
          .getOrElse("Building")
        (bid, objectDocument(bid, kind,
          rows.map(r => (r._2, r._3, r._5, r._6,
            Option(r._7).getOrElse(Map.empty), r._9, r._10))))
      }
      .toDF("doc_id", "xml")
  }
}
