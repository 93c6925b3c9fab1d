package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Translated-GML sink (SURVEY.md O-8) + JSON metadata sidecars (O-6).
  *
  * O-8: the reference rewrites the source document's posList text in place
  * and saves `FILENAME_local_.gml` plus a `_parameters.txt` with the (dy,
  * dx) decimals (CityGMLTranslation.py:240-329). The engine renders the
  * TRANSLATED surfaces back through the GmlXml writer — semantically equal
  * output (fresh serialization rather than string surgery; documented
  * divergence). Documents are written executor-side, one file per
  * building; [[writeTranslated]] is the driver-collect twin for goldens.
  *
  * O-6: the reference maintains three JSON sidecars per output directory
  * (componentseparationmodule.py:137-275): per-component bbox JSON
  * (min/max point + translation params), a CRS JSON (srsName/srsDimension
  * from the envelopes), and an identifier index JSON (obj filename → tag /
  * parentID / gmlID). Each is derived from a DataFrame and written as one
  * small JSON file — metadata-sized, like the reference's.
  */
object GmlSink {

  /** JSON string escaper for every interpolated data field in the sidecar
    * writers: building_id / gmlID / srsName flow from untrusted gml:id via
    * GmlXml.ingest, so quotes, backslashes, and control chars must escape
    * (hostile-input contract — the XML writer has esc(), this is its JSON
    * twin).
    */
  private[sink] def jesc(s: String): String = s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  }

  /** PRODUCTION path — fully distributed translated-GML sink: render each
    * building's document on its executor (one shuffle: the groupBy inside
    * GmlXml.render) and write `<prefix>_<building_id>_local_.gml` straight
    * from that task through [[CommittedFiles.write]] (temp file + rename,
    * any Hadoop FS). The driver writes only the two-line `_parameters.txt`
    * sidecar — zero DataFrame collects, so a country-scale export never
    * funnels document bytes through the driver.
    */
  def writeTranslatedDistributed(translated: DataFrame, dy: java.math.BigDecimal,
                                 dx: java.math.BigDecimal, outDir: String,
                                 prefix: String): String = {
    // building_id flows from untrusted gml:id — sanitize before it becomes
    // a path segment (jesc's filesystem twin)
    CommittedFiles.write(graft.sources.GmlXml.render(translated), outDir,
      bid => s"${prefix}_${graft.HadoopConfs.fileSafe(bid)}_local_.gml")
    // through the same FS as the documents (a java.nio write would land
    // driver-local when outDir is hdfs:// or s3a://)
    graft.HadoopConfs.writeSideText(
      s"$outDir/${prefix}_parameters.txt", s"$dy\n$dx\n")
  }

  /** TEST-SCALE helper (goldens): driver-side collect variant of the sink.
    * Production writes go through [[writeTranslatedDistributed]].
    */
  def writeTranslated(translated: DataFrame, dy: java.math.BigDecimal,
                      dx: java.math.BigDecimal, outDir: String,
                      prefix: String): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    val docs = graft.sources.GmlXml.render(translated)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val paths = docs.map { case (bid0, xml) =>
      val bid = graft.HadoopConfs.fileSafe(bid0)
      val p = Paths.get(s"$outDir/${prefix}_${bid}_local_.gml")
      Files.writeString(p, xml)
      p.toString
    }.toSeq
    // params order matches the reference's file: dy first, then dx
    // (CityGMLTranslation.py:312-318 writes the two translation decimals)
    val pp = Paths.get(s"$outDir/${prefix}_parameters.txt")
    Files.writeString(pp, s"$dy\n$dx\n")
    paths :+ pp.toString
  }

  /** Per-building bbox sidecar rows (the table behind bbox JSON files):
    * buffered AABB corners + the translation params applied.
    */
  def bboxSidecar(bboxes: DataFrame, dx: Double, dy: Double,
                  dz: Double): DataFrame =
    bboxes.select(col("building_id"),
      round(col("xmin") + dx, 6).as("min_x"), round(col("ymin") + dy, 6).as("min_y"),
      round(col("zmin") + dz, 6).as("min_z"),
      round(col("xmax") + dx, 6).as("max_x"), round(col("ymax") + dy, 6).as("max_y"),
      round(col("zmax") + dz, 6).as("max_z"),
      lit(dx).as("d_x"), lit(dy).as("d_y"), lit(dz).as("d_z"))

  /** Stream an ordered DataFrame's rows as one JSON object file: the row
    * count scales with the city (one entry per building / component), so
    * the driver must hold ONE PARTITION at a time (`toLocalIterator`,
    * order-preserving), never the whole sidecar.
    */
  private def streamJsonObject(df: DataFrame, path: String)
                              (entry: Row => String): String = {
    val it = df.toLocalIterator()
    graft.HadoopConfs.withSideStream(path) { os =>
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(os, java.nio.charset.StandardCharsets.UTF_8))
      w.write("{\n")
      var first = true
      while (it.hasNext) {
        if (!first) w.write(",\n")
        first = false
        w.write(entry(it.next()))
      }
      w.write("\n}\n")
      w.flush()
    }
  }

  /** Write the bbox sidecar as `<outDir>/bbox.json` — one object per
    * building keyed like the reference's `axis_aligned_bbox` entries.
    */
  def writeBboxJson(sidecar: DataFrame, outDir: String): String =
    streamJsonObject(sidecar.orderBy("building_id"), s"$outDir/bbox.json") { r =>
      val bid = jesc(r.getString(0))
      s"""  "$bid": {"axis_aligned_bbox": {"min_point": "[${r.getDouble(1)}, ${r.getDouble(2)}, ${r.getDouble(3)}]", "max_point": "[${r.getDouble(4)}, ${r.getDouble(5)}, ${r.getDouble(6)}]", "translation_parameters": {"d_x": "${r.getDouble(7)}", "d_y": "${r.getDouble(8)}", "d_z": "${r.getDouble(9)}"}}}"""
    }

  /** Re-import a bbox.json written by [[writeBboxJson]] (the reference's
    * `importBB` path, componentseparationmodule.py:549-593): whole-file JSON
    * → MapType parse → one row per building with the same columns as
    * [[bboxSidecar]]. Pure Spark (from_json + explode), no driver-side
    * parsing.
    */
  def readBboxJson(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val entry = StructType(Seq(StructField("axis_aligned_bbox", StructType(Seq(
      StructField("min_point", StringType), StructField("max_point", StringType),
      StructField("translation_parameters", StructType(Seq(
        StructField("d_x", StringType), StructField("d_y", StringType),
        StructField("d_z", StringType)))))))))
    def pt(c: org.apache.spark.sql.Column, i: Int) =
      element_at(split(regexp_replace(c, "[\\[\\]]", ""), ", "), i).cast("double")
    spark.read.option("wholetext", true).text(path)
      .select(explode(from_json(col("value"), MapType(StringType, entry)))
        .as(Seq("building_id", "e")))
      .select(col("building_id"),
        pt(col("e.axis_aligned_bbox.min_point"), 1).as("min_x"),
        pt(col("e.axis_aligned_bbox.min_point"), 2).as("min_y"),
        pt(col("e.axis_aligned_bbox.min_point"), 3).as("min_z"),
        pt(col("e.axis_aligned_bbox.max_point"), 1).as("max_x"),
        pt(col("e.axis_aligned_bbox.max_point"), 2).as("max_y"),
        pt(col("e.axis_aligned_bbox.max_point"), 3).as("max_z"),
        col("e.axis_aligned_bbox.translation_parameters.d_x").cast("double").as("d_x"),
        col("e.axis_aligned_bbox.translation_parameters.d_y").cast("double").as("d_y"),
        col("e.axis_aligned_bbox.translation_parameters.d_z").cast("double").as("d_z"))
  }

  /** Write `<outDir>/crs.json` from the envelopes table (srsName /
    * srsDimension per file — addCRSToJSON contract).
    */
  def writeCrsJson(envelopes: DataFrame, outDir: String): String =
    streamJsonObject(envelopes.select("file_id", "srs_name", "srs_dim")
      .orderBy("file_id"), s"$outDir/crs.json") { r =>
      s"""  "${jesc(r.getString(0))}": {"srsName": "${jesc(r.getString(1))}", "srsDimension": "${jesc(r.getString(2))}"}"""
    }

  /** Write `<outDir>/index.json`: obj component filename → tag / parentID /
    * gmlID (add_identifier_to_json contract). `components` needs columns
    * (filename, tag, parent_id, gml_id).
    */
  def writeIndexJson(components: DataFrame, outDir: String): String =
    streamJsonObject(components.orderBy("filename"), s"$outDir/index.json") { r =>
      s"""  "${jesc(r.getString(0))}": {"tag": "${jesc(r.getString(1))}", "parentID": "${jesc(r.getString(2))}", "gmlID": "${jesc(r.getString(3))}"}"""
    }
}
