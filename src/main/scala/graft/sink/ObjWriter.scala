package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OBJ-equivalent sinks (SURVEY.md O-4/O-5/O-7/O-35).
  *
  * Two writer modes, matching the reference's two emission paths:
  *  - indexed (O-4, CityGML2OBJs.py:807-822): `v x y z` in dictionary
  *    ordinal order, then `f ia ib ic` in document order, one file per
  *    class — `FILENAME[-Class].obj`. The same writer serves the semantic
  *    class bins (`-s`) and the per-building component files (`-sepC`,
  *    componentseparationmodule.py:295-306): [[writeIndexedDistributed]]
  *    writes every class file executor-side; [[writeIndexed]] is its
  *    driver-collect twin for byte-exact goldens;
  *  - tri-soup (O-5, componentseparationmodule.py:295-306): every face
  *    emits 3 fresh vertices `f n n+1 n+2`, NO vertex dedup.
  */
object ObjWriter {

  private def fileName(prefix: String)(cls: String): String =
    s"$prefix${if (cls == "All") "" else s"-$cls"}.obj"

  /** PRODUCTION path — indexed mode, one `<prefix>[-<cls>].obj` per class,
    * written executor-side: one shuffle hash-partitions the lines by cls,
    * each task walks its partition sorted by (cls, line_no) and streams its
    * classes' files through [[CommittedFiles.write]]. No DataFrame collect,
    * no driver byte relay, so the class count may scale with the building
    * count (`-sepC`). `cls` must already be a safe path segment. Returns
    * the number of files written.
    */
  def writeIndexedDistributed(lines: DataFrame, outDir: String, prefix: String): Long =
    CommittedFiles.write(
      lines.repartition(col("cls"))
        .sortWithinPartitions("cls", "line_no")
        .select(col("cls"), concat(col("line"), lit("\n"))),
      outDir, fileName(prefix))

  /** TEST-SCALE helper (byte-exact goldens): indexed mode via an ordered
    * driver collect — `<outDir>/<prefix>-<cls>.obj` per class. Production
    * writes go through [[writeIndexedDistributed]].
    */
  def writeIndexed(lines: DataFrame, outDir: String, prefix: String): Seq[String] = {
    val classes = lines.select("cls").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    classes.map { cls =>
      val path = s"$outDir/${fileName(prefix)(cls)}"
      val content = lines.where(col("cls") === cls)
        .orderBy("line_no").select("line")
        .collect().map(_.getString(0)).mkString("", "\n", "\n")
      val p = java.nio.file.Paths.get(path)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, content)
      path
    }
  }

  /** Tri-soup mode (O-5): faces only, 3 fresh vertices per triangle,
    * 1-based running index, no dedup — per building component. Returns a
    * DataFrame of (building_id, obj_text) so components can be written in
    * parallel (`write.partitionBy`) or collected for goldens.
    */
  def triSoup(tris: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("building_id"))
      .orderBy(col("poly_ord"), col("tri_idx"))
    tris
      .withColumn("face_idx", row_number().over(w).cast("long"))
      .withColumn("obj_block", concat_ws("\n",
        format_string("v %s %s %s", fmt(col("tri.a.x")), fmt(col("tri.a.y")), fmt(col("tri.a.z"))),
        format_string("v %s %s %s", fmt(col("tri.b.x")), fmt(col("tri.b.y")), fmt(col("tri.b.z"))),
        format_string("v %s %s %s", fmt(col("tri.c.x")), fmt(col("tri.c.y")), fmt(col("tri.c.z"))),
        format_string("f %d %d %d",
          (col("face_idx") - 1) * 3 + 1,
          (col("face_idx") - 1) * 3 + 2,
          (col("face_idx") - 1) * 3 + 3)))
      .groupBy("building_id")
      // collect_list order is NOT guaranteed after an aggregation exchange;
      // face indices assume block position == face_idx, so sort by face_idx
      // before projecting the text (plan/partitioning-independent output)
      .agg(concat_ws("\n",
        array_sort(collect_list(struct(col("face_idx"), col("obj_block"))))
          .getField("obj_block")).as("obj_text"))
  }

  private def fmt(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(c === c.cast("long").cast("double"), format_string("%.1f", c))
      .otherwise(c.cast("string"))
}

/** MTL colormap sink (O-7, generateMTL.py:34-52) + attribute→material
  * binning (O-35, CityGML2OBJs.py:401-411).
  *
  * The reference snaps a normalized attribute to the nearest of
  * `linspace(0, 1, 101)` rounded to 4 dp and emits one material per bin
  * colored by matplotlib's `afmhot` colormap. afmhot is piecewise linear
  * (public formula): r = clip(2x), g = clip(2x − 0.5), b = clip(2x − 1).
  */
object MtlSink {

  def afmhot(x: Double): (Double, Double, Double) = {
    def clip(v: Double) = math.max(0.0, math.min(1.0, v))
    (clip(2 * x), clip(2 * x - 0.5), clip(2 * x - 1.0))
  }

  /** The 101 bin values of linspace(0,1,101) rounded 4dp (reference grid). */
  val bins: IndexedSeq[Double] =
    (0 to 100).map(i => math.rint(i / 100.0 * 10000) / 10000)

  /** O-35: normalized value → nearest-bin material label column. The
    * reference picks `min(linspace(0,1,101), key=|x−v|)` (CityGML2OBJs.py:
    * 401-411), which CLAMPS out-of-range values to the nearest end bin —
    * mirror that, or an attribute past max_value would emit a material
    * (e.g. mat1.05) that colormap.mtl doesn't define.
    */
  def materialFor(att: org.apache.spark.sql.Column,
                  minV: Double, maxV: Double): org.apache.spark.sql.Column = {
    val norm = least(greatest((att - minV) / (maxV - minV), lit(0.0)), lit(1.0))
    // nearest bin of linspace(0,1,101) = round(norm*100)/100, rounded 4dp
    val snapped = round(round(norm * 100) / 100.0, 4)
    format_string("mat%s", snapped.cast("string"))
  }

  /** colormap.mtl content — 101 materials (generateMTL.py contract). */
  def colormapMtl(): String = {
    bins.map { b =>
      val (r, g, bl) = afmhot(b)
      f"newmtl mat$b%s%nKd $r%.4f $g%.4f $bl%.4f%n"
    }.mkString
  }

  def write(outDir: String): String =
    // Hadoop FS, not java.nio: the .mtl must land next to the OBJs on ANY FS
    graft.HadoopConfs.writeSideText(s"$outDir/colormap.mtl", colormapMtl())

  /** 3×5 bitmap glyphs for tick labels and the axis caption ('#' = on).
    * No font libs ship in this container, so the annotations render
    * through this minimal built-in face (digits, punctuation, and an
    * uppercase alphabet — lowercase folds up in drawText).
    */
  private val glyphs: Map[Char, Seq[String]] = Map(
    'A' -> Seq(" # ", "# #", "###", "# #", "# #"),
    'B' -> Seq("## ", "# #", "## ", "# #", "## "),
    'C' -> Seq("###", "#  ", "#  ", "#  ", "###"),
    'D' -> Seq("## ", "# #", "# #", "# #", "## "),
    'E' -> Seq("###", "#  ", "###", "#  ", "###"),
    'F' -> Seq("###", "#  ", "###", "#  ", "#  "),
    'G' -> Seq("###", "#  ", "# #", "# #", "###"),
    'H' -> Seq("# #", "# #", "###", "# #", "# #"),
    'I' -> Seq("###", " # ", " # ", " # ", "###"),
    'J' -> Seq("  #", "  #", "  #", "# #", "###"),
    'K' -> Seq("# #", "# #", "## ", "# #", "# #"),
    'L' -> Seq("#  ", "#  ", "#  ", "#  ", "###"),
    'M' -> Seq("# #", "###", "###", "# #", "# #"),
    'N' -> Seq("# #", "## ", "###", " ##", "# #"),
    'O' -> Seq("###", "# #", "# #", "# #", "###"),
    'P' -> Seq("###", "# #", "###", "#  ", "#  "),
    'Q' -> Seq("###", "# #", "# #", "###", "  #"),
    'R' -> Seq("###", "# #", "## ", "# #", "# #"),
    'S' -> Seq("###", "#  ", "###", "  #", "###"),
    'T' -> Seq("###", " # ", " # ", " # ", " # "),
    'U' -> Seq("# #", "# #", "# #", "# #", "###"),
    'V' -> Seq("# #", "# #", "# #", "# #", " # "),
    'W' -> Seq("# #", "# #", "###", "###", "# #"),
    'X' -> Seq("# #", "# #", " # ", "# #", "# #"),
    'Y' -> Seq("# #", "# #", " # ", " # ", " # "),
    'Z' -> Seq("###", "  #", " # ", "#  ", "###"),
    '[' -> Seq("## ", "#  ", "#  ", "#  ", "## "),
    ']' -> Seq(" ##", "  #", "  #", "  #", " ##"),
    '/' -> Seq("  #", "  #", " # ", "#  ", "#  "),
    '0' -> Seq("###", "# #", "# #", "# #", "###"),
    '1' -> Seq(" # ", "## ", " # ", " # ", "###"),
    '2' -> Seq("###", "  #", "###", "#  ", "###"),
    '3' -> Seq("###", "  #", "###", "  #", "###"),
    '4' -> Seq("# #", "# #", "###", "  #", "  #"),
    '5' -> Seq("###", "#  ", "###", "  #", "###"),
    '6' -> Seq("###", "#  ", "###", "# #", "###"),
    '7' -> Seq("###", "  #", "  #", "  #", "  #"),
    '8' -> Seq("###", "# #", "###", "# #", "###"),
    '9' -> Seq("###", "# #", "###", "  #", "###"),
    '.' -> Seq("   ", "   ", "   ", "   ", " # "),
    '-' -> Seq("   ", "   ", "###", "   ", "   "),
    '>' -> Seq("#  ", " # ", "  #", " # ", "#  "),
    '=' -> Seq("   ", "###", "   ", "###", "   "))

  /** Extra rows under the ramp: 2 tick + 1 gap + 5 label glyph + 1 pad +
    * 5 caption glyph + 1 pad.
    */
  val colorbarLabelRows: Int = 15

  /** Colorbar legend companion (plotcolorbar.py:1-76): the afmhot ramp as a
    * PNG strip next to colormap.mtl — one `binWidth`-px column per material
    * bin, low→high left→right — ANNOTATED with tick marks and numeric
    * labels on a nice-step grid over [vmin, vmax], the final tick rendered
    * `>=vmax` exactly like the reference's last-label override
    * (plotcolorbar.py:69-71) — AND the axis caption under the labels
    * (plotcolorbar.py:55 `set_label`; the superscript flattens to "m2").
    * matplotlib's serif face becomes a built-in 3×5 bitmap font
    * (documented divergence: same information, simpler glyphs).
    */
  def colorbarPng(outDir: String, binWidth: Int = 4, height: Int = 16,
                  vmin: Double = 350.0, vmax: Double = 1300.0,
                  caption: String = "Annual solar irradiation [kWh/m2/year]")
      : String = {
    val w = bins.length * binWidth
    val hTot = height + colorbarLabelRows
    val px = Array.fill[Byte](w * hTot * 3)(0xFF.toByte) // white canvas
    var x = 0
    while (x < w) {
      val (r, g, b) = afmhot(bins(x / binWidth))
      val (rb, gb, bb) = (math.round(255 * r).toByte,
        math.round(255 * g).toByte, math.round(255 * b).toByte)
      var y = 0
      while (y < height) {
        val o = (y * w + x) * 3
        px(o) = rb; px(o + 1) = gb; px(o + 2) = bb
        y += 1
      }
      x += 1
    }
    def setPx(xx: Int, yy: Int): Unit =
      if (xx >= 0 && xx < w && yy >= 0 && yy < hTot) {
        val o = (yy * w + xx) * 3
        px(o) = 0; px(o + 1) = 0; px(o + 2) = 0
      }
    def drawText(s: String, cx: Int, y0: Int): Unit = {
      val tw = s.length * 4 - 1
      var x0 = math.max(0, math.min(w - tw, cx - tw / 2))
      s.foreach { ch =>
        // lowercase folds onto the uppercase face; spaces (and anything
        // else without a glyph) just advance the pen
        glyphs.get(ch).orElse(glyphs.get(ch.toUpper)).foreach { g =>
          var r = 0
          while (r < 5) {
            var c = 0
            while (c < 3) {
              if (g(r)(c) == '#') setPx(x0 + c, y0 + r)
              c += 1
            }
            r += 1
          }
        }
        x0 += 4
      }
    }
    def fmtV(v: Double): String =
      if (v == math.rint(v)) math.rint(v).toLong.toString else v.toString
    // nice tick step (1/2/2.5/5 × 10^k) targeting ~8 intervals
    val span = vmax - vmin
    val rawStep = span / 8.0
    val mag = math.pow(10, math.floor(math.log10(rawStep)))
    val step = Seq(1.0, 2.0, 2.5, 5.0, 10.0).map(_ * mag).find(_ >= rawStep)
      .getOrElse(rawStep)
    val ticks = Iterator.iterate(math.ceil(vmin / step) * step)(_ + step)
      .takeWhile(_ <= vmax + 1e-9).toSeq
    ticks.zipWithIndex.foreach { case (v, i) =>
      val tx = math.round((v - vmin) / span * (w - 1)).toInt
      setPx(tx, height); setPx(tx, height + 1)
      val label =
        if (i == ticks.length - 1) ">=" + fmtV(vmax) else fmtV(v)
      drawText(label, tx, height + 3)
    }
    drawText(caption, w / 2, height + 9)
    graft.HadoopConfs.writeSideBytes(s"$outDir/colormap.png",
      graft.model.PngCodec.encode(px, w, hTot))
  }
}
