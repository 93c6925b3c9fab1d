package e2ebench

import graft.model.Synth

/** Prints, for one seed, digests and size facts of the inputs the
  * `join_tile` and `citygml_obj` workloads generate, at their own sizes and
  * without Spark. The benchmark's tests run it to check that a seed fixes
  * the inputs and that the seed moves content but not sizes:
  *
  * {{{
  * java -cp <classes>:<spark jars>/'*' e2ebench.SeedDigest <seed>
  * }}}
  */
object SeedDigest {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val jt = new JoinTile
    val co = new CityObj
    var digest, images, png, downtown = 0L
    for (s <- 0 until jt.slices; i <- 0 until jt.perOp) {
      val r = Inputs.image(seed, s, i, jt.nBuildings)
      digest += Inputs.rowDigest(r)
      images += 1
      if (r.fmt == "png") png += 1
      if (r.anchor_x < Synth.Ox0 + Synth.W && r.anchor_y < Synth.Oy0 + Synth.D) downtown += 1
    }
    val dirs = (0 until co.slices).map(d => Inputs.dirBuildings(seed, d, co.perDir))
    val files = dirs.map(Inputs.citygmlFiles(_, co.side, co.filesPerDir))
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.flatten.foreach { case (n, xml) => md.update(n.getBytes("UTF-8")); md.update(xml.getBytes("UTF-8")) }
    println(Json.mapper.writeValueAsString(Map(
      "images_digest" -> f"$digest%016x",
      "images" -> images,
      "png_share" -> png.toDouble / images,
      "hot_share" -> downtown.toDouble / images,
      "gml_digest" -> md.digest().map(b => f"${b & 0xFF}%02x").mkString,
      "gml_files" -> files.map(_.size),
      "gml_buildings" -> dirs.map(_.size),
      "gml_polygons" -> dirs.map(Inputs.polygonsOf(_, co.side)),
      "obj_faces" -> dirs.map(Inputs.expectedObj(_, co.side).map { case (f, e) => f -> e.faces }))))
  }
}
