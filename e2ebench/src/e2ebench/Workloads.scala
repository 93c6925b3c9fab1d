package e2ebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Cli
import graft.model.Synth
import graft.ops.{ImageOps, ObjPipeline, SpatialOps}
import graft.sink.ObjWriter
import graft.sources.ChunkedGml

/** What one op hands back: the input rows it completed, a check to run
  * once the clock has stopped (None = output correct), and facts about the
  * run that the trace reports.
  */
final case class OpOut(rows: Long, check: () => Option[String],
                       info: Map[String, Any] = Map.empty)

/** One benchmark workload. An op works on slice `k % slices` of the
  * generated input; the pool of slices is generated once per run.
  */
abstract class Workload {
  def slices: Int

  /** Untimed ops before the timed loop: the first ops of a JVM run several
    * times slower while the JIT compiles Spark's planner.
    */
  def warmOps: Int = 2

  /** Writes the seeded input under `dir` and computes the expectations.
    * Returns the input's digest and size facts. Not part of set-up time;
    * it also absorbs the cold JVM's first jobs.
    */
  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, Any]

  /** Build-side preparation, timed as part of set-up. */
  def prepare(spark: SparkSession): Unit = ()

  def op(spark: SparkSession, k: Int, sp: Spans): OpOut

  /** Traced run only: noop-sink run times of each plan prefix of op `k`
    * ("p.*", seconds) and layer counts ("c.*").
    */
  def ladder(spark: SparkSession, k: Int): Map[String, Double] = Map.empty

  /** Traced run only: the same for the build side made at set-up. */
  def setupLadder(spark: SparkSession): Map[String, Double] = Map.empty

  /** Removes what op `k` left outside Spark (files). */
  def cleanup(k: Int): Unit = ()

  protected def noop(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  protected def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Writes `slices` × `n` seeded images partitioned by slice; returns
    * the order-independent digest of the rows written.
    */
  protected def writeImages(spark: SparkSession, seed: Long, n: Int,
                            nBuildings: Long, path: String): String = {
    import spark.implicits._
    val digest = spark.sparkContext.longAccumulator("e2ebench.images_digest")
    spark.range(0L, slices.toLong * n, 1L, slices * 4).as[Long]
      .map { id =>
        val img = Inputs.image(seed, (id / n).toInt, (id % n).toInt, nBuildings)
        digest.add(Inputs.rowDigest(img))
        img
      }
      .write.partitionBy("slice").parquet(path)
    f"${digest.value}%016x"
  }

  /** Shortest of `n` timings of the same prefix: the ladder's noise filter. */
  protected def best(n: Int)(t: => Double): Double = Seq.fill(n)(t).min
}

object Workload {
  def apply(name: String): Workload = name match {
    case "join_tile" => new JoinTile
    case "citygml_obj" => new CityObj
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Images against a fixed synthetic city: cell encode, broadcast PIP join
  * and per-cell counts, then tile materialization of the same batch.
  */
class JoinTile extends Workload {
  val nBuildings = 2000L
  val perOp = 40000
  val slices = 3
  override val warmOps = 4
  private val level = SpatialOps.JoinLevel
  private var imagesPath = ""
  private var surfacesPath = ""
  private var triCells: DataFrame = _
  private var expJoin: IndexedSeq[Map[Long, (Long, Long, Long)]] = _
  private var expTiles: IndexedSeq[Map[Long, (Long, Long)]] = _

  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, Any] = {
    imagesPath = s"$dir/images.parquet"
    surfacesPath = s"$dir/surfaces.parquet"
    Synth.surfaces(spark, nBuildings).write.parquet(surfacesPath)
    val digest = writeImages(spark, seed, perOp, nBuildings, imagesPath)
    expJoin = (0 until slices).map(s =>
      Inputs.expectedJoin(seed, s, perOp, nBuildings, level))
    expTiles = (0 until slices).map(s =>
      Inputs.expectedTiles(seed, s, perOp, nBuildings, level))
    prepare(spark) // compiles the build side's code once, before set-up is timed
    Map("images_per_op" -> perOp, "buildings" -> nBuildings, "slices" -> slices,
      "hot_share" -> 0.2,
      "digest_images" -> digest,
      "digest_surfaces" -> Inputs.surfacesDigest(nBuildings))
  }

  override def prepare(spark: SparkSession): Unit = {
    val (ok, _) = ObjPipeline.validated(spark.read.parquet(surfacesPath))
    triCells = SpatialOps.triangleCells(
      SpatialOps.triangles(ObjPipeline.withoutOpenings(ok))).localCheckpoint()
  }

  private def slice(spark: SparkSession, k: Int): DataFrame =
    spark.read.parquet(imagesPath).where(col("slice") === k % slices)

  def op(spark: SparkSession, k: Int, sp: Spans): OpOut = {
    val cells = sp("SpatialOps.imageCells") { SpatialOps.imageCells(slice(spark, k)) }
    val joinRows = sp("cellCounts.collect") {
      val joined = sp("SpatialOps.spatialJoin") {
        SpatialOps.spatialJoin(cells, broadcast(triCells))
      }
      SpatialOps.cellCounts(joined).collect()
    }
    val tiles = sp("ImageOps.materializeTiles") { ImageOps.materializeTiles(spark, cells) }
    val tileRows = sp("tiles.collect") {
      tiles.toDF().groupBy(col("cell_id")).agg(count(lit(1)),
        sum(crc32(col("image_id").cast("binary"))), min(col("psnr")),
        min(col("caption_ok").cast("int")), sum(length(col("tile_bytes")))).collect()
    }
    OpOut(perOp, () => {
      val s = k % slices
      val gotJoin = joinRows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val gotTiles = tileRows.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      if (gotJoin != expJoin(s))
        Some(s"join per-cell counts differ in ${(gotJoin.toSet diff expJoin(s).toSet).size} cells")
      else if (gotTiles != expTiles(s))
        Some(s"tile per-cell counts/digests differ in ${(gotTiles.toSet diff expTiles(s).toSet).size} cells")
      else if (tileRows.exists(r => !r.isNullAt(3) && r.getDouble(3) < 40.0))
        Some("a tile has PSNR below 40 dB")
      else if (tileRows.exists(r => r.getInt(4) != 1)) Some("a tile lost its caption")
      else if (tileRows.exists(r => r.getLong(5) <= 0)) Some("a cell has empty tiles")
      else None
    })
  }

  override def ladder(spark: SparkSession, k: Int): Map[String, Double] = {
    import graft.expr.ImageFunctions.tile_encode
    val imgs = slice(spark, k)
    val cells = SpatialOps.imageCells(imgs)
    val slim = cells.select(col("image_id"), col("anchor_x"), col("anchor_y"), col("cell_id"))
    val joined = SpatialOps.spatialJoin(slim, broadcast(triCells))
      .select(col("cell_id"), col("image_id"), col("surface_id"))
    val tiles = ImageOps.materializeTiles(spark, cells).toDF()
    Map(
      "p.scan_anchor" -> best(2)(noop(imgs.select(col("image_id"), col("anchor_x"), col("anchor_y")))),
      "p.cells" -> best(2)(noop(slim)),
      "p.join" -> best(2)(noop(joined)),
      "c.candidates" -> slim.join(triCells, Seq("cell_id")).count().toDouble,
      "c.matches" -> joined.count().toDouble,
      "p.scan_bytes" -> best(2)(noop(imgs.select(col("image_id"), col("bytes"), col("w"),
        col("h"), col("fmt"), col("caption"), col("anchor_x"), col("anchor_y")))),
      "p.codec" -> best(2)(noop(cells.select(col("image_id"), col("caption"),
        tile_encode(col("bytes"), col("w"), col("h"), col("fmt"), col("cell_id")).as("t"))
        .select(col("image_id"), col("caption"), col("t.tile_bytes"), col("t.psnr")))),
      "p.tiles" -> best(2)(noop(tiles)),
      "c.tiles" -> tiles.count().toDouble)
  }

  override def setupLadder(spark: SparkSession): Map[String, Double] = {
    val (ok, _) = ObjPipeline.validated(spark.read.parquet(surfacesPath))
    val thematic = ObjPipeline.withoutOpenings(ok)
    val tris = SpatialOps.triangles(thematic)
    Map("p.thematic" -> best(3)(noop(thematic)), "p.triangles" -> best(3)(noop(tris)),
      "c.triangles" -> tris.count().toDouble)
  }
}

/** The reference's own job: `Cli.run -s 1` over one directory of CityGML
  * files — chunked XML ingest, validation, ear-clip, dictionary encode and
  * OBJ files written through ObjWriter.
  */
class CityObj extends Workload {
  val perDir = 120
  val slices = 6
  val filesPerDir = 4
  val side = Synth.gridSide(perDir.toLong * slices)
  private var dir = ""
  private var polygons: IndexedSeq[Long] = _
  private var expected: IndexedSeq[Map[String, Inputs.ObjFile]] = _

  private def gmlDir(s: Int) = f"$dir/gml/d$s%02d"
  private def outDir(k: Int) = f"$dir/out/op$k%05d"

  def generate(spark: SparkSession, seed: Long, dir: String): Map[String, Any] = {
    this.dir = dir
    val bs = (0 until slices).map(d => Inputs.dirBuildings(seed, d, perDir))
    bs.zipWithIndex.foreach { case (b, d) =>
      val out = new File(gmlDir(d))
      out.mkdirs()
      Inputs.citygmlFiles(b, side, filesPerDir).foreach { case (name, xml) =>
        java.nio.file.Files.write(new File(out, name).toPath,
          xml.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    polygons = bs.map(Inputs.polygonsOf(_, side))
    expected = bs.map(Inputs.expectedObj(_, side))
    Map("buildings_per_op" -> perDir, "polygons_per_op" -> polygons.head,
      "files_per_op" -> filesPerDir, "slices" -> slices,
      "digest_gml" -> Inputs.dirDigest(new File(s"$dir/gml")))
  }

  def op(spark: SparkSession, k: Int, sp: Spans): OpOut = {
    val s = k % slices
    val out = outDir(k)
    sp("Cli.run") { Cli.run(spark, gmlDir(s), out, Map("-s" -> "1")) }
    val files = Option(new File(out).listFiles()).getOrElse(Array.empty[File])
    OpOut(polygons(s), () => checkObj(files, expected(s)),
      Map("files_written" -> files.length, "bytes_written" -> files.map(_.length).sum))
  }

  private def checkObj(files: Array[File], exp: Map[String, Inputs.ObjFile]): Option[String] = {
    val names = files.map(_.getName).toSet
    if (names != exp.keySet) return Some(s"OBJ files ${names.toSeq.sorted} != ${exp.keys.toSeq.sorted}")
    files.iterator.map { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      val v = lines.filter(_.startsWith("v "))
      val fl = lines.filter(_.startsWith("f "))
      val e = exp(f.getName)
      val idxOk = fl.forall { l =>
        val ix = l.split(' ').tail.map(_.toLong)
        ix.length == 3 && ix.forall(i => i >= 1 && i <= v.size)
      }
      if (v.size + fl.size != lines.size) Some(s"${f.getName}: unexpected line kinds")
      else if (fl.size != e.faces) Some(s"${f.getName}: ${fl.size} faces, Euler count ${e.faces}")
      else if (v.size != e.vertices) Some(s"${f.getName}: ${v.size} vertices, want ${e.vertices}")
      else if (v.iterator.map(Inputs.crc32).sum != e.vertexDigest) Some(s"${f.getName}: vertex digest differs")
      else if (!idxOk) Some(s"${f.getName}: face index out of range")
      else None
    }.collectFirst { case Some(m) => m }
  }

  override def cleanup(k: Int): Unit = deleteTree(new File(outDir(k)))

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  override def ladder(spark: SparkSession, k: Int): Map[String, Double] = {
    val s = k % slices
    val (raw, rejects) = ChunkedGml.ingestFiles(spark, s"${gmlDir(s)}/*.{gml,xml}")
    val pIngest = best(2)(noop(raw))
    val (ok, _) = ObjPipeline.validated(raw)
    val pValidate = best(2)(noop(ok))
    val tris = SpatialOps.triangles(ObjPipeline.withoutOpenings(ok))
    val pTris = best(2)(noop(tris))
    val cs = ObjPipeline.corners(tris, semantics = true)
    val pCorners = best(2)(noop(cs))
    val ((v, f), tDict) = Seq.fill(2)(timed(ObjPipeline.dictionaryEncode(cs))).minBy(_._2)
    val pV = best(2)(noop(v))
    val pF = best(2)(noop(f))
    val lines = ObjPipeline.objLines(v, f)
    val pLines = best(2)(noop(lines))
    val out = s"${outDir(k)}-ladder"
    val pWrite = best(2) {
      val t = timed(ObjWriter.writeIndexedDistributed(lines, out, "citygml"))._2
      deleteTree(new File(out))
      t
    }
    Map("p.ingest" -> pIngest, "p.validate" -> pValidate, "p.triangles" -> pTris,
      "p.corners" -> pCorners, "p.dict" -> (tDict + pV + pF), "p.v" -> pV, "p.f" -> pF,
      "p.lines" -> pLines, "p.write" -> pWrite,
      "c.polygons" -> raw.count().toDouble, "c.rejects" -> rejects.count().toDouble,
      "c.triangles" -> tris.count().toDouble, "c.vertices" -> v.count().toDouble,
      "c.faces" -> f.count().toDouble)
  }
}
