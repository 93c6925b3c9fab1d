package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.graft.BlockProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Synth
import graft.sources.GmlXml

/** End-to-end drive of the reference-compatible CLI (graft.Cli): render the
  * synth city to .gml files on disk, run the flag surface, and check the
  * OUTPUT FILES — the underlying operators are oracle-gated elsewhere; this
  * gates the glue (ingest → flags → writers → sidecars).
  */
class CliSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cityDir(n: Long): Path = {
    val dir = Files.createTempDirectory("cli_city")
    GmlXml.render(Synth.surfaces(spark, n).toDF).collect().foreach { r =>
      Files.writeString(dir.resolve(s"${r.getString(0)}.gml"), r.getString(1))
    }
    dir
  }

  private def lines(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.toSeq

  test("EP-1: -s -g -a -t produces per-class OBJs with objects + materials") {
    val in = cityDir(6L)
    val out = Files.createTempDirectory("cli_out1")
    val msgs = Cli.run(spark, in.toString, out.toString,
      Map("-s" -> "1", "-g" -> "1", "-a" -> "1", "-t" -> "1", "-v" -> "1"))
    assert(msgs.exists(_.contains("OBJ file(s)")))
    val all = out.resolve("citygml.obj")
    assert(Files.exists(all), s"missing All-bin OBJ; msgs=$msgs")
    assert(Files.exists(out.resolve("citygml-RoofSurface.obj")))
    assert(Files.exists(out.resolve("colormap.mtl")))
    assert(Files.exists(out.resolve("colormap.png"))) // colorbar legend
    val ls = lines(all)
    val nv = ls.count(_.startsWith("v "))
    val fls = ls.filter(_.startsWith("f "))
    assert(nv > 0 && fls.nonEmpty)
    // -g: one object record per building in the All bin, and faces actually
    // grouped under their object (colliding multi-file ordinals used to
    // interleave every building's faces after the last 'o' record)
    assert(ls.count(_.startsWith("o ")) === 6)
    val oBlocks = ls.dropWhile(!_.startsWith("o "))
      .foldLeft(List.empty[Int]) { (acc, l) =>
        if (l.startsWith("o ")) 0 :: acc
        else if (l.startsWith("f ") && acc.nonEmpty) (acc.head + 1) :: acc.tail
        else acc
      }
    assert(oBlocks.size === 6 && oBlocks.forall(_ > 0),
      s"faces not grouped per object: $oBlocks")
    // -a: mtllib header everywhere; usemtl on the colored class bin (the
    // reference's mode 1 colors RoofSurface polygons; the All bin needs a
    // building-level yearlyIrradiation, which the synth city doesn't carry)
    assert(ls.head === "mtllib colormap.mtl")
    val roof = lines(out.resolve("citygml-RoofSurface.obj"))
    val mats = roof.filter(_.startsWith("usemtl mat"))
    assert(mats.nonEmpty)
    // clamped to the 101-bin grid even when the attribute exceeds max_value
    mats.foreach { m =>
      val v = m.stripPrefix("usemtl mat").toDouble
      assert(v >= 0.0 && v <= 1.0, s"material outside the bin grid: $m")
    }
    // -t: vertices translated to the origin corner (all coords ≥ 0, min = 0)
    val coords = ls.filter(_.startsWith("v ")).map(_.split(" ")(1).toDouble)
    assert(coords.min === 0.0 || coords.exists(_ == 0.0))
    // every face index resolves within the dictionary
    fls.foreach { f =>
      f.split(" ").drop(1).foreach(ix => assert(ix.toLong >= 1 && ix.toLong <= nv))
    }
  }

  test("EP-1: -p emits n-ary faces (no triangulation)") {
    val in = cityDir(4L)
    val out = Files.createTempDirectory("cli_out2")
    Cli.run(spark, in.toString, out.toString, Map("-p" -> "1"))
    val fl = lines(out.resolve("citygml.obj")).filter(_.startsWith("f "))
    assert(fl.exists(_.split(" ").length > 4), "no n-ary face found under -p")
  }

  test("EP-2: -sepC -appW -addBB -addBBJSON writes per-building components") {
    val in = cityDir(4L)
    val out = Files.createTempDirectory("cli_out3")
    val msgs = Cli.run(spark, in.toString, out.toString,
      Map("-sepC" -> "1", "-appW" -> "1", "-addBB" -> "1", "-addBBJSON" -> "1"))
    val objs = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.startsWith("component-")).toSeq
    assert(objs.size === 4, s"expected one OBJ per building; msgs=$msgs")
    // corner triangles present: ≥ 8 bbox faces on top of the building's own
    val f0 = lines(objs.head).count(_.startsWith("f "))
    assert(f0 > 8)
    val bbox = out.resolve("bbox.json")
    assert(Files.exists(bbox))
    // the sidecar round-trips through the importBB reader
    assert(graft.sink.GmlSink.readBboxJson(spark, bbox.toString).count() === 4)
    // ...and drives -importBB end to end
    val out2 = Files.createTempDirectory("cli_out3b")
    Cli.run(spark, in.toString, out2.toString,
      Map("-sepC" -> "1", "-importBB" -> bbox.toString))
    val objs2 = Files.list(out2).iterator().asScala
      .filter(_.getFileName.toString.startsWith("component-")).toSeq
    assert(objs2.size === 4)
  }

  test("mixed city: roads/vegetation route to the Other bin; installations " +
    "separate under -sepC with index rows") {
    // a city with roads + vegetation + an installation feature (round-4
    // verdict items #1/#5): render via the mixed synth and convert
    val dir = Files.createTempDirectory("cli_mixed")
    GmlXml.render(Synth.mixedCity(spark, 8L, 8L)).collect().foreach { r =>
      Files.writeString(dir.resolve(s"${r.getString(0)}.gml"), r.getString(1))
    }
    // EP-1 with semantics: the non-building objects land in their own
    // 'Other' OBJ and never in 'All'
    val out = Files.createTempDirectory("cli_mixed_out")
    val msgs = Cli.run(spark, dir.toString, out.toString,
      Map("-s" -> "1", "-g" -> "1"))
    assert(Files.exists(out.resolve("citygml-Other.obj")), s"msgs=$msgs")
    val other = lines(out.resolve("citygml-Other.obj"))
    // 8 other objects × 1 quad × 2 triangles
    assert(other.count(_.startsWith("f ")) === 16)
    // All bin: no 'o <oth...>' records (other objects are outside the
    // per-building 'All' loop in the reference)
    val all = lines(out.resolve("citygml.obj"))
    assert(!all.exists(_.startsWith("o oth")))
    // -sepC: per-building components + one per installation + one Other bin
    val out2 = Files.createTempDirectory("cli_mixed_sep")
    val msgs2 = Cli.run(spark, dir.toString, out2.toString,
      Map("-sepC" -> "1", "-a" -> "1"))
    assert(msgs2.exists(_.contains("-a has no effect with -sepC")))
    val objs = Files.list(out2).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("component-")).toSeq
    // 8 buildings + 1 installation (building 0 only at n=8) + Other
    assert(objs.size === 10, s"objs=$objs msgs=$msgs2")
    assert(objs.contains("component-Other.obj"))
    val instFile = objs.find(_.contains("__inst")).getOrElse(
      fail(s"no installation component in $objs"))
    // index.json carries the installation row (tag + parent + gml id)
    val idx = Files.readString(out2.resolve("index.json"))
    assert(idx.contains("\"" + instFile + "\""))
    assert(idx.contains("\"BuildingInstallation\""))
    assert(idx.contains("\"inst00000000\""))
    assert(idx.contains("\"component-Other.obj\""))
  }

  test("colliding building ids never merge into one output file") {
    // 'b.1' and 'b_1' sanitize to the same segment — the hash suffix must
    // keep them apart in BOTH the -sepC components and the -tCw GML files
    assert(graft.HadoopConfs.fileSafe("b.1") !== graft.HadoopConfs.fileSafe("b_1"))
    assert(graft.HadoopConfs.fileSafe("b_1") === "b_1") // unchanged id: no suffix
    val dir = Files.createTempDirectory("cli_collide")
    val surf = Synth.surfaces(spark, 2L).toDF
    import org.apache.spark.sql.functions._
    val renamed = surf.withColumn("building_id",
      when(col("building_id") === "bldg00000000", "b.1").otherwise("b_1"))
    GmlXml.render(renamed).collect().zipWithIndex.foreach { case (r, i) =>
      Files.writeString(dir.resolve(s"city$i.gml"), r.getString(1))
    }
    val out = Files.createTempDirectory("cli_collide_out")
    Cli.run(spark, dir.toString, out.toString, Map("-sepC" -> "1"))
    val objs = Files.list(out).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("component-")).toSeq
    assert(objs.size === 2, s"colliding ids merged: $objs")
    val out2 = Files.createTempDirectory("cli_collide_out2")
    Cli.run(spark, dir.toString, out2.toString,
      Map("-tC" -> "1", "-tCw" -> "1"))
    val gmls = Files.list(out2).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith("_local_.gml")).toSeq
    assert(gmls.size === 2, s"colliding ids merged in GML sink: $gmls")
  }

  test("EP-3 mixed city: -tC translates non-building objects too") {
    // round-4 item #6 at the CLI level: the q53 oracle gates the math; this
    // gates the glue — roads/vegetation coordinates shift with the derived
    // params and land in the translated Other OBJ
    val dir = Files.createTempDirectory("cli_mixed_tc")
    GmlXml.render(Synth.mixedCity(spark, 4L, 4L)).collect().foreach { r =>
      Files.writeString(dir.resolve(s"${r.getString(0)}.gml"), r.getString(1))
    }
    val out = Files.createTempDirectory("cli_mixed_tc_out")
    val msgs = Cli.run(spark, dir.toString, out.toString,
      Map("-tC" -> "1", "-s" -> "1"))
    assert(msgs.exists(_.contains("CRS translation applied")))
    val other = out.resolve("citygml-Other.obj")
    assert(Files.exists(other), s"msgs=$msgs")
    // non-implicit other objects translate near the origin (raw synth
    // coords sit at 100+) — while the IMPLICIT CityFurniture keeps its
    // template coordinates untranslated (CityGMLTranslation.py:288-298)
    val xs = lines(other).filter(_.startsWith("v ")).map(_.split(" ")(1).toDouble)
    assert(xs.nonEmpty)
    assert(xs.count(_ < Synth.Ox0) >= 12, // 3 translated quads × 4 corners
      s"Other objects not translated: $xs")
    assert(xs.count(_ >= Synth.Ox0) === 4, // the implicit quad's corners
      s"implicit template geometry should stay untranslated: $xs")
  }

  test("EP-3: -tC -tCw translates and writes local GML + parameters") {
    val in = cityDir(4L)
    val out = Files.createTempDirectory("cli_out4")
    val msgs = Cli.run(spark, in.toString, out.toString,
      Map("-tC" -> "1", "-tCw" -> "1"))
    assert(msgs.exists(_.contains("CRS translation applied")))
    assert(Files.exists(out.resolve("citygml_parameters.txt")))
    val gmls = Files.list(out).iterator().asScala
      .filter(_.getFileName.toString.endsWith("_local_.gml")).toSeq
    assert(gmls.size === 4)
    // translated OBJ coordinates sit near the origin, not at the synth
    // city's 100+ offsets
    val ls = lines(out.resolve("citygml.obj"))
    val xs = ls.filter(_.startsWith("v ")).map(_.split(" ")(1).toDouble)
    assert(xs.max < Synth.Ox0, s"translation not applied: max x = ${xs.max}")
  }

  test("run releases its ingest cache on the normal path and an early return") {
    // one JVM calls run() many times (this spec, the benchmark): a cache
    // left per call would pile up
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    // ids only: other suites' unscoped checkpoints may still await a GC
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val out = Files.createTempDirectory("cli_cache_out")
    Cli.run(spark, cityDir(2L).toString, out.toString, Map("-s" -> "1"))
    assert(cache.isEmpty, "the ingest cache outlived a normal run")
    // the run's materializations are released with its scope, no GC
    assert((persisted -- before).isEmpty,
      s"persistent RDDs outlived the run: ${persisted -- before}")
    val empty = Files.createTempDirectory("cli_cache_empty")
    val msgs = Cli.run(spark, empty.toString, out.toString, Map("-s" -> "1"))
    assert(msgs.exists(_.contains("no buildings found")), s"msgs=$msgs")
    assert(cache.isEmpty, "the ingest cache outlived an early return")
  }

  test("runs back to back: no run leaves a block of its ingest cache behind") {
    // the block store itself, not the master's metadata: an asynchronous
    // unpersist drops the metadata at once while the blocks linger. Ids
    // only: earlier suites' blocks may still await a GC.
    val in = cityDir(24L).toString
    (1 to 4).foreach { i =>
      val before = BlockProbe.rddsWithBlocks
      Cli.run(spark, in, Files.createTempDirectory(s"cli_blocks$i").toString,
        Map("-s" -> "1"))
      val left = BlockProbe.rddsWithBlocks -- before
      assert(left.isEmpty, s"run $i left blocks of RDDs $left")
    }
  }

  test("a -s 1 conversion of a 4-file directory runs at most 9 Spark jobs") {
    // one job fills and counts the ingest table, the others write the OBJ
    // files; every checkpoint, sample or collect in the encode adds a job
    val in = cityDir(4L).toString
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(l)
    val msgs =
      try {
        val m = Cli.run(spark, in, Files.createTempDirectory("cli_jobs").toString,
          Map("-s" -> "1"))
        Bridge.drainListeners(sc)
        m
      } finally sc.removeSparkListener(l)
    assert(msgs.exists(_.contains("OBJ file(s)")), s"msgs=$msgs")
    assert(jobs.get <= 9, s"${jobs.get} jobs for one conversion")
  }
}
