package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.{ImageCodec, Synth}

/** DCT perceptual hash (q118). Pins (a) a brute-force replica of the
  * quantized-integer DCT + median + packing, (b) robustness — a planted
  * small perturbation keeps hamming ≤ 6 while distinct images stay far,
  * (c) near-dup retrieval through the hamming blocking finds exactly the
  * planted pairs, (d) partition invariance.
  */
class PhashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val CT = Array.tabulate(16, 8) { (x, u) =>
    Math.round(Math.cos(Math.PI * (2 * x + 1) * u / 32) * 1e6)
  }

  private def brutePhash(px: Array[Byte]): (Long, Long) = {
    val lum = (0 until 256).map(j => ((299 * (px(3 * j) & 0xFF) +
      587 * (px(3 * j + 1) & 0xFF) + 114 * (px(3 * j + 2) & 0xFF)) / 1000).toLong)
    val coefs = (for (v <- 0 until 8; u <- 0 until 8) yield {
      (v * 8 + u, (0 until 256).map(j => lum(j) * CT(j % 16)(u) * CT(j / 16)(v)).sum)
    }).toMap
    val ac = coefs.filterNot(_._1 == 0)
    val med = ac.values.toSeq.sorted.apply(31)
    val hash = ac.collect { case (i, c) if c > med => 1L << (i - 1) }.sum
    (hash, ac.values.count(_ > med).toLong)
  }

  private def seeded(n: Int) = (0 until n).map { i =>
    val px = ImageCodec.seededPixels(16, 16, Synth.mix64(3100L + i))
    (f"ph$i%02d", px)
  }

  test("matches the brute-force integer replica") {
    val rows = seeded(5)
    val df = rows.map { case (id, px) =>
      (id, ImageCodec.encodePng(px, 16, 16), 16, 16, "png")
    }.toDF("image_id", "bytes", "w", "h", "fmt")
    val got = ImageOps.phash(spark, df).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expect = rows.map { case (id, px) => id -> brutePhash(px) }.toMap
    assert(got === expect)
  }

  test("robust to small perturbations; distinct images stay far") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val rows = seeded(6)
    val all = rows.flatMap { case (id, px) =>
      val dup = px.clone()
      // brightness jitter on a couple of pixels — a small local edit
      for (j <- Seq(17, 143)) {
        dup(3 * j) = (((dup(3 * j) & 0xFF) + 6) min 255).toByte
      }
      Seq((id, ImageCodec.encodeRaw(px), 16, 16, "raw"),
        (id + "_dup", ImageCodec.encodeRaw(dup), 16, 16, "raw"))
    }
    val sigs = ImageOps.phash(spark,
      all.toDF("image_id", "bytes", "w", "h", "fmt")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, _) =>
      assert(ham(sigs(id), sigs(id + "_dup")) <= 6,
        s"$id dup drifted: ${ham(sigs(id), sigs(id + "_dup"))}")
    }
    for (Seq((a, _), (b, _)) <- rows.combinations(2))
      assert(ham(sigs(a), sigs(b)) > 6, s"$a vs $b too close")
  }

  test("near-dup retrieval finds exactly the planted pairs") {
    val rows = seeded(6)
    val all = rows.flatMap { case (id, px) =>
      val dup = px.clone()
      for (j <- Seq(17, 143)) {
        dup(3 * j) = (((dup(3 * j) & 0xFF) + 6) min 255).toByte
      }
      Seq((id, ImageCodec.encodeRaw(px), 16, 16, "raw"),
        (id + "_dup", ImageCodec.encodeRaw(dup), 16, 16, "raw"))
    }.toDF("image_id", "bytes", "w", "h", "fmt")
    // the q118 signature through the q51 hamming blocking
    val pairs = HammingBlocking.nearDupPairs(
        ImageOps.phash(spark, all).select("image_id", "phash"), "image_id",
        "phash", "img_a", "img_b", maxHamming = 6, longHamming = true)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val expect = rows.map { case (id, _) =>
      if (id < id + "_dup") (id, id + "_dup") else (id + "_dup", id)
    }.toSet
    assert(pairs === expect)
  }

  test("partition invariance") {
    val df = seeded(5).map { case (id, px) =>
      (id, ImageCodec.encodeRaw(px), 16, 16, "raw")
    }.toDF("image_id", "bytes", "w", "h", "fmt")
    val a = ImageOps.phash(spark, df).orderBy("image_id").collect().toSeq
    val b = ImageOps.phash(spark, df.repartition(7))
      .orderBy("image_id").collect().toSeq
    assert(a === b)
  }
}
