package graft.model

import org.scalatest.funsuite.AnyFunSuite

class PngCodecSpec extends AnyFunSuite {
  test("encode/decode round-trip is lossless for seeded pixels") {
    val rnd = new scala.util.Random(5)
    (0 until 20).foreach { _ =>
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val px = ImageCodec.seededPixels(w, h, rnd.nextLong())
      val enc = PngCodec.encode(px, w, h)
      val (dec, dw, dh) = PngCodec.decode(enc)
      assert((dw, dh) === (w, h))
      assert(dec.toSeq === px.toSeq)
      assert(ImageCodec.psnr(px, dec) === Double.PositiveInfinity)
    }
  }

  test("output is valid PNG per an independent decoder (javax.imageio)") {
    val px = ImageCodec.seededPixels(16, 16, 42L)
    val enc = PngCodec.encode(px, 16, 16)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(enc))
    assert(img.getWidth === 16 && img.getHeight === 16)
    // spot-check pixel (3, 5)
    val i = (5 * 16 + 3) * 3
    val rgb = img.getRGB(3, 5)
    assert(((rgb >> 16) & 0xFF) === (px(i) & 0xFF))
    assert(((rgb >> 8) & 0xFF) === (px(i + 1) & 0xFF))
    assert((rgb & 0xFF) === (px(i + 2) & 0xFF))
  }

  test("deterministic: same pixels → same bytes") {
    val px = ImageCodec.seededPixels(16, 16, 7L)
    assert(PngCodec.encode(px, 16, 16).toSeq === PngCodec.encode(px, 16, 16).toSeq)
  }

  test("encode bytes are pinned across codec rewrites (md5 goldens)") {
    // Encoded bytes are durable data (baked into cached bench parquet and
    // downstream checksums) — a codec "optimization" that changes them is a
    // data-corruption bug. Goldens cover both zlib paths (stored ≤8KB raw,
    // Deflater above), the threshold straddle (52² raw=8164 / 53² raw=8480),
    // multi-scanline assembly, and zero-dimension rasters.
    val goldens = Seq(
      (1, 1)     -> "2c8a6591b738317688c98346b1582ad0",
      (7, 3)     -> "d8cebb7d6b994dac72ac189c02d309e0",
      (16, 16)   -> "e7a43713f0622e2a441b18ac55e39118",
      (52, 52)   -> "1bce573a0d8b1d086b3ecacf0d3d6a3e",
      (53, 53)   -> "ddf42ef33d5abcdff946882904ac6fdf",
      (64, 64)   -> "737d4e1e39fccd1515b3ce0a29810de4",
      (100, 100) -> "c09e988d6bbbed2da214f4e19e5853ed",
      (300, 300) -> "38340a5c3bed3a0752a0b3c0e3669697",
      (511, 73)  -> "3f9968da086c7ce6fc117a0c311d8f24",
      (0, 5)     -> "294c0d1b061a963303cc154ffd951ef2",
      (5, 0)     -> "0c6b1b0cedc9ea4a319c05c69178c2ce")
    val md = java.security.MessageDigest.getInstance("MD5")
    goldens.foreach { case ((w, h), expect) =>
      val px = ImageCodec.seededPixels(w, h, w * 1000L + h)
      val enc = PngCodec.encode(px, w, h)
      val hash = md.digest(enc).map("%02x".format(_)).mkString
      md.reset()
      assert(hash === expect, s"PNG bytes drifted for ${w}x$h")
      if (w > 0 && h > 0) {
        val (dec, dw, dh) = PngCodec.decode(enc)
        assert((dw, dh) === (w, h))
        assert(dec.toSeq === px.toSeq)
      }
    }
  }

  test("decode never hangs or corrupts on mutated bytes (hostile-input fuzz)") {
    // decode feeds length-prefixed chunks to an Inflater — a mutated length,
    // truncated IDAT, or bit-flipped deflate stream must raise a clean
    // exception (or still decode, for mutations in ancillary bytes), never
    // loop forever or return a wrong-sized buffer
    val px = ImageCodec.seededPixels(24, 17, 3L)
    val good = PngCodec.encode(px, 24, 17)
    val rnd = new scala.util.Random(11)
    var decoded = 0
    (0 until 300).foreach { _ =>
      val bad = good.clone()
      val nMut = 1 + rnd.nextInt(4)
      (0 until nMut).foreach { _ =>
        bad(rnd.nextInt(bad.length)) = rnd.nextInt(256).toByte
      }
      try {
        val (d, w, h) = PngCodec.decode(bad)
        require(d.length == w * h * 3)
        decoded += 1
      } catch {
        case _: IllegalArgumentException | _: IllegalStateException |
             _: java.util.zip.DataFormatException |
             _: ArrayIndexOutOfBoundsException |
             _: NegativeArraySizeException => // clean rejection
      }
    }
    // truncations at every length
    (0 until good.length by 7).foreach { n =>
      try PngCodec.decode(java.util.Arrays.copyOf(good, n))
      catch { case _: Exception => }
    }
    assert(decoded >= 0) // the loop completing IS the property (no hang)
  }

  test("scratch decode agrees with fresh decode and survives interleaving") {
    // decodeScratch returns thread-local buffers that the tiling hot path
    // consumes before the next codec call — assert the documented contract:
    // first w*h*3 bytes match the fresh decode, including straight after an
    // interleaved encode of a DIFFERENT image (scratch reuse must not bleed).
    val a = ImageCodec.seededPixels(20, 11, 1L)
    val b = ImageCodec.seededPixels(33, 7, 2L)
    val encA = PngCodec.encode(a, 20, 11)
    val encB = PngCodec.encode(b, 33, 7)
    val (sA, w1, h1) = PngCodec.decodeScratch(encA)
    assert((w1, h1) === (20, 11))
    assert(sA.take(20 * 11 * 3).toSeq === a.toSeq)
    PngCodec.encode(b, 33, 7) // interleave: may clobber scratch
    val (sB, w2, h2) = PngCodec.decodeScratch(encB)
    assert((w2, h2) === (33, 7))
    assert(sB.take(33 * 7 * 3).toSeq === b.toSeq)
  }

  test("a stored block whose NLEN is not ~LEN is rejected, not copied") {
    // our own small encodes are all-stored zlib streams: the fast path must
    // check each block's NLEN and hand a bad one to the Inflater
    val good = PngCodec.encode(ImageCodec.seededPixels(8, 8, 9L), 8, 8)
    val idat = good.indices.find(i => new String(good, i, 4, "US-ASCII") == "IDAT").get
    val nlenLo = idat + 4 + 2 + 3 // chunk data: zlib header, BFINAL, LEN, NLEN
    val bad = good.clone()
    bad(nlenLo) = (bad(nlenLo) ^ 0x01).toByte
    assert(PngCodec.decode(good)._1.length === 8 * 8 * 3)
    intercept[java.util.zip.DataFormatException](PngCodec.decode(bad))
  }
}
