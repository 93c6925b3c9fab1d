package graft.model

import java.io.ByteArrayOutputStream
import java.util.zip.{CRC32, Deflater, Inflater}

/** Minimal from-scratch PNG codec (RGB8, non-interlaced, filter 0 rows,
  * single IDAT). Spec: RFC 2083 / W3C PNG. Replaces javax.imageio in the hot
  * tiling path: ImageIO's service-registry lookups and default disk cache
  * serialize under many threads, which capped tiling scaling at ~1× from 8→32
  * cores. This codec is lock-free and allocation-local, so per-partition
  * decode/encode scales with cores. Lossless ⇒ the input_hint PSNR gate is
  * exact.
  */
object PngCodec {
  private val SIG = Array[Byte](0x89.toByte, 'P', 'N', 'G', '\r', '\n', 0x1A, '\n')

  // zlib codec construction does native-buffer setup — at millions of tiny
  // images per task that's the dominant cost. Reuse per thread via reset().
  private val deflaters = ThreadLocal.withInitial[Deflater](
    () => new Deflater(Deflater.BEST_SPEED))
  private val inflaters = ThreadLocal.withInitial[Inflater](() => new Inflater())

  /** Per-thread scratch buffers. The tiling hot path used to allocate
    * ~4.5 KB of garbage per row (decode raw+px, verify decode, zlib
    * intermediates, BAOS copies) — ~18 GB per 4M-row pass, enough to
    * saturate the shared DRAM bus at high thread counts and flatten
    * multi-core scaling (the ALU-bound cpu_control scales 0.88 on 2→8
    * while the codec-bound pipeline managed 0.63). Transient buffers now
    * live here; only bytes that ESCAPE (the returned encode/decode arrays)
    * are freshly allocated.
    */
  private final class Scratch {
    var raw = new Array[Byte](4096)
    var px = new Array[Byte](4096)
    def grow(cur: Array[Byte], n: Int): Array[Byte] =
      if (cur.length >= n) cur
      else new Array[Byte](math.max(n, cur.length * 2))
  }
  private val scratches = ThreadLocal.withInitial[Scratch](() => new Scratch)

  /** Below this raw size, emit zlib STORED blocks instead of calling
    * Deflater: per-call JNI setup dominates zlib on tiny rasters (measured
    * ~26 µs/tile vs ~2 µs stored), and this engine's synthetic payloads are
    * seeded-random pixels that deflate cannot shrink anyway. Still a fully
    * valid, lossless PNG (RFC 1951 §3.2.4 stored blocks + Adler-32).
    */
  private final val StoredThreshold = 8192

  def encode(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
    require(px.length == w * h * 3, s"need ${w * h * 3} RGB bytes, got ${px.length}")
    encodeUnchecked(px, w, h)
  }

  /** [[encode]] for scratch inputs that may be LONGER than w·h·3 (only the
    * first w·h·3 bytes are read).
    */
  def encodeUnchecked(px: Array[Byte], w: Int, h: Int): Array[Byte] = {
    // raw scanlines with filter byte 0 — thread-local scratch (transient)
    val rawLen = h * (1 + w * 3)
    val s = scratches.get()
    s.raw = s.grow(s.raw, rawLen)
    val raw = s.raw
    var y = 0
    while (y < h) {
      raw(y * (1 + w * 3)) = 0
      System.arraycopy(px, y * w * 3, raw, y * (1 + w * 3) + 1, w * 3)
      y += 1
    }
    if (rawLen <= StoredThreshold) encodeStoredInPlace(raw, rawLen, w, h)
    else {
      val deflater = deflaters.get()
      deflater.reset()
      deflater.setInput(raw, 0, rawLen)
      deflater.finish()
      val buf = new Array[Byte](rawLen + 64)
      val out = new ByteArrayOutputStream(rawLen / 2 + 128)
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        out.write(buf, 0, n)
      }
      val idat = out.toByteArray
      val bos = new ByteArrayOutputStream(idat.length + 128)
      bos.write(SIG)
      val ihdr = new Array[Byte](13)
      putInt(ihdr, 0, w); putInt(ihdr, 4, h)
      ihdr(8) = 8          // bit depth
      ihdr(9) = 2          // color type: truecolor RGB
      chunk(bos, "IHDR", ihdr)
      chunk(bos, "IDAT", idat)
      chunk(bos, "IEND", Array.empty)
      bos.toByteArray
    }
  }

  /** Stored-block PNG built directly into ONE exact-size output array
    * (byte-identical to the old BAOS assembly): the returned buffer is the
    * only allocation of the whole encode.
    */
  private def encodeStoredInPlace(raw: Array[Byte], rawLen: Int,
                                  w: Int, h: Int): Array[Byte] = {
    val nBlocks = math.max(1, (rawLen + 65534) / 65535)
    val idatLen = 2 + nBlocks * 5 + rawLen + 4
    val out = new Array[Byte](8 + 25 + (12 + idatLen) + 12)
    System.arraycopy(SIG, 0, out, 0, 8)
    var o = 8
    // IHDR
    putInt(out, o, 13)
    out(o + 4) = 'I'; out(o + 5) = 'H'; out(o + 6) = 'D'; out(o + 7) = 'R'
    putInt(out, o + 8, w); putInt(out, o + 12, h)
    out(o + 16) = 8 // bit depth
    out(o + 17) = 2 // color type: truecolor RGB (compression/filter/interlace = 0)
    val crc = new CRC32()
    crc.update(out, o + 4, 4 + 13)
    putInt(out, o + 21, crc.getValue.toInt)
    o += 25
    // IDAT
    putInt(out, o, idatLen)
    out(o + 4) = 'I'; out(o + 5) = 'D'; out(o + 6) = 'A'; out(o + 7) = 'T'
    var d = o + 8
    out(d) = 0x78; out(d + 1) = 0x01 // CMF/FLG, (0x7801 % 31 == 0)
    d += 2
    var pos = 0
    if (rawLen == 0) {
      // zero-dimension raster: one final empty stored block (BFINAL=1)
      out(d) = 1; out(d + 1) = 0; out(d + 2) = 0
      out(d + 3) = 0xFF.toByte; out(d + 4) = 0xFF.toByte
      d += 5
    }
    while (pos < rawLen) {
      val len = math.min(65535, rawLen - pos)
      out(d) = (if (pos + len >= rawLen) 1 else 0).toByte // BFINAL
      out(d + 1) = (len & 0xFF).toByte
      out(d + 2) = ((len >> 8) & 0xFF).toByte
      out(d + 3) = (~len & 0xFF).toByte
      out(d + 4) = ((~len >> 8) & 0xFF).toByte
      System.arraycopy(raw, pos, out, d + 5, len)
      d += 5 + len
      pos += len
    }
    val ad = new java.util.zip.Adler32()
    ad.update(raw, 0, rawLen)
    val a = ad.getValue
    out(d) = ((a >>> 24) & 0xFF).toByte
    out(d + 1) = ((a >>> 16) & 0xFF).toByte
    out(d + 2) = ((a >>> 8) & 0xFF).toByte
    out(d + 3) = (a & 0xFF).toByte
    crc.reset()
    crc.update(out, o + 4, 4 + idatLen)
    putInt(out, o + 8 + idatLen, crc.getValue.toInt)
    o += 12 + idatLen
    // IEND
    putInt(out, o, 0)
    out(o + 4) = 'I'; out(o + 5) = 'E'; out(o + 6) = 'N'; out(o + 7) = 'D'
    crc.reset()
    crc.update(out, o + 4, 4)
    putInt(out, o + 8, crc.getValue.toInt)
    out
  }

  /** Decode a PNG produced by [[encode]] (RGB8, filter 0). Returns
    * (rgbBytes, w, h) with a freshly allocated pixel buffer. Filters 1–4 are
    * not needed for our own output and are rejected explicitly.
    */
  def decode(bytes: Array[Byte]): (Array[Byte], Int, Int) =
    decodeImpl(bytes, fresh = true)

  /** Zero-copy variant for transient consumers (the tiling hot path): the
    * returned pixel array is this thread's SCRATCH buffer — it may be longer
    * than w·h·3 and is valid only until the next decode/encode call on this
    * thread. Callers must fully consume (or copy) it before re-entering the
    * codec.
    */
  def decodeScratch(bytes: Array[Byte]): (Array[Byte], Int, Int) =
    decodeImpl(bytes, fresh = false)

  private def decodeImpl(bytes: Array[Byte], fresh: Boolean): (Array[Byte], Int, Int) = {
    require(bytes.length > 8 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G',
      "not a PNG")
    val s = scratches.get()
    var pos = 8
    var w = 0; var h = 0
    var raw: Array[Byte] = null
    var rawLen = 0
    var off = 0
    val inflater = inflaters.get()
    inflater.reset()
    var usedInflater = false
    var done = false
    // single pass: IHDR sizes the raw buffer, IDAT chunks feed the inflater
    // INCREMENTALLY (no concatenated-idat copy, no BAOS)
    while (!done && pos + 8 <= bytes.length) {
      val len = getInt(bytes, pos)
      if (len < 0 || pos + 12L + len > bytes.length)
        throw new IllegalArgumentException("corrupt chunk length")
      val t0 = bytes(pos + 4); val t1 = bytes(pos + 5)
      val t2 = bytes(pos + 6); val t3 = bytes(pos + 7)
      if (t0 == 'I' && t1 == 'H' && t2 == 'D' && t3 == 'R') {
        w = getInt(bytes, pos + 8); h = getInt(bytes, pos + 12)
        require(bytes(pos + 16) == 8 && bytes(pos + 17) == 2,
          "only RGB8 supported")
        // bound each dimension BEFORE multiplying: (1+w*3)*h on Longs can
        // itself wrap when w,h are both near 2^31 and sneak past a product
        // check, turning the fuzz contract's clean IAE into wrapped-Int
        // allocation errors downstream
        require(w >= 0 && h >= 0 && w < (1 << 29) && h < (1 << 29) &&
          (1L + w * 3L) * h <= Int.MaxValue,
          "implausible dimensions")
        rawLen = h * (1 + w * 3)
        s.raw = s.grow(s.raw, rawLen)
        raw = s.raw
      } else if (t0 == 'I' && t1 == 'D' && t2 == 'A' && t3 == 'T') {
        require(raw != null, "IDAT before IHDR")
        // r7 fast path: our own small-raster encodes are all-STORED zlib
        // streams (encodeStoredInPlace). Parsing RFC 1951 stored blocks is
        // a header walk + arraycopy — skipping two Inflater JNI round
        // trips per image in the tiling hot path. Deflater output shares
        // the 0x78 0x01 header at BEST_SPEED but uses huffman blocks
        // (BTYPE != 0), which aborts cleanly into the Inflater fallback —
        // as does a stored block whose NLEN is not ~LEN, so the Inflater
        // rejects it instead of the copy trusting a corrupt length.
        var fast = false
        if (off == 0 && !usedInflater && len >= 2 &&
            bytes(pos + 8) == 0x78.toByte && bytes(pos + 9) == 0x01.toByte) {
          var p = pos + 10
          val end = pos + 8 + len
          var isFinal = false
          var ok = true
          while (ok && !isFinal && off < rawLen) {
            if (p + 5 > end) ok = false
            else {
              val hdr = bytes(p)
              if ((hdr & 6) != 0) ok = false // BTYPE != 00: not stored
              else {
                isFinal = (hdr & 1) == 1
                val blen = (bytes(p + 1) & 0xFF) | ((bytes(p + 2) & 0xFF) << 8)
                val nlen = (bytes(p + 3) & 0xFF) | ((bytes(p + 4) & 0xFF) << 8)
                if (nlen != (~blen & 0xFFFF) || p + 5 + blen > end ||
                    off + blen > rawLen) ok = false
                else {
                  System.arraycopy(bytes, p + 5, raw, off, blen)
                  off += blen
                  p += 5 + blen
                }
              }
            }
          }
          if (ok && off == rawLen) fast = true else off = 0
        }
        if (!fast) {
          usedInflater = true
          inflater.setInput(bytes, pos + 8, len)
          var n = 1
          while (n > 0 && off < rawLen) {
            n = inflater.inflate(raw, off, rawLen - off)
            off += n
          }
        }
      } else if (t0 == 'I' && t1 == 'E' && t2 == 'N' && t3 == 'D') {
        done = true
      } // else: ancillary chunk, skip
      pos += 12 + len
    }
    if (off < rawLen) throw new IllegalArgumentException("truncated IDAT stream")
    val px =
      if (fresh) new Array[Byte](w * h * 3)
      else { s.px = s.grow(s.px, w * h * 3); s.px }
    var y = 0
    while (y < h) {
      require(raw(y * (1 + w * 3)) == 0, "only filter 0 supported")
      System.arraycopy(raw, y * (1 + w * 3) + 1, px, y * w * 3, w * 3)
      y += 1
    }
    (px, w, h)
  }

  private def chunk(bos: ByteArrayOutputStream, typ: String, data: Array[Byte]): Unit = {
    val lenB = new Array[Byte](4); putInt(lenB, 0, data.length)
    bos.write(lenB)
    val typB = typ.getBytes("US-ASCII")
    bos.write(typB)
    bos.write(data)
    val crc = new CRC32()
    crc.update(typB); crc.update(data)
    val crcB = new Array[Byte](4); putInt(crcB, 0, crc.getValue.toInt)
    bos.write(crcB)
  }

  private def putInt(a: Array[Byte], o: Int, v: Int): Unit = {
    a(o) = (v >>> 24).toByte; a(o + 1) = (v >>> 16).toByte
    a(o + 2) = (v >>> 8).toByte; a(o + 3) = v.toByte
  }
  private def getInt(a: Array[Byte], o: Int): Int =
    ((a(o) & 0xFF) << 24) | ((a(o + 1) & 0xFF) << 16) |
      ((a(o + 2) & 0xFF) << 8) | (a(o + 3) & 0xFF)
}
