package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Chunked ingest of HUGE single CityGML documents (SURVEY.md O-2 at scale).
  *
  * `GmlXml.ingest` takes one XML string per row — fine for per-tile files,
  * but a multi-GB city-wide export (one document) would hit the 2 GB JVM
  * string ceiling and parse on a single task. This path removes both limits:
  * the driver lists files (metadata only) and fabricates (file, byte-range)
  * splits; each task seeks to its range and STREAMS it, scanning for
  * `<bldg:Building …>…</bldg:Building>` spans — a split starts at the first
  * building that OPENS at/after its range start and reads past its range end
  * only to finish the building it already started (the standard
  * record-boundary protocol of Hadoop text splits, re-expressed for XML).
  * Memory per task is O(read buffer + one building), never O(file).
  *
  * Each extracted span is wrapped in the document's own root envelope (the
  * root open tag with its xmlns declarations, read from the file head) and
  * handed to the normal StAX parser, so version sniffing, class dispatch,
  * ring extraction, and attribute extraction are byte-for-byte the same code
  * path as whole-document ingest. Building ordinals pack (file index, byte
  * offset) — globally unique and monotone in (path, document) order, which
  * is all the OBJ emission-order contract needs.
  *
  * KNOWN LIMIT (shared with every record-split XML reader): a split whose
  * byte range BEGINS inside a comment/CDATA section cannot know it (the
  * scanner state starts fresh per split), so a comment that both straddles
  * a split boundary AND contains decoy building tags can corrupt that one
  * split. Within a split, comments and CDATA are fully opaque at any read-
  * window size.
  */
object ChunkedGml {

  /** Tag-name boundary so `…:Building` never matches `…:BuildingPart`. */
  private def isBoundary(b: Int): Boolean =
    b == ' ' || b == '>' || b == '/' || b == '\t' || b == '\n' || b == '\r'

  private def isNameChar(b: Int): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || b == '_' || b == '-' || b == '.'

  /** Extract the root element's open tag (with all xmlns declarations) and
    * name from the head bytes of a document, skipping XML declarations,
    * processing instructions, comments, and DOCTYPE (a `<foo>` inside a
    * leading comment must NOT be taken as the root). Never throws: returns
    * a namespace-less fallback envelope when the head is garbage.
    */
  private[sources] def rootEnvelope(head: Array[Byte]): (String, String) = {
    val s = new String(head, java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i >= 0 && i < s.length) {
      i = s.indexOf('<', i)
      if (i >= 0) {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i)
          if (e < 0) return ("<CityModel>", "CityModel")
          i = e + 3
        } else if (s.startsWith("<?", i)) {
          val e = s.indexOf("?>", i)
          if (e < 0) return ("<CityModel>", "CityModel")
          i = e + 2
        } else if (s.startsWith("<!", i)) { // DOCTYPE etc.
          val e = s.indexOf('>', i)
          if (e < 0) return ("<CityModel>", "CityModel")
          i = e + 1
        } else {
          val c = if (i + 1 < s.length) s.charAt(i + 1) else ' '
          if (c.isLetter || c == '_') {
            val close = s.indexOf('>', i)
            if (close > 0) {
              val open = s.substring(i, close + 1)
              val name = open.drop(1).takeWhile(ch => !ch.isWhitespace && ch != '>' && ch != '/')
              return (open, name)
            } else return ("<CityModel>", "CityModel")
          } else i += 1
        }
      }
    }
    ("<CityModel>", "CityModel")
  }

  /** Stream one split of one file: emit (absoluteByteOffset, fragmentXml)
    * for every building whose open tag starts in [start, end); the last one
    * may be completed by reading past `end`. Bounded memory: a fixed read
    * buffer plus the bytes of the building currently being captured.
    */
  private[sources] def scanSplit(in: java.io.InputStream, fileStart: Long,
                                 end: Long, tags: Seq[String],
                                 envelope: (String, String),
                                 bufSize: Int = 1 << 20): Iterator[(Long, String)] = {
    // PREFIX-AGNOSTIC matching: the city-object namespaces may be bound to
    // any prefix (or the default namespace), so the scanner matches
    // '<' [/] [NCName ':'] <localName-in-set> <boundary> — the per-fragment
    // StAX parse still verifies the namespace URI itself (wrong-ns decoy
    // elements contribute a balanced, harmless capture and zero rows).
    val localPats: Array[Array[Byte]] = tags.map { tag =>
      val c = tag.indexOf(':')
      (if (c >= 0) tag.substring(c + 1) else tag).getBytes("UTF-8")
    }.toArray
    // cheap two-level pre-filter for the set-membership check: name length
    // and first byte (the scanner tests every element name in the document)
    val patLens: Array[Int] = localPats.map(_.length)
    def nameInSet(a: Array[Byte], start: Int, len: Int): Boolean = {
      var t = 0
      while (t < localPats.length) {
        if (patLens(t) == len && a(start) == localPats(t)(0)) {
          val p = localPats(t)
          var j = 1
          while (j < len && a(start + j) == p(j)) j += 1
          if (j == len) return true
        }
        t += 1
      }
      false
    }
    val Comment = "<!--".getBytes("UTF-8")
    val CommentEnd = "-->".getBytes("UTF-8")
    val Cdata = "<![CDATA[".getBytes("UTF-8")
    val CdataEnd = "]]>".getBytes("UTF-8")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val buf = new Array[Byte](bufSize)
    var carry = Array.empty[Byte]     // tail bytes re-scanned across blocks
    var carryOffset = fileStart       // absolute offset of carry(0)
    var capturing = false
    var depth = 0
    var captureStart = 0L
    var body: ByteArrayOutputStream = null
    var pendingClose = false          // matched a depth-0 close, waiting for '>'
    var skipEnd: Array[Byte] = null   // inside a comment / CDATA section
    var inBldgTag = false             // inside a matched open tag '<…Building …'
    var inQuote = 0                   // quote char (34/39) while inBldgTag
    var lastTagByte = 0               // last unquoted byte seen while inBldgTag
    var eof = false
    var stop = false

    // plain byte-pattern match (no boundary): 1 / 0 / -1 = need more bytes
    def matchesPlain(a: Array[Byte], i: Int, pat: Array[Byte], limit: Int): Int = {
      var j = 0
      while (j < pat.length) {
        if (i + j >= limit) return -1
        if (a(i + j) != pat(j)) return 0
        j += 1
      }
      1
    }

    // '<'[/]<prefix:>?<localName-in-set><boundary> — returns (code, tokenLen)
    // where tokenLen spans '<' through the last localName byte
    def matchTag(a: Array[Byte], i: Int, limit: Int, isClose: Boolean): (Int, Int) = {
      var j = i + 1
      if (isClose) {
        if (j >= limit) return (if (eof) 0 else -1, 0)
        if (a(j) != '/') return (0, 0)
        j += 1
      }
      // optional prefix run (bounded: names longer than 256 aren't tags)
      var k = j
      while (k < limit && k - j < 256 && isNameChar(a(k) & 0xFF)) k += 1
      if (k >= limit && !eof) return (-1, 0)
      var nameStart = j
      if (k < limit && a(k) == ':') {
        nameStart = k + 1
        k = nameStart
        while (k < limit && k - nameStart < 256 && isNameChar(a(k) & 0xFF)) k += 1
        if (k >= limit && !eof) return (-1, 0)
      }
      if (k >= limit) return (0, 0) // name runs to EOF: no boundary byte
      if (!isBoundary(a(k) & 0xFF)) return (0, 0)
      if (nameInSet(a, nameStart, k - nameStart)) (1, k - i) else (0, 0)
    }

    def emit(): Unit = {
      val frag = new String(body.toByteArray,
        java.nio.charset.StandardCharsets.UTF_8)
      out += ((captureStart, envelope._1 + frag + s"</${envelope._2}>"))
      capturing = false
      pendingClose = false
      body = null
    }

    while (!stop && (!eof || carry.nonEmpty)) {
      // window = carry ++ next block
      var n = 0
      if (!eof) {
        n = in.read(buf)
        if (n < 0) { n = 0; eof = true }
      }
      val win = new Array[Byte](carry.length + n)
      System.arraycopy(carry, 0, win, 0, carry.length)
      if (n > 0) System.arraycopy(buf, 0, win, carry.length, n)
      val winOffset = carryOffset
      val limit = win.length
      var i = 0
      var consumed = limit // how far we can safely discard (default: all)
      var done = false
      while (!done && i < limit) {
        val b = win(i) & 0xFF
        if (skipEnd != null) {
          // inside comment/CDATA: tag text here is DATA, not structure —
          // copy verbatim (when capturing) until the terminator. Bulk-copy
          // the run up to the next candidate terminator byte (per-byte
          // writes dominated the scanner profile at ~30 MiB/s/core).
          if (b == (skipEnd(0) & 0xFF)) {
            matchesPlain(win, i, skipEnd, limit) match {
              case 1 =>
                if (capturing) body.write(win, i, skipEnd.length)
                i += skipEnd.length
                skipEnd = null
              case -1 if !eof => consumed = i; done = true
              case _ => if (capturing) body.write(b); i += 1
            }
          } else {
            val t0 = skipEnd(0)
            var j = i + 1
            while (j < limit && win(j) != t0) j += 1
            if (capturing) body.write(win, i, j - i)
            i = j
          }
        } else if (inBldgTag) {
          // inside '<…Building …': quote-aware scan for the closing '>' so
          // '>' or '/' INSIDE attribute values can't end the tag, and a
          // self-closing '/>' closes the element it opened
          if (capturing) body.write(b)
          if (inQuote != 0) {
            if (b == inQuote) inQuote = 0
          } else if (b == '"' || b == '\'') {
            inQuote = b
          } else if (b == '>') {
            inBldgTag = false
            if (lastTagByte == '/') {
              depth -= 1
              if (depth == 0 && capturing) emit()
            }
          }
          if (inQuote == 0 && b != '>') lastTagByte = b
          i += 1
        } else if (!capturing) {
          if (b == '<') {
            var handled = false
            matchesPlain(win, i, Comment, limit) match {
              case 1 => skipEnd = CommentEnd; i += Comment.length; handled = true
              case -1 if !eof => consumed = i; done = true; handled = true
              case _ =>
            }
            if (!handled) matchesPlain(win, i, Cdata, limit) match {
              case 1 => skipEnd = CdataEnd; i += Cdata.length; handled = true
              case -1 if !eof => consumed = i; done = true; handled = true
              case _ =>
            }
            if (!handled) {
              val (code, len) = matchTag(win, i, limit, isClose = false)
              code match {
                case 1 =>
                  val abs = winOffset + i
                  if (abs >= end) { stop = true; done = true }
                  else {
                    capturing = true
                    depth = 1
                    captureStart = abs
                    body = new ByteArrayOutputStream(1 << 16)
                    body.write(win, i, len)
                    i += len
                    inBldgTag = true; inQuote = 0; lastTagByte = 0
                  }
                case -1 => consumed = i; done = true
                case _ => i += 1
              }
            }
          } else {
            // skip the run to the next '<' in one pass (nothing to record)
            var j = i + 1
            while (j < limit && win(j) != '<') j += 1
            i = j
          }
        } else {
          // capturing element text: copy bytes, watch for comments/CDATA,
          // nested opens, and closes
          if (b == '<') {
            var handled = false
            matchesPlain(win, i, Comment, limit) match {
              case 1 =>
                body.write(win, i, Comment.length)
                skipEnd = CommentEnd; i += Comment.length; handled = true
              case -1 if !eof => consumed = i; done = true; handled = true
              case _ =>
            }
            if (!handled) matchesPlain(win, i, Cdata, limit) match {
              case 1 =>
                body.write(win, i, Cdata.length)
                skipEnd = CdataEnd; i += Cdata.length; handled = true
              case -1 if !eof => consumed = i; done = true; handled = true
              case _ =>
            }
            if (!handled) {
              val (oc, olen) = matchTag(win, i, limit, isClose = false)
              oc match {
                case 1 =>
                  depth += 1
                  body.write(win, i, olen); i += olen
                  inBldgTag = true; inQuote = 0; lastTagByte = 0
                case -1 => consumed = i; done = true
                case _ =>
                  val (cc, clen) = matchTag(win, i, limit, isClose = true)
                  cc match {
                    case 1 =>
                      depth -= 1
                      body.write(win, i, clen); i += clen
                      if (depth == 0) pendingClose = true
                    case -1 => consumed = i; done = true
                    case _ => body.write(b); i += 1
                  }
              }
            }
          } else if (pendingClose) {
            // between a depth-0 close-tag name and its '>': byte-at-a-time
            // (the run is a few bytes at most)
            body.write(b)
            if (b == '>') emit()
            i += 1
          } else {
            // plain captured text: bulk-copy the run up to the next '<'
            var j = i + 1
            while (j < limit && win(j) != '<') j += 1
            body.write(win, i, j - i)
            i = j
          }
        }
      }
      if (stop) { carry = Array.empty }
      else if (done && consumed < limit) {
        carry = java.util.Arrays.copyOfRange(win, consumed, limit)
        carryOffset = winOffset + consumed
      } else {
        carry = Array.empty
        carryOffset = winOffset + limit
      }
      // safety: if we are past `end` and not capturing, stop scanning
      if (!capturing && carryOffset >= end && carry.isEmpty) stop = true
      if (eof && capturing && carry.isEmpty) {
        // truncated document: salvage what was captured (never-fail)
        emit()
      }
    }
    out.iterator
  }

  /** Every city-object root tag the scanner extracts: buildings plus the
    * reference's 'Other' route (Road/PlantCover/GenericCityObject/
    * CityFurniture/Relief/Tunnel/WaterBody/Bridge, CityGML2OBJs.py:597-603).
    * Prefix-agnostic local names; the StAX parse verifies namespaces.
    */
  val CityObjectTags: Seq[String] =
    "Building" +: graft.sources.GmlXml.OtherRootClasses.toSeq.sorted

  /** Distributed chunked ingest: every `.gml` file under `pathOrGlob` is cut
    * into `chunkBytes` byte-range splits, one task each. Returns the same
    * (surfaces, rejects) pair as [[GmlXml.ingest]]; `building_ord` packs
    * (sorted-path file index << 44) | absolute byte offset — globally
    * unique, monotone in (path, document) order.
    */
  def ingestFiles(spark: SparkSession, pathOrGlob: String,
                  chunkBytes: Long = 64L << 20,
                  tags: Seq[String] = CityObjectTags): (DataFrame, DataFrame) = {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    require(chunkBytes >= (1L << 16), "chunkBytes must be at least 64 KiB")
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(pathOrGlob)
    val fs = p.getFileSystem(conf)
    val stats = Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Nil)
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(s => s.isFile && s.getLen > 0)
    // files sorted by path and indexed: building_ord packs (fileIdx, byte
    // offset) so ordinals stay GLOBALLY unique and document-order-monotone
    // across a multi-file directory — bare per-file offsets collide between
    // files and would interleave buildings in the OBJ emission order
    // building_ord packs (fileIdx << 44) | offset into a signed Long:
    // 19 bits of file index, 44 bits of offset — both must be range-checked
    // or the packed ordinal silently wraps and breaks global monotonicity
    require(stats.size < (1 << 19),
      s"${stats.size} input files: ≥ 524288 files per ingest unsupported " +
        "(building_ord packs a 19-bit file index)")
    val splits = stats.sortBy(_.getPath.toString).zipWithIndex.flatMap {
      case (s, fileIdx) =>
        val len = s.getLen
        require(len < (1L << 44), s"${s.getPath}: files ≥ 16 TiB unsupported")
        (0L until len by chunkBytes).map(st =>
          (s.getPath.toString, fileIdx.toLong, st, math.min(st + chunkBytes, len)))
    }
    // batch small files into at most 4× the core count of tasks, sliced on
    // the driver (no shuffle): one task PER SPLIT turns a 2000-tile directory
    // into 2000 scheduler round-trips (a split is never shared between tasks)
    val nPart = math.max(1, math.min(splits.size,
      spark.sparkContext.defaultParallelism * 4))
    // ship the driver's Hadoop conf — a bare new Configuration() in the
    // task loses every spark.hadoop.* setting (credentials, fs overrides)
    val confMap = graft.HadoopConfs.pack(conf)
    val frags = spark.sparkContext.parallelize(splits, nPart)
      .mapPartitions { it =>
        val hconf = graft.HadoopConfs.unpack(confMap)
        it.flatMap { case (pathStr, fileIdx, start, end) =>
          val path = new Path(pathStr)
          val tfs = path.getFileSystem(hconf)
          // envelope from the file head (tiny read, any split can do it)
          val headIn = tfs.open(path)
          val head = new Array[Byte](1 << 16)
          var got = 0
          var r = 0
          while (r >= 0 && got < head.length) {
            r = headIn.read(head, got, head.length - got)
            if (r > 0) got += r
          }
          headIn.close()
          val env = rootEnvelope(java.util.Arrays.copyOf(head, got))
          val in = tfs.open(path)
          in.seek(start)
          val fileName = path.getName
          val res = scanSplit(in, start, end, tags, env).map {
            case (off, xml) => (s"$fileName#$off", (fileIdx << 44) | off, xml)
          }.toVector
          in.close()
          res
        }
      }
    val raw = frags.flatMap { case (docId, off, xml) =>
      GmlXml.parseDocument(xml, docId).map(rp => rp.copy(building_seq = off))
    }.toDF()
    GmlXml.routeParsed(raw)
  }
}
