package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.ImageCodec

/** Raster-tile ↔ vector-cell materialization (SURVEY.md O-57) and the
  * multimodal decode/feature plumbing of the training pipeline.
  *
  * The payload stays an opaque `binary` column through every relational
  * stage; decode/re-encode happens ONLY inside the tiling map, per
  * partition, and the cell-clustering exchange (one rebalance on cell_id;
  * AQE splits a measured-hot partition, O-59) moves encoded TILES, never
  * source bytes — see `materializeTiles`. Codec = graft.model.PngCodec
  * (from scratch: javax.imageio serializes under concurrent threads —
  * measured; see ImageCodec).
  */
object ImageOps {

  final case class TileRow(
      image_id: String,
      cell_id: Long,
      tile_bytes: Array[Byte],
      tile_w: Int,
      tile_h: Int,
      fmt: String,
      caption: String,
      psnr: Double,
      caption_ok: Boolean)

  /** Parent-cell column at `level − delta`: strip the 2·delta low Morton
    * bits and restamp the level field — pure bit math (codegen'd built-ins),
    * identical to Cells.parent. The kNN ladder's round keys and the cell
    * pyramid rollup coarsen through it.
    */
  def parentCell(cell: org.apache.spark.sql.Column, level: Int,
                 delta: Int): org.apache.spark.sql.Column =
    if (delta == 0) cell
    else lit((level - delta).toLong << (2 * graft.geom.Cells.MaxLevel))
      .bitwiseOR(shiftright(
        cell.bitwiseAND(lit((1L << (2 * graft.geom.Cells.MaxLevel)) - 1)),
        2 * delta))

  private val tileRowEncoder: Encoder[TileRow] = Encoders.product[TileRow]

  /** Materialize per-cell raster tiles: decode payload → crop the cell's
    * quadrant (deterministic from cell_id parity — a stand-in for a real
    * geo-crop, keeping the Spark-side shape real: schema, partitioning,
    * per-partition batch decode) → re-encode losslessly → assert PSNR +
    * caption equality per row (input_hint contract).
    *
    * Shuffle design for 100 TB (SURVEY.md O-57/O-59): the codec map runs
    * BEFORE the cell-clustering shuffle, so the exchange moves ¼-size tiles
    * instead of source images. The exchange is ONE rebalance on cell_id: it
    * hash-partitions by cell, so a consumer that groups by cell reads it
    * with no second exchange, and no job runs ahead of it and nothing is
    * collected to the driver. Skew is AQE's: a partition measured
    * oversized is split only where no consumer needs the cell clustering
    * (a count, a sink) — AQE refuses a split that would break a required
    * distribution — so a cell-grouped result always sees each cell once.
    */
  def materializeTiles(spark: SparkSession,
                       imagesWithCells: DataFrame): Dataset[TileRow] = {
    import graft.expr.ImageFunctions.tile_encode
    // the codec runs as a Catalyst expression in ONE projection directly
    // under the exchange (a typed encoder measured 3.7 s of tuple decoding
    // at 4M rows × 32c). The struct is flattened before the exchange:
    // TileEncodeExpr is non-deterministic, so CollapseProject cannot
    // re-inline the codec per extracted field and a filter is not pushed
    // below it (either would run it twice per row). With flat columns the
    // optimizer prunes what a consumer does not read: `tileMetrics` ships
    // (cell_id, psnr, caption_ok) and runs the codec once per row; a bare
    // `count()` reads no tile column and loses the codec with the pruned
    // columns, so it times scan + cell encode + exchange; a sink ships
    // everything it writes.
    imagesWithCells
      .select(col("image_id"), col("cell_id"), col("fmt"), col("caption"),
        tile_encode(col("bytes"), col("w"), col("h"), col("fmt"),
          col("cell_id")).as("t"))
      .select(col("image_id"), col("cell_id"),
        col("t.tile_bytes").as("tile_bytes"),
        col("t.tw").as("tile_w"), col("t.th").as("tile_h"),
        col("fmt"), col("caption"), col("t.psnr").as("psnr"),
        col("caption").isNotNull.as("caption_ok"))
      .hint("rebalance", col("cell_id"))
      .as(tileRowEncoder)
  }

  /** Thumbnail/resize over the binary column (training-pipeline multimodal
    * op): decode → deterministic box-average resize → lossless re-encode.
    * Same plumbing contract as tiling: per-partition batch decode, payloads
    * never in shuffle keys, schema stays columnar.
    */
  def thumbnails(spark: SparkSession, images: DataFrame,
                 tw: Int, th: Int): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, w, h, fmt) =>
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val t = ImageCodec.resize(px, w, h, tw, th)
          val enc = if (fmt == "png") ImageCodec.encodePng(t, tw, th)
                    else ImageCodec.encodeRaw(t)
          // unsigned pixel-value sum: the cross-engine-checkable content
          // checksum of the resized buffer (oracle recomputes the box
          // average from the dumped source pixels)
          var s = 0L
          var i = 0
          while (i < t.length) { s += t(i) & 0xFF; i += 1 }
          (id, enc, tw, th, fmt, s)
        }
      }
      .toDF("image_id", "thumb_bytes", "tw", "th", "fmt", "px_sum")
  }

  /** Per-cell tile metrics (north-rule metrics sidecar): counts + PSNR
    * floor + caption integrity, written per run to the metrics table.
    */
  def tileMetrics(tiles: Dataset[TileRow]): DataFrame =
    tiles.toDF().groupBy("cell_id").agg(
      count(lit(1)).as("n_tiles"),
      min(when(col("psnr").isNull, lit(Double.MaxValue)).otherwise(col("psnr"))).as("min_psnr"),
      min(col("caption_ok").cast("int")).as("captions_ok"))

  /** Feature extraction over the binary column (training-pipeline
    * multimodal op): per-image channel means plus a REAL from-scratch
    * perceptual hash (dHash: 9×8 box-average luma grid → 64 gradient bits —
    * public algorithm, pure integer math, no vision libs needed, exactly
    * SQL-recomputable from decoded pixels — q50). Deep CNN-style embeddings
    * stay out of scope in this container (documented). Plumbing contract:
    * batched per-partition decode, payloads never in shuffle keys, columnar
    * schema; the packed `dhash` long plugs straight into the SimHash-style
    * hamming pigeonhole blocking for image near-dup joins.
    */
  /** Deterministic training augmentation (the vision-pipeline op between
    * "decoded corpus" and "training batches"): seeded random crop +
    * horizontal flip, with NO RNG state — the crop offsets and the flip bit
    * derive from disjoint bit fields of the cross-engine 60-bit md5 hash of
    * (image_id, seed), so the augmentation is identical across engines,
    * partitionings, and reruns (exactly the q60/q61 seeded-hash
    * discipline, applied to pixels).
    *
    * Plumbing contract (shared with thumbnails/features): per-partition
    * typed decode where the payload lives, never-fail, payloads never in a
    * shuffle — the output rows carry only offsets + two exact integer
    * checksums (plain and position-weighted, so a flip provably changes
    * the result), both SQL-recomputable from the dumped source pixels.
    */
  def augment(spark: SparkSession, images: DataFrame, cw: Int, ch: Int,
              seed: Long): DataFrame = {
    import spark.implicits._
    require(cw >= 1 && ch >= 1, "crop dims must be >= 1")
    val hsh = conv(substring(md5(concat(col("image_id"), lit("@" + seed))),
      1, 15), 16, 10).cast("long")
    images.select("image_id", "bytes", "w", "h", "fmt")
      .withColumn("hsh", hsh)
      .withColumn("ox", pmod(col("hsh"), (col("w") - cw + 1).cast("long")))
      .withColumn("oy", pmod(shiftright(col("hsh"), 8), (col("h") - ch + 1).cast("long")))
      .withColumn("flip", (shiftright(col("hsh"), 16).bitwiseAND(1L)) === 1L)
      .select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"),
        col("ox"), col("oy"), col("flip"))
      .as[(String, Array[Byte], Int, Int, String, Long, Long, Boolean)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, w, h, fmt, oxL, oyL, flip) =>
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val (ox, oy) = (oxL.toInt, oyL.toInt)
          var s = 0L; var ws = 0L
          var y = 0
          while (y < ch) {
            var x = 0
            while (x < cw) {
              val sx = ox + (if (flip) cw - 1 - x else x)
              var c = 0
              while (c < 3) {
                val v = (px(((oy + y) * w + sx) * 3 + c) & 0xFF).toLong
                val k = (y * cw + x) * 3 + c
                s += v; ws += v * (k + 1)
                c += 1
              }
              x += 1
            }
            y += 1
          }
          (id, ox.toLong, oy.toLong, flip, s, ws)
        }
      }
      .toDF("image_id", "ox", "oy", "flip", "aug_sum", "aug_wsum")
  }

  /** Per-cell mosaic compositing (satellite-style "cloud-free composite" /
    * heatmap rasterization): the per-pixel mean of every image anchored in
    * a Morton cell. The aggregation buffer is (count, per-position pixel
    * sums) — associative and commutative, so Catalyst's partial aggregation
    * combines map-side and the exchange ships ONE (size+1)-long buffer per
    * (cell × partition) instead of 768-value pixel rows (vs explode+groupBy:
    * 768× row inflation straight into the shuffle). `finish` floor-divides
    * by the final count (exact integer math, SQL `//`-replayable) and
    * collapses to three scalars, so the result set is cell-count-sized.
    */
  class MosaicAgg(size: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      Array[Byte], Array[Long], Seq[Long]] {
    override def zero: Array[Long] = new Array[Long](size + 1)
    // input rows are raw pixel bytes (BINARY encoder: one memcpy per row —
    // a Seq[Int] input would box 768 integers per row, measured 50× slower)
    override def reduce(b: Array[Long], px: Array[Byte]): Array[Long] = {
      b(0) += 1L
      var j = 0
      while (j < size) { b(j + 1) += px(j) & 0xFF; j += 1 }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i <= size) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Seq[Long] = {
      val n = b(0)
      var s = 0L; var ws = 0L
      var j = 0
      while (j < size) {
        val a = b(j + 1) / n
        s += a; ws += (j + 1) * a
        j += 1
      }
      Seq(n, s, ws)
    }
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Mosaic query surface: decode map-side (skipping payloads whose pixel
    * count doesn't match `size` — never-fail contract), aggregate per cell.
    */
  def mosaic(spark: SparkSession, imagesWithCells: DataFrame,
             size: Int = 768): DataFrame = {
    import spark.implicits._
    val decoded = imagesWithCells
      .select(col("cell_id"), col("bytes"), col("w"), col("h"), col("fmt"))
      .as[(Long, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        rows.flatMap { case (cell, bytes, w, h, fmt) =>
          if (w * h * 3 != size) None
          else Some((cell, ImageCodec.decode(bytes, fmt, w, h)))
        }
      }
      .toDF("cell_id", "px")
    val agg = udaf(new MosaicAgg(size),
      org.apache.spark.sql.Encoders.BINARY)
    decoded.groupBy("cell_id").agg(agg(col("px")).as("m"))
      .select(col("cell_id"),
        element_at(col("m"), 1).as("n_images"),
        element_at(col("m"), 2).as("mos_sum"),
        element_at(col("m"), 3).as("mos_wsum"))
  }

  /** Dominant-color extraction (palette indexing / color-filter features
    * for image search): quantize every pixel to a 12-bit RGB code
    * (4 bits/channel, floor), return the modal code (ties → smallest
    * code), its count, and the distinct-code count. Zero shuffle — one
    * 4096-int scratch per partition thread, reused across rows.
    */
  def dominantColor(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        val counts = new Array[Int](4096)
        rows.map { case (id, bytes, w, h, fmt) =>
          java.util.Arrays.fill(counts, 0)
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val n = w * h
          var j = 0
          while (j < n) {
            val code = ((px(3 * j) & 0xFF) / 16) * 256 +
              ((px(3 * j + 1) & 0xFF) / 16) * 16 + (px(3 * j + 2) & 0xFF) / 16
            counts(code) += 1
            j += 1
          }
          var best = 0; var bestN = 0; var distinct = 0
          var c = 0
          while (c < 4096) {
            val k = counts(c)
            if (k > 0) { distinct += 1; if (k > bestN) { bestN = k; best = c } }
            c += 1
          }
          (id, best.toLong, bestN.toLong, distinct.toLong)
        }
      }
      .toDF("image_id", "dom_color", "dom_count", "n_colors")
  }

  /** Image quality gate (the crawl-filtering op that drops blurry/blank
    * frames before training): integer BT.601 luma (×1000, floor-divided —
    * SQL `//`-replayable), 4-neighbor Laplacian over interior pixels,
    * blur score = population variance of the Laplacian (Pech-Pacheco
    * focus measure) plus mean luma. All sums are exact integers; the two
    * doubles derive from them in one mirrored expression each, so the
    * oracle recomputes bit-identically from the dumped pixels. Zero
    * shuffle: typed per-partition decode, one pass per image, only slim
    * stat rows continue.
    */
  def qualityStats(spark: SparkSession, images: DataFrame,
                   sharpThreshold: Double): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, w, h, fmt) =>
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val n = w * h
          val lum = new Array[Int](n)
          var j = 0
          while (j < n) {
            lum(j) = (299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF) +
              114 * (px(3 * j + 2) & 0xFF)) / 1000
            j += 1
          }
          var lumaSum = 0L
          j = 0
          while (j < n) { lumaSum += lum(j); j += 1 }
          var lapSum = 0L; var lapSq = 0L
          var y = 1
          while (y < h - 1) {
            var x = 1
            while (x < w - 1) {
              val c = y * w + x
              val l = 4 * lum(c) - lum(c - 1) - lum(c + 1) - lum(c - w) - lum(c + w)
              lapSum += l; lapSq += l.toLong * l
              x += 1
            }
            y += 1
          }
          val nInt = ((w - 2) * (h - 2)).toLong
          val blurVar =
            (lapSq.toDouble - lapSum.toDouble * lapSum.toDouble / nInt) / nInt
          (id, nInt, lapSum, lapSq, blurVar, lumaSum.toDouble / n,
            blurVar >= sharpThreshold)
        }
      }
      .toDF("image_id", "n_int", "lap_sum", "lap_sq_sum", "blur_var_raw",
        "mean_luma_raw", "sharp")
  }

  def extractFeatures(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, w, h, fmt) =>
          val px = ImageCodec.decode(bytes, fmt, w, h)
          var r = 0L; var g = 0L; var b = 0L
          var i = 0
          while (i + 2 < px.length) {
            r += px(i) & 0xFF; g += px(i + 1) & 0xFF; b += px(i + 2) & 0xFF
            i += 3
          }
          val n = (px.length / 3).toDouble
          val bits = ImageCodec.dhashBits(px, w, h)
          (id, r / n, g / n, b / n, bits, ImageCodec.dhashPack(bits))
        }
      }
      .toDF("image_id", "mean_r", "mean_g", "mean_b", "dhash_bits", "dhash")
  }

  /** HOG-style gradient-orientation histograms (round-5 item #7): a
    * semantic image feature with NO vision libs — pure integer math, exactly
    * SQL-recomputable from decoded pixels (q64). Per interior pixel:
    * luma = r + g + b (sum — scale-free for gradients, no division),
    * central differences gx/gy, orientation = one of 8 sectors from
    * (sign gx, sign gy, |gx| ≥ |gy|) — comparisons only, no atan2 —
    * and L1 magnitude |gx| + |gy| summed per (cell, sector). Zero-gradient
    * pixels contribute magnitude 0 to sector 7 (a no-op), keeping the SQL
    * replay branch-free. Dense rows: every (cell_x, cell_y, bin) of the
    * grid, zeros included, so the flattened embedding has fixed layout.
    */
  /** The shared per-image accumulator: (cell-major, 8 sectors per cell)
    * Σ |gx|+|gy| — exact integers.
    */
  private def hogAcc(px: Array[Byte], w: Int, h: Int,
                     cellSize: Int): Array[Long] = {
    val cw = (w + cellSize - 1) / cellSize
    val ch = (h + cellSize - 1) / cellSize
    val acc = new Array[Long](cw * ch * 8)
    def luma(xx: Int, yy: Int): Int = {
      val o = (yy * w + xx) * 3
      (px(o) & 0xFF) + (px(o + 1) & 0xFF) + (px(o + 2) & 0xFF)
    }
    var y = 1
    while (y < h - 1) {
      var x = 1
      while (x < w - 1) {
        val gx = luma(x + 1, y) - luma(x - 1, y)
        val gy = luma(x, y + 1) - luma(x, y - 1)
        val bin = (if (gx >= 0) 4 else 0) + (if (gy >= 0) 2 else 0) +
          (if (math.abs(gx) >= math.abs(gy)) 1 else 0)
        acc(((y / cellSize) * cw + x / cellSize) * 8 + bin) +=
          math.abs(gx).toLong + math.abs(gy).toLong
        x += 1
      }
      y += 1
    }
    acc
  }

  def hogCells(spark: SparkSession, images: DataFrame,
               cellSize: Int = 8): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.flatMap { case (id, bytes, w, h, fmt) =>
        val px = ImageCodec.decode(bytes, fmt, w, h)
        val cw = (w + cellSize - 1) / cellSize
        val ch = (h + cellSize - 1) / cellSize
        val acc = hogAcc(px, w, h, cellSize)
        for (cy <- 0 until ch; cx <- 0 until cw; b <- 0 until 8)
          yield (id, cx, cy, b, acc((cy * cw + cx) * 8 + b))
      })
      .toDF("image_id", "cell_x", "cell_y", "bin", "mag")
  }

  /** Deterministic near-duplicate companions for a slice of the corpus:
    * every 16th image (by phash) re-encoded with its first pixel's red
    * channel LSB flipped — a sub-visual change that moves the dHash by at
    * most a bit or two. Fixture for the image near-dup join (q51) and its
    * oracle dump (decode → perturb → lossless re-encode, all exact).
    */
  def perturbedDups(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.where(pmod(col("phash"), lit(16L)) === 0)
      .select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, w, h, fmt) =>
          // decode returns the input array itself for raw — clone before
          // mutating or the source row's payload changes underneath us
          val px = ImageCodec.decode(bytes, fmt, w, h).clone()
          px(0) = (px(0) ^ 0x01).toByte
          val enc = if (fmt == "png") ImageCodec.encodePng(px, w, h) else px
          (id + "~dup", enc, w, h, fmt)
        }
      }.toDF("image_id", "bytes", "w", "h", "fmt")
  }

  /** Image near-duplicate pairs via dHash hamming blocking — the multimodal
    * twin of `TextOps.simhashNearDups` (same 4×16-bit pigeonhole: any pair
    * within hamming ≤ 3 shares at least one intact chunk, so the blocking
    * is recall-lossless up to the threshold). Exact hamming is verified on
    * candidates only; payload bytes never enter the shuffle — only
    * (chunk, dhash) pairs, 16 bytes a row.
    */
  def dhashNearDups(spark: SparkSession, images: DataFrame,
                    maxHamming: Int = 3, maxBucket: Int = -1): DataFrame = {
    import spark.implicits._
    // lean signature pass (decode + dhash only — no channel means), then an
    // EAGER materialization: the self-join consumes the signature table
    // twice, and without it both sides would re-decode every image; not a
    // persist, so no cache handle leaks to the session (the blocks go with
    // the caller's scope)
    val sigs = Materialized(images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.map { case (id, bytes, w, h, fmt) =>
        (id, ImageCodec.dhashPack(
          ImageCodec.dhashBits(ImageCodec.decode(bytes, fmt, w, h), w, h)))
      }).toDF("image_id", "dhash")).scoped
    // hot-bucket-hardened pigeonhole blocking (flat/near-black crawl images
    // produce IDENTICAL dhashes in the millions): identical signatures
    // become member→rep dup-group edges, distinct signatures chunk-block +
    // exact-verify — see HammingBlocking
    HammingBlocking.nearDupPairs(sigs, "image_id", "dhash", "img_a", "img_b",
      maxHamming, longHamming = true, maxBucket = maxBucket)
  }

  /** Exact pixel-difference verification of candidate image pairs (the
    * "exact verify on candidates" stage after hash blocking, q113): per
    * pair, the integer sum of absolute channel differences (SAD), the
    * channel count, and the exact milli-MAE ((sad·1000) div n). Decode
    * runs once per image (typed pass, eager materialization — the frame
    * joins twice); the per-pair fold is one codegen'd zip_with+aggregate,
    * no per-pixel row explosion. Payload crosses exactly two hash joins —
    * inherent: the metric needs both images' pixels side by side.
    */
  def pairPixelSad(spark: SparkSession, images: DataFrame, pairs: DataFrame,
                   aCol: String = "img_a", bCol: String = "img_b")
      : DataFrame = {
    import spark.implicits._
    val px = Materialized(images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.map { case (id, bytes, w, h, fmt) =>
        (id, ImageCodec.decode(bytes, fmt, w, h).map(b => (b & 0xFF)))
      }).toDF("image_id", "px")).scoped
    // shuffle_hash for the same reason as zonalStats: the decoded pixel
    // arrays are invisible to the size estimate and Catalyst would
    // broadcast the payload side (driver-side multi-GB collect at scale);
    // the first join builds on the slim pair keys, the second can only
    // build on a payload side either way
    pairs.select(col(aCol), col(bCol)).hint("shuffle_hash")
      .join(px.select(col("image_id").as(aCol), col("px").as("pa")),
        Seq(aCol))
      .join(px.select(col("image_id").as(bCol), col("px").as("pb"))
        .hint("shuffle_hash"), Seq(bCol))
      .withColumn("sad", expr(
        "aggregate(zip_with(pa, pb, (zx, zy) -> abs(zx - zy)), " +
          "CAST(0 AS BIGINT), (za, zv) -> za + zv)"))
      .withColumn("n_px", size(col("pa")).cast("long"))
      .withColumn("mae_milli", expr("(sad * 1000) div n_px"))
      .select(aCol, bCol, "sad", "n_px", "mae_milli")
  }

  /** SSIM (Wang et al. 2004, global window) between candidate image pairs
    * — the perceptual sibling of [[pairPixelSad]]: a near-dup verifier
    * that is insensitive to global brightness/contrast shifts where SAD
    * is not. Computed over integer BT.601 luma (floor-div by 1000, the
    * q85 convention) with the canonical K1=0.01/K2=0.03/L=255 constants.
    *
    * Exactness: the four SSIM factors are EXACT integers — clearing the
    * n² denominators turns 2μaμb+C1 etc. into integer forms over the raw
    * sums (Sa, Sb, Saa, Sbb, Sab), with C1/C2 scaled by 10⁴ to stay
    * integral (65025 = C1·10⁴, 585225 = C2·10⁴; the 10⁴ cancels in the
    * ratio). One double division at the end, IEEE-deterministic in both
    * engines. Long-overflow headroom requires w·h ≤ 65536 (256² tiles) —
    * checked per row.
    *
    * Plan shape: per-image luma arrays + (Σl, Σl²) come from ONE typed
    * decode pass (eager materialization — the pair join consumes it
    * twice); only Σ la·lb needs both arrays, one codegen'd
    * zip_with+aggregate per pair; shuffle_hash hints keep Catalyst from
    * broadcasting the payload side (the pairPixelSad story). Pairs whose
    * dimensions differ are dropped (SSIM is undefined there).
    */
  def ssimPairs(spark: SparkSession, images: DataFrame, pairs: DataFrame,
                aCol: String = "img_a", bCol: String = "img_b")
      : DataFrame = {
    import spark.implicits._
    val px = Materialized(images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.map { case (id, bytes, w, h, fmt) =>
        require(w.toLong * h <= 65536L,
          s"ssimPairs: $id is ${w}x$h — factors overflow past 256^2 px")
        val p = ImageCodec.decode(bytes, fmt, w, h)
        val n = w * h
        val lum = new Array[Long](n)
        var s1 = 0L; var s2 = 0L
        var j = 0
        while (j < n) {
          val l = (299L * (p(3 * j) & 0xFF) + 587L * (p(3 * j + 1) & 0xFF) +
            114L * (p(3 * j + 2) & 0xFF)) / 1000L
          lum(j) = l; s1 += l; s2 += l * l; j += 1
        }
        (id, lum, s1, s2)
      }).toDF("image_id", "lum", "s1", "s2")).scoped
    val n2 = col("n") * col("n")
    val num1 = (lit(2L) * col("sa") * col("sb") * 10000L +
      lit(65025L) * n2).cast("double")
    val num2 = (lit(2L) * (col("n") * col("sab") - col("sa") * col("sb")) *
      10000L + lit(585225L) * n2).cast("double")
    val den1 = ((col("sa") * col("sa") + col("sb") * col("sb")) * 10000L +
      lit(65025L) * n2).cast("double")
    val den2 = ((col("n") * col("saa") - col("sa") * col("sa") +
      col("n") * col("sbb") - col("sb") * col("sb")) * 10000L +
      lit(585225L) * n2).cast("double")
    pairs.select(col(aCol), col(bCol)).hint("shuffle_hash")
      .join(px.select(col("image_id").as(aCol), col("lum").as("pa"),
        col("s1").as("sa"), col("s2").as("saa")), Seq(aCol))
      .join(px.select(col("image_id").as(bCol), col("lum").as("pb"),
        col("s1").as("sb"), col("s2").as("sbb")).hint("shuffle_hash"),
        Seq(bCol))
      .where(size(col("pa")) === size(col("pb")))
      .withColumn("sab", expr("aggregate(zip_with(pa, pb, " +
        "(zx, zy) -> zx * zy), CAST(0 AS BIGINT), (za, zv) -> za + zv)"))
      .withColumn("n", size(col("pa")).cast("long"))
      .select(col(aCol), col(bCol),
        (round(num1 * num2 / (den1 * den2), 6) + 0.0).as("ssim"))
  }

  /** Per-image sample table for interpolation ops (q111): anchor point +
    * the raw integer BT.601 luma numerator summed over all pixels — one
    * typed decode pass where the payload lives, slim rows out.
    */
  def lumaSamples(spark: SparkSession,
                  imagesWithAnchors: DataFrame): DataFrame = {
    import spark.implicits._
    imagesWithAnchors
      .select("image_id", "bytes", "w", "h", "fmt", "anchor_x", "anchor_y")
      .as[(String, Array[Byte], Int, Int, String, Double, Double)]
      .mapPartitions(_.map { case (id, bytes, w, h, fmt, ax, ay) =>
        val px = ImageCodec.decode(bytes, fmt, w, h)
        var s = 0L
        var j = 0
        while (j < w * h) {
          s += 299L * (px(3 * j) & 0xFF) + 587L * (px(3 * j + 1) & 0xFF) +
            114L * (px(3 * j + 2) & 0xFF)
          j += 1
        }
        (id, ax, ay, s)
      }).toDF("image_id", "anchor_x", "anchor_y", "lum_sum")
  }

  /** Zonal statistics — the classic geo×raster op (per-zone pixel stats of
    * a georeferenced tile set): for every zone rectangle, the count and
    * integer BT.601-luma sum of all pixels whose CENTER
    * (anchor + (i + 0.5)·res) falls inside the zone, plus the exact
    * integer mean (`luma_sum div n_px`, in 0..255000 milli-luma — the raw
    * 299r+587g+114b numerator is kept undivided so every sum is exact).
    *
    * Plan: each tile decodes ONCE where the payload lives (typed
    * mapPartitions → per-pixel luma array, eagerly materialized so
    * the slim pass and the payload join don't decode twice); candidate
    * (zone, tile) pairs come from a SLIM cell_cover equi-join — the luma
    * array crosses exactly one hash join on image_id and never rides the
    * multi-cell explode; per-pair window sums are one codegen'd nested
    * higher-order aggregate over the luma array (no 256× per-pixel row
    * explosion — the q87 lesson); the per-zone rollup partial-aggregates
    * four longs. The cell prefilter keeps the rect-rect theta join from
    * degenerating to a cross product at scale; the residual overlap
    * predicate is a conservative superset of "some pixel center inside",
    * so the final `n_px > 0` filter fixes the exact semantics.
    */
  def zonalStats(spark: SparkSession, imagesWithAnchors: DataFrame,
                 zones: DataFrame, zoneCol: String = "building_ord",
                 res: Double = 1.0, level: Int = 14): DataFrame = {
    import spark.implicits._
    import graft.expr.GeomFunctions.cell_cover
    val lum = Materialized(imagesWithAnchors
      .select("image_id", "bytes", "w", "h", "fmt", "anchor_x", "anchor_y")
      .as[(String, Array[Byte], Int, Int, String, Double, Double)]
      .mapPartitions(_.map { case (id, bytes, w, h, fmt, ax, ay) =>
        val px = ImageCodec.decode(bytes, fmt, w, h)
        val l = new Array[Long](w * h)
        var j = 0
        while (j < w * h) {
          l(j) = 299L * (px(3 * j) & 0xFF) + 587L * (px(3 * j + 1) & 0xFF) +
            114L * (px(3 * j + 2) & 0xFF)
          j += 1
        }
        (id, ax, ay, w, h, l)
      }).toDF("image_id", "anchor_x", "anchor_y", "w", "h", "luma")).scoped
    val slimTile = lum.drop("luma")
      .withColumn("txmin", col("anchor_x"))
      .withColumn("txmax", col("anchor_x") + col("w") * lit(res))
      .withColumn("tymin", col("anchor_y"))
      .withColumn("tymax", col("anchor_y") + col("h") * lit(res))
    val zc = zones.withColumn("zcell", explode(cell_cover(
      col("xmin"), col("ymin"), col("xmax"), col("ymax"), lit(level))))
    val tc = slimTile.withColumn("zcell", explode(cell_cover(
      col("txmin"), col("tymin"), col("txmax"), col("tymax"), lit(level))))
    // eager checkpoint of the SLIM deduped pair frame: without it Catalyst
    // pushes the n_px > 0 fold into the cell join's condition, evaluating
    // the whole pixel fold once per duplicate (tile, zone, CELL) candidate
    // — measured 9× redundant work at 1M tiles
    val pairs = Materialized(tc.join(zc, Seq("zcell"))
      .where(col("txmin") <= col("xmax") && col("txmax") >= col("xmin") &&
             col("tymin") <= col("ymax") && col("tymax") >= col("ymin"))
      .select(col(zoneCol), col("image_id"), col("anchor_x"),
        col("anchor_y"), col("w"), col("h"),
        col("xmin"), col("xmax"), col("ymin"), col("ymax"))
      .distinct()).scoped
    // iterate only a CONSERVATIVE pixel window (±1 slack absorbs any
    // floor/ceil float edge) — the per-pixel CASE still decides
    // membership, so the result is identical to a full-image scan (which
    // is what the oracle runs); for production-sized tiles this is the
    // difference between O(window) and O(tile) per pair
    val jyLo = s"greatest(0, CAST(floor((ymin - anchor_y) / $res - 0.5) " +
      "AS INT) - 1)"
    val jyHi = s"least(h - 1, CAST(ceil((ymax - anchor_y) / $res - 0.5) " +
      "AS INT) + 1)"
    val ixLo = s"greatest(0, CAST(floor((xmin - anchor_x) / $res - 0.5) " +
      "AS INT) - 1)"
    val ixHi = s"least(w - 1, CAST(ceil((xmax - anchor_x) / $res - 0.5) " +
      "AS INT) + 1)"
    def windowAgg(term: String) =
      s"""CASE WHEN $jyLo > $jyHi OR $ixLo > $ixHi THEN CAST(0 AS BIGINT)
          ELSE aggregate(sequence($jyLo, $jyHi), CAST(0 AS BIGINT),
            (accj, jy) ->
            accj + aggregate(sequence($ixLo, $ixHi), CAST(0 AS BIGINT),
              (acci, ix) -> acci + (CASE
                WHEN anchor_x + (ix + 0.5) * $res BETWEEN xmin AND xmax
                 AND anchor_y + (jy + 0.5) * $res BETWEEN ymin AND ymax
                THEN $term ELSE CAST(0 AS BIGINT) END))) END"""
    // SHUFFLE_HASH on the SLIM side: size stats UNDERESTIMATE through the
    // typed decode map (the 768-element luma arrays aren't in the child
    // estimate), so Catalyst would BROADCAST the payload side — a multi-GB
    // driver collect at scale. The hint forces a shuffled hash join with
    // the slim pair keys as the build side; the payload streams.
    pairs.hint("shuffle_hash")
      .join(lum.select("image_id", "luma"), Seq("image_id"))
      .withColumn("n_px", expr(windowAgg("CAST(1 AS BIGINT)")))
      .withColumn("lsum",
        expr(windowAgg("element_at(luma, (jy * w + ix) + 1)")))
      .where(col("n_px") > 0)
      .groupBy(col(zoneCol)).agg(
        count(lit(1)).as("n_images"),
        sum(col("n_px")).as("n_px"),
        sum(col("lsum")).as("luma_sum"))
      .withColumn("mean_luma", expr("luma_sum div n_px"))
  }

  /** Per-image histogram equalization (the contrast-normalization op of an
    * image-preprocessing pipeline): the standard CDF remap of integer
    * BT.601 luma,
    *     eq(l) = (cdf(l) − cdf_min) · 255 ∕ (n_px − cdf_min)   (floor),
    * with cdf_min = count of the lowest occupied bin; a constant image
    * (n_px = cdf_min) maps to 0. Emits the per-image REMAP TABLE — one row
    * per occupied luma bin: (image_id, lum, n, cdf, eq).
    *
    * Zero shuffle: histogram, CDF, and remap are all per-image local math
    * and run inside the single decode pass (the qualityStats pattern) — at
    * most 256 slim rows leave per image regardless of image size, and the
    * whole-stage stays embarrassingly parallel at 100 TB. The oracle
    * replays the math with SQL windows over the dumped pixels (ROWS frame
    * + exact integer floor division).
    */
  def histogramEqualize(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        val hist = new Array[Long](256)
        rows.flatMap { case (id, bytes, w, h, fmt) =>
          java.util.Arrays.fill(hist, 0L)
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val n = w * h
          var j = 0
          while (j < n) {
            hist((299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF) +
              114 * (px(3 * j + 2) & 0xFF)) / 1000) += 1
            j += 1
          }
          var cdfMin = 0L
          var l = 0
          while (l < 256 && hist(l) == 0) l += 1
          if (l < 256) cdfMin = hist(l)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long, Long, Long)]
          var cdf = 0L
          l = 0
          while (l < 256) {
            if (hist(l) > 0) {
              cdf += hist(l)
              val eq = if (n > cdfMin) (cdf - cdfMin) * 255L / (n - cdfMin)
                       else 0L
              out += ((id, l.toLong, hist(l), cdf, eq))
            }
            l += 1
          }
          out.iterator
        }
      }
      .toDF("image_id", "lum", "n", "cdf", "eq")
  }

  /** 1e6-quantized DCT-II cosine table (16 spatial positions × 8
    * frequencies): the quantization makes the whole pHash pipeline exact
    * int64 math — order-independent, partition-invariant, and bit-equal to
    * the oracle's `round(cos(pi()*(2x+1)*u/32)*1e6)` (every entry sits
    * ≥ 0.03 from a rounding boundary, verified at design time, so a last-
    * ulp cos difference between libms can never flip a table entry).
    */
  private lazy val DctCos: Array[Array[Long]] = Array.tabulate(16, 8) {
    (x, u) => Math.round(Math.cos(Math.PI * (2 * x + 1) * u / 32) * 1e6)
  }

  /** DCT perceptual hash (pHash, public method): integer BT.601 luma →
    * quantized-integer 2D DCT-II → the 63 low-frequency AC coefficients
    * (8×8 block minus DC) → median threshold → 63-bit signature. Unlike
    * dHash (gradient signs, q51), pHash captures the global low-frequency
    * structure, so it survives brightness jitter and small local edits.
    * Per-image local math inside the single decode pass; slim
    * (image_id, phash, n_above) rows continue. Signatures drop into the
    * existing hamming machinery ([[dhashNearDups]]'s HammingBlocking) for
    * near-dup retrieval.
    *
    * Direct (non-separable) 16→8 DCT costs 16k multiplies per image —
    * fine for thumbnails; a separable row/column pass halves the exponent
    * with the same fixed-point discipline if inputs grow.
    */
  def phash(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        val lum = new Array[Long](256)
        val coefs = new Array[Long](64)
        val sorted = new Array[Long](63)
        rows.map { case (id, bytes, w, h, fmt) =>
          require(w == 16 && h == 16,
            s"phash expects 16x16 thumbnails (got ${w}x$h) — resize first")
          val px = ImageCodec.decode(bytes, fmt, w, h)
          var j = 0
          while (j < 256) {
            lum(j) = (299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF) +
              114 * (px(3 * j + 2) & 0xFF)) / 1000
            j += 1
          }
          var v = 0
          while (v < 8) {
            var u = 0
            while (u < 8) {
              var s = 0L
              j = 0
              while (j < 256) {
                s += lum(j) * DctCos(j % 16)(u) * DctCos(j / 16)(v)
                j += 1
              }
              coefs(v * 8 + u) = s
              u += 1
            }
            v += 1
          }
          System.arraycopy(coefs, 1, sorted, 0, 63)
          java.util.Arrays.sort(sorted)
          val med = sorted(31)
          var hash = 0L
          var nAbove = 0L
          var i = 1
          while (i < 64) {
            if (coefs(i) > med) { hash |= 1L << (i - 1); nAbove += 1 }
            i += 1
          }
          (id, hash, nAbove)
        }
      }
      .toDF("image_id", "phash", "n_above")
  }

  /** Marching-squares contour cells over a stitched tile mosaic (the
    * vector-extraction step raster pipelines run after classification):
    * every 2×2 world-pixel cell gets its standard case index
    * (TL + 2·TR + 4·BR + 8·BL of the luma ≥ `threshold` bits) and its
    * contour-segment count (0 for empty/full, 2 for the two saddle cases
    * 5/10, else 1), rolled up per case with the count of cells that
    * STRADDLE a tile boundary broken out — the distributed part.
    *
    * Plan (the q114 boundary-exchange shape): cells interior to a tile are
    * counted entirely inside the decode pass (one slim 16-row case map per
    * tile); cells straddling tile edges are assembled by grouping
    * boundary-pixel bit rows on the cell ordinal — each boundary pixel
    * emits ≤ 4 (cell, corner-weight·bit) rows, so the exchange carries
    * O(tile perimeter) rows and pixel payloads never shuffle. Cells keep
    * exactly 4 corners (HAVING count = 4), which drops the world's outer
    * rim — mirroring the oracle's 4-way inner join.
    */
  def marchingSquares(spark: SparkSession, tiles: DataFrame,
                      threshold: Int = 128): DataFrame = {
    import spark.implicits._
    val Shift = 22
    val segsOf = Seq(0L, 1, 1, 1, 1, 2, 1, 1, 1, 1, 2, 1, 1, 1, 1, 0)
    val tagged = Materialized(tiles
      .select("image_id", "bytes", "w", "h", "fmt", "tile_x", "tile_y")
      .as[(String, Array[Byte], Int, Int, String, Int, Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (_, bytes, w, h, fmt, tx, ty) =>
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val n = w * h
          val bit = new Array[Int](n)
          var j = 0
          while (j < n) {
            val l = (299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF)
              + 114 * (px(3 * j + 2) & 0xFF)) / 1000
            bit(j) = if (l >= threshold) 1 else 0
            j += 1
          }
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long)] // (kind 0=interior case, 1=corner row)
          // interior cells: all four pixels in this tile
          val cases = new Array[Long](16)
          var cy = 0
          while (cy < h - 1) {
            var cx = 0
            while (cx < w - 1) {
              val c = bit(cy * w + cx) + 2 * bit(cy * w + cx + 1) +
                4 * bit((cy + 1) * w + cx + 1) + 8 * bit((cy + 1) * w + cx)
              cases(c) += 1
              cx += 1
            }
            cy += 1
          }
          var ci = 0
          while (ci < 16) {
            if (cases(ci) > 0) out += ((0, ci.toLong, cases(ci)))
            ci += 1
          }
          // boundary pixels → corner-weight rows of STRADDLING cells
          j = 0
          while (j < n) {
            val x = j % w; val y = j / w
            if (x == 0 || x == w - 1 || y == 0 || y == h - 1) {
              val wx = tx.toLong * w + x; val wy = ty.toLong * h + y
              var dy = 0
              while (dy <= 1) {
                var dx = 0
                while (dx <= 1) {
                  val ccx = wx - dx; val ccy = wy - dy
                  // cell straddles a tile edge iff its x or y pixel pair
                  // crosses a multiple-of-tile boundary
                  if (ccx >= 0 && ccy >= 0 &&
                      (ccx % w == w - 1 || ccy % h == h - 1)) {
                    val weight = (dy * 2 + dx) match {
                      case 0 => 1L; case 1 => 2L; case 2 => 8L; case 3 => 4L
                    }
                    out += ((1, (ccy << Shift) | ccx,
                      weight * bit(j) + (weight << 32)))
                  }
                  dx += 1
                }
                dy += 1
              }
            }
            j += 1
          }
          out.iterator
        }
      }
      .toDF("kind", "k", "v")).scoped
    val interior = tagged.where(col("kind") === 0)
      .groupBy(col("k").as("ms_case"))
      .agg(sum(col("v")).as("n_int"))
    // straddling cells: sum of weight·bit over exactly 4 corners; the
    // (weight << 32) rider sums to 15·2^32 only for complete cells —
    // incomplete world-rim cells drop (the oracle's inner-join semantics)
    val straddle = tagged.where(col("kind") === 1)
      .groupBy(col("k"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("nc"))
      .where(col("nc") === 4 &&
        shiftright(col("s"), 32) === 15L)
      .select((col("s").bitwiseAND(lit(0xFFFFFFFFL))).as("ms_case"))
      .groupBy("ms_case").agg(count(lit(1)).as("n_str"))
    val segArr = array(segsOf.map(lit): _*)
    interior.join(straddle, Seq("ms_case"), "full")
      .select(col("ms_case"),
        (coalesce(col("n_int"), lit(0L)) + coalesce(col("n_str"), lit(0L)))
          .as("n_cells"),
        coalesce(col("n_str"), lit(0L)).as("n_straddle"))
      .withColumn("n_segments", col("n_cells") *
        element_at(segArr, col("ms_case").cast("int") + 1))
  }






  /** Red–green channel Pearson correlation per image in nano units (the
    * grayscale/duotone detector a curation pipeline screens with: gray
    * images have r ≈ 1): six exact integer sums per image, then ONE
    * IEEE-rounded expression — (n·Σrg − Σr·Σg) / sqrt((n·Σr² − (Σr)²) ·
    * (n·Σg² − (Σg)²)) — every operand exact in a double and every op
    * correctly rounded, so both engines agree bit-for-bit before the
    * nano rounding. Constant channels (zero variance) emit no row.
    */
  def channelCorrelation(spark: SparkSession,
                         images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.flatMap { case (id, bytes, w, h, fmt) =>
        val px = ImageCodec.decode(bytes, fmt, w, h)
        val n = (w * h).toLong
        var sr = 0L; var sg = 0L; var srr = 0L; var sgg = 0L; var srg = 0L
        var j = 0
        while (j < w * h) {
          val r = px(3 * j) & 0xFF; val g = px(3 * j + 1) & 0xFF
          sr += r; sg += g
          srr += r.toLong * r; sgg += g.toLong * g; srg += r.toLong * g
          j += 1
        }
        val vr = n * srr - sr * sr
        val vg = n * sgg - sg * sg
        if (vr == 0L || vg == 0L) None
        else {
          val rNano = math.round((n * srg - sr * sg).toDouble /
            math.sqrt(vr.toDouble * vg.toDouble) * 1000000000.0)
          Some((id, rNano, rNano > 990000000L))
        }
      }).toDF("image_id", "r_nano", "grayish")
  }

  /** Shannon entropy of the luma histogram per image, in integer
    * nano-nats (−Σ p·ln p = Σ (c/n)·ln(n/c), each bin's term rounded to
    * nano before the integer sum — the q112 per-term transcendental
    * discipline, so both engines agree exactly). Low-entropy screens
    * catch flat/synthetic/banner images that luma means miss. One decode
    * pass, one 256-long histogram, slim output.
    */
  def lumaEntropy(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.map { case (id, bytes, w, h, fmt) =>
        val px = ImageCodec.decode(bytes, fmt, w, h)
        val hist = new Array[Long](256)
        val n = (w * h).toDouble
        var j = 0
        while (j < w * h) {
          hist((299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF)
            + 114 * (px(3 * j + 2) & 0xFF)) / 1000) += 1
          j += 1
        }
        var e = 0L
        var v = 0
        while (v < 256) {
          if (hist(v) > 0)
            e += math.round(
              hist(v) * math.log(n / hist(v)) / n * 1000000000.0)
          v += 1
        }
        (id, e)
      }).toDF("image_id", "entropy_nano")
  }

  /** 3×3 median filter over integer luma (salt-and-pepper denoising — the
    * order-statistics member of the per-image stack next to [[otsuThreshold]]
    * and [[histogramEqualize]]): per pixel, the LOWER median of its
    * clipped neighborhood (index (k−1)/2 of the sorted ≤9 values —
    * deterministic for even rim counts, no averaging). The decode loop
    * gathers and insertion-sorts ≤9 ints per pixel; output rows carry a
    * total + position-weighted checksum that pins EVERY filtered value
    * (the q121 discipline), not the payload. The oracle re-derives each
    * median by 9-offset equi-joins + list sort from the pixel dump.
    */
  def medianFilter(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.map { case (id, bytes, w, h, fmt) =>
        val px = ImageCodec.decode(bytes, fmt, w, h)
        val lum = new Array[Int](w * h)
        var j = 0
        while (j < w * h) {
          lum(j) = (299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF)
            + 114 * (px(3 * j + 2) & 0xFF)) / 1000
          j += 1
        }
        val buf = new Array[Int](9)
        var sum = 0L; var posw = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            var k = 0
            var dy = -1
            while (dy <= 1) {
              var dx = -1
              while (dx <= 1) {
                val xx = x + dx; val yy = y + dy
                if (xx >= 0 && xx < w && yy >= 0 && yy < h) {
                  buf(k) = lum(yy * w + xx); k += 1
                }
                dx += 1
              }
              dy += 1
            }
            java.util.Arrays.sort(buf, 0, k)
            val m = buf((k - 1) / 2).toLong
            sum += m
            posw += m * (y.toLong * w + x + 1)
            x += 1
          }
          y += 1
        }
        (id, sum, posw)
      }).toDF("image_id", "med_sum", "med_posw")
  }

  /** Otsu's method (Otsu 1979 — public): per image, the histogram
    * threshold maximizing inter-class variance, in EXACT cross-engine
    * arithmetic. Candidates are `v+1` for each populated luma bin v (the
    * score is constant between populated bins, so this scans every
    * distinct split); score = (s0·c1 − s1·c0)² / (c0·c1) with integer
    * operands ≤ 2^48, so the double is exact and the argmax (first
    * maximum = smallest t) is engine-independent — no epsilon, no float
    * drift. One decode pass, one 256-long histogram per image, slim
    * output rows; the oracle replays the same scan as a cumulative
    * window over the per-bin histogram.
    */
  def otsuThreshold(spark: SparkSession, images: DataFrame): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.flatMap { case (id, bytes, w, h, fmt) =>
        val px = ImageCodec.decode(bytes, fmt, w, h)
        val hist = new Array[Long](256)
        val n = w * h
        var j = 0
        while (j < n) {
          hist((299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF)
            + 114 * (px(3 * j + 2) & 0xFF)) / 1000) += 1
          j += 1
        }
        var sTot = 0L
        var v = 0
        while (v < 256) { sTot += v.toLong * hist(v); v += 1 }
        var bestT = -1L; var bestScore = -1.0
        var bestC1 = 0L; var bestS1 = 0L
        var c0 = 0L; var s0 = 0L
        v = 0
        while (v < 255) { // candidate threshold t = v+1 (class0: lum <= v)
          if (hist(v) > 0) {
            c0 += hist(v); s0 += v.toLong * hist(v)
            val c1 = n - c0
            if (c1 > 0) {
              val num = s0 * c1 - (sTot - s0) * c0
              val score = (num * num).toDouble / (c0 * c1).toDouble
              if (score > bestScore) {
                bestScore = score; bestT = v + 1L
                bestC1 = c1; bestS1 = sTot - s0
              }
            }
          }
          v += 1
        }
        if (bestT < 0) None // constant image: no split has two classes
        else Some((id, bestT, bestC1, bestS1))
      }).toDF("image_id", "otsu_t", "n_fg", "fg_luma_sum")
  }

  /** Cross-tile 3×3 grayscale morphology (erosion = neighborhood min,
    * dilation = neighborhood max over integer BT.601 luma, neighborhoods
    * CLIPPED at the world rim) over the stitched tile mosaic — the
    * distributed STENCIL/HALO-EXCHANGE pattern every raster pipeline
    * needs: pixels whose whole 3×3 window lies inside their tile reduce
    * locally with ZERO shuffle; only the tiles' outermost pixel ring is
    * resolved through an exchange, fed by the two outermost rings (the
    * halo) of each neighboring tile via 9-offset contribution rows — the
    * q114/q120 discipline: slim (key, luma) rows move, tile payloads never
    * do. Exchange volume is O(perimeter), not O(area): ~(4·16+4·(16−1))/256
    * ≈ 23% of pixels here, and falling as 4/side with bigger tiles.
    * Output: per tile, the eroded/dilated luma sums and the pixel counts
    * of both legs (interior + edge) — a checksum that pins every output
    * pixel of both operators. Opening/closing = composing this op twice.
    */
  def morphology(spark: SparkSession, tiles: DataFrame,
                 tileW: Int = 16, tileH: Int = 16): DataFrame = {
    import spark.implicits._
    val Shift = 22 // world pixel key = wy << 22 | wx (same as q120)
    val tagged = Materialized(tiles
      .select("bytes", "w", "h", "fmt", "tile_x", "tile_y")
      .as[(Array[Byte], Int, Int, String, Int, Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (bytes, w, h, fmt, tx, ty) =>
          // the edge-leg decode divides world pixel coords by the tile
          // size; a row whose w/h diverges from it would silently
          // attribute edge pixels to wrong tiles — fail fast (r5 ADVICE)
          require(w == tileW && h == tileH,
            s"morphology: tile ($tx,$ty) is ${w}x$h, expected ${tileW}x$tileH")
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val lum = new Array[Int](w * h)
          var j = 0
          while (j < w * h) {
            lum(j) = (299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF)
              + 114 * (px(3 * j + 2) & 0xFF)) / 1000
            j += 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[
            (Int, Long, Long, Long)] // (kind, k, a, b)
          // interior leg: full window in-tile — local reduce, no shuffle
          var eroSum = 0L; var dilSum = 0L
          var y = 1
          while (y < h - 1) {
            var x = 1
            while (x < w - 1) {
              var mn = 255; var mx = 0
              var dy = -1
              while (dy <= 1) {
                var dx = -1
                while (dx <= 1) {
                  val v = lum((y + dy) * w + x + dx)
                  if (v < mn) mn = v
                  if (v > mx) mx = v
                  dx += 1
                }
                dy += 1
              }
              eroSum += mn; dilSum += mx
              x += 1
            }
            y += 1
          }
          out += ((0, tx.toLong * 65536 + ty, eroSum, dilSum))
          // edge leg: the two outer rings contribute to every ring-0
          // target pixel they neighbor (a ring-0 pixel's whole window
          // lies within rings 0-1 of the surrounding tiles)
          y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              if (x <= 1 || x >= w - 2 || y <= 1 || y >= h - 2) {
                val wx = tx.toLong * w + x; val wy = ty.toLong * h + y
                val v = lum(y * w + x).toLong
                var dy = -1
                while (dy <= 1) {
                  var dx = -1
                  while (dx <= 1) {
                    val txx = wx + dx; val tyy = wy + dy
                    val lx = ((txx % w) + w) % w; val ly = ((tyy % h) + h) % h
                    if (txx >= 0 && tyy >= 0 &&
                        (lx == 0 || lx == w - 1 || ly == 0 || ly == h - 1))
                      out += ((1, (tyy << Shift) | txx, v,
                        if (dx == 0 && dy == 0) 1L else 0L))
                    dx += 1
                  }
                  dy += 1
                }
              }
              x += 1
            }
            y += 1
          }
          out.iterator
        }
      }
      .toDF("kind", "k", "a", "b")).scoped // decode once; both legs read the tagged frame
    val interior = tagged.where(col("kind") === 0)
      .select((col("k") / 65536).cast("long").as("tile_x"),
        pmod(col("k"), lit(65536L)).cast("long").as("tile_y"),
        col("a").as("ero_int"), col("b").as("dil_int"))
    // a target group without its own self row is an out-of-world phantom
    // (rim neighbors emitted it); drop those, keep clipped semantics
    val edge = tagged.where(col("kind") === 1)
      .groupBy("k")
      .agg(min(col("a")).as("ero"), max(col("a")).as("dil"),
        max(col("b")).as("has_self"))
      .where(col("has_self") === 1L)
      .select((pmod(col("k"), lit(1L << Shift)) / tileW).cast("long")
          .as("tile_x"),
        (col("k") / (1L << Shift)).cast("long").divide(tileH).cast("long")
          .as("tile_y"),
        col("ero"), col("dil"))
      .groupBy("tile_x", "tile_y")
      .agg(sum(col("ero")).as("ero_edge"), sum(col("dil")).as("dil_edge"),
        count(lit(1)).as("n_edge"))
    interior.join(edge, Seq("tile_x", "tile_y"))
      .select(col("tile_x"), col("tile_y"),
        (col("ero_int") + col("ero_edge")).as("ero_sum"),
        (col("dil_int") + col("dil_edge")).as("dil_sum"),
        col("n_edge"))
  }

  /** Bilinear resampling of tiles onto a `outW`×`outH` target grid (the
    * standard interpolating resize/reproject of a raster pipeline — the
    * average-pooling [[thumbnails]] op's quality upgrade). Sample
    * positions and blend weights are 8-bit FIXED POINT (source coordinate
    * = (i·stepQ + offQ) / 256), so every output value is exact integer
    * math — `(w00·v00 + w10·v10 + w01·v01 + w11·v11 + 32768) >> 16` —
    * identical across engines, partitionings, and the SQL oracle.
    * Emits per-image integrity sums over all output channels (value sum +
    * position-weighted sum — a checksum that pins EVERY output pixel),
    * not the payload: resampled bytes stay where a sink would consume
    * them; the gate needs only proof the math ran.
    */
  def bilinearResample(spark: SparkSession, images: DataFrame,
                       outW: Int, outH: Int, stepQ: Int,
                       offQ: Int): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, w, h, fmt) =>
          val px = ImageCodec.decode(bytes, fmt, w, h)
          var vSum = 0L
          var wSum = 0L
          var j = 0
          while (j < outH) {
            val yq = j * stepQ + offQ
            val y0 = math.min(yq >> 8, h - 2); val fy = yq - (y0 << 8)
            var i = 0
            while (i < outW) {
              val xq = i * stepQ + offQ
              val x0 = math.min(xq >> 8, w - 2); val fx = xq - (x0 << 8)
              var c = 0
              while (c < 3) {
                val v00 = px((y0 * w + x0) * 3 + c) & 0xFF
                val v10 = px((y0 * w + x0 + 1) * 3 + c) & 0xFF
                val v01 = px(((y0 + 1) * w + x0) * 3 + c) & 0xFF
                val v11 = px(((y0 + 1) * w + x0 + 1) * 3 + c) & 0xFF
                val v = ((256L - fx) * (256L - fy) * v00
                  + fx.toLong * (256L - fy) * v10
                  + (256L - fx) * fy.toLong * v01
                  + fx.toLong * fy.toLong * v11 + 32768L) >> 16
                vSum += v
                wSum += v * ((j * outW + i) * 3 + c + 1)
                c += 1
              }
              i += 1
            }
            j += 1
          }
          (id, outW.toLong, outH.toLong, vSum, wSum)
        }
      }
      .toDF("image_id", "out_w", "out_h", "v_sum", "vw_sum")
  }

  /** Distributed raster connected-component labeling (blob detection)
    * across tile boundaries — the geo×image op a mosaic pipeline needs once
    * rasters outgrow one task: label foreground pixels (integer BT.601
    * luma ≥ `threshold`, 4-adjacency) with the component they belong to in
    * the WHOLE stitched raster, not just their own tile.
    *
    * Three stages, none of which ever shuffles pixel payloads:
    *  1. per-tile pass (typed mapPartitions, decode ONCE): local union-find
    *     CCL; every local component collapses to one slim stats row
    *     (label = min world-pixel ordinal `wy·2^22 + wx`, count/bbox/luma
    *     sums) plus its BOUNDARY pixels only (≤ 4·16 of 256 per tile) as
    *     (wx, wy, label) rows — interior pixels never leave the task.
    *  2. cross-tile merge edges: two slim equi-joins of the boundary table
    *     with itself on the neighbor ordinal (p+1 horizontal, p+2^22
    *     vertical) — exactly the pairs of masked pixels that touch across
    *     a tile edge.
    *  3. [[graft.ops.Clustering.connectedComponents]] over (local labels,
    *     merge edges) — O(log diameter) rounds of label propagation on
    *     label ids only — then one rollup of the stats rows by component.
    *
    * Component ids are the min world-pixel ordinal of the blob, so results
    * are partition-invariant and the DuckDB oracle recomputes them from the
    * dumped pixels with a transitive-closure CTE (the q62 machinery over a
    * pixel-adjacency graph).
    *
    * 100 TB notes: a continental mosaic has billions of pixels but the
    * relational stages see only O(components) + O(tile perimeter) rows;
    * the label-propagation rounds are bounded by the log of the blob
    * diameter IN TILES (within-tile paths are pre-collapsed), not pixels.
    */
  def rasterComponents(spark: SparkSession, tiles: DataFrame,
                       threshold: Int = 128): DataFrame = {
    import spark.implicits._
    val Shift = 22 // wy << 22 | wx — world sides < 4M pixels
    val tagged = Materialized(tiles
      .select("image_id", "bytes", "w", "h", "fmt", "tile_x", "tile_y")
      .as[(String, Array[Byte], Int, Int, String, Int, Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes, w, h, fmt, tx, ty) =>
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val n = w * h
          val lum = new Array[Int](n)
          val mask = new Array[Boolean](n)
          var j = 0
          while (j < n) {
            val l = (299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF) +
              114 * (px(3 * j + 2) & 0xFF)) / 1000
            lum(j) = l; mask(j) = l >= threshold; j += 1
          }
          // union-find; union points the LARGER root at the smaller, so
          // every root is the min local index of its component — and local
          // row-major order equals world-ordinal order within a tile
          val parent = Array.tabulate(n)(identity)
          def find(a: Int): Int = {
            var x = a
            while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
            x
          }
          j = 0
          while (j < n) {
            if (mask(j)) {
              val x = j % w
              if (x + 1 < w && mask(j + 1)) {
                val ra = find(j); val rb = find(j + 1)
                if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
              }
              if (j + w < n && mask(j + w)) {
                val ra = find(j); val rb = find(j + w)
                if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
              }
            }
            j += 1
          }
          // one pass: fold stats per root, emit boundary pixels
          val stats = scala.collection.mutable.LongMap.empty[Array[Long]]
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Int, String, Long, Long, Long, Long, Long, Long, Long)]
          j = 0
          while (j < n) {
            if (mask(j)) {
              val r = find(j)
              val x = j % w; val y = j / w
              val wx = tx.toLong * w + x; val wy = ty.toLong * h + y
              val lbl = ((ty.toLong * h + r / w) << Shift) | (tx.toLong * w + r % w)
              val a = stats.getOrElseUpdate(lbl,
                Array(0L, Long.MaxValue, Long.MaxValue, Long.MinValue,
                  Long.MinValue, 0L))
              a(0) += 1
              if (wx < a(1)) a(1) = wx
              if (wy < a(2)) a(2) = wy
              if (wx > a(3)) a(3) = wx
              if (wy > a(4)) a(4) = wy
              a(5) += lum(j)
              if (x == 0 || x == w - 1 || y == 0 || y == h - 1)
                out += ((1, id, lbl, (wy << Shift) | wx, 0L, 0L, 0L, 0L, 0L))
            }
            j += 1
          }
          stats.foreach { case (lbl, a) =>
            out += ((0, id, lbl, a(0), a(1), a(2), a(3), a(4), a(5)))
          }
          out.iterator
        }
      }
      .toDF("kind", "image_id", "label", "a", "b", "c", "d", "e", "f"))
      // decode once: stats and boundary rows both read this materialized
      // slim frame (≤ 64 boundary + components rows per 256-px tile)
      .scoped
    val stats = tagged.where(col("kind") === 0).select(col("image_id"),
      col("label"), col("a").as("n_px"), col("b").as("min_wx"),
      col("c").as("min_wy"), col("d").as("max_wx"), col("e").as("max_wy"),
      col("f").as("lum_sum"))
    val bnd = tagged.where(col("kind") === 1)
      .select(col("label"), col("a").as("p"))
    // neighbor ordinals: +1 = (wx+1, wy) — wx < 2^22-1 so no wrap;
    // +2^22 = (wx, wy+1). Two slim equi-joins, then the symmetric closure
    // happens inside connectedComponents.
    val e1 = bnd.select((col("p") + 1L).as("pn"), col("label").as("la"))
      .join(bnd.select(col("p").as("pn"), col("label").as("lb")), Seq("pn"))
    val e2 = bnd.select((col("p") + (1L << Shift)).as("pn"),
        col("label").as("la"))
      .join(bnd.select(col("p").as("pn"), col("label").as("lb")), Seq("pn"))
    val edges = e1.unionByName(e2).where(col("la") =!= col("lb"))
      .select("la", "lb").distinct()
    val comp = Clustering.connectedComponents(
      stats.select(col("label")), edges, idCol = "label",
      aCol = "la", bCol = "lb")
    stats.join(comp, Seq("label"))
      .groupBy(col("component"))
      .agg(sum(col("n_px")).as("n_px"),
        countDistinct(col("image_id")).as("n_tiles"),
        min(col("min_wx")).as("min_wx"), min(col("min_wy")).as("min_wy"),
        max(col("max_wx")).as("max_wx"), max(col("max_wy")).as("max_wy"),
        sum(col("lum_sum")).as("lum_sum"))
  }


  /** Harris corner detection (Harris & Stephens 1988) over the image
    * corpus — the keypoint sibling of [[hogCells]]: integer Sobel
    * gradients on floor-div BT.601 luma, 3×3 structure tensor, response
    * R = 16·det(M) − trace(M)² (k = 1/16 kept integral), corners =
    * STRICT 3×3 non-max positions above `threshold` (strictness makes
    * plateaus yield no corner — deterministic without a tiebreak). Border
    * margins: gradients exist on [1, w−2], tensors on [2, w−3], NMS
    * verdicts on [3, w−4].
    *
    * All math is exact Long arithmetic (luma ≤ 255 keeps R ≤ ~2^48), one
    * typed decode pass per image — per-row compute, zero shuffle beyond
    * the final per-image aggregate (which this op emits directly).
    * Returns one row per image WITH corners: (image_id, n_corners,
    * sum_r) — sum_r the exact Σ of responses at kept corners.
    */
  def harrisCorners(spark: SparkSession, images: DataFrame,
                    threshold: Long): DataFrame = {
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt")
      .as[(String, Array[Byte], Int, Int, String)]
      .mapPartitions(_.flatMap { case (id, bytes, w, h, fmt) =>
        val p = ImageCodec.decode(bytes, fmt, w, h)
        val lum = new Array[Long](w * h)
        var i = 0
        while (i < w * h) {
          lum(i) = (299L * (p(3 * i) & 0xFF) + 587L * (p(3 * i + 1) & 0xFF)
            + 114L * (p(3 * i + 2) & 0xFF)) / 1000L
          i += 1
        }
        @inline def l(x: Int, y: Int) = lum(y * w + x)
        val gx = new Array[Long](w * h)
        val gy = new Array[Long](w * h)
        var y = 1
        while (y < h - 1) {
          var x = 1
          while (x < w - 1) {
            gx(y * w + x) = l(x + 1, y - 1) + 2 * l(x + 1, y) +
              l(x + 1, y + 1) - l(x - 1, y - 1) - 2 * l(x - 1, y) -
              l(x - 1, y + 1)
            gy(y * w + x) = l(x - 1, y + 1) + 2 * l(x, y + 1) +
              l(x + 1, y + 1) - l(x - 1, y - 1) - 2 * l(x, y - 1) -
              l(x + 1, y - 1)
            x += 1
          }
          y += 1
        }
        val rr = new Array[Long](w * h)
        y = 2
        while (y < h - 2) {
          var x = 2
          while (x < w - 2) {
            var sxx = 0L; var syy = 0L; var sxy = 0L
            var dy = -1
            while (dy <= 1) {
              var dx = -1
              while (dx <= 1) {
                val g1 = gx((y + dy) * w + x + dx)
                val g2 = gy((y + dy) * w + x + dx)
                sxx += g1 * g1; syy += g2 * g2; sxy += g1 * g2
                dx += 1
              }
              dy += 1
            }
            rr(y * w + x) = 16L * (sxx * syy - sxy * sxy) -
              (sxx + syy) * (sxx + syy)
            x += 1
          }
          y += 1
        }
        var n = 0L; var sum = 0L
        y = 3
        while (y < h - 3) {
          var x = 3
          while (x < w - 3) {
            val r0 = rr(y * w + x)
            if (r0 > threshold) {
              var isMax = true
              var dy = -1
              while (dy <= 1 && isMax) {
                var dx = -1
                while (dx <= 1 && isMax) {
                  if ((dx != 0 || dy != 0) &&
                    rr((y + dy) * w + x + dx) >= r0) isMax = false
                  dx += 1
                }
                dy += 1
              }
              if (isMax) { n += 1; sum += r0 }
            }
            x += 1
          }
          y += 1
        }
        if (n > 0) Some((id, n, sum)) else None
      }).toDF("image_id", "n_corners", "sum_r")
  }

  /** Distributed integral image (summed-area table) over the stitched
    * tile mosaic, answering box-filter sums in O(1) lookups per box
    * (Crow 1984 / Viola–Jones, public) — q167.
    *
    * Architecture (the 100 TB story): ONE typed decode pass computes each
    * tile's LOCAL inclusive SAT over integer BT.601 luma (exact Long
    * math); the cross-tile carry decomposes into three SLIM band tables —
    * per-tile cumulative row sums (tileH rows/tile), cumulative column
    * sums (tileW rows/tile), and tile totals — each turned into exclusive
    * prefixes along the tile grid by [[PrefixSum.runningSum]] (the
    * library-wide two-pass pattern: no single-reducer window, offsets
    * O(partitions × tile-rows) on the driver). A global SAT probe at
    * world (X, Y) is then
    *     local(tx,ty)[x,y] + leftBand(tx,ty)[y] + topBand(tx,ty)[x]
    *       + corner(tx,ty)
    * and a box sum is the classic 4-corner signed SAT combination — per
    * QUERY cost is 4 slim hash-join lookups regardless of box area, so a
    * billion-pixel mosaic serves box filters at constant per-query cost.
    * Pixel payloads never enter any exchange: the 256-long local SATs
    * stay keyed by (tx, ty) and only 16-long band rows shuffle.
    *
    * `boxes` needs (box_id, x0, y0, x1, y1), inclusive world-pixel
    * coordinates INSIDE the mosaic with x0 ≤ x1, y0 ≤ y1. Returns
    * (box_id, box_sum) — the exact Σ luma over the box.
    */
  def integralBoxSums(spark: SparkSession, tiles: DataFrame,
                      boxes: DataFrame, tileW: Int = 16,
                      tileH: Int = 16): DataFrame = {
    import spark.implicits._
    val n = tileW * tileH
    val sat = Materialized(tiles.select("bytes", "w", "h", "fmt", "tile_x", "tile_y")
      .as[(Array[Byte], Int, Int, String, Int, Int)]
      .mapPartitions(rows => rows.map { case (bytes, w, h, fmt, tx, ty) =>
        // same fail-fast as morphology: a divergent tile size would
        // silently misattribute world coordinates
        require(w == tileW && h == tileH,
          s"integral: tile ($tx,$ty) is ${w}x$h, expected ${tileW}x$tileH")
        val px = ImageCodec.decode(bytes, fmt, w, h)
        val s = new Array[Long](n)
        var y = 0
        while (y < h) {
          var rowAcc = 0L; var x = 0
          while (x < w) {
            val j = y * w + x
            rowAcc += (299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF)
              + 114 * (px(3 * j + 2) & 0xFF)) / 1000
            s(j) = rowAcc + (if (y > 0) s(j - w) else 0L)
            x += 1
          }
          y += 1
        }
        (tx, ty, s)
      }).toDF("tx", "ty", "sat")).scoped // reused: corner lookups + three band tables
    // cumulative row-band: crow[r] = Σ tile rows 0..r (all columns)
    val crow = sat.select(col("tx"), col("ty"),
        posexplode(expr(s"transform(sequence(0, ${tileH - 1}), " +
          s"r -> element_at(sat, r * $tileW + $tileW))")))
      .toDF("tx", "ty", "r", "crow")
    val lb = PrefixSum.runningSum(crow, Seq("ty", "r"), Seq("tx"),
        col("crow"), "cum")
      .select(col("tx"), col("ty"), col("r"),
        (col("cum") - col("crow")).as("lb"))
    // cumulative col-band: ccol[c] = Σ tile cols 0..c (all rows)
    val ccol = sat.select(col("tx"), col("ty"),
        posexplode(expr(s"transform(sequence(0, ${tileW - 1}), " +
          s"c -> element_at(sat, ${(tileH - 1) * tileW} + c + 1))")))
      .toDF("tx", "ty", "c", "ccol")
    val tb = PrefixSum.runningSum(ccol, Seq("tx", "c"), Seq("ty"),
        col("ccol"), "cum")
      .select(col("tx"), col("ty"), col("c"),
        (col("cum") - col("ccol")).as("tb"))
    // corner block: CB(tx,ty) = Σ totals over tx'<tx AND ty'<ty — two
    // chained exclusive prefixes (tx within ty, then ty within tx)
    val tot = sat.select(col("tx"), col("ty"),
      expr(s"element_at(sat, $n)").as("t"))
    val pfx = PrefixSum.runningSum(tot, Seq("ty"), Seq("tx"), col("t"), "cum")
      .select(col("tx"), col("ty"), (col("cum") - col("t")).as("p"))
    val cb = PrefixSum.runningSum(pfx, Seq("tx"), Seq("ty"), col("p"), "cum")
      .select(col("tx"), col("ty"), (col("cum") - col("p")).as("cb"))
    // 4 signed SAT corners per box; corners off the top/left edge are
    // SAT ≡ 0 and drop out here
    val corners = boxes.select(col("box_id"), explode(array(
        struct(lit(1L).as("sgn"), col("x1").cast("long").as("X"),
          col("y1").cast("long").as("Y")),
        struct(lit(-1L).as("sgn"), (col("x0") - 1).cast("long").as("X"),
          col("y1").cast("long").as("Y")),
        struct(lit(-1L).as("sgn"), col("x1").cast("long").as("X"),
          (col("y0") - 1).cast("long").as("Y")),
        struct(lit(1L).as("sgn"), (col("x0") - 1).cast("long").as("X"),
          (col("y0") - 1).cast("long").as("Y")))).as("k"))
      .select(col("box_id"), col("k.sgn").as("sgn"), col("k.X").as("X"),
        col("k.Y").as("Y"))
      .where(col("X") >= 0 && col("Y") >= 0)
      .select(col("box_id"), col("sgn"),
        (col("X") / tileW).cast("int").as("tx"),
        (col("Y") / tileH).cast("int").as("ty"),
        pmod(col("X"), lit(tileW.toLong)).cast("int").as("x"),
        pmod(col("Y"), lit(tileH.toLong)).cast("int").as("y"))
    val sVal = corners
      .withColumn("r", col("y")).withColumn("c", col("x"))
      .join(sat, Seq("tx", "ty"))
      .withColumn("local", expr(s"element_at(sat, y * $tileW + x + 1)"))
      .join(lb, Seq("tx", "ty", "r"))
      .join(tb, Seq("tx", "ty", "c"))
      .join(cb, Seq("tx", "ty"))
      .select(col("box_id"),
        (col("sgn") * (col("local") + col("lb") + col("tb") + col("cb")))
          .as("v"))
    sVal.groupBy("box_id").agg(sum(col("v")).as("box_sum"))
  }

  /** Hough line detection over the stitched tile mosaic (round 6) —
    * Duda–Hart 1972 (public): interior-pixel integer Sobel edges vote
    * into a quantized (θ, ρ) accumulator; the top-k cells are the
    * detected lines. θ takes `nTheta` steps over [0°, 180°) with cos/sin
    * as 2¹⁰-scaled integer literals; ρ = floor((wx·c + wy·s) / 1024) —
    * the divisor is a power of two, so the one double division (and its
    * floor) is EXACT.
    *
    * Plan shape: ONE typed decode pass emits edge world-pixels only
    * (tile interiors — all 9 Sobel taps live in the same tile, no halo
    * exchange; the one-pixel tile ring casts no votes, a documented and
    * oracle-mirrored contract). Votes = edges × nTheta literal angle
    * rows (a generate, not a join); the accumulator is ONE map-side-
    * combined count over slim (k, ρ) keys; top-k is TakeOrdered under a
    * total order (votes DESC, k, ρ). Pixels never shuffle.
    */
  def houghLines(spark: SparkSession, tiles: DataFrame, gradThr: Long,
                 nTheta: Int, k: Int, tileW: Int = 16,
                 tileH: Int = 16): DataFrame = {
    import spark.implicits._
    require(gradThr > 0 && nTheta >= 1 && k >= 1)
    val edges = tiles.select("bytes", "w", "h", "fmt", "tile_x", "tile_y")
      .as[(Array[Byte], Int, Int, String, Int, Int)]
      .mapPartitions(rows => rows.flatMap {
        case (bytes, w, h, fmt, tx, ty) =>
          require(w == tileW && h == tileH,
            s"hough: tile ($tx,$ty) is ${w}x$h, expected ${tileW}x$tileH")
          val px = ImageCodec.decode(bytes, fmt, w, h)
          val lum = new Array[Int](w * h)
          var j = 0
          while (j < w * h) {
            lum(j) = (299 * (px(3 * j) & 0xFF) + 587 * (px(3 * j + 1) & 0xFF)
              + 114 * (px(3 * j + 2) & 0xFF)) / 1000
            j += 1
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
          var y = 1
          while (y < h - 1) {
            var x = 1
            while (x < w - 1) {
              val gx = lum((y - 1) * w + x + 1) + 2 * lum(y * w + x + 1) +
                lum((y + 1) * w + x + 1) - lum((y - 1) * w + x - 1) -
                2 * lum(y * w + x - 1) - lum((y + 1) * w + x - 1)
              val gy = lum((y + 1) * w + x - 1) + 2 * lum((y + 1) * w + x) +
                lum((y + 1) * w + x + 1) - lum((y - 1) * w + x - 1) -
                2 * lum((y - 1) * w + x) - lum((y - 1) * w + x + 1)
              if (gx.toLong * gx + gy.toLong * gy > gradThr * gradThr)
                out += ((tx.toLong * tileW + x, ty.toLong * tileH + y))
              x += 1
            }
            y += 1
          }
          out
      }).toDF("wx", "wy")
    val av = houghAngles(nTheta).map { case (i, c, s) =>
      struct(lit(i).as("k"), lit(c).as("c"), lit(s).as("s"))
    }
    edges.select(col("wx"), col("wy"), explode(array(av: _*)).as("a"))
      .select(col("a.k").as("k"),
        floor((col("wx") * col("a.c") + col("wy") * col("a.s")) / 1024.0)
          .cast("long").as("rho"))
      .groupBy("k", "rho").agg(count(lit(1)).as("votes"))
      .orderBy(col("votes").desc, col("k"), col("rho")).limit(k)
  }

  /** The shared θ table: (index, round(cos·2¹⁰), round(sin·2¹⁰)) over
    * [0°, 180°) — the gate oracle embeds the SAME integers as literals.
    */
  def houghAngles(nTheta: Int): Seq[(Int, Int, Int)] =
    (0 until nTheta).map { i =>
      val th = math.Pi * i / nTheta
      (i, math.round(math.cos(th) * 1024).toInt,
        math.round(math.sin(th) * 1024).toInt)
    }
}
