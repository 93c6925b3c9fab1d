package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.graft.{Bridge, GraftExpectsInputTypes}
import org.apache.spark.sql.types._

import graft.model.ImageCodec

/** Raster-tile materialization kernel as a Catalyst expression (O-57).
  *
  * Replaces the typed `mapPartitions` formulation: the Dataset tuple
  * encoder was measured at ~3.7 s over 4M rows at 32 cores (string +
  * binary copies per field) — as an expression the codec reads the columns
  * it needs straight from the UnsafeRow and everything else stays
  * columnar. Evaluate it ONCE per row in a projection directly under the
  * exchange. `ImageOps.materializeTiles` flattens the struct in the next
  * projection, BEFORE the shuffle: the expression is non-deterministic
  * (see `deterministic`), so CollapseProject cannot re-inline one
  * evaluation per referenced field.
  */
case class TileEncodeExpr(bytes: Expression, w: Expression, h: Expression,
                          fmt: Expression, cell: Expression)
    extends Expression with CodegenFallback with GraftExpectsInputTypes {

  override def children: Seq[Expression] = Seq(bytes, w, h, fmt, cell)

  /** Declared NON-deterministic (r7, guide §4.4) although the codec is a
    * pure function: it stops the optimizer from DUPLICATING the expression.
    * With the deterministic default, a psnr filter pushed below the
    * projection re-evaluated the whole decode→crop→encode→verify chain a
    * second time per row (two tileencodeexpr nodes in the round-6 tiling
    * plan: one in the pushed Filter, one in the Project), and
    * CollapseProject re-inlined one evaluation per referenced struct field
    * when the struct was flattened pre-exchange. Non-determinism forbids
    * both rewrites, so the codec runs exactly once per row; values are
    * unchanged (the function really is pure).
    */
  override lazy val deterministic: Boolean = false

  override def graftInputTypes: Seq[DataType] =
    Seq(BinaryType, IntegerType, IntegerType, StringType, LongType)
  override def dataType: DataType = StructType(Seq(
    StructField("tile_bytes", BinaryType, nullable = false),
    StructField("tw", IntegerType, nullable = false),
    StructField("th", IntegerType, nullable = false),
    StructField("psnr", DoubleType, nullable = false)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val b = bytes.eval(input).asInstanceOf[Array[Byte]]
    val wi = w.eval(input).asInstanceOf[Int]
    val hi = h.eval(input).asInstanceOf[Int]
    val f = fmt.eval(input).toString
    val c = cell.eval(input).asInstanceOf[Long]
    // scratch-buffer pipeline: source pixels, the cropped tile, and the
    // verify decode are all TRANSIENT — the encoded tile is the only
    // allocation that escapes. (The old fresh-buffer formulation produced
    // ~4.5 KB of garbage per row — enough allocation traffic at 4M+ rows to
    // saturate the DRAM bus and flatten multi-core scaling.)
    val px = ImageCodec.decodeScratch(b, f)
    // deterministic quadrant crop keyed by cell id bits (stand-in for a
    // real geo-crop; Spark-side shape — schema, partitioning, batch decode
    // per partition — is the real contract)
    val cw = wi / 2; val ch = hi / 2
    val x0 = if ((c & 1L) == 0L) 0 else wi - cw
    val y0 = if ((c & 2L) == 0L) 0 else hi - ch
    val (tile, enc) =
      if (f == "png") {
        val t = ImageCodec.cropScratch(px, wi, hi, x0, y0, cw, ch)
        (t, graft.model.PngCodec.encodeUnchecked(t, cw, ch))
      } else {
        val t = ImageCodec.crop(px, wi, hi, x0, y0, cw, ch)
        (t, t) // raw tile escapes as the payload itself
      }
    val dec = ImageCodec.decodeScratch(enc, f)
    val p = ImageCodec.psnr(tile, dec, cw * ch * 3)
    new GenericInternalRow(Array[Any](enc, cw, ch, p))
  }

  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): Expression =
    copy(bytes = cs(0), w = cs(1), h = cs(2), fmt = cs(3), cell = cs(4))
}

object ImageFunctions {
  private def x(c: Column): Expression = Bridge.expression(c)
  private def col(e: Expression): Column = Bridge.column(e)

  /** Tile codec column ([[TileEncodeExpr]]). The expression is declared
    * non-deterministic, so place it only in a Project or a Filter
    * (`select`, `withColumn`, `where`). In a join condition it fails
    * analysis; in a grouping key or sort order the analyzer pulls it into
    * a projection of its own. To key or sort on a tile field, project the
    * struct first and refer to the projected column.
    */
  def tile_encode(bytes: Column, w: Column, h: Column, fmt: Column,
                  cell: Column): Column =
    col(TileEncodeExpr(x(bytes), x(w), x(h), x(fmt), x(cell)))
}
