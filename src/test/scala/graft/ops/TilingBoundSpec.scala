package graft.ops

import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The tiling exchange under skew: one rebalance on cell_id, with AQE
  * splitting a measured-hot partition only where no consumer needs the
  * cell clustering. A cell-grouped result must see each cell exactly once
  * whatever AQE does; a consumer without that requirement may get the hot
  * cell spread over several partitions. Also the parent-cell bit math the
  * kNN ladder coarsens through.
  */
class TilingBoundSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** 2,048 images, ~20% of their anchors in the downtown hot cell. */
  private lazy val hotCells: DataFrame = SpatialOps.imageCells(
    graft.model.Synth.withAnchors(
      graft.model.Synth.images(spark, 2048L, 16L).toDF, 16L))

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Per cell: (tiles, Σcrc32(image_id), min psnr, all captions kept). */
  private type CellStats = (Long, Long, Double, Boolean)

  /** The expectation, from the input rows on the driver: every tile is
    * lossless (psnr +∞) and every Synth image has a caption.
    */
  private lazy val expected: Map[Long, CellStats] =
    hotCells.select("image_id", "anchor_x", "anchor_y", "caption").collect()
      .groupBy(r => graft.geom.Cells.encode(r.getDouble(1), r.getDouble(2),
        SpatialOps.JoinLevel))
      .map { case (cell, rs) =>
        val crc = rs.iterator.map { r =>
          val c = new CRC32
          c.update(r.getString(0).getBytes(UTF_8))
          c.getValue
        }.sum
        cell -> ((rs.length.toLong, crc, Double.PositiveInfinity,
          rs.forall(!_.isNullAt(3))))
      }

  private def perCell(): Seq[(Long, CellStats)] =
    ImageOps.materializeTiles(spark, hotCells).toDF()
      .groupBy("cell_id").agg(count(lit(1)),
        sum(crc32(col("image_id").cast("binary"))), min(col("psnr")),
        min(col("caption_ok").cast("int")))
      .collect().toSeq
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4) == 1)))

  test("fixture: at least 20% of anchors fall in one cell") {
    val top = expected.values.map(_._1).max
    assert(top >= 0.2 * 2048, s"hottest cell holds $top of 2048 anchors")
  }

  test("hot cell: per-cell tiles, crc32 sum, psnr and captions match the " +
    "driver, with AQE on, on with a tiny advisory size, and off") {
    def check(label: String, got: Seq[(Long, CellStats)]): Unit = {
      assert(got.map(_._1).distinct.size === got.size,
        s"$label: a cell-grouped result saw a cell twice")
      assert(got.toMap === expected, label)
    }
    check("AQE on", perCell())
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      check("AQE on, 1k advisory", perCell())
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      check("AQE off", perCell())
    }
  }

  test("AQE splits the hot cell over several partitions for a consumer " +
    "with no clustering requirement") {
    val hot = expected.maxBy(_._2._1)._1
    def partitionsOfHotCell(): Long =
      ImageOps.materializeTiles(spark, hotCells).toDF()
        .select(col("cell_id"), col("tile_bytes"),
          spark_partition_id().as("pid"))
        .collect()
        .filter(_.getLong(0) == hot).map(_.getInt(2)).distinct.length.toLong
    assert(partitionsOfHotCell() === 1L,
      "without a small advisory size the hot cell stays in one partition")
    val split = withConf(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k") {
      partitionsOfHotCell()
    }
    assert(split > 1L, s"hot cell read from $split partition(s)")
  }

  test("parentCell matches Cells.parent bit-for-bit") {
    import spark.implicits._
    val ids = Seq(100.5 -> 200.25, 65535.0 -> 2.0, 12345.6 -> 54321.9)
    val df = ids.toDF("x", "y")
      .select(graft.expr.GeomFunctions.cell_encode(col("x"), col("y"), lit(14)).as("c"))
      .select(col("c"), ImageOps.parentCell(col("c"), 14, 3).as("p"))
    df.collect().foreach { r =>
      assert(r.getLong(1) === graft.geom.Cells.parent(r.getLong(0), 11))
    }
  }
}
