package graft.sources

import graft.SparkTestBase
import graft.model._
import graft.ops.RasterOps
import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-pass NGFF write: the chunk tasks return the array extents, so a
  * raster write is one Spark job and its input is computed once; refusals
  * the driver can only make after the chunks are written leave a store
  * with no metadata, which does not read.
  */
class NgffWriteSpec extends SparkTestBase {
  import spark.implicits._

  private def pixels: DataFrame =
    Seq.tabulate(300)(i => (i % 2, i % 20, (i * 7) % 19, (i % 13 + 1).toDouble))
      .toDF("c", "y", "x", "value")
      .groupBy("c", "y", "x").agg(sum("value").as("value"))

  private def readBack(dir: String): Set[(Int, Int, Int, Double)] =
    RasterOps.tilesToPixels(NgffRaster.read(spark, dir)._1, tileSize = 8)
      .filter(col("value") =!= 0.0)
      .select("c", "y", "x", "value").as[(Int, Int, Int, Double)].collect().toSet

  private def want: Set[(Int, Int, Int, Double)] =
    pixels.as[(Int, Int, Int, Double)].collect().toSet

  test("NgffRaster.write of a cached tile frame runs exactly one job") {
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 8).persist()
    try {
      tiles.count()
      tempDir("graft-ngff-write") { d =>
        val dir = s"$d/img"
        val (jobs, _) = traced(NgffRaster.write(tiles, dir, "img", tileSize = 8))
        assert(jobs === 1)
        assert(readBack(dir) === want)
      }
    } finally tiles.unpersist(blocking = true)
  }

  test("RefStoreWriter.write of a one-image container runs one job") {
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 8).persist()
    try {
      tiles.count()
      val meta = Models.ImageModel.meta("img").copy(attrs = Map("tile_size" -> "8"))
      tempDir("graft-ngff-write") { d =>
        val root = s"$d/store.zarr"
        val (jobs, _) = traced(RefStoreWriter.write(
          SpatialDataset(spark, Seq(SpatialElement(meta, tiles))), root, tileSize = 8))
        assert(jobs === 1)
        assert(readBack(s"$root/images/img") === want)
      }
    } finally tiles.unpersist(blocking = true)
  }

  test("a labels element's pixelsToTiles exchange runs once") {
    val labels = Seq.tabulate(120)(i => (i % 11, (i * 5) % 13, (i % 4 + 1).toLong))
      .toDF("y", "x", "label")
    tempDir("graft-ngff-write") { d =>
      val root = s"$d/store.zarr"
      val (_, shuffleStages) = traced(RefStoreWriter.write(
        SpatialDataset(spark, Seq(SpatialElement(Models.LabelsModel.meta("lab"), labels))),
        root, tileSize = 8))
      assert(shuffleStages === 1)
      val (back, meta) = NgffRaster.read(spark, s"$root/labels/lab")
      assert(meta.isLabels && meta.axes === Seq("y", "x"))
      val got = RasterOps.tilesToPixels(back, tileSize = 8).filter(col("value") =!= 0.0)
        .select("y", "x", "value").as[(Int, Int, Double)].collect().toSet
      assert(got === labels.as[(Int, Int, Long)].collect().map { case (y, x, l) =>
        (y, x, l.toDouble) }.toSet)
    }
  }

  /** The write's refusal, after which the store has no metadata and does not read. */
  private def refused(tiles: DataFrame): IllegalArgumentException = {
    tempDir("graft-ngff-write") { d =>
      val dir = s"$d/img"
      val e = intercept[IllegalArgumentException](NgffRaster.write(tiles, dir, "img", tileSize = 8))
      Seq(".zattrs", ".zgroup").foreach(f => assert(!new java.io.File(s"$dir/$f").exists, f))
      intercept[Exception](NgffRaster.read(spark, dir))
      e
    }
  }

  test("an empty raster is refused and leaves no readable store") {
    val e = refused(RasterOps.pixelsToTiles(pixels, tileSize = 8).filter(lit(false)))
    assert(e.getMessage === "requirement failed: cannot write an empty raster")
  }

  test("a gap in the scales is refused and leaves no readable store") {
    val e = refused(RasterOps.pixelsToTiles(pixels, tileSize = 8, scale = 1))
    assert(e.getMessage === "requirement failed: scales must be 0..n, got List(1)")
  }

  test("a tile larger than the chunk extent refuses from inside the task") {
    tempDir("graft-ngff-write") { d =>
      val dir = s"$d/img"
      val e = intercept[SparkException](NgffRaster.write(
        RasterOps.pixelsToTiles(pixels, tileSize = 8), dir, "img", tileSize = 4))
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalArgumentException] &&
        c.getMessage.contains("tile 8x8 exceeds the chunk extent 4")), causes.mkString("\n"))
      assert(!new java.io.File(s"$dir/.zattrs").exists)
    }
  }
}
