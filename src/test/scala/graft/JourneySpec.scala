package graft

import graft.model._
import graft.ops._
import graft.query.syntax._
import graft.sources.ZarrStore
import org.apache.spark.sql.functions._

/** The full user journey a spatialdata user would run, end to end on one
  * container: synthesize -> persist as a zarr store -> read back -> spatial
  * query with table cascade -> vectorize -> aggregate -> normalize to data
  * extent -> cut training tiles. Every stage's output feeds the next, so a
  * regression anywhere in the chain surfaces here.
  */
class JourneySpec extends SparkTestBase {
  import spark.implicits._

  test("blobs -> zarr store -> query -> aggregate -> data extent -> tiles") {
    // 1. synthesize
    val sd0 = Datasets.blobs(spark, length = 64, nCells = 12, pointsPerCell = 40)

    // 2. persist as a zarr store and read back
    tempDir("graft-journey") { d =>
      val root = s"$d/j.zarr"
      ZarrStore.write(sd0, root, tileSize = 16)
      val sd = ZarrStore.read(spark, root)
      assert(sd.manifest.elements.map(_.name).sorted ==
        sd0.manifest.elements.map(_.name).sorted)
      val nPoints = sd0("blobs_points").count()
      assert(sd("blobs_points").count() == nPoints)
      // a second round-trip through the parquet container layout must be a
      // fixed point — the graft.testing comparator checks the full contract
      tempDir("graft-journey2") { d2 =>
        val root2 = d2.toString
        sd.write(root2)
        graft.testing.Comparators.assertContainersIdentical(
          sd, SpatialDataset.read(spark, root2))

        // 3. bounding-box query with table cascade
        val boxed = sd.query.boundingBox(Seq("x", "y"), Seq(8.0, 8.0), Seq(56.0, 56.0), "global")
        val inBox = boxed("blobs_points").count()
        assert(inBox > 0 && inBox < nPoints)
        assert(boxed.element("blobs_table").obs.count() > 0)

        // 4. labels -> circles, then aggregate transcripts per region
        val circles = Vectorize.labelsToCircles(sd("blobs_labels"))
        val regions = Models.ShapesModel.parse(
          circles.withColumn("geometry", graft.geom.st.st_point(col("x"), col("y")))
            .withColumn("geom_type", lit("circle")).drop("x", "y"),
          radiusCol = Some("radius"))
        val agg = Aggregate.pointsByShapes(sd("blobs_points"), regions, None, "count")
        assert(agg.count() > 0)
        assert(agg.agg(sum("value")).as[Long].collect()(0) > 0)

        // 5. normalize the container so pixels == units
        val framed = TransformExtent.transformToDataExtent(sd, "global", targetWidth = 64)
        val ext = Aggregate.pointsExtent(framed("blobs_points"))
          .as[(Double, Double, Double, Double)].collect()(0)
        assert(ext._1 >= -1e-9 && ext._3 <= 64.0 + 1e-9)

        // 6. training tiles from the regions over the labels raster
        val pixels = framed("blobs_labels").select(lit(0).as("c"), col("y"), col("x"),
          col("label").cast("double").as("value"))
        val coords = ImageTiles.tileCoords(regions, tileDimInUnits = Some(8.0))
        val batch = ImageTiles.tileBatch(pixels, coords, cell = 16.0)
        assert(batch.count() > 0)
        // slice bounds floor(c-4)..ceil(c+4): 8 px for integer centers, 9 for
        // fractional ones
        val shapes = batch.select("th", "tw").distinct().as[(Int, Int)].collect()
        assert(shapes.forall { case (th, tw) =>
          (th == 8 || th == 9) && (tw == 8 || tw == 9) }, shapes.toSeq)
      }
    }
  }
}
