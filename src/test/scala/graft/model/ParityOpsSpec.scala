package graft.model

import graft.SparkTestBase
import graft.geom.{GPoint, GPolygon, GMultiPolygon, WKB}
import graft.ops.RasterOps
import org.apache.spark.sql.functions._

/** Small reference-parity operators: force_2d, GeoParquet shapes read,
  * delete_element_from_disk, rasterize_bins_link_table_to_labels.
  */
class ParityOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def isoPointZ(x: Double, y: Double, z: Double): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(29).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(1001).putDouble(x).putDouble(y).putDouble(z)
    b.array()
  }

  private def ewkbPolygonZ(ring: Seq[(Double, Double, Double)]): Array[Byte] = {
    val b = java.nio.ByteBuffer.allocate(13 + ring.size * 24)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte).putInt(3 | 0x80000000).putInt(1).putInt(ring.size)
    ring.foreach { case (x, y, z) => b.putDouble(x).putDouble(y).putDouble(z) }
    b.array()
  }

  test("force2d drops Z from ISO and EWKB encodings, keeps holes, 2D unchanged") {
    assert(WKB.read(WKB.force2d(isoPointZ(1.0, 2.0, 3.0))) == GPoint(1.0, 2.0))
    val polyZ = ewkbPolygonZ(Seq((0.0, 0.0, 5.0), (4.0, 0.0, 5.0), (4.0, 4.0, 5.0), (0.0, 0.0, 5.0)))
    val g = WKB.read(WKB.force2d(polyZ)).asInstanceOf[GPolygon]
    assert(g.rings(0).toSeq == Seq(0.0, 0.0, 4.0, 0.0, 4.0, 4.0, 0.0, 0.0))
    // ZM point (ISO +3000): both extra ordinates dropped
    val zm = java.nio.ByteBuffer.allocate(37).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(1.toByte).putInt(3001).putDouble(9.0).putDouble(8.0).putDouble(1.0).putDouble(2.0).array()
    assert(WKB.read(WKB.force2d(zm)) == GPoint(9.0, 8.0))
    // 2D multipolygon with a hole round-trips exactly
    val withHole = WKB.write(GMultiPolygon(Array(GPolygon(Array(
      Array(0.0, 0, 10, 0, 10, 10, 0, 10), Array(2.0, 2, 4, 2, 4, 4, 2, 4))))))
    assert(WKB.force2d(withHole).toSeq == withHole.toSeq)
  }

  test("readGeoParquet: WKB parse, Z-drop, circle promotion, envelopes") {
    val path = new java.io.File("src/test/resources/geoparquet/shapes.parquet").getAbsolutePath
    val shapes = Models.ShapesModel.readGeoParquet(spark, path)
    val byIdx = shapes.select("index", "geom_type", "minx", "maxx")
      .as[(Long, String, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(byIdx(0L)._2 == "circle" && byIdx(0L)._3 == -1.5 && byIdx(0L)._4 == 4.5) // 1.5 +- 3
    assert(byIdx(1L)._2 == "polygon" && byIdx(1L)._3 == 0.0 && byIdx(1L)._4 == 4.0)
    assert(byIdx(2L)._2 == "polygon" && byIdx(2L)._3 == 10.0 && byIdx(2L)._4 == 12.0)
    assert(byIdx(3L)._2 == "circle")
  }

  test("shapes parse without an index column assigns dense 0..n-1 row ids") {
    // reference GeoDataFrame RangeIndex parity: across many partitions the
    // fallback must stay dense (monotonically_increasing_id would be sparse)
    val df = spark.range(0, 500, 1, 8)
      .select(graft.geom.st.st_point(col("id").cast("double"), lit(0.0)).as("geometry"),
        lit("point").as("geom_type"))
    val ids = Models.ShapesModel.parse(df)
      .select("index").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 500L))
  }

  test("deleteElementFromDisk removes the dir and the manifest entry") {
    tempDir("graft-del") { d =>
      val root = d.toString
      val pts = Models.PointsModel.parse(Seq((1L, 0.0, 0.0)).toDF("id", "x", "y"))
      val sd = SpatialDataset(spark, Seq(
        SpatialElement(Models.PointsModel.meta("a"), pts),
        SpatialElement(Models.PointsModel.meta("b"), pts)))
      sd.write(root)
      assert(new java.io.File(s"$root/points/a").exists())
      val after = sd.deleteElementFromDisk("a", root)
      assert(!new java.io.File(s"$root/points/a").exists())
      assert(after.manifest.elements.map(_.name) == Seq("b"))
      val reread = SpatialDataset.read(spark, root)
      assert(reread.manifest.elements.map(_.name) == Seq("b"))
      assert(reread("b").count() == 1)
      // in-memory original unchanged
      assert(sd.manifest.elements.map(_.name).toSet == Set("a", "b"))
    }
  }

  test("rasterizeBinsLinkTableToLabels re-points the annotation target") {
    val obs = Seq((10L, "bins", 1.0), (11L, "bins", 2.0))
      .toDF("bin_id", "region", "value")
    val sd = SpatialDataset(spark, Seq(
      SpatialElement(Models.TableModel.meta("t",
        Some(TableAnnotation(Seq("bins"), "region", "bin_id"))), obs)))
    val out = RasterOps.rasterizeBinsLinkTableToLabels(sd, "t", "bins_labels")
    val ann = out.manifest.element("t").table.get
    assert(ann.region == Seq("bins_labels"))
    assert(ann.instanceKey == "relabeled_bin_id")
    val regions = out("t").select("region").distinct().as[String].collect().toSeq
    assert(regions == Seq("bins_labels"))
  }
}
