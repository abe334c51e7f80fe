package graft.model

import graft.SparkTestBase
import graft.geom.st._
import org.apache.spark.sql.functions._

/** GeoJSON ingest contract (reference `ShapesModel.parse(path)`,
  * models.py:624-649): GeometryCollection / FeatureCollection documents and
  * the newline-delimited scale path; Point geometries require a radius.
  * Value-exact checks live in the q83 oracle gate.
  */
class GeoJsonSpec extends SparkTestBase {
  import spark.implicits._

  private val root = new java.io.File("src/test/resources/geojson").getAbsolutePath

  test("GeometryCollection polygons parse to canonical WKB layout with holes") {
    val df = Models.ShapesModel.parseGeoJson(spark, s"$root/gc.json")
    assert(df.count() == 18)
    assert(df.columns.toSet.intersect(Set("index", "geometry", "geom_type",
      "minx", "miny", "maxx", "maxy")).size == 7)
    val areaByIdx = df.select(col("index"), st_area(col("geometry")))
      .as[(Long, Double)].collect().toMap
    (0 until 18).foreach { k =>
      val want = (2.0 + k % 3) * (1.0 + k % 2) - (if (k == 5) 0.25 else 0.0)
      assert(areaByIdx(k.toLong) == want, s"polygon $k")
    }
  }

  test("FeatureCollection points become circles with the given radius") {
    val df = Models.ShapesModel.parseGeoJson(spark, s"$root/points.json",
      radius = Some(2.0))
    assert(df.count() == 10)
    assert(df.select("geom_type").distinct().as[String].collect().toSeq == Seq("circle"))
    assert(df.select("radius").as[Double].collect().forall(_ == 2.0))
  }

  test("Point geometries without radius fail loudly (reference contract)") {
    val e = intercept[IllegalArgumentException] {
      Models.ShapesModel.parseGeoJson(spark, s"$root/points.json")
    }
    assert(e.getMessage.contains("radius"))
  }

  test("newline-delimited features parse distributed") {
    val df = Models.ShapesModel.parseGeoJsonLines(spark, s"$root/features.ndjson")
    assert(df.count() == 12)
    val areas = df.select(st_area(col("geometry"))).as[Double].collect()
    assert(areas.forall(_ == 6.0))
    // index is the dense 0..n-1 line order, like the driver-side path — not
    // sparse partition-encoded ids that can't key against table instances
    val idx = df.select("index").as[Long].collect().sorted.toSeq
    assert(idx == (0L until 12L))
  }

  test("a non-collection document fails loudly") {
    tempDir("gj") { d =>
      val p = d.resolve("polygon.json")
      java.nio.file.Files.write(p, """{"type": "Polygon", "coordinates": []}""".getBytes)
      val e = intercept[RuntimeException] {
        Models.ShapesModel.parseGeoJson(spark, p.toString)
      }
      assert(e.getMessage.contains("GeometryCollection"))
    }
  }
}
