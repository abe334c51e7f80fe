package graft.model

import graft.SparkTestBase
import graft.geom._
import graft.geom.st._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

class SpatialDatasetSpec extends SparkTestBase {
  import spark.implicits._

  private def fixture: SpatialDataset = {
    val pts = Models.PointsModel.parse(
      Seq((0L, 1.0, 2.0, "a", 3), (1L, 4.0, 5.0, "b", 7), (2L, -1.0, 0.5, "a", 3))
        .toDF("row_id", "x", "y", "genes", "instance_id"))
    val poly = WKB.write(GPolygon(Array(Array(0.0, 0, 2, 0, 2, 2, 0, 2))))
    val circle = WKB.write(GPoint(5.0, 5.0))
    val shp = Models.ShapesModel.parse(
      Seq((0L, poly, "polygon", null.asInstanceOf[java.lang.Double]),
          (1L, circle, "circle", java.lang.Double.valueOf(1.5)))
        .toDF("index", "geometry", "geom_type", "radius"))
    val lbl = Models.LabelsModel.parse(
      Seq((0, 0, 1L), (0, 1, 1L), (1, 0, 2L), (1, 1, 0L)).toDF("y", "x", "label"))
    val obs = Seq((3L, "cells", 0.5), (7L, "cells", 0.25)).toDF("instance_id", "region", "a")
    val x = Seq((3L, "g1", 1.0), (7L, "g1", 2.0), (7L, "g2", 4.0))
      .toDF("instance_id", "var_name", "value")
    SpatialDataset(spark, Seq(
      SpatialElement(Models.PointsModel.meta("pts",
        featureKey = Some("genes"), instanceKey = Some("instance_id"),
        transforms = Map("global" -> ScaleT(Seq(2.0, 2.0), Seq("y", "x")))), pts),
      SpatialElement(Models.ShapesModel.meta("cells"), shp),
      SpatialElement(Models.LabelsModel.meta("lbl"), lbl),
      SpatialElement(Models.TableModel.meta("tbl",
        Some(TableAnnotation(Seq("cells"), "region", "instance_id"))), obs, Map("X" -> x))))
  }

  test("write/read round-trip preserves manifest and data") {
    tempDir("graft-sd") { d =>
      val dir = d.toString
      val sd = fixture
      sd.write(dir)
      val back = SpatialDataset.read(spark, dir)
      // the full golden-output contract: names, kinds, transforms, table
      // annotation, attrs, data multisets, aux frames
      graft.testing.Comparators.assertContainersIdentical(sd, back)
      assert(back.points.keySet == Set("pts") && back.shapes.keySet == Set("cells"))
      val t = back.manifest.element("pts").transforms("global")
      assert(t.toAffineMatrix(Seq("x", "y"), Seq("x", "y"))
        .sameAs(Matrix(3, 3, Array(2, 0, 0, 0, 2, 0, 0, 0, 1))))
    }
  }

  test("read opens every element with no Spark job, schemas as spark.read.parquet infers them") {
    tempDir("graft-sd-open") { d =>
      val dir = d.toString
      fixture.write(dir)
      var back: SpatialDataset = null
      val (jobs, _) = traced { back = SpatialDataset.read(spark, dir) }
      assert(jobs == 0)
      // every element kind, the table's obs and its X matrix
      val opened = back.manifest.elements.flatMap { m =>
        val el = back.element(m.name)
        val d = SpatialDataset.elementDir(dir, m)
        if (m.kind == ElementKind.Tables) Seq(s"$d/obs" -> el.obs, s"$d/X" -> el.x)
        else Seq(s"$d/data" -> el.data)
      }
      assert(opened.size == 5)
      opened.foreach { case (d, df) =>
        assert(df.schema == spark.read.parquet(d).schema, d)
        val (j, _) = traced {
          assert(org.apache.spark.sql.execution.datasources.parquet.ParquetOpen
            .read(spark, d).schema == df.schema)
        }
        assert(j == 0, d)
      }
    }
  }

  test("partial read by selection") {
    tempDir("graft-sd2") { d =>
      val dir = d.toString
      fixture.write(dir)
      val back = SpatialDataset.read(spark, dir, selection = Some(Seq("pts")))
      assert(back.manifest.elements.map(_.name) == Seq("pts"))
    }
  }

  test("subset cascades table annotations") {
    val sub = fixture.subset(Seq("pts"))
    assert(!sub.elementData.contains("cells"))
    assert(!sub.elementData.contains("tbl")) // its only region was dropped
    val sub2 = fixture.subset(Seq("cells"))
    assert(sub2.elementData.contains("tbl"))
  }

  test("shapes parse precomputes envelopes incl. radius") {
    val rows = fixture("cells").orderBy("index")
      .select("minx", "miny", "maxx", "maxy").collect()
    assert(rows(0) == Row(0.0, 0.0, 2.0, 2.0))
    assert(rows(1) == Row(3.5, 3.5, 6.5, 6.5))
  }

  test("st functions run inside plans") {
    val shp = fixture("cells")
    val areas = shp.filter(col("geom_type") === "polygon")
      .select(st_area(col("geometry"))).as[Double].collect()
    assert(areas.toSeq == Seq(4.0))
    val hit = fixture("pts")
      .filter(st_contains_point(
        lit(WKB.write(GPolygon(Array(Array(0.0, 0, 2, 0, 2, 3, 0, 3))))),
        col("x"), col("y")))
    assert(hit.select("row_id").as[Long].collect().toSet == Set(0L))
  }

  test("transformation bookkeeping: set / get / remove / remove-to-cs") {
    val sd = fixture
    val t = TranslationT(Seq(3.0, 4.0), Seq("x", "y"))
    val sd2 = sd.setTransformation("cells", t, "aligned")
    assert(sd2.getTransformation("cells", "aligned") == t)
    assert(sd.element("cells").meta.transforms.get("aligned").isEmpty,
      "setTransformation must not mutate the source container")
    // replace keeps the other entries
    val sd3 = sd2.setTransformation("cells", IdentityT, "aligned")
    assert(sd3.getTransformation("cells", "aligned") == IdentityT &&
      sd3.getTransformation("cells") == sd.getTransformation("cells"))
    // missing cs raises like the reference's ValueError
    val e = intercept[RuntimeException] { sd.getTransformation("cells", "nope") }
    assert(e.getMessage.contains("not found"))
    intercept[IllegalArgumentException] { sd.removeTransformation("cells", "nope") }
    val sd4 = sd3.removeTransformation("cells", "aligned")
    assert(sd4.element("cells").meta.transforms.get("aligned").isEmpty)
    // remove-to-cs drops the cs from EVERY element
    val sd5 = sd2.setTransformation("pts", t, "aligned")
      .removeTransformationsToCoordinateSystem("aligned")
    assert(sd5.manifest.elements.forall(!_.transforms.contains("aligned")))
    assert(sd5.getTransformation("pts") == sd.getTransformation("pts"))
  }

  test("container attrs: nested get_attrs with flattening and manifest round-trip") {
    import org.json4s._
    import org.json4s.JsonDSL._
    val sd = fixture.withAttr("test", ("a" -> ("b" -> 12)) ~ ("c" -> 8))
    // as-is (flatten=false) keeps nesting
    assert(sd.getAttrs("test", flatten = false) ==
      (("a" -> ("b" -> 12)) ~ ("c" -> 8): JValue))
    // flatten joins nested keys with sep
    assert(sd.getAttrs("test") == (("a_b" -> 12) ~ ("c" -> 8): JValue))
    assert(sd.getAttrs("test", sep = ".") == (("a.b" -> 12) ~ ("c" -> 8): JValue))
    val e = intercept[RuntimeException] { sd.getAttrs("nope") }
    assert(e.getMessage.contains("was not found in sdata.attrs"))
    // df form: one row, flattened columns
    val df = sd.getAttrsDf("test")
    assert(df.columns.toSet == Set("a_b", "c") && df.count() == 1)
    // attrs survive the manifest JSON round-trip
    val back = GraftManifest.fromJson(GraftManifest.toJson(sd.manifest))
    assert(back.freeAttrs == sd.manifest.freeAttrs)
  }

  test("validation helpers") {
    val bad = Models.ShapesModel.invalidRows(fixture("cells"))
    assert(bad.count() == 0)
    val dup = Models.TableModel.duplicateAnnotations(
      fixture.element("tbl").obs, TableAnnotation(Seq("cells"), "region", "instance_id"))
    assert(dup.count() == 0)
  }

  test("validateTableInSpatialData flags missing targets and dtype mismatches") {
    val sd = fixture
    assert(sd.validateTableInSpatialData("tbl").isEmpty)
    // annotating a missing element warns (reference UserWarning)
    val broken = sd.subset(Seq("tbl"), filterTables = false)
    val w1 = broken.validateTableInSpatialData("tbl")
    assert(w1.exists(_.contains("not present")))
    // instance-key dtype != target id dtype warns
    val tbl = sd.element("tbl")
    val narrowed = new SpatialDataset(spark, sd.manifest,
      sd.elementData + ("tbl" -> tbl.copy(
        data = tbl.data.withColumn("instance_id", col("instance_id").cast("int")))))
    val w2 = narrowed.validateTableInSpatialData("tbl")
    assert(w2.exists(_.contains("do not match")))
  }
}
