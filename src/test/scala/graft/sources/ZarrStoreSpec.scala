package graft.sources

import graft.SparkTestBase
import graft.geom.st._
import graft.model._
import graft.ops.RasterOps
import org.apache.spark.sql.functions._

class ZarrStoreSpec extends SparkTestBase {
  import spark.implicits._

  private def container(): SpatialDataset = {
    val img = RasterOps.pixelsToTiles(
      Seq.tabulate(200)(i => (i % 2, i % 10, (i * 3) % 10, (i % 7 + 1).toDouble))
        .toDF("c", "y", "x", "value").groupBy("c", "y", "x").agg(sum("value").as("value")),
      tileSize = 8)
    val lab = Seq((0, 0, 5L), (3, 4, 9L), (9, 9, 2L)).toDF("y", "x", "label")
    val pts = Models.PointsModel.parse(
      Seq((1L, 1.5, 2.5, "a"), (2L, 3.5, 4.5, "b")).toDF("id", "x", "y", "gene"))
    val shp = Models.ShapesModel.parse(
      Seq((0L, 2.0, 3.0, 1.5)).toDF("index", "cx", "cy", "radius")
        .withColumn("geometry", st_point(col("cx"), col("cy")))
        .withColumn("geom_type", lit("circle")).drop("cx", "cy"),
      radiusCol = Some("radius"))
    val obs = Seq((1L, "t1", 0.5), (2L, "t1", 0.7)).toDF("instance_id", "region", "score")
    SpatialDataset(spark, Seq(
      SpatialElement(Models.ImageModel.meta("img", channelNames = Seq("c0", "c1"),
        transforms = Map("global" -> ScaleT(Seq(2.0, 2.0), Seq("x", "y")))), img),
      SpatialElement(ElementMeta("lab", ElementKind.Labels, Seq("y", "x"),
        transforms = Map("global" -> IdentityT,
          "micron" -> TranslationT(Seq(1.0, -1.0), Seq("x", "y")))), lab),
      SpatialElement(Models.PointsModel.meta("pts"), pts),
      SpatialElement(Models.ShapesModel.meta("shp"), shp),
      SpatialElement(Models.TableModel.meta("tab",
        Some(TableAnnotation(Seq("shp"), "region", "instance_id"))), obs)))
  }

  test("container zarr store round-trips every element kind") {
    tempDir("graft-store") { d =>
      val root = s"$d/store.zarr"
      val sd = container()
      ZarrStore.write(sd, root, tileSize = 8)
      // layout sanity: NGFF groups + parquet dirs + root attrs
      assert(new java.io.File(s"$root/.zgroup").exists())
      assert(new java.io.File(s"$root/images/img/.zattrs").exists())
      assert(new java.io.File(s"$root/labels/lab/0/.zarray").exists())
      assert(new java.io.File(s"$root/points/pts/points.parquet").exists())
      assert(new java.io.File(s"$root/shapes/shp/shapes.parquet").exists())
      assert(new java.io.File(s"$root/tables/tab/obs.parquet").exists())

      val back = ZarrStore.read(spark, root)
      assert(back.manifest.elements.map(_.name).sorted ==
        Seq("img", "lab", "pts", "shp", "tab"))
      // image pixels + channels + transform survive
      assert(back.manifest.element("img").channelNames == Seq("c0", "c1"))
      assert(back.manifest.element("img").transforms ==
        Map("global" -> ScaleT(Seq(2.0, 2.0), Seq("x", "y"))))
      val imgWant = RasterOps.tilesToPixels(sd("img"), 8)
        .select("c", "y", "x", "value").as[(Int, Int, Int, Double)].collect().toSet
      val imgGot = RasterOps.tilesToPixels(back("img"), 8)
        .select("c", "y", "x", "value").as[(Int, Int, Int, Double)].collect().toSet
      assert(imgGot == imgWant)
      // labels back to long form, both coordinate systems intact
      assert(back("lab").orderBy("y", "x").as[(Int, Int, Long)].collect().toSeq ==
        Seq((0, 0, 5L), (3, 4, 9L), (9, 9, 2L)))
      assert(back.manifest.element("lab").transforms("micron") ==
        TranslationT(Seq(1.0, -1.0), Seq("x", "y")))
      // points keep payload columns; shapes keep radius/envelope; table keeps annotation
      assert(back("pts").orderBy("id").select("id", "x", "gene")
        .as[(Long, Double, String)].collect().toSeq == Seq((1L, 1.5, "a"), (2L, 3.5, "b")))
      assert(back("shp").select("radius").as[Double].collect().toSeq == Seq(1.5))
      assert(back.manifest.element("tab").table ==
        Some(TableAnnotation(Seq("shp"), "region", "instance_id")))
      assert(back("tab").count() == 2)
    }
  }

  test("3D labels (z, y, x) round-trip through the container store") {
    tempDir("graft-store") { d =>
      val root = s"$d/l3.zarr"
      val lab3 = Seq((0, 0, 0, 5L), (1, 3, 4, 9L), (3, 9, 9, 2L), (1, 0, 7, 4L))
        .toDF("z", "y", "x", "label")
      val sd = SpatialDataset(spark, Seq(
        SpatialElement(ElementMeta("vol", ElementKind.Labels, Seq("z", "y", "x"),
          transforms = Map("global" -> ScaleT(Seq(2.0, 2.0, 4.0), Seq("x", "y", "z")))), lab3)))
      ZarrStore.write(sd, root, tileSize = 8)
      assert(new java.io.File(s"$root/labels/vol/0/.zarray").exists())
      val back = ZarrStore.read(spark, root)
      assert(back.manifest.element("vol").dims == Seq("z", "y", "x"))
      assert(back.manifest.element("vol").transforms("global") ==
        ScaleT(Seq(2.0, 2.0, 4.0), Seq("x", "y", "z")))
      assert(back("vol").orderBy("z", "y", "x").as[(Int, Int, Int, Long)].collect().toSeq ==
        Seq((0, 0, 0, 5L), (1, 0, 7, 4L), (1, 3, 4, 9L), (3, 9, 9, 2L)))
    }
  }

  test("selection reads a subset without touching other elements") {
    tempDir("graft-store") { d =>
      val root = s"$d/sel.zarr"
      ZarrStore.write(container(), root, tileSize = 8)
      val part = ZarrStore.read(spark, root, selection = Some(Seq("pts", "lab")))
      assert(part.manifest.elements.map(_.name).sorted == Seq("lab", "pts"))
    }
  }

  test("consolidated .zmetadata indexes every JSON metadata file") {
    import org.json4s._
    tempDir("graft-store") { d =>
      val root = s"$d/cm.zarr"
      ZarrStore.write(container(), root, tileSize = 8)
      val j = org.json4s.jackson.JsonMethods.parse(
        new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"$root/.zmetadata")), "UTF-8"))
      assert((j \ "zarr_consolidated_format") == JInt(1))
      val keys = (j \ "metadata").asInstanceOf[JObject].obj.map(_._1).toSet
      assert(keys.contains(".zgroup") && keys.contains(".zattrs"))
      assert(keys.contains("images/img/.zattrs"))
      assert(keys.contains("labels/lab/0/.zarray"))
      assert(keys.contains("points/pts/.zattrs"))
    }
  }

  test("onBadFiles=warn skips a corrupted element; error mode throws") {
    tempDir("graft-store") { d =>
      val root = s"$d/bad.zarr"
      ZarrStore.write(container(), root, tileSize = 8)
      // remove .zmetadata so the per-file path is what gets exercised (with
      // consolidated metadata present the good copy would mask the corruption)
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$root/.zmetadata"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/points/pts/.zattrs"),
        "NOT JSON {".getBytes("UTF-8"))
      intercept[Exception] { ZarrStore.read(spark, root) }
      val lenient = ZarrStore.read(spark, root, onBadFiles = "warn")
      assert(!lenient.manifest.elements.map(_.name).contains("pts"))
      assert(lenient.manifest.elements.map(_.name).sorted ==
        Seq("img", "lab", "shp", "tab"))
      // the skip is surfaced in the manifest, not only on stderr
      val w = lenient.getAttrs("read_warnings") match {
        case org.json4s.JArray(xs) => xs.collect { case org.json4s.JString(s) => s }
        case other => fail(s"unexpected read_warnings shape: $other")
      }
      assert(w.size == 1 && w.head.contains("points/pts"))
    }
  }

  test("consolidated .zmetadata alone reconstructs the container") {
    tempDir("graft-store") { d =>
      val root = s"$d/cmo.zarr"
      val sd = container()
      ZarrStore.write(sd, root, tileSize = 8)
      // delete EVERY per-file JSON metadata document; only .zmetadata (plus
      // data payloads) remains — the one-round-trip remote-store scenario
      import scala.jdk.CollectionConverters._
      val metaFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
        .iterator().asScala
        .filter(p => Set(".zattrs", ".zarray", ".zgroup")(p.getFileName.toString))
        .toList
      assert(metaFiles.nonEmpty)
      metaFiles.foreach(java.nio.file.Files.delete)
      val back = ZarrStore.read(spark, root)
      assert(back.manifest.elements.map(_.name).sorted ==
        Seq("img", "lab", "pts", "shp", "tab"))
      assert(back.manifest.element("img").channelNames == Seq("c0", "c1"))
      assert(back.manifest.element("tab").table ==
        Some(TableAnnotation(Seq("shp"), "region", "instance_id")))
      // raster payload decodes (chunk files + .zmetadata-served .zarray)
      assert(back("lab").orderBy("y", "x").as[(Int, Int, Long)].collect().toSeq ==
        Seq((0, 0, 5L), (3, 4, 9L), (9, 9, 2L)))
      assert(back("pts").count() == 2 && back("tab").count() == 2)
    }
  }
}
