package graft.queries

import graft.{QueryPack, Tables}
import graft.model._
import graft.ops.RasterOps
import graft.sources.NgffRaster
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** OME-NGFF/zarr ingest gates: build a raster from the `events` table,
  * persist it as a zarr v2 multiscale group, read it back with the
  * task-parallel chunk reader, and verify pixel-exact content against
  * DuckDB computing the same raster directly from `events`
  * (mirroring `reference/tests/io/test_readwrite.py` round-trips).
  *
  * The store round-trip is deterministic, so the oracle never needs to see
  * the zarr bytes — equality of the read-back pixels with the directly-
  * computed raster IS the round-trip proof.
  */
object NgffPack extends QueryPack {

  // 2-channel 64x64 image from events: value = count per (c, y, x) cell
  private def eventPixels(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      (col("event_id") % 2).cast("int").as("c"),
      (col("event_id") % 64).cast("int").as("y"),
      (col("user_id") % 64).cast("int").as("x"))
      .groupBy("c", "y", "x").agg(count(lit(1)).cast("double").as("value"))

  private val eventPixelsSql =
    """SELECT CAST(event_id % 2 AS INT) AS c, CAST(event_id % 64 AS INT) AS y,
      |       CAST(user_id % 64 AS INT) AS x, CAST(COUNT(*) AS DOUBLE) AS value
      |FROM events GROUP BY 1, 2, 3""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DataSourceV2 path: the same store read through
    // spark.read.format("ngff") with a pushed tile filter — Catalyst
    // prunes chunk reads at planning time (NgffScanBuilder pushdown);
    // content must equal the direct SQL raster over the same tile row
    "q141_dsv2_ngff" -> ((s, d) => {
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("dsv2").toString
        val tiles = RasterOps.pixelsToTiles(eventPixels(s, d), tileSize = 16)
        NgffRaster.write(tiles, dir, "events_img", tileSize = 16)
        val back = s.read.format("ngff").load(dir)
          .filter(col("scale") === 0 && col("tile_y") === 1)
        RasterOps.tilesToPixels(back, tileSize = 16)
          .filter(col("value") =!= 0.0)
          .groupBy("c")
          .agg(count(lit(1)).as("n_px"),
            sum(col("value").cast("decimal(28,6)")).cast("double").as("total"),
            sum((col("y") * 64 + col("x")) * col("value").cast("decimal(28,6)"))
              .cast("double").as("pos_weighted"))
          .orderBy("c")
      }
    }),

    // DataSourceV2 WRITE path: tiles written through df.write
    // .format("ngff") — task-parallel chunk files, array extents folded
    // from task commit messages, group metadata written only at commit —
    // then read back with the v1 reader; content must equal the direct
    // SQL raster over events
    "q142_dsv2_ngff_write" -> ((s, d) => {
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("dsv2w").toString
        val tiles = RasterOps.pixelsToTiles(eventPixels(s, d), tileSize = 16)
        tiles.write.format("ngff").option("tileSize", 16)
          .option("name", "events_img").mode("overwrite").save(dir)
        val (back, _) = NgffRaster.read(s, dir)
        RasterOps.tilesToPixels(back, tileSize = 16)
          .filter(col("value") =!= 0.0)
          .groupBy("c")
          .agg(count(lit(1)).as("n_px"),
            sum(col("value").cast("decimal(28,6)")).cast("double").as("total"),
            sum((col("y") * 64 + col("x")) * col("value").cast("decimal(28,6)"))
              .cast("double").as("pos_weighted"))
          .orderBy("c")
      }
    }),

    // write multiscale NGFF (zstd chunks) -> read back -> bbox crop ->
    // per-channel aggregate. Tiles are dense within present 16x16 chunks,
    // so zero-filled cells are excluded to compare against the sparse SQL
    // raster (io_raster.py:162-233 read, :261-573 write).
    "q61_ngff_roundtrip" -> ((s, d) => {
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("rt").toString
        val tiles = RasterOps.pixelsToTiles(eventPixels(s, d), tileSize = 16)
        NgffRaster.write(tiles, dir, "events_img", tileSize = 16,
          transforms = Map("global" -> ScaleT(Seq(0.5, 0.5), Seq("x", "y"))),
          channels = Seq("even", "odd"))
        val (back, meta) = NgffRaster.read(s, dir)
        require(meta.transforms("global") == ScaleT(Seq(0.5, 0.5), Seq("x", "y")),
          "transform metadata did not round-trip")
        require(meta.channels == Seq("even", "odd"), "channels did not round-trip")
        RasterOps.tilesToPixels(back, tileSize = 16)
          .filter(col("value") =!= 0.0)
          .filter(col("y") >= 8 && col("y") < 40 && col("x") >= 8 && col("x") < 40)
          .groupBy("c")
          .agg(count(lit(1)).as("n_px"),
            sum(col("value").cast("decimal(28,6)")).cast("double").as("total"),
            sum((col("y") * 64 + col("x")) * col("value").cast("decimal(28,6)"))
              .cast("double").as("pos_weighted"))
          .orderBy("c")
      }
    }),

    // GeoParquet shapes round trip (io_shapes.py:33-67): WKB written as a
    // plain parquet geometry column, read back via readGeoParquet (Z-drop +
    // geom_type derivation + envelope recompute), measured distributed
    "q68_geoparquet_shapes" -> ((s, d) => {
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("gpq").toString
        val boxes = Tables.supplier(s, d).select(
          col("s_suppkey").as("index"),
          ((col("s_suppkey") * 7) % 50).cast("double").as("x0"),
          ((col("s_suppkey") * 3) % 40).cast("double").as("y0"),
          (lit(2.0) + (col("s_suppkey") % 5).cast("double")).as("w"))
          .withColumn("geometry", graft.geom.st.st_make_box(
            col("x0"), col("y0"), col("x0") + col("w"), col("y0") + col("w") * 2))
          .select("index", "geometry")
        boxes.write.mode("overwrite").parquet(dir)
        val shapes = Models.ShapesModel.readGeoParquet(s, dir)
        shapes.select(col("index"), col("geom_type"),
            graft.geom.st.st_area(col("geometry")).as("area"),
            col("minx"), col("miny"), col("maxx"), col("maxy"))
          .orderBy("index")
      }
    }),

    // container-level zarr store (io_zarr.py:33-123): write a container of
    // points + labels + annotating table, read it back through the store
    // dispatch, and aggregate the round-tripped points
    "q69_zarr_container" -> ((s, d) => {
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("store").toString
        val pts = Models.PointsModel.parse(Tables.lineitem(s, d).select(
          col("l_orderkey"), (col("l_extendedprice") / 1000.0).as("x"),
          col("l_quantity").as("y")))
        val lab = Tables.events(s, d).select(
          (col("event_id") % 32).cast("int").as("y"),
          (col("user_id") % 32).cast("int").as("x"))
          .groupBy("y", "x").agg((max(col("x")) % 5 + 1).cast("long").as("label"))
        val obs = Tables.supplier(s, d).select(
          col("s_suppkey").as("instance_id"), lit("lab").as("region"))
        val sd = SpatialDataset(s, Seq(
          SpatialElement(Models.PointsModel.meta("pts"), pts),
          SpatialElement(ElementMeta("lab", ElementKind.Labels, Seq("y", "x")), lab),
          SpatialElement(Models.TableModel.meta("tab",
            Some(TableAnnotation(Seq("lab"), "region", "instance_id"))), obs)))
        graft.sources.ZarrStore.write(sd, dir, tileSize = 16)
        val back = graft.sources.ZarrStore.read(s, dir)
        require(back.manifest.element("tab").table ==
          Some(TableAnnotation(Seq("lab"), "region", "instance_id")),
          "table annotation did not round-trip")
        val p = back("pts").groupBy(floor(col("x") / 10).cast("long").as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("y").cast("decimal(28,6)")).cast("double").as("sum_y"))
        val l = back("lab").groupBy((col("label") + 100).as("bucket"))
          .agg(count(lit(1)).as("n"),
            sum(col("y").cast("decimal(28,6)")).cast("double").as("sum_y"))
        p.unionByName(l).orderBy("bucket")
      }
    }),

    // rank-2 labels store (<i4 chunks, zlib): write -> read -> histogram
    "q62_ngff_labels" -> ((s, d) => {
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("lab").toString
        val labels = Tables.events(s, d).select(
          lit(0).as("c"),
          (col("event_id") % 48).cast("int").as("y"),
          (col("user_id") % 48).cast("int").as("x"),
          (col("event_id") % 9).cast("double").as("label"))
          .groupBy("c", "y", "x").agg(max("label").as("value"))
        val tiles = RasterOps.pixelsToTiles(labels, tileSize = 16)
        NgffRaster.write(tiles, dir, "events_lab", tileSize = 16,
          axes = Seq("y", "x"), dtype = "<i4", compressorId = "zlib", isLabels = true)
        val (back, meta) = NgffRaster.read(s, dir)
        require(meta.isLabels, "image-label marker did not round-trip")
        RasterOps.tilesToPixels(back, tileSize = 16)
          .filter(col("value") =!= 0.0)
          .groupBy(col("value").cast("long").as("label"))
          .agg(count(lit(1)).as("n_px"))
          .orderBy("label")
      }
    }),

    // rank-3 (z, y, x) labels store round trip (Labels3DModel dims,
    // models.py:409-427; io_raster reads the same rank-3 arrays): write a
    // z-stacked volume, read it back, aggregate per plane
    "q77_ngff_3d_labels" -> ((s, d) => {
      Scratch.run(s) { tmp =>
        val dir = tmp.resolve("lab3d").toString
        val vox = Tables.events(s, d).select(
          lit(0).as("c"),
          (col("event_id") % 4).cast("int").as("z"),
          (col("event_id") % 32).cast("int").as("y"),
          (col("user_id") % 32).cast("int").as("x"))
          .groupBy("c", "z", "y", "x").agg(count(lit(1)).cast("double").as("value"))
        val tiles = RasterOps.pixelsToTiles3d(vox, tileSize = 16)
        NgffRaster.write(tiles, dir, "events_vol", tileSize = 16,
          axes = Seq("z", "y", "x"), dtype = "<i8", isLabels = true)
        val (back, meta) = NgffRaster.read(s, dir)
        require(meta.axes == Seq("z", "y", "x"), s"axes did not round-trip: ${meta.axes}")
        require(meta.isLabels, "image-label marker did not round-trip")
        RasterOps.tilesToPixels3d(back, tileSize = 16)
          .filter(col("value") =!= 0.0)
          .groupBy("z")
          .agg(count(lit(1)).as("n_px"),
            sum(col("value").cast("decimal(28,6)")).cast("double").as("total"),
            sum((col("y") * 32 + col("x")) * col("value").cast("decimal(28,6)"))
              .cast("double").as("pos_weighted"))
          .orderBy("z")
      }
    }),

    // 3D zonal statistics: volume labels x a full-grid value volume, joined
    // on (z, y, x) — the axis-generic imageByLabels path
    "q78_zonal_stats_3d" -> ((s, d) => {
      val labels = Tables.events(s, d).select(
        (col("event_id") % 4).cast("int").as("z"),
        (col("event_id") % 32).cast("int").as("y"),
        (col("user_id") % 32).cast("int").as("x"))
        .groupBy("z", "y", "x").agg(count(lit(1)).as("label"))
      val grid = s.range(4 * 32 * 32).select(
        lit(0).as("c"),
        (col("id") / 1024).cast("int").as("z"),
        ((col("id") % 1024) / 32).cast("int").as("y"),
        (col("id") % 32).cast("int").as("x"),
        col("id").cast("double").as("value"))
      graft.ops.Aggregate.imageByLabels(grid, labels,
          aggFunc = "sum", dims = Seq("z", "y", "x"))
        .select(col("label"), col("c"),
          col("value").cast("double").as("value"))
        .orderBy("label")
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q141_dsv2_ngff" ->
      s"""WITH px AS ($eventPixelsSql)
         |SELECT c, COUNT(*) AS n_px,
         |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
         |  CAST(SUM((y * 64 + x) * CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS pos_weighted
         |FROM px
         |WHERE y >= 16 AND y < 32
         |GROUP BY c ORDER BY c""".stripMargin,
    "q142_dsv2_ngff_write" ->
      s"""WITH px AS ($eventPixelsSql)
         |SELECT c, COUNT(*) AS n_px,
         |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
         |  CAST(SUM((y * 64 + x) * CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS pos_weighted
         |FROM px
         |GROUP BY c ORDER BY c""".stripMargin,
    "q61_ngff_roundtrip" ->
      s"""WITH px AS ($eventPixelsSql)
         |SELECT c, COUNT(*) AS n_px,
         |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
         |  CAST(SUM((y * 64 + x) * CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS pos_weighted
         |FROM px
         |WHERE y >= 8 AND y < 40 AND x >= 8 AND x < 40
         |GROUP BY c ORDER BY c""".stripMargin,
    "q69_zarr_container" ->
      """WITH p AS (
        |  SELECT CAST(FLOOR((l_extendedprice / 1000.0) / 10) AS BIGINT) AS bucket,
        |         l_quantity AS y
        |  FROM lineitem),
        |lab AS (
        |  SELECT CAST(event_id % 32 AS INT) AS y, CAST(user_id % 32 AS INT) AS x,
        |         CAST(MAX(CAST(user_id % 32 AS INT)) % 5 + 1 AS BIGINT) AS label
        |  FROM events GROUP BY 1, 2)
        |SELECT bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sum_y
        |FROM p GROUP BY 1
        |UNION ALL
        |SELECT label + 100 AS bucket, COUNT(*) AS n,
        |  CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sum_y
        |FROM lab WHERE label <> 0 GROUP BY 1
        |ORDER BY bucket""".stripMargin,
    "q68_geoparquet_shapes" ->
      """WITH b AS (
        |  SELECT s_suppkey AS index,
        |    CAST((s_suppkey * 7) % 50 AS DOUBLE) AS x0,
        |    CAST((s_suppkey * 3) % 40 AS DOUBLE) AS y0,
        |    2.0 + CAST(s_suppkey % 5 AS DOUBLE) AS w
        |  FROM supplier)
        |SELECT index, 'polygon' AS geom_type, w * (w * 2) AS area,
        |  x0 AS minx, y0 AS miny, x0 + w AS maxx, y0 + w * 2 AS maxy
        |FROM b ORDER BY index""".stripMargin,
    "q62_ngff_labels" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 48 AS INT) AS y, CAST(user_id % 48 AS INT) AS x,
        |         MAX(event_id % 9) AS label
        |  FROM events GROUP BY 1, 2)
        |SELECT label, COUNT(*) AS n_px FROM px
        |WHERE label <> 0 GROUP BY label ORDER BY label""".stripMargin,
    "q77_ngff_3d_labels" ->
      """WITH vox AS (
        |  SELECT CAST(event_id % 4 AS INT) AS z, CAST(event_id % 32 AS INT) AS y,
        |         CAST(user_id % 32 AS INT) AS x, CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT z, COUNT(*) AS n_px,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total,
        |  CAST(SUM((y * 32 + x) * CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS pos_weighted
        |FROM vox GROUP BY z ORDER BY z""".stripMargin,
    "q78_zonal_stats_3d" ->
      """WITH lab AS (
        |  SELECT CAST(event_id % 4 AS INT) AS z, CAST(event_id % 32 AS INT) AS y,
        |         CAST(user_id % 32 AS INT) AS x, COUNT(*) AS label
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT label, 0 AS c,
        |  CAST(SUM(CAST(z * 1024 + y * 32 + x AS DECIMAL(28,6))) AS DOUBLE) AS value
        |FROM lab GROUP BY label ORDER BY label""".stripMargin
  )
}
