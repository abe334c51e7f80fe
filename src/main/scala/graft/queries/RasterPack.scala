package graft.queries

import graft.{QueryPack, Tables}
import graft.geom.st._
import graft.ops.{RasterOps, Vectorize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raster/vectorize correctness-gate queries (SURVEY.md §2.6). */
object RasterPack extends QueryPack {

  private def points(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      (col("l_extendedprice") / 1000.0).as("x"),
      col("l_quantity").as("y"),
      col("l_returnflag").as("category"))

  private val pointsSql =
    "SELECT l_extendedprice / 1000.0 AS x, l_quantity AS y, l_returnflag AS category FROM lineitem"

  // deterministic label field over distinct event pixels (label = f(y,x)
  // so deduplication cannot create label conflicts)
  private def eventLabels(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      (col("event_id") % 48).cast("int").as("y"),
      (col("user_id") % 48).cast("int").as("x"))
      .distinct()
      .withColumn("label", (col("y") * 131 + col("x")) % 9)

  private val eventLabelsSql =
    """SELECT y, x, (y * 131 + x) % 9 AS label FROM (
      |  SELECT DISTINCT CAST(event_id % 48 AS INT) AS y, CAST(user_id % 48 AS INT) AS x
      |  FROM events)""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // rasterize points -> count per pixel (datashader Canvas.points with
    // count reduction, rasterize.py:694-710).
    "q30_rasterize_points_count" -> ((s, d) => {
      RasterOps.rasterizePoints(points(s, d), 0.0, 0.0, 4.0, 2.0, 32, 32)
        .orderBy(col("y"), col("x"))
    }),

    // categorical rasterize (count_cat): sum of an integral value per
    // (pixel, category) -> multi-channel image (rasterize.py:669-710).
    "q31_rasterize_sum_cat" -> ((s, d) => {
      RasterOps.rasterizePoints(points(s, d), 0.0, 0.0, 4.0, 2.0, 32, 32,
        valueCol = Some("y"), aggFunc = "sum", categoryCol = Some("category"))
        .orderBy(col("y"), col("x"), col("category"))
    }),

    // pyramid coarsen: 2x2 mean over integral pixel values
    // (models.py:234-263 multiscale build).
    "q32_pyramid_coarsen" -> ((s, d) => {
      val pixels = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"),
        (col("event_id") % 100).cast("double").as("value"))
        .groupBy("y", "x").agg(sum(col("value")).as("value"))
        .withColumn("c", lit(0))
      RasterOps.coarsenImage(pixels).orderBy(col("y"), col("x"))
        .select(col("y"), col("x"), col("value"))
    }),

    // order-0 affine resample: 2x upscale of a label grid via inverse-affine
    // gather (rasterize.py:375-613).
    "q33_affine_resample" -> ((s, d) => {
      val src = s.range(32 * 32).select(
        (col("id") / 32).cast("int").as("y"),
        (col("id") % 32).cast("int").as("x"),
        (col("id") % 13).as("label"))
      RasterOps.affineResample(src, "label", Array(0.5, 0, 0, 0, 0.5, 0), 64, 64)
        .orderBy(col("y"), col("x"))
    }),

    // labels -> equal-area circles (vectorize.py:39-156): center = mean
    // pixel coordinate, radius = sqrt(count/pi).
    "q34_to_circles_labels" -> ((s, d) => {
      Vectorize.labelsToCircles(eventLabels(s, d))
        .orderBy(col("index"))
    }),

    // relabel_sequential (map.py:219-253): compact ids to 1..n, 0 stays.
    "q35_relabel_sequential" -> ((s, d) => {
      val lbl = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"),
        (col("event_id") * 37 % 97).as("label"))
      RasterOps.relabelSequential(lbl).orderBy(col("y"), col("x"), col("label"))
    }),

    // labels -> boundary polygons (vectorize.py:160-302): traced polygon
    // area must equal the pixel count per label — an exact invariant of the
    // edge-walk tracer, checkable in SQL.
    "q36_to_polygons_area" -> ((s, d) => {
      Vectorize.labelsToPolygons(eventLabels(s, d))
        .select(col("index"), st_area(col("geometry")).as("area"))
        .orderBy(col("index"))
    }),

    // multiscale bbox query: a bbox crop of a 3-level tiled pyramid keeps
    // overlapping tiles at EVERY scale, each level tested through its own
    // dyadic scale transform (spatial_query.py:537-615 DataTree slicing)
    "q121_multiscale_bbox" -> ((s, d) => {
      // dense 64x64 grid (range fixture like q33) so every 2x2 mean divides
      // by exactly 4 — all pyramid values stay dyadic-exact doubles and the
      // tile sums are addition-order-independent across engines
      val pixels = s.range(64 * 64).select(
        (col("id") / 64).cast("int").as("y"),
        (col("id") % 64).cast("int").as("x"),
        (col("id") * 37 % 100 + 1).cast("double").as("value"))
        .withColumn("c", lit(0))
      val pyramid = RasterOps.buildPyramid(pixels, levels = 2) // scales 0..2
      val tiles = (0 to 2).map { lvl =>
        RasterOps.pixelsToTiles(pyramid.filter(col("scale") === lvl).drop("scale"),
          tileSize = 16, scale = lvl)
      }.reduce(_ unionByName _)
      val cropped = graft.query.SpatialQuery.boundingBoxImageTiles(
        tiles, graft.model.IdentityT, Seq(20.0, 20.0), Seq(40.0, 40.0), tileSize = 16)
      cropped.select(col("scale"), col("tile_y"), col("tile_x"),
        aggregate(col("px"), lit(0.0), (a, x) => a + x).as("px_sum"),
        size(filter(col("px"), x => x =!= 0.0)).cast("long").as("n_filled"))
        .orderBy(col("scale"), col("tile_y"), col("tile_x"))
    }),

    // multiscale POLYGON query: the reference lowers polygon-on-raster to
    // the polygon's bounding box (spatial_query.py:874-892); same 3-level
    // pyramid as q121, cropped by a triangle's envelope through each
    // level's dyadic transform
    "q161_multiscale_polygon" -> ((s, d) => {
      val pixels = s.range(64 * 64).select(
        (col("id") / 64).cast("int").as("y"),
        (col("id") % 64).cast("int").as("x"),
        (col("id") * 37 % 100 + 1).cast("double").as("value"))
        .withColumn("c", lit(0))
      val pyramid = RasterOps.buildPyramid(pixels, levels = 2) // scales 0..2
      val tiles = (0 to 2).map { lvl =>
        RasterOps.pixelsToTiles(pyramid.filter(col("scale") === lvl).drop("scale"),
          tileSize = 16, scale = lvl)
      }.reduce(_ unionByName _)
      val tri = graft.geom.WKB.write(graft.geom.GPolygon(
        Array(Array(20.0, 10, 44, 18, 28, 42))))
      val cropped = graft.query.SpatialQuery.polygonQueryImageTiles(
        tiles, graft.model.IdentityT, tri, tileSize = 16)
      cropped.select(col("scale"), col("tile_y"), col("tile_x"),
        aggregate(col("px"), lit(0.0), (a, x) => a + x).as("px_sum"),
        size(filter(col("px"), x => x =!= 0.0)).cast("long").as("n_filled"))
        .orderBy(col("scale"), col("tile_y"), col("tile_x"))
    }),

    // unpad (reference _utils.py:71-160): strip zero margins, shift to origin.
    // distributed connected-component labeling: tile-local union-find +
    // boundary-strip merge through graph CC; the bars+dots mask has
    // CLOSED-FORM components (one welded bar grid + isolated dots), so
    // the oracle states the labeling without ever running a fill
    "q313_label_components" -> ((s, d) => {
      val H = 48; val W = 64
      val pix = s.range(0, H.toLong * W).select(
          (col("id") / W).cast("int").as("y"),
          (col("id") % W).cast("int").as("x"))
        .withColumn("bar", col("y") % 7 < 2 || col("x") % 11 < 2)
        .withColumn("dot", col("y") % 7 >= 3 && col("y") % 7 <= 5 &&
          col("x") % 11 >= 3 && col("x") % 11 <= 9 &&
          (col("y") * 31 + col("x") * 17) % 29 === 0)
        .select(col("y"), col("x"),
          when(col("bar") || col("dot"), 1.0).otherwise(0.0).as("value"))
      val tiles = RasterOps.pixelsToTilesExact(pix, H, W, tileSize = 16,
        channelCol = None)
      RasterOps.labelConnected(tiles, widthPx = W, tileSize = 16)
        .orderBy(col("y"), col("x"))
    }),

    // at-rest tile store crop through the zone-map sidecar
    // (ops/TileLayout): the mask written as a blocked tile layout plus an
    // APPENDED second scale level (must be pruned away), cropped to tiles
    // (1..2, 1..3) at scale 0 — only intersecting block dirs are scanned
    // (RasterZoneSpec pins the PartitionFilters shape); pixels of the
    // cropped tiles vs the closed-form mask restricted to the same box
    "q368_tile_store_crop" -> ((s, d) => {
      val H = 48; val W = 64
      val pix = s.range(0, H.toLong * W).select(
          (col("id") / W).cast("int").as("y"),
          (col("id") % W).cast("int").as("x"))
        .withColumn("bar", col("y") % 7 < 2 || col("x") % 11 < 2)
        .withColumn("dot", col("y") % 7 >= 3 && col("y") % 7 <= 5 &&
          col("x") % 11 >= 3 && col("x") % 11 <= 9 &&
          (col("y") * 31 + col("x") * 17) % 29 === 0)
        .select(col("y"), col("x"),
          when(col("bar") || col("dot"), 1.0).otherwise(0.0).as("value"))
      val tiles = RasterOps.pixelsToTilesExact(pix, H, W, tileSize = 16,
        channelCol = None)
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("t").toString
        graft.ops.TileLayout.write(tiles, path, blockTiles = 2)
        graft.ops.TileLayout.append(tiles.withColumn("scale", lit(1)), path)
        RasterOps.tilesToPixels(
            graft.ops.TileLayout.crop(s, path, scale = 0, 1, 2, 1, 3),
            tileSize = 16)
          .select(col("y"), col("x"), col("value"))
          .orderBy(col("y"), col("x"))
      }
    }),

    // region properties over the CCL labeling: per-blob count, bbox,
    // snapped centroid — same closed-form mask as q313
    "q314_component_stats" -> ((s, d) => {
      val H = 48; val W = 64
      val pix = s.range(0, H.toLong * W).select(
          (col("id") / W).cast("int").as("y"),
          (col("id") % W).cast("int").as("x"))
        .withColumn("bar", col("y") % 7 < 2 || col("x") % 11 < 2)
        .withColumn("dot", col("y") % 7 >= 3 && col("y") % 7 <= 5 &&
          col("x") % 11 >= 3 && col("x") % 11 <= 9 &&
          (col("y") * 31 + col("x") * 17) % 29 === 0)
        .select(col("y"), col("x"),
          when(col("bar") || col("dot"), 1.0).otherwise(0.0).as("value"))
      val tiles = RasterOps.pixelsToTilesExact(pix, H, W, tileSize = 16,
        channelCol = None)
      RasterOps.componentStats(
        RasterOps.labelConnected(tiles, widthPx = W, tileSize = 16))
        .orderBy(col("component"))
    }),

    // 3D CCL (6-connectivity) over z-stacked tiles: per-plane union-find
    // + in-plane strips + full-face z-edges through graph CC. The mask is
    // closed-form in 3D: the bar lattice repeats on every plane and welds
    // through z into ONE component (min voxel id 0); each dot is chosen so
    // no two are 6-adjacent (the %29 residue shifts by 2/17/12 per
    // y/x/z step) — a 1-voxel component at its own id
    "q358_label_components_3d" -> ((s, d) => {
      val Z = 3; val H = 32; val W = 32
      val pix = s.range(0, Z.toLong * H * W).select(
          (col("id") / (H * W)).cast("int").as("z"),
          ((col("id") % (H * W)) / W).cast("int").as("y"),
          (col("id") % W).cast("int").as("x"))
        .withColumn("bar", col("y") % 7 < 2 || col("x") % 11 < 2)
        .withColumn("dot", col("y") % 7 >= 3 && col("y") % 7 <= 5 &&
          col("x") % 11 >= 3 && col("x") % 11 <= 9 &&
          (col("y") * 31 + col("x") * 17 + col("z") * 41) % 29 === 0)
        .select(lit(0).as("c"), col("z"), col("y"), col("x"),
          when(col("bar") || col("dot"), 1.0).otherwise(0.0).as("value"))
      val tiles = RasterOps.pixelsToTiles3d(pix, tileSize = 16)
      RasterOps.labelConnected3d(tiles, heightPx = H, widthPx = W, tileSize = 16)
        .orderBy(col("z"), col("y"), col("x"))
    }),

    // 3D regionprops over the q358 labeling — same closed-form mask, one
    // keyed aggregation per blob (voxel count, 3D bbox, snapped centroid)
    "q359_component_stats_3d" -> ((s, d) => {
      val Z = 3; val H = 32; val W = 32
      val pix = s.range(0, Z.toLong * H * W).select(
          (col("id") / (H * W)).cast("int").as("z"),
          ((col("id") % (H * W)) / W).cast("int").as("y"),
          (col("id") % W).cast("int").as("x"))
        .withColumn("bar", col("y") % 7 < 2 || col("x") % 11 < 2)
        .withColumn("dot", col("y") % 7 >= 3 && col("y") % 7 <= 5 &&
          col("x") % 11 >= 3 && col("x") % 11 <= 9 &&
          (col("y") * 31 + col("x") * 17 + col("z") * 41) % 29 === 0)
        .select(lit(0).as("c"), col("z"), col("y"), col("x"),
          when(col("bar") || col("dot"), 1.0).otherwise(0.0).as("value"))
      val tiles = RasterOps.pixelsToTiles3d(pix, tileSize = 16)
      RasterOps.componentStats3d(
        RasterOps.labelConnected3d(tiles, heightPx = H, widthPx = W, tileSize = 16))
        .orderBy(col("component"))
    }),

    // binary dilation (flat 3x3 structuring element) with mirror
    // boundary — the morphology twin of q199's blur, exact value copies
    "q315_dilate" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 60).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).as("cnt"))
      val grid = s.range(64L * 60)
        .select(lit(0).as("c"), (col("id") / 60).cast("int").as("y"),
          (col("id") % 60).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          when(col("cnt").isNotNull, 1.0).otherwise(0.0).as("value"))
      val tiles = RasterOps.pixelsToTilesExact(pixels, 64, 60, tileSize = 16)
      val dil = RasterOps.morphBox(tiles, depth = 1, dilate = true,
        tileSize = 16, boundary = RasterOps.Boundary.Reflect)
      RasterOps.tilesToPixels(dil, tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    "q37_unpad" -> ((s, d) => {
      val pixels = Tables.events(s, d).select(
        (col("event_id") % 40 + 7).cast("int").as("y"),
        (col("user_id") % 40 + 3).cast("int").as("x"),
        col("value").as("value"))
        .groupBy("y", "x").agg(count(lit(1)).cast("double").as("value"))
      RasterOps.unpad(pixels).orderBy(col("y"), col("x"))
    }),

    // 3D POINT BURN (rasterize with spatial_axes={"x","y","z"} +
    // target_depth, rasterize.py:86-140): the events point cloud binned
    // into an 8x8x4 voxel grid, sum of an integral weight per voxel —
    // one partial-aggregated groupBy, the z-generalized q30/q31 path.
    // Half-integer coordinates and power-of-two bin widths keep every
    // floor exact in both engines.
    "q362_rasterize3d_points" -> ((s, d) => {
      val pts = Tables.events(s, d).select(
        (col("user_id") % 32 + 0.5).as("x"),
        (col("event_id") % 32 + 0.5).as("y"),
        (col("event_id") % 8 + 0.5).as("z"),
        (col("event_id") % 100 + col("user_id") % 50).as("v"))
      RasterOps.rasterizePoints3d(pts, 0.0, 0.0, 0.0, 4.0, 4.0, 2.0,
        8, 8, 4, valueCol = Some("v"), aggFunc = "sum")
        .orderBy(col("z"), col("y"), col("x"))
    }),

    // 3D ORDER-0 RESAMPLE through a rotation+scale (transform.py:38-105
    // is dim-generic via dask_image): a dense 8x16x16 volume gathered
    // into a 16x16x8 target through cs = (rot90 in xy) . scale(2) —
    // exercises the 4x4 homogeneous inverse and the level/grid fold; the
    // closed form is out(z,y,x) = src(z, 15-x, y), which the oracle
    // recomputes densely. All matrix entries are powers of two, so the
    // Gauss-Jordan inverse and every gather coordinate are exact.
    "q363_resample3d_rotate" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 8).cast("int").as("z"),
        (col("event_id") % 16).cast("int").as("y"),
        (col("user_id") % 16).cast("int").as("x"))
        .groupBy("z", "y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(8L * 16 * 16).select(
        (col("id") / 256).cast("int").as("z"),
        ((col("id") % 256) / 16).cast("int").as("y"),
        (col("id") % 16).cast("int").as("x"))
      val vox = grid.join(counts, Seq("z", "y", "x"), "left")
        .select(col("z"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      // src -> cs: cs_x = -2*src_y, cs_y = 2*src_x, cs_z = 2*src_z
      val t = graft.model.AffineT(graft.model.Matrix(4, 4, Array(
        0, -2, 0, 0,
        2, 0, 0, 0,
        0, 0, 2, 0,
        0, 0, 0, 1)), Seq("x", "y", "z"), Seq("x", "y", "z"))
      RasterOps.rasterizeRaster3d(vox, "value", t,
        Seq(-32.0, 0.0, 0.0), Seq(0.0, 32.0, 16.0), 16, 16, 8)._1
        .orderBy(col("z"), col("y"), col("x"))
    }),

    // 3D PYRAMID COARSEN (3D multiscales, models.py:234-263): one level
    // down over a dense 8x32x32 volume = 2x2x2 mean — the avg-of-8
    // oracle; sums of small integers stay exact and /8 is a power-of-two
    // divide, so the compare is bit-level.
    "q364_pyramid3d_coarsen" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 8).cast("int").as("z"),
        (col("event_id") % 32).cast("int").as("y"),
        (col("user_id") % 32).cast("int").as("x"))
        .groupBy("z", "y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(8L * 32 * 32).select(lit(0).as("c"),
        (col("id") / 1024).cast("int").as("z"),
        ((col("id") % 1024) / 32).cast("int").as("y"),
        (col("id") % 32).cast("int").as("x"))
      val vox = grid.join(counts, Seq("z", "y", "x"), "left")
        .select(col("c"), col("z"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      RasterOps.buildPyramid(vox, levels = 1)
        .filter(col("scale") === 1)
        .select(col("z"), col("y"), col("x"), col("value"))
        .orderBy(col("z"), col("y"), col("x"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    // closed-form labeling: the bar grid is ONE component whose min
    // pixel is (0,0); every dot is its own singleton
    "q313_label_components" ->
      """WITH g AS (
        |  SELECT CAST(r // 64 AS INT) AS y, CAST(r % 64 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 3072)) AS r)),
        |fg AS (SELECT y, x,
        |    (y % 7 < 2 OR x % 11 < 2) AS bar,
        |    (y % 7 BETWEEN 3 AND 5 AND x % 11 BETWEEN 3 AND 9
        |      AND (y*31 + x*17) % 29 = 0) AS dot
        |  FROM g)
        |SELECT y, x,
        |  CAST(CASE WHEN bar THEN 0 ELSE y*64 + x END AS BIGINT) AS component
        |FROM fg WHERE bar OR dot ORDER BY y, x""".stripMargin,

    // the crop box is tiles (1..2, 1..3) at size 16 → y 16..47, x 16..63;
    // the oracle re-derives the mask arithmetically over just that box
    // (it never sees the tile store, the block dirs, or the sidecar)
    "q368_tile_store_crop" ->
      """WITH g AS (
        |  SELECT CAST(r // 64 AS INT) AS y, CAST(r % 64 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 3072)) AS r)),
        |box AS (SELECT y, x FROM g
        |  WHERE y BETWEEN 16 AND 47 AND x BETWEEN 16 AND 63)
        |SELECT y, x,
        |  CASE WHEN (y % 7 < 2 OR x % 11 < 2)
        |        OR (y % 7 BETWEEN 3 AND 5 AND x % 11 BETWEEN 3 AND 9
        |            AND (y*31 + x*17) % 29 = 0)
        |    THEN 1.0 ELSE 0.0 END AS value
        |FROM box ORDER BY y, x""".stripMargin,

    // per-component closed-form stats: bar grid = one blob spanning the
    // full extent; each dot a 1-pixel blob at itself
    "q314_component_stats" ->
      """WITH g AS (
        |  SELECT CAST(r // 64 AS INT) AS y, CAST(r % 64 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 3072)) AS r)),
        |fg AS (SELECT y, x,
        |    (y % 7 < 2 OR x % 11 < 2) AS bar,
        |    (y % 7 BETWEEN 3 AND 5 AND x % 11 BETWEEN 3 AND 9
        |      AND (y*31 + x*17) % 29 = 0) AS dot
        |  FROM g),
        |pix AS (SELECT y, x,
        |    CAST(CASE WHEN bar THEN 0 ELSE y*64 + x END AS BIGINT) AS component
        |  FROM fg WHERE bar OR dot)
        |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_pixels,
        |  MIN(y) AS min_y, MAX(y) AS max_y,
        |  MIN(x) AS min_x, MAX(x) AS max_x,
        |  FLOOR(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
        |    AS centroid_y,
        |  FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6
        |    AS centroid_x
        |FROM pix GROUP BY component ORDER BY component""".stripMargin,

    // closed-form 3D labeling: welded bar lattice = component 0 (voxel
    // (0,0,0) is a bar), every dot its own voxel id z*1024 + y*32 + x
    "q358_label_components_3d" ->
      """WITH g AS (
        |  SELECT CAST(r // 1024 AS INT) AS z,
        |         CAST((r % 1024) // 32 AS INT) AS y,
        |         CAST(r % 32 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 3072)) AS r)),
        |fg AS (SELECT z, y, x,
        |    (y % 7 < 2 OR x % 11 < 2) AS bar,
        |    (y % 7 BETWEEN 3 AND 5 AND x % 11 BETWEEN 3 AND 9
        |      AND (y*31 + x*17 + z*41) % 29 = 0) AS dot
        |  FROM g)
        |SELECT z, y, x,
        |  CAST(CASE WHEN bar THEN 0 ELSE z*1024 + y*32 + x END AS BIGINT) AS component
        |FROM fg WHERE bar OR dot ORDER BY z, y, x""".stripMargin,

    // per-component closed-form 3D stats over the q358 labeling
    "q359_component_stats_3d" ->
      """WITH g AS (
        |  SELECT CAST(r // 1024 AS INT) AS z,
        |         CAST((r % 1024) // 32 AS INT) AS y,
        |         CAST(r % 32 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 3072)) AS r)),
        |fg AS (SELECT z, y, x,
        |    (y % 7 < 2 OR x % 11 < 2) AS bar,
        |    (y % 7 BETWEEN 3 AND 5 AND x % 11 BETWEEN 3 AND 9
        |      AND (y*31 + x*17 + z*41) % 29 = 0) AS dot
        |  FROM g),
        |vox AS (SELECT z, y, x,
        |    CAST(CASE WHEN bar THEN 0 ELSE z*1024 + y*32 + x END AS BIGINT) AS component
        |  FROM fg WHERE bar OR dot)
        |SELECT component, CAST(COUNT(*) AS BIGINT) AS n_voxels,
        |  MIN(z) AS min_z, MAX(z) AS max_z,
        |  MIN(y) AS min_y, MAX(y) AS max_y,
        |  MIN(x) AS min_x, MAX(x) AS max_x,
        |  FLOOR(CAST(SUM(z) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS centroid_z,
        |  FLOOR(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS centroid_y,
        |  FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS centroid_x
        |FROM vox GROUP BY component ORDER BY component""".stripMargin,

    // 3x3 mirror-boundary MAX over the binarized grid
    "q315_dilate" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 60 AS INT) AS x
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 60 AS INT) AS y, CAST(i % 60 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 3840)) AS i)),
        |dense AS (
        |  SELECT g.y, g.x,
        |    CASE WHEN px.y IS NOT NULL THEN 1.0 ELSE 0.0 END AS v
        |  FROM grid g LEFT JOIN px ON px.y = g.y AND px.x = g.x),
        |offs AS (
        |  SELECT dy, dx
        |  FROM (SELECT unnest(range(-1, 2)) AS dy), (SELECT unnest(range(-1, 2)) AS dx))
        |SELECT d.y, d.x, MAX(n.v) AS value
        |FROM dense d
        |JOIN offs o ON TRUE
        |JOIN dense n
        |  ON n.y = CASE WHEN d.y + o.dy < 0 THEN -(d.y + o.dy) - 1
        |                WHEN d.y + o.dy >= 64 THEN 127 - (d.y + o.dy)
        |                ELSE d.y + o.dy END
        | AND n.x = CASE WHEN d.x + o.dx < 0 THEN -(d.x + o.dx) - 1
        |                WHEN d.x + o.dx >= 60 THEN 119 - (d.x + o.dx)
        |                ELSE d.x + o.dx END
        |GROUP BY d.y, d.x
        |ORDER BY d.y, d.x""".stripMargin,

    "q30_rasterize_points_count" ->
      s"""SELECT CAST(FLOOR(y / 2.0) AS INT) AS y, CAST(FLOOR(x / 4.0) AS INT) AS x,
         |  COUNT(*) AS value
         |FROM ($pointsSql)
         |WHERE FLOOR(x / 4.0) >= 0 AND FLOOR(x / 4.0) < 32
         |  AND FLOOR(y / 2.0) >= 0 AND FLOOR(y / 2.0) < 32
         |GROUP BY 1, 2 ORDER BY y, x""".stripMargin,
    "q31_rasterize_sum_cat" ->
      s"""SELECT CAST(FLOOR(y / 2.0) AS INT) AS y, CAST(FLOOR(x / 4.0) AS INT) AS x,
         |  category, SUM(y) AS value
         |FROM ($pointsSql)
         |WHERE FLOOR(x / 4.0) >= 0 AND FLOOR(x / 4.0) < 32
         |  AND FLOOR(y / 2.0) >= 0 AND FLOOR(y / 2.0) < 32
         |GROUP BY 1, 2, 3 ORDER BY y, x, category""".stripMargin,
    "q32_pyramid_coarsen" ->
      """SELECT CAST(y // 2 AS INT) AS y, CAST(x // 2 AS INT) AS x, AVG(value) AS value
        |FROM (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         SUM(CAST(event_id % 100 AS DOUBLE)) AS value
        |  FROM events GROUP BY 1, 2)
        |GROUP BY 1, 2 ORDER BY y, x""".stripMargin,
    "q33_affine_resample" ->
      """SELECT CAST(o.id // 64 AS INT) AS y, CAST(o.id % 64 AS INT) AS x,
        |  (((o.id // 64) // 2) * 32 + ((o.id % 64) // 2)) % 13 AS label
        |FROM range(4096) o(id) ORDER BY y, x""".stripMargin,
    "q34_to_circles_labels" ->
      s"""SELECT label AS index, AVG(x) AS x, AVG(y) AS y,
         |  SQRT(COUNT(*) / PI()) AS radius
         |FROM ($eventLabelsSql) WHERE label <> 0
         |GROUP BY label ORDER BY index""".stripMargin,
    "q35_relabel_sequential" ->
      """WITH lbl AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         event_id * 37 % 97 AS label FROM events),
        |m AS (SELECT label, DENSE_RANK() OVER (ORDER BY label) AS new FROM
        |      (SELECT DISTINCT label FROM lbl WHERE label <> 0))
        |SELECT lbl.y, lbl.x, COALESCE(m.new, 0) AS label
        |FROM lbl LEFT JOIN m ON lbl.label = m.label
        |ORDER BY y, x, label""".stripMargin,
    "q36_to_polygons_area" ->
      s"""SELECT label AS index, CAST(COUNT(*) AS DOUBLE) AS area
         |FROM ($eventLabelsSql) WHERE label <> 0
         |GROUP BY label ORDER BY index""".stripMargin,
    "q121_multiscale_bbox" ->
      """WITH p0 AS (
        |  SELECT CAST(id // 64 AS INT) AS y, CAST(id % 64 AS INT) AS x,
        |         CAST(id * 37 % 100 + 1 AS DOUBLE) AS value
        |  FROM range(4096) t(id)),
        |p1 AS (SELECT CAST(y // 2 AS INT) AS y, CAST(x // 2 AS INT) AS x, AVG(value) AS value
        |       FROM p0 GROUP BY 1, 2),
        |p2 AS (SELECT CAST(y // 2 AS INT) AS y, CAST(x // 2 AS INT) AS x, AVG(value) AS value
        |       FROM p1 GROUP BY 1, 2),
        |pyr AS (
        |  SELECT 0 AS scale, y, x, value FROM p0
        |  UNION ALL SELECT 1, y, x, value FROM p1
        |  UNION ALL SELECT 2, y, x, value FROM p2),
        |tiles AS (
        |  SELECT scale, CAST(y // 16 AS INT) AS tile_y, CAST(x // 16 AS INT) AS tile_x,
        |         SUM(value) AS px_sum, COUNT(*) AS n_filled
        |  FROM pyr GROUP BY 1, 2, 3)
        |SELECT scale, tile_y, tile_x, px_sum, n_filled FROM tiles
        |WHERE tile_x * 16 * POWER(2, scale) <= 40 AND (tile_x * 16 + 16) * POWER(2, scale) >= 20
        |  AND tile_y * 16 * POWER(2, scale) <= 40 AND (tile_y * 16 + 16) * POWER(2, scale) >= 20
        |ORDER BY scale, tile_y, tile_x""".stripMargin,
    // the triangle (20,10)-(44,18)-(28,42) has envelope [20,10]..[44,42];
    // the oracle recomputes that envelope by hand — independent of the
    // WKB/transform machinery the Spark side routes through
    "q161_multiscale_polygon" ->
      """WITH p0 AS (
        |  SELECT CAST(id // 64 AS INT) AS y, CAST(id % 64 AS INT) AS x,
        |         CAST(id * 37 % 100 + 1 AS DOUBLE) AS value
        |  FROM range(4096) t(id)),
        |p1 AS (SELECT CAST(y // 2 AS INT) AS y, CAST(x // 2 AS INT) AS x, AVG(value) AS value
        |       FROM p0 GROUP BY 1, 2),
        |p2 AS (SELECT CAST(y // 2 AS INT) AS y, CAST(x // 2 AS INT) AS x, AVG(value) AS value
        |       FROM p1 GROUP BY 1, 2),
        |pyr AS (
        |  SELECT 0 AS scale, y, x, value FROM p0
        |  UNION ALL SELECT 1, y, x, value FROM p1
        |  UNION ALL SELECT 2, y, x, value FROM p2),
        |tiles AS (
        |  SELECT scale, CAST(y // 16 AS INT) AS tile_y, CAST(x // 16 AS INT) AS tile_x,
        |         SUM(value) AS px_sum, COUNT(*) AS n_filled
        |  FROM pyr GROUP BY 1, 2, 3)
        |SELECT scale, tile_y, tile_x, px_sum, n_filled FROM tiles
        |WHERE tile_x * 16 * POWER(2, scale) <= 44 AND (tile_x * 16 + 16) * POWER(2, scale) >= 20
        |  AND tile_y * 16 * POWER(2, scale) <= 42 AND (tile_y * 16 + 16) * POWER(2, scale) >= 10
        |ORDER BY scale, tile_y, tile_x""".stripMargin,
    "q37_unpad" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 40 + 7 AS INT) AS y, CAST(user_id % 40 + 3 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM events GROUP BY 1, 2),
        |ext AS (SELECT min(y) AS y0, min(x) AS x0 FROM px WHERE value <> 0)
        |SELECT px.y - ext.y0 AS y, px.x - ext.x0 AS x, px.value
        |FROM px, ext ORDER BY y, x""".stripMargin,

    "q362_rasterize3d_points" ->
      """SELECT CAST(FLOOR((event_id % 8 + 0.5) / 2.0) AS INT) AS z,
        |  CAST(FLOOR((event_id % 32 + 0.5) / 4.0) AS INT) AS y,
        |  CAST(FLOOR((user_id % 32 + 0.5) / 4.0) AS INT) AS x,
        |  CAST(SUM(event_id % 100 + user_id % 50) AS BIGINT) AS value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // out(z, y, x) = src(z, 15 - x, y): the closed form of the
    // rot90+scale2 inverse gather over half-integer voxel centers
    "q363_resample3d_rotate" ->
      """WITH vox AS (
        |  SELECT CAST(event_id % 8 AS INT) AS z, CAST(event_id % 16 AS INT) AS y,
        |         CAST(user_id % 16 AS INT) AS x, CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT CAST(i // 256 AS INT) AS z, CAST((i % 256) // 16 AS INT) AS y,
        |         CAST(i % 16 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 2048)) AS i)),
        |dense AS (
        |  SELECT g.z, g.y, g.x, COALESCE(v.v, 0.0) AS v
        |  FROM grid g LEFT JOIN vox v ON v.z = g.z AND v.y = g.y AND v.x = g.x)
        |SELECT o.z, o.y, o.x, d.v AS value
        |FROM grid o JOIN dense d
        |  ON d.z = o.z AND d.y = 15 - o.x AND d.x = o.y
        |ORDER BY o.z, o.y, o.x""".stripMargin,

    "q364_pyramid3d_coarsen" ->
      """WITH vox AS (
        |  SELECT CAST(event_id % 8 AS INT) AS z, CAST(event_id % 32 AS INT) AS y,
        |         CAST(user_id % 32 AS INT) AS x, CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT CAST(i // 1024 AS INT) AS z, CAST((i % 1024) // 32 AS INT) AS y,
        |         CAST(i % 32 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 8192)) AS i)),
        |dense AS (
        |  SELECT g.z, g.y, g.x, COALESCE(v.v, 0.0) AS v
        |  FROM grid g LEFT JOIN vox v ON v.z = g.z AND v.y = g.y AND v.x = g.x)
        |SELECT CAST(z // 2 AS INT) AS z, CAST(y // 2 AS INT) AS y,
        |  CAST(x // 2 AS INT) AS x, AVG(v) AS value
        |FROM dense GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin
  )
}
