package graft.ops

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The ML-training tile access path: the Spark-native analog of the
  * reference's `ImageTilesDataset` dataloader
  * (`reference/src/spatialdata/dataloader/datasets.py:41-509`).
  *
  * The reference precomputes one tile bbox per region at init
  * (`_get_tile_coords`, datasets.py:473-509: regions -> circles, centroid
  * in the target cs, extent = 2*radius*tile_scale or tile_dim_in_units)
  * and crops tiles on `__getitem__` via the vectorized multi-box
  * bounding-box query (datasets.py:254-265). Here both steps are
  * DataFrames end to end:
  *
  *  - [[tileCoords]] is a pure projection over the regions table — a
  *    billion regions is a billion-row DataFrame, not a driver loop.
  *  - [[cropTiles]] joins the pixel table to the tile table through the
  *    same grid-bucket equi-join as the spatial joins (each tile explodes
  *    onto the grid cells its bbox covers; each pixel carries one cell) —
  *    the whole epoch's tile batch materializes in one distributed pass
  *    instead of 500k point lookups.
  *  - [[tileBatch]] assembles per-tile dense payload arrays
  *    `(instance_id, c, th, tw, px)` + optional table label, i.e. the
  *    (tile tensor, label) pairs a training loop consumes.
  */
object ImageTiles {

  /** Per-region tile bboxes (`_get_tile_coords`, datasets.py:473-509).
    *
    * `regions` is a shapes element (circles or polygons — polygons reduce
    * to equal-area circles exactly like `to_circles`); the centroid is
    * transformed into the target cs by `t`, the radius scaled by the mean
    * scale factor (matching `transform(circles, ...)` semantics). Output:
    * `(instance_id, x, y, extent, minx, miny, maxx, maxy)`.
    */
  def tileCoords(regions: DataFrame, t: Transform = IdentityT,
      tileScale: Double = 1.0, tileDimInUnits: Option[Double] = None): DataFrame = {
    val m = t.toAffineMatrix(Seq("x", "y"), Seq("x", "y"))
    val radiusScale = (math.sqrt(m(0, 0) * m(0, 0) + m(1, 0) * m(1, 0)) +
      math.sqrt(m(0, 1) * m(0, 1) + m(1, 1) * m(1, 1))) / 2.0
    val circles = Vectorize.shapesToCircles(regions)
    val cx = lit(m(0, 0)) * col("x") + lit(m(0, 1)) * col("y") + lit(m(0, 2))
    val cy = lit(m(1, 0)) * col("x") + lit(m(1, 1)) * col("y") + lit(m(1, 2))
    val extent = tileDimInUnits match {
      case Some(d) => lit(d)
      case None => col("radius") * lit(radiusScale) * lit(2.0 * tileScale)
    }
    circles.select(col("index").as("instance_id"), cx.as("x"), cy.as("y"),
        extent.as("extent"))
      .withColumn("minx", col("x") - col("extent") / 2)
      .withColumn("miny", col("y") - col("extent") / 2)
      .withColumn("maxx", col("x") + col("extent") / 2)
      .withColumn("maxy", col("y") + col("extent") / 2)
  }

  /** Integer slice bounds of a tile, mirroring the reference's raster
    * bounding-box query (`slice(floor(min), ceil(max))` on the pixel grid).
    */
  private def sliceCols(coords: DataFrame): DataFrame = coords
    .withColumn("y0", floor(col("miny")).cast("int"))
    .withColumn("y1", ceil(col("maxy")).cast("int"))
    .withColumn("x0", floor(col("minx")).cast("int"))
    .withColumn("x1", ceil(col("maxx")).cast("int"))

  /** Crop every tile from a long-form pixel table `(c, y, x, value)` in one
    * distributed pass: tiles explode onto covered grid cells, pixels join
    * by their single cell (shuffle equi-join, mirroring
    * [[SpatialJoin.pointsInShapesGrid]]), then the slice predicate refines.
    * Output: pixel rows tagged `(instance_id, c, dy, dx, value)` with
    * offsets relative to the tile's top-left corner.
    */
  def cropTiles(pixels: DataFrame, coords: DataFrame, cell: Double): DataFrame = {
    val tiles = sliceCols(coords)
      .select(col("instance_id"), col("y0"), col("y1"), col("x0"), col("x1"))
      .withColumn("__cellx", explode(sequence(
        floor(col("x0") / cell).cast("long"), floor((col("x1") - 1) / cell).cast("long"))))
      .withColumn("__celly", explode(sequence(
        floor(col("y0") / cell).cast("long"), floor((col("y1") - 1) / cell).cast("long"))))
    val px = pixels
      .withColumn("__cellx", floor(col("x") / cell).cast("long"))
      .withColumn("__celly", floor(col("y") / cell).cast("long"))
    px.join(tiles, Seq("__cellx", "__celly"))
      .filter(col("y") >= col("y0") && col("y") < col("y1") &&
        col("x") >= col("x0") && col("x") < col("x1"))
      .select(col("instance_id"), col("c"),
        (col("y") - col("y0")).as("dy"), (col("x") - col("x0")).as("dx"),
        col("value"))
  }

  /** Assemble the dense per-tile training batch
    * `(instance_id, c, th, tw, px)` and optionally left-join a label column
    * from the annotating table (the `return_annotations` path,
    * datasets.py:161-219). Absent pixels are zero-filled — identical to
    * cropping a dense raster.
    */
  def tileBatch(pixels: DataFrame, coords: DataFrame, cell: Double,
      obs: Option[(DataFrame, String, String)] = None): DataFrame = {
    val sliced = sliceCols(coords)
    val dims = sliced.select(col("instance_id"),
      (col("y1") - col("y0")).as("th"), (col("x1") - col("x0")).as("tw"))
    val crops = cropTiles(pixels, coords, cell)
    // no forced broadcast: dims/obs are one row per region — small for
    // typical workloads (AQE broadcasts them), but a forced hint would break
    // at 10^8 regions
    val assembled = RasterOps.assembleTiles(
      crops.join(dims, Seq("instance_id"))
        .withColumn("__pos", (col("dy") * col("tw") + col("dx")).cast("int")),
      Seq(col("instance_id"), col("c"), col("th"), col("tw")),
      col("th") * col("tw"),
      format_string("tileBatch crop (instance_id=%s, c=%s)",
        col("instance_id"), col("c")))
    obs match {
      case Some((table, instanceKey, labelCol)) =>
        assembled.join(
          table.select(col(instanceKey).as("instance_id"),
            col(labelCol).as("label")),
          Seq("instance_id"), "left")
      case None => assembled
    }
  }
}
