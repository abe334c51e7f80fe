package graft.ops

import graft.model.Models
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, StringType}

/** Raster operators over the two layouts (SURVEY.md §1.5):
  * long-form pixels `(c?, y, x, value|label)` and tiled images
  * `(scale, c, tile_y, tile_x, h, w, px)`.
  *
  * Spark-native stand-ins for the reference's dask-blockwise machinery:
  * per-pixel kernels are higher-order array functions on the tile payload
  * (no shuffle, whole-stage codegen — the analog of `map_blocks`,
  * map.py:22-156); resolution changes are groupBy re-tilings.
  *
  * Long-form → tiled assembly has ONE path, [[assembleTiles]]: a
  * `collect_list` of in-tile positions and values per tile, scattered into
  * the dense zero-filled payload by the codegen'd [[RasterKernel.scatter]]
  * (O(1) per pixel). [[pixelsToTiles]], [[pixelsToTilesExact]],
  * [[pixelsToTiles3d]] and [[ImageTiles.tileBatch]] all go through it.
  */
object RasterOps {

  val TS: Int = Models.ImageModel.TileSize

  // ---- layout conversion ----

  /** Long-form pixels -> tiles (used after rasterize / ingest). */
  def pixelsToTiles(pixels: DataFrame, tileSize: Int = TS,
      channelCol: Option[String] = Some("c"), scale: Int = 0): DataFrame = {
    val c = channelCol.map(col).getOrElse(lit(0))
    assembleTiles(withTilePos(pixels, tileSize, "pixelsToTiles"),
        Seq(c.as("c"), col("tile_y"), col("tile_x")), lit(tileSize * tileSize),
        format_string("pixelsToTiles tile (c=%s, tile_y=%s, tile_x=%s)",
          col("c"), col("tile_y"), col("tile_x")))
      .select(lit(scale).as("scale"), col("c"), col("tile_y"), col("tile_x"),
        lit(tileSize).as("h"), lit(tileSize).as("w"), col("px"))
  }

  /** `tile_y`, `tile_x` and the row-major in-tile `__pos` of every pixel
    * on a `tileSize` grid. A negative or null coordinate refuses: integer
    * division and `%` would fold `x = -1` into column `tileSize - 1` of
    * tile 0 (misplaced) and `y = -1` into a negative position (dropped).
    */
  private def withTilePos(pixels: DataFrame, tileSize: Int,
      op: String): DataFrame = {
    val within = (col("y") % tileSize) * tileSize + (col("x") % tileSize)
    pixels
      .withColumn("tile_y", (col("y") / tileSize).cast("int"))
      .withColumn("tile_x", (col("x") / tileSize).cast("int"))
      .withColumn("__pos", when(col("y") >= 0 && col("x") >= 0, within.cast("int"))
        .otherwise(raise_error(format_string(
          s"$op: pixel (%s,%s) has a negative or null coordinate",
          col("y"), col("x"))).cast("int")))
  }

  private val Kernel: Class[_] = Class.forName("graft.ops.RasterKernel")

  /** THE tile-assembly path: group `pixels` (an int `__pos` and a `value`
    * per row) by `keys`, collect each group's positions and values side by
    * side, and scatter them into a dense zero-filled payload `px` of `n`
    * doubles with [[RasterKernel.scatter]] — one codegen'd static call per
    * tile. `n` and `what` (the operator and tile named in refusals) are
    * read from the key columns. Output: the keys plus `px`.
    */
  private[ops] def assembleTiles(pixels: DataFrame, keys: Seq[Column],
      n: Column, what: Column): DataFrame =
    pixels.groupBy(keys: _*)
      .agg(collect_list(col("__pos")).as("__ps"),
        collect_list(col("value").cast("double")).as("__vs"))
      .withColumn("px", Bridge.staticInvoke(Kernel,
        ArrayType(DoubleType, containsNull = false), "scatter",
        Seq(col("__ps"), col("__vs"), n, what),
        Seq(ArrayType(IntegerType), ArrayType(DoubleType), IntegerType, StringType),
        returnNullable = false))
      .drop("__ps", "__vs")

  /** Long-form pixels -> tiles with EXACT edge tiles: a raster whose
    * shape is not a tile multiple gets partial tiles
    * (h = min(tileSize, height - ty*tileSize)) exactly as the NGFF chunk
    * reader emits them — whereas [[pixelsToTiles]] zero-pads every tile
    * to tileSize² (adequate for interior math, but the pad pixels would
    * leak into halo kernels and round-trips). Needs the raster dims,
    * which callers know from metadata (never a scan).
    */
  def pixelsToTilesExact(pixels: DataFrame, heightPx: Int, widthPx: Int,
      tileSize: Int = TS, channelCol: Option[String] = Some("c"),
      scale: Int = 0): DataFrame = {
    require(heightPx >= 1 && widthPx >= 1,
      s"pixelsToTilesExact: bad raster dims ${heightPx}x$widthPx")
    val c = channelCol.map(col).getOrElse(lit(0))
    val tyC = (col("y") / tileSize).cast("int")
    val txC = (col("x") / tileSize).cast("int")
    val hC = least(lit(tileSize), lit(heightPx) - tyC * tileSize).cast("int")
    val wC = least(lit(tileSize), lit(widthPx) - txC * tileSize).cast("int")
    // out-of-range coordinates would otherwise yield non-positive tile
    // dims and negative positions — corrupt tiles instead of an error
    val inRange = col("y") >= 0 && col("y") < lit(heightPx) &&
      col("x") >= 0 && col("x") < lit(widthPx)
    val located = pixels
      .withColumn("tile_y", tyC).withColumn("tile_x", txC)
      .withColumn("h", hC).withColumn("w", wC)
      .withColumn("__pos", when(inRange,
          ((col("y") % tileSize) * col("w") + col("x") % tileSize).cast("int"))
        .otherwise(raise_error(format_string(
          "pixelsToTilesExact: pixel (%s,%s) outside declared %sx%s raster",
          col("y"), col("x"), lit(heightPx), lit(widthPx))).cast("int")))
    assembleTiles(located,
        Seq(c.as("c"), col("tile_y"), col("tile_x"), col("h"), col("w")),
        col("h") * col("w"),
        format_string("pixelsToTilesExact tile (c=%s, tile_y=%s, tile_x=%s)",
          col("c"), col("tile_y"), col("tile_x")))
      .select(lit(scale).as("scale"), col("c"), col("tile_y"), col("tile_x"),
        col("h"), col("w"), col("px"))
  }

  /** 3D long-form `(c?, z, y, x, value)` -> z-stacked tiles (the 2D tile
    * layout plus a `z` plane column; one tile per (c, z, tile_y, tile_x)).
    * The plane count multiplies the tile count, not the tile extent — the
    * same per-chunk contract the reference's 3D dask arrays have.
    */
  def pixelsToTiles3d(pixels: DataFrame, tileSize: Int = TS,
      channelCol: Option[String] = Some("c"), scale: Int = 0): DataFrame = {
    val c = channelCol.map(col).getOrElse(lit(0))
    assembleTiles(withTilePos(pixels, tileSize, "pixelsToTiles3d"),
        Seq(c.as("c"), col("z").cast("int").as("z"), col("tile_y"), col("tile_x")),
        lit(tileSize * tileSize),
        format_string("pixelsToTiles3d tile (c=%s, z=%s, tile_y=%s, tile_x=%s)",
          col("c"), col("z"), col("tile_y"), col("tile_x")))
      .select(lit(scale).as("scale"), col("c"), col("z"), col("tile_y"), col("tile_x"),
        lit(tileSize).as("h"), lit(tileSize).as("w"), col("px"))
  }

  /** z-stacked tiles -> 3D long-form pixels `(scale, c, z, y, x, value)`. */
  def tilesToPixels3d(tiles: DataFrame, tileSize: Int = TS): DataFrame =
    tiles.select(col("scale"), col("c"), col("z"), col("tile_y"), col("tile_x"),
        col("h"), col("w"), posexplode(col("px")).as(Seq("pos", "value")))
      .select(col("scale"), col("c"), col("z"),
        (col("tile_y") * tileSize + (col("pos") / col("w")).cast("int")).as("y"),
        (col("tile_x") * tileSize + col("pos") % col("w")).cast("int").as("x"),
        col("value"))

  /** Tiles -> long-form pixels (posexplode keeps it one codegen stage). */
  def tilesToPixels(tiles: DataFrame, tileSize: Int = TS): DataFrame =
    tiles.select(col("scale"), col("c"), col("tile_y"), col("tile_x"),
        col("h"), col("w"), posexplode(col("px")).as(Seq("pos", "value")))
      .select(col("scale"), col("c"),
        (col("tile_y") * tileSize + (col("pos") / col("w")).cast("int")).as("y"),
        (col("tile_x") * tileSize + col("pos") % col("w")).cast("int").as("x"),
        col("value"))

  // ---- map_raster (map.py:22-156) ----

  /** Per-pixel kernel over tiles: `fn` maps the pixel-value Column; stays
    * inside the tile array, no shuffle (blockwise `map_blocks` analog).
    */
  def mapRaster(tiles: DataFrame)(fn: Column => Column): DataFrame =
    tiles.withColumn("px", transform(col("px"), fn))

  /** Edge policy for [[mapRasterWithHalo]] when a neighbor tile is absent
    * (`map_overlap(boundary=...)`, map.py:110-126 / dask.array.overlap):
    *  - [[Boundary.NoPad]]: absent neighbors simply lack a map entry — the
    *    kernel handles borders itself (the pre-round-8 behavior);
    *  - [[Boundary.Reflect]]: a synthetic neighbor is materialized by
    *    mirroring the CENTER tile across the shared edge/corner (numpy
    *    "symmetric": the border pixel repeats), so an edge-tile kernel
    *    sees the same neighborhood structure as an interior one;
    *  - [[Boundary.Constant]]: a synthetic neighbor filled with `v`.
    * Synthetic neighbors are built at the source tile's dims and then
    * clipped to the same depth-wide margin slab a real neighbor would
    * have shipped. Any missing neighbor counts as "outside the raster" —
    * sparse stores that omit all-zero interior tiles should use
    * `Constant(0)` or `NoPad`.
    */
  sealed trait Boundary
  object Boundary {
    case object NoPad extends Boundary
    case object Reflect extends Boundary
    final case class Constant(v: Double) extends Boundary
  }

  /** One neighbor slab as the halo kernel sees it: the SHIPPED payload's
    * OWN dims plus its row-major pixels. Two things shape a slab:
    * (1) edge tiles of a raster whose shape is not a chunk multiple are
    * PARTIAL (`NgffRaster` emits h = min(chunk, shape - offset)); (2) the
    * exchange ships only the `depth`-wide margin strip facing the
    * receiver (a depth x depth block for corner neighbors). Kernels must
    * index `px(r * w + c)` with THIS struct's `w`/`h`, never the
    * center's, and must not reach more than `depth` pixels into a
    * neighbor (the rest was never shipped).
    */
  final case class HaloTile(h: Int, w: Int, px: Array[Double])

  private val haloOffsets =
    Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))

  /** The 3D copies of a tile besides itself: every (dz, dy, dx) with dz in
    * [-depthZ, depthZ] over the 8-neighbour ring plus the pure-z column.
    */
  private def haloOffsets3d(depthZ: Int): Seq[(Int, Int, Int)] = for {
    dz <- -depthZ to depthZ
    (dy, dx) <- (0, 0) +: haloOffsets
    if !(dz == 0 && dy == 0 && dx == 0)
  } yield (dz, dy, dx)

  /** The halo exchange: each tile, exploded into its 8 neighbor copies,
    * keyed by the RECEIVING tile and clipped to the `depth`-wide margin
    * facing that receiver. A copy to the tile below ships the sender's
    * bottom `depth` rows; to the right, the rightmost `depth` columns; a
    * diagonal copy ships a depth x depth corner block — so the exchange
    * moves ~(4*depth*TS + 4*depth^2) pixels per tile instead of 8 full
    * tiles (at depth 1, TS 64: ~1.06x the raster bytes vs the 9x
    * whole-tile shipping would cost). This mirrors dask `map_overlap`'s
    * ghost cells (map.py:110-126), which ships margins, not chunks. Each
    * slab is cut by one codegen'd [[RasterKernel.slab]] call.
    * [[mapRasterWithHalo]] ships these copies plus the tile itself in the
    * same exchange. Package-visible so specs can pin the shipped payload
    * sizes.
    */
  private[graft] def haloSent(tiles: DataFrame, depth: Int): DataFrame =
    shipSlabs(tiles, depth, haloOffsets.map { case (dy, dx) => (0, dy, dx) },
      planes = false)

  /** The 3D halo exchange over z-stacked tiles ([[pixelsToTiles3d]]:
    * one TSxTS tile per (c, z, tile_y, tile_x) — each tile is ONE z
    * plane thick). Offsets run dz in [-depthZ, depthZ] x the 8-neighbor
    * (dy, dx) ring plus the pure-z (dz, 0, 0) columns. In (y, x) only the
    * `depth`-wide margin facing the receiver ships, exactly like
    * [[haloSent]]; in z a kernel of half-extent depthZ needs WHOLE
    * adjacent planes (the chunk is 1 plane thick), so the (dz, 0, 0)
    * copies ship full tiles — ~2*depthZ x the raster bytes, the same
    * ghost-cell cost dask `map_overlap(depth={z:k})` pays on
    * (1, ty, tx)-chunked arrays (map.py:110-126 is dim-generic). A
    * z-thick re-chunk is the lever when depthZ grows; for the blur/
    * morphology kernels here depthZ is 1-2.
    */
  private[graft] def haloSent3d(tiles: DataFrame, depth: Int,
      depthZ: Int): DataFrame =
    shipSlabs(tiles, depth, haloOffsets3d(depthZ), planes = true)

  /** One row per (tile, offset): the margin slab the tile ships toward
    * the receiver at (dz, dy, dx), keyed by the receiver — `n_h` x `n_w`
    * pixels in `n_px`, at most `depth` wide on each clipped axis. The
    * (dz, 0, 0) copies are the whole tile. With `planes` the rows carry
    * `dz` and the receiving `z`; without, dz must be 0 throughout.
    */
  private def shipSlabs(tiles: DataFrame, depth: Int,
      offsets: Seq[(Int, Int, Int)], planes: Boolean): DataFrame = {
    val copies = offsets.map { case (dz, dy, dx) =>
      val sh = if (dy == 0) col("h") else least(lit(depth), col("h"))
      val sw = if (dx == 0) col("w") else least(lit(depth), col("w"))
      val pay =
        if (dy == 0 && dx == 0) col("px")
        else Bridge.staticInvoke(Kernel, ArrayType(DoubleType, containsNull = false),
          "slab", Seq(col("px"), col("w"),
            if (dy == 1) col("h") - sh else lit(0),
            if (dx == 1) col("w") - sw else lit(0), sh, sw),
          ArrayType(DoubleType) +: Seq.fill(5)(IntegerType), returnNullable = false)
      struct(lit(dz).as("dz"), lit(dy).as("dy"), lit(dx).as("dx"),
        sh.cast("int").as("n_h"), sw.cast("int").as("n_w"), pay.as("n_px"))
    }
    val (z, toZ) =
      if (planes) (Seq(col("z")), Seq(col("o.dz").as("dz"), (col("z") + col("o.dz")).as("z")))
      else (Nil, Nil)
    tiles.select(Seq(col("scale"), col("c"), col("tile_y"), col("tile_x")) ++ z :+
        explode(array(copies: _*)).as("o"): _*)
      .select(Seq(col("scale"), col("c"), col("o.n_px").as("n_px"),
        col("o.n_h").as("n_h"), col("o.n_w").as("n_w"),
        col("o.dy").as("dy"), col("o.dx").as("dx"),
        (col("tile_y") + col("o.dy")).as("tile_y"),
        (col("tile_x") + col("o.dx")).as("tile_x")) ++ toZ: _*)
  }

  /** The slabs one tile group received, keyed by the SENDER's offset as
    * the receiver sees it (the negated shipping offset; the tile itself
    * at the zero offset). Two slabs from one offset mean a sender whose
    * tile key occurs twice, named by `tile(key)` in the refusal: keeping
    * either copy would be an arbitrary choice.
    */
  private def received[K](slabs: Iterable[(K, HaloTile)])(
      tile: K => String): Map[K, HaloTile] = {
    val m = scala.collection.mutable.HashMap.empty[K, HaloTile]
    slabs.foreach { case (k, t) =>
      if (m.put(k, t).isDefined)
        throw new IllegalArgumentException(s"${tile(k)} occurs more than once")
    }
    m.toMap
  }

  /** Clip a (possibly synthetic) neighbor tile to the margin the receiver
    * may legally read from key (kdy, kdx): the slab ADJACENT to the
    * center — bottom rows of an above-neighbor, top rows of a
    * below-neighbor, etc. Keeps synthetic boundary tiles byte-identical
    * to what a real neighbor would have shipped.
    */
  private def clipHalo(t: HaloTile, kdy: Int, kdx: Int, depth: Int): HaloTile = {
    val sh = if (kdy == 0) t.h else math.min(depth, t.h)
    val sw = if (kdx == 0) t.w else math.min(depth, t.w)
    if (sh == t.h && sw == t.w) t
    else {
      val r0 = if (kdy == -1) t.h - sh else 0
      val c0 = if (kdx == -1) t.w - sw else 0
      HaloTile(sh, sw, Array.tabulate(sh * sw) { i =>
        t.px((r0 + i / sw) * t.w + (c0 + i % sw))
      })
    }
  }

  /** Neighborhood kernel with halo: assembles each tile with its 8
    * neighbors' margin slabs (`map_overlap(depth)`, map.py:110-126) in ONE
    * shuffle — every tile ships itself and its margin slabs
    * ([[haloSent]]) keyed by the receiving tile, and one group per tile
    * key collects them — then hands `(h, w, center,
    * Map[(dy,dx) -> HaloTile])` to `fn` per tile. A group whose own tile
    * is absent is an off-raster receiver and is dropped; a tile key that
    * occurs twice is refused (`mapRasterWithHalo: tile (…) occurs more
    * than once`). Only the `depth`-wide strip facing each receiver ships
    * — pass the kernel's true depth; the default `depth = tileSize` ships
    * whole tiles, supporting any kernel depth up to the tile size at ~9x
    * the shuffle bytes. `boundary` fills in missing neighbors (raster
    * edges) before `fn` runs — see [[Boundary]].
    */
  def mapRasterWithHalo(tiles: DataFrame, tileSize: Int = TS,
      boundary: Boundary = Boundary.NoPad, depth: Int = -1)(
      fn: (Int, Int, Array[Double], Map[(Int, Int), HaloTile]) => Array[Double]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val d = if (depth <= 0) tileSize else depth
    require(d <= tileSize,
      s"mapRasterWithHalo: depth $d exceeds tileSize $tileSize — pixels " +
        "beyond the 8-neighbor ring are never shipped; re-tile first")
    // each slab carries ITS OWN dims: partial edge tiles and depth
    // clipping both mean a neighbor's stride can differ from the center's
    shipSlabs(tiles, d, (0, 0, 0) +: haloOffsets.map { case (dy, dx) => (0, dy, dx) },
        planes = false)
      .groupBy(col("scale"), col("c"), col("tile_y"), col("tile_x"))
      .agg(collect_list(struct(col("dy"), col("dx"), col("n_h"), col("n_w"),
        col("n_px"))).as("halo"))
      .as[(Int, Int, Int, Int, Seq[(Int, Int, Int, Int, Array[Double])])]
      .flatMap { case (scale, c, ty, tx, slabs) =>
        val real = received(slabs.map { case (dy, dx, nh, nw, npx) =>
          (-dy, -dx) -> HaloTile(nh, nw, npx)
        }) { case (ky, kx) =>
          s"mapRasterWithHalo: tile (scale=$scale, c=$c, tile_y=${ty + ky}, tile_x=${tx + kx})"
        }
        real.get((0, 0)).map { center =>
          val m = padHalo2d(center, real - ((0, 0)), d, boundary, haloOffsets)
          (scale, c, ty, tx, center.h, center.w, fn(center.h, center.w, center.px, m))
        }
      }.toDF("scale", "c", "tile_y", "tile_x", "h", "w", "px")
  }

  /** `real` plus a synthetic slab ([[synthNeighbor2d]]) at each of
    * `offsets` that has no real one — `real` alone under NoPad.
    */
  private def padHalo2d(center: HaloTile, real: Map[(Int, Int), HaloTile],
      depth: Int, boundary: Boundary,
      offsets: Seq[(Int, Int)]): Map[(Int, Int), HaloTile] = boundary match {
    case Boundary.NoPad => real
    case b => real ++ offsets.filterNot(real.contains)
      .map(off => off -> synthNeighbor2d(center, real, off, depth, b))
  }

  /** Synthesize ONE missing 2D neighbor slab (raster edge / sparse store)
    * — shared by the 2D and 3D halo assemblers. Reflect = numpy
    * "symmetric" padding of the GLOBAL raster: a missing EDGE neighbor
    * mirrors the center across the shared edge; a missing DIAGONAL
    * neighbor sits past the raster on one or both axes — past only the
    * vertical axis (the horizontal edge-neighbor exists) it is the
    * vertical mirror OF THAT NEIGHBOR (mirroring the center there would
    * fabricate the wrong column block), symmetrically for the horizontal
    * axis, and past both (a raster corner, or a sparse store) the double
    * mirror of the center. Each mirror keeps its SOURCE's dims and
    * stride; the result is clipped to the depth margin like a real
    * shipment ([[clipHalo]]).
    */
  private def synthNeighbor2d(center: HaloTile, real: Map[(Int, Int), HaloTile],
      off: (Int, Int), depth: Int, boundary: Boundary): HaloTile =
    clipHalo(boundary match {
      case Boundary.Constant(v) =>
        HaloTile(center.h, center.w, Array.fill(center.h * center.w)(v))
      case _ =>
        val (dy, dx) = off
        val (src, mirY, mirX) =
          if (dy != 0 && dx != 0 && !real.contains((dy, 0)) && real.contains((0, dx)))
            (real((0, dx)), true, false)
          else if (dy != 0 && dx != 0 && real.contains((dy, 0)) && !real.contains((0, dx)))
            (real((dy, 0)), false, true)
          else (center, dy != 0, dx != 0)
        HaloTile(src.h, src.w, Array.tabulate(src.h * src.w) { i =>
          val r = i / src.w; val cc = i % src.w
          val sr = if (mirY) src.h - 1 - r else r
          val sc = if (mirX) src.w - 1 - cc else cc
          src.px(sr * src.w + sc)
        })
    }, off._1, off._2, depth)

  // ---- 3D halo (z-depth ghost planes over the z-stacked tile layout) ----

  /** 3D neighborhood kernel with halo — `map_overlap(depth)` with a z
    * component (the reference's map.py:110-126 applies to 3D dask arrays;
    * ghost margins ship in z too). Assembles each z-stacked tile with its
    * neighbors' slabs keyed by (dz, dy, dx) in ONE shuffle, exactly like
    * [[mapRasterWithHalo]]: every tile ships itself and its
    * [[haloSent3d]] slabs, one group per (scale, c, z, tile_y, tile_x)
    * collects them, groups without their own tile are dropped and a
    * repeated tile key is refused. `fn` gets `(h, w, center, halo)`.
    * `boundary` fills missing neighbors; Reflect is
    * numpy "symmetric" applied per axis — in z a missing plane resolves
    * to the mirrored IN-RANGE plane (multi-bounce for rasters thinner
    * than the reach), then the (dy, dx) margin of that plane is taken,
    * 2D-synthesized through [[synthNeighbor2d]] when the plane's own
    * (y, x) neighbor is past the raster (the full plane is always on
    * hand: pure-z copies ship whole tiles).
    */
  def mapRasterWithHalo3d(tiles: DataFrame, tileSize: Int = TS,
      boundary: Boundary = Boundary.NoPad, depth: Int = -1, depthZ: Int = 1)(
      fn: (Int, Int, Array[Double], Map[(Int, Int, Int), HaloTile]) => Array[Double]): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val d = if (depth <= 0) tileSize else depth
    require(d <= tileSize,
      s"mapRasterWithHalo3d: depth $d exceeds tileSize $tileSize — re-tile first")
    require(depthZ >= 1, s"mapRasterWithHalo3d: depthZ must be >= 1, got $depthZ")
    val dZ = depthZ
    shipSlabs(tiles, d, (0, 0, 0) +: haloOffsets3d(dZ), planes = true)
      .groupBy(col("scale"), col("c"), col("z"), col("tile_y"), col("tile_x"))
      .agg(collect_list(struct(col("dz"), col("dy"), col("dx"),
        col("n_h"), col("n_w"), col("n_px"))).as("halo"))
      .as[(Int, Int, Int, Int, Int, Seq[(Int, Int, Int, Int, Int, Array[Double])])]
      .flatMap { case (scale, c, z, ty, tx, slabs) =>
        val all = received(slabs.map { case (dz, dy, dx, nh, nw, npx) =>
          (-dz, -dy, -dx) -> HaloTile(nh, nw, npx)
        }) { case (kz, ky, kx) =>
          s"mapRasterWithHalo3d: tile (scale=$scale, c=$c, z=${z + kz}, " +
            s"tile_y=${ty + ky}, tile_x=${tx + kx})"
        }
        all.get((0, 0, 0)).map { center =>
          val m = padHalo3d(center, all - ((0, 0, 0)), d, dZ, boundary)
          (scale, c, z, ty, tx, center.h, center.w, fn(center.h, center.w, center.px, m))
        }
      }.toDF("scale", "c", "z", "tile_y", "tile_x", "h", "w", "px")
  }

  /** `real` plus a synthetic slab at every 3D offset that has no real one
    * (see [[mapRasterWithHalo3d]] for the rule) — `real` alone under NoPad.
    */
  private def padHalo3d(center: HaloTile, real: Map[(Int, Int, Int), HaloTile],
      d: Int, dZ: Int, boundary: Boundary): Map[(Int, Int, Int), HaloTile] = {
    val (h, w) = (center.h, center.w)
    boundary match {
      case Boundary.NoPad => real
      case b =>
        // the full plane at offset pz (pure-z shipments are whole tiles)
        def planeCenter(pz: Int): Option[HaloTile] =
          if (pz == 0) Some(center) else real.get((pz, 0, 0))
        def real2d(pz: Int): Map[(Int, Int), HaloTile] = real.collect {
          case ((z2, dy, dx), t) if z2 == pz && !(dy == 0 && dx == 0) =>
            (dy, dx) -> t
        }
        // symmetric z-reflection on the known window: planes exist
        // contiguously, so a missing (dz, 0, 0) marks the raster edge;
        // mirror across it (and across the opposite edge if the raster
        // is thinner than the reach — numpy's multi-bounce)
        def reflectZ(dz: Int): Int = {
          def extent(sign: Int): Int = {
            var e = 0
            while (e < dZ && planeCenter(sign * (e + 1)).isDefined) e += 1
            e
          }
          val (ePos, eNeg) = (extent(1), extent(-1))
          var r = dz
          var guard = 0
          while ((r > ePos || r < -eNeg) && guard < 8) {
            if (r > ePos) r = 2 * ePos + 1 - r
            if (r < -eNeg) r = -2 * eNeg - 1 - r
            guard += 1
          }
          r
        }
        val synth = for {
          off @ (dz, dy, dx) <- haloOffsets3d(dZ)
          if !real.contains(off)
        } yield off -> (b match {
          case Boundary.Constant(v) =>
            clipHalo(HaloTile(h, w, Array.fill(h * w)(v)), dy, dx, d)
          case _ =>
            val pz = if (planeCenter(dz).isDefined) dz else reflectZ(dz)
            if (dy == 0 && dx == 0) planeCenter(pz).get
            else real.getOrElse((pz, dy, dx),
              synthNeighbor2d(planeCenter(pz).get, real2d(pz), (dy, dx), d, b))
        })
        real ++ synth
    }
  }

  /** Reader over a 3D-assembled halo: value at plane offset pz, row r,
    * col c (r/c may run `depth` outside the tile; pz in [-depthZ,
    * depthZ]). The NoPad clamp mirrors [[haloReader]]'s: missing
    * neighbors clamp to the nearest center-plane pixel.
    */
  private def haloReader3d(h: Int, w: Int, px: Array[Double],
      halo: Map[(Int, Int, Int), HaloTile], depth: Int,
      op: String): (Int, Int, Int) => Double = { (pz, r, c) =>
    val dy = if (r < 0) -1 else if (r >= h) 1 else 0
    val dx = if (c < 0) -1 else if (c >= w) 1 else 0
    if (pz == 0 && dy == 0 && dx == 0) px(r * w + c)
    else halo.get((pz, dy, dx)) match {
      case Some(t) =>
        val rr = if (dy < 0) t.h + r else if (dy > 0) r - h else r
        val cc = if (dx < 0) t.w + c else if (dx > 0) c - w else c
        if (rr < 0 || rr >= t.h || cc < 0 || cc >= t.w)
          throw new IllegalStateException(
            s"$op: neighbor tile ${t.h}x${t.w} is thinner than " +
              s"kernel depth $depth — re-tile with tiles >= depth in each dim")
        t.px(rr * t.w + cc)
      case None => px(r.max(0).min(h - 1) * w + c.max(0).min(w - 1))
    }
  }

  /** 3D box mean blur over z-stacked tiles — the dim-generic
    * `map_overlap` consumer the reference's 3D arrays get from dask
    * (map.py:110-126): each output voxel is the mean of its
    * (2*depthZ+1) x (2*depth+1)^2 neighborhood, tile seams stitched
    * through the 3D halo, raster borders filled by `boundary`.
    * Integer-valued rasters stay engine-exact (small-int double sums,
    * one division).
    */
  def meanBlurBox3d(tiles: DataFrame, depth: Int, depthZ: Int,
      tileSize: Int = TS, boundary: Boundary = Boundary.Reflect): DataFrame = {
    require(depth >= 1 && depth <= tileSize,
      s"meanBlurBox3d: depth must be in [1, tileSize=$tileSize], got $depth")
    val n = (2 * depthZ + 1) * (2 * depth + 1) * (2 * depth + 1)
    mapRasterWithHalo3d(tiles, tileSize, boundary, depth, depthZ) { (h, w, px, halo) =>
      val at = haloReader3d(h, w, px, halo, depth, "meanBlurBox3d")
      Array.tabulate(h * w) { i =>
        val r = i / w; val c = i % w
        var s = 0.0
        var pz = -depthZ
        while (pz <= depthZ) {
          var dy = -depth
          while (dy <= depth) {
            var dx = -depth
            while (dx <= depth) { s += at(pz, r + dy, c + dx); dx += 1 }
            dy += 1
          }
          pz += 1
        }
        s / n
      }
    }
  }

  /** 3x3 mean blur over the tiled layout — the canonical `map_overlap`
    * consumer (`map.py:110-126` uses exactly this shape of kernel as its
    * doc example): every output pixel is the mean of its 3x3 neighborhood,
    * with tile seams stitched through the depth-1 halo and raster borders
    * filled by `boundary` (default Reflect = numpy "symmetric": the border
    * pixel repeats, so for depth 1 the sampled coordinate is simply
    * clamped to the raster). Integer-valued rasters stay engine-exact: 9
    * small-int doubles sum exactly in any order, then one division.
    *
    * Scale shape: one shuffle keyed by tile coords ([[mapRasterWithHalo]])
    * and a per-tile kernel — the halo exchange ships each tile once plus
    * only its depth-1 margin strips (~(1 + 2/TS)^2 ≈ 1.03x the raster
    * bytes at TS 64 for the strips — dask map_overlap's ghost-cell cost).
    */
  def meanBlur3x3(tiles: DataFrame, tileSize: Int = TS,
      boundary: Boundary = Boundary.Reflect): DataFrame =
    meanBlurBox(tiles, depth = 1, tileSize, boundary)

  /** (2*depth+1)-square mean blur — the arbitrary-depth `map_overlap`
    * consumer (the reference's map.py:110-126 takes any depth, not just
    * 1). The halo exchange ships only the `depth`-wide margin facing each
    * receiver, so the shuffle scales with depth*perimeter, not tile
    * count x tile area ([[haloSent]]). Neighbor pixels
    * are indexed with EACH NEIGHBOR'S OWN stride ([[HaloTile]]), so
    * partial edge tiles (raster shape not a chunk multiple) read
    * correctly; a tile thinner than `depth` would need pixels beyond the
    * 8-neighbor ring and raises a clear error instead of reading garbage.
    */
  def meanBlurBox(tiles: DataFrame, depth: Int, tileSize: Int = TS,
      boundary: Boundary = Boundary.Reflect): DataFrame = {
    require(depth >= 1 && depth <= tileSize,
      s"meanBlurBox: depth must be in [1, tileSize=$tileSize], got $depth")
    val n = (2 * depth + 1) * (2 * depth + 1)
    mapRasterWithHalo(tiles, tileSize, boundary, depth) { (h, w, px, halo) =>
      val at = haloReader(h, w, px, halo, depth, "meanBlurBox")
      Array.tabulate(h * w) { i =>
        val r = i / w; val c = i % w
        var s = 0.0
        var dy = -depth
        while (dy <= depth) {
          var dx = -depth
          while (dx <= depth) { s += at(r + dy, c + dx); dx += 1 }
          dy += 1
        }
        s / n
      }
    }
  }

  /** (2*depth+1)-square MEDIAN filter — the order-statistic twin of
    * [[meanBlurBox]] (salt-and-pepper denoise; dask's map_overlap doc
    * example family). The window has an odd count ((2d+1)^2), so the
    * median is an exact element of the input — engine-portable with no
    * float accumulation at all. Same halo exchange and boundary policy.
    */
  def medianFilterBox(tiles: DataFrame, depth: Int, tileSize: Int = TS,
      boundary: Boundary = Boundary.Reflect): DataFrame = {
    require(depth >= 1 && depth <= tileSize,
      s"medianFilterBox: depth must be in [1, tileSize=$tileSize], got $depth")
    val n = (2 * depth + 1) * (2 * depth + 1)
    mapRasterWithHalo(tiles, tileSize, boundary, depth) { (h, w, px, halo) =>
      val at = haloReader(h, w, px, halo, depth, "medianFilterBox")
      val buf = new Array[Double](n)
      Array.tabulate(h * w) { i =>
        val r = i / w; val c = i % w
        var j = 0
        var dy = -depth
        while (dy <= depth) {
          var dx = -depth
          while (dx <= depth) { buf(j) = at(r + dy, c + dx); j += 1; dx += 1 }
          dy += 1
        }
        java.util.Arrays.sort(buf)
        buf(n / 2)
      }
    }
  }

  /** 5-tap binomial (Gaussian-approximating) blur, SEPARABLE form: the
    * [1,4,6,4,1]/16 kernel applied vertically then horizontally — the
    * standard smoothing/anti-alias kernel (Burt/Adelson 1983 Gaussian
    * pyramids use exactly this tap). Separability is the point at scale:
    * two 5-tap passes cost 10 reads/pixel where the equivalent direct
    * 5x5 costs 25. Both passes run inside ONE depth-2 halo exchange: the
    * vertical pass covers the tile plus the 2 columns each real
    * horizontal neighbour shipped (read with the vertical context that
    * neighbour's own pass would see: the diagonal corner blocks, or the
    * boundary rule on the neighbour's columns), and the horizontal pass
    * reads that buffer. Where no real horizontal neighbour exists, the
    * columns past the tile take `boundary` applied to the vertical pass's
    * output (mirror for Reflect, the constant, the clamp for NoPad) — the
    * same values a second exchange of the pass-1 tiles would ship, so the
    * output is bit-identical to two chained depth-2 halo passes for every
    * boundary. Exactness: binomial weights are dyadic, so on
    * integer-valued rasters pass 1 emits exact multiples of 1/16 and pass
    * 2 exact multiples of 1/256 — bit-equal to the direct 2D
    * outer-product kernel on any engine. The `Reflect` boundary commutes
    * with per-axis passes (symmetric padding is a tensor-product
    * extension), so edge pixels also match the direct form.
    */
  def binomialBlur5(tiles: DataFrame, tileSize: Int = TS,
      boundary: Boundary = Boundary.Reflect): DataFrame =
    mapRasterWithHalo(tiles, tileSize, Boundary.NoPad, depth = 2) { (h, w, px, real) =>
      // pass 1 over a horizontal neighbour's shipped columns: above and
      // below them sit the diagonal corner blocks this tile received
      val sides = for {
        dx <- Seq(-1, 1)
        cols <- real.get((0, dx))
      } yield (0, dx) -> binomialPass(cols,
        Seq(-1, 1).flatMap(dy => real.get((dy, dx)).map((dy, 0) -> _)).toMap,
        boundary, vertical = true)
      binomialPass(binomialPass(HaloTile(h, w, px), real, boundary, vertical = true),
        sides.toMap, boundary, vertical = false).px
    }

  private val binomialWeights = Array(1.0, 4.0, 6.0, 4.0, 1.0)

  /** One [1,4,6,4,1]/16 pass of [[binomialBlur5]] over `t`, whose
    * neighbours in the pass's direction are `ring` (padded by `boundary`
    * where absent).
    */
  private def binomialPass(t: HaloTile, ring: Map[(Int, Int), HaloTile],
      boundary: Boundary, vertical: Boolean): HaloTile = {
    val sides = if (vertical) Seq((-1, 0), (1, 0)) else Seq((0, -1), (0, 1))
    val at = haloReader(t.h, t.w, t.px, padHalo2d(t, ring, 2, boundary, sides),
      2, "binomialBlur5")
    HaloTile(t.h, t.w, Array.tabulate(t.h * t.w) { i =>
      val r = i / t.w; val c = i % t.w
      var s = 0.0
      var k = -2
      while (k <= 2) {
        s += binomialWeights(k + 2) * (if (vertical) at(r + k, c) else at(r, c + k))
        k += 1
      }
      s / 16.0
    })
  }

  /** (2·depth+1)-square MORPHOLOGICAL dilate/erode — the flat-structuring-
    * element max/min filter: on binary masks this is classic binary
    * morphology (dilate grows blobs / bridges gaps, erode shaves
    * boundaries / drops specks; composed they are closing and opening),
    * on grayscale the flat-SE rank filters. Output values are exact
    * COPIES of input values (an order statistic, like
    * [[medianFilterBox]]) — zero float accumulation, engine-portable.
    * Same margin-clipped halo exchange and boundary policy as the other
    * box kernels.
    */
  def morphBox(tiles: DataFrame, depth: Int, dilate: Boolean,
      tileSize: Int = TS, boundary: Boundary = Boundary.Reflect): DataFrame = {
    require(depth >= 1 && depth <= tileSize,
      s"morphBox: depth must be in [1, tileSize=$tileSize], got $depth")
    mapRasterWithHalo(tiles, tileSize, boundary, depth) { (h, w, px, halo) =>
      val at = haloReader(h, w, px, halo, depth, "morphBox")
      Array.tabulate(h * w) { i =>
        val r = i / w; val c = i % w
        var m = at(r - depth, c - depth)
        var dy = -depth
        while (dy <= depth) {
          var dx = -depth
          while (dx <= depth) {
            val v = at(r + dy, c + dx)
            if (if (dilate) v > m else v < m) m = v
            dx += 1
          }
          dy += 1
        }
        m
      }
    }
  }

  /** 3D MORPHOLOGICAL dilate/erode over z-stacked tiles — [[morphBox]]
    * with a z half-extent (the volumetric flat-SE max/min filter the
    * reference's Labels3D arrays get from dask-image): window
    * (2*depthZ+1) x (2*depth+1)^2, values exact COPIES of inputs (order
    * statistic — zero float accumulation, engine-portable), seams
    * stitched through the (z,y,x) halo ([[mapRasterWithHalo3d]]).
    */
  def morphBox3d(tiles: DataFrame, depth: Int, depthZ: Int, dilate: Boolean,
      tileSize: Int = TS, boundary: Boundary = Boundary.Reflect): DataFrame = {
    require(depth >= 1 && depth <= tileSize,
      s"morphBox3d: depth must be in [1, tileSize=$tileSize], got $depth")
    mapRasterWithHalo3d(tiles, tileSize, boundary, depth, depthZ) { (h, w, px, halo) =>
      val at = haloReader3d(h, w, px, halo, depth, "morphBox3d")
      Array.tabulate(h * w) { i =>
        val r = i / w; val c = i % w
        var m = at(-depthZ, r - depth, c - depth)
        var pz = -depthZ
        while (pz <= depthZ) {
          var dy = -depth
          while (dy <= depth) {
            var dx = -depth
            while (dx <= depth) {
              val v = at(pz, r + dy, c + dx)
              if (if (dilate) v > m else v < m) m = v
              dx += 1
            }
            dy += 1
          }
          pz += 1
        }
        m
      }
    }
  }

  /** REGION PROPERTIES over a [[labelConnected]] labeling — the table
    * every CCL consumer actually wants (skimage regionprops' core
    * columns): per component, pixel count, bounding box, and the
    * centroid (6-dec snapped ratio of exact integer sums). ONE keyed
    * aggregation with map-side partials; a blob costs its pixel count.
    * Output: (component, n_pixels, min_y, max_y, min_x, max_x,
    * centroid_y, centroid_x).
    */
  def componentStats(labeled: DataFrame): DataFrame =
    labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("n_pixels"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        graft.pipeline.TextAnalysis.round6(
          sum(col("y")).cast("double") / count(lit(1))).as("centroid_y"),
        graft.pipeline.TextAnalysis.round6(
          sum(col("x")).cast("double") / count(lit(1))).as("centroid_x"))

  /** 3D REGION PROPERTIES over a [[labelConnected3d]] labeling — per
    * component: voxel count, (z, y, x) bounding box, and the 6-dec
    * snapped centroid of exact integer sums. ONE keyed aggregation with
    * map-side partials, like [[componentStats]]; a blob costs its voxel
    * count. Output: (component, n_voxels, min_z, max_z, min_y, max_y,
    * min_x, max_x, centroid_z, centroid_y, centroid_x).
    */
  def componentStats3d(labeled: DataFrame): DataFrame =
    labeled.groupBy(col("component"))
      .agg(count(lit(1)).as("n_voxels"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        graft.pipeline.TextAnalysis.round6(
          sum(col("z")).cast("double") / count(lit(1))).as("centroid_z"),
        graft.pipeline.TextAnalysis.round6(
          sum(col("y")).cast("double") / count(lit(1))).as("centroid_y"),
        graft.pipeline.TextAnalysis.round6(
          sum(col("x")).cast("double") / count(lit(1))).as("centroid_x"))

  /** 3x3 SOBEL gradient magnitude (L1 form |Gx| + |Gy|) — the classic
    * edge detector riding the same depth-1 margin-clipped halo exchange
    * as [[meanBlur3x3]]. Gx/Gy are small-integer-weighted sums (±1, ±2),
    * so on integer-valued rasters every intermediate is exact in a
    * double and the L1 magnitude is engine-portable with zero float
    * drift (the L2 sqrt form would need a snap; L1 is the standard cheap
    * variant). Same boundary policy as the other box kernels.
    */
  def sobelFilter(tiles: DataFrame, tileSize: Int = TS,
      boundary: Boundary = Boundary.Reflect): DataFrame =
    mapRasterWithHalo(tiles, tileSize, boundary, depth = 1) { (h, w, px, halo) =>
      val at = haloReader(h, w, px, halo, 1, "sobelFilter")
      Array.tabulate(h * w) { i =>
        val r = i / w; val c = i % w
        val gx = -at(r - 1, c - 1) + at(r - 1, c + 1) -
          2.0 * at(r, c - 1) + 2.0 * at(r, c + 1) -
          at(r + 1, c - 1) + at(r + 1, c + 1)
        val gy = -at(r - 1, c - 1) - 2.0 * at(r - 1, c) - at(r - 1, c + 1) +
          at(r + 1, c - 1) + 2.0 * at(r + 1, c) + at(r + 1, c + 1)
        math.abs(gx) + math.abs(gy)
      }
    }

  /** Distributed INTEGRAL IMAGE (summed-area table, Crow 1984): output
    * pixel (Y, X) holds Σ value over all (y ≤ Y, x ≤ X) — the O(1)
    * box-sum primitive behind Viola-Jones features, fast box blurs and
    * adaptive thresholding. A 2D prefix scan does NOT fit one pass of
    * any per-tile kernel, so this is the classic DECOUPLED-LOOKBACK
    * shape, three strictly bounded stages:
    *
    *  1. per tile (embarrassingly parallel, no shuffle): the LOCAL SAT,
    *     plus three carry summaries — rowCum[r] = Σ of the tile's rows
    *     0..r (all columns), colCum[c] = Σ of columns 0..c (all rows),
    *     and the tile total;
    *  2. carry propagation over the TILE GRID, never pixels: a window
    *     along each tile row accumulates left-neighbor rowCum arrays
    *     (zip_with addition over collect_list — the frame holds at most
    *     gridWidth arrays of h doubles); a window down each tile column
    *     does the same for colCum; two chained scalar windows give the
    *     diagonal block total (row-prefix of totals, then its
    *     column-prefix);
    *  3. one stateless codegen projection: out(r,c) = localSAT(r,c) +
    *     left[r] + above[c] + diag.
    *
    * The windows partition by tile row/column, so their frames are
    * bounded by the tile GRID extent (a 10^6 x 10^6-pixel raster at TS
    * 64 is a 16k-tile-wide grid — window frames of 16k rows), while all
    * pixel-scale work stays per-tile. Integer-valued rasters stay exact:
    * every sum is a sum of integers representable in a double (exact to
    * 2^53). Emits the tiled layout with `px` replaced by the global SAT.
    */
  def integralImage(tiles: DataFrame, tileSize: Int = TS): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = tiles.sparkSession
    import spark.implicits._
    // stage 1: local SAT + carries, one typed per-tile kernel
    val local = tiles
      .select(col("scale"), col("c"), col("tile_y"), col("tile_x"),
        col("h"), col("w"), col("px"))
      .as[(Int, Int, Int, Int, Int, Int, Array[Double])]
      .map { case (scale, c, ty, tx, h, w, px) =>
        val sat = new Array[Double](h * w)
        var r = 0
        while (r < h) {
          var cc = 0
          var rowRun = 0.0
          while (cc < w) {
            rowRun += px(r * w + cc)
            sat(r * w + cc) = rowRun + (if (r > 0) sat((r - 1) * w + cc) else 0.0)
            cc += 1
          }
          r += 1
        }
        // rowCum[r] = SAT(r, w-1); colCum[c] = SAT(h-1, c); total = SAT(h-1, w-1)
        val rowCum = Array.tabulate(h)(rr => sat(rr * w + w - 1))
        val colCum = Array.tabulate(w)(cc => sat((h - 1) * w + cc))
        (scale, c, ty, tx, h, w, sat, rowCum, colCum, sat(h * w - 1))
      }
      .toDF("scale", "c", "tile_y", "tile_x", "h", "w", "px",
        "__row_cum", "__col_cum", "__total")
    // stage 2: carries over the tile grid
    def accArrays(arrCol: Column, lenCol: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      aggregate(
        coalesce(collect_list(arrCol).over(w),
          array().cast("array<array<double>>")),
        transform(sequence(lit(1), lenCol), _ => lit(0.0)),
        (acc, a) => zip_with(acc, a, _ + _))
    val rowW = Window.partitionBy(col("scale"), col("c"), col("tile_y"))
      .orderBy(col("tile_x")).rowsBetween(Window.unboundedPreceding, -1)
    val colW = Window.partitionBy(col("scale"), col("c"), col("tile_x"))
      .orderBy(col("tile_y")).rowsBetween(Window.unboundedPreceding, -1)
    val diagRowW = Window.partitionBy(col("scale"), col("c"), col("tile_y"))
      .orderBy(col("tile_x")).rowsBetween(Window.unboundedPreceding, -1)
    val diagColW = Window.partitionBy(col("scale"), col("c"), col("tile_x"))
      .orderBy(col("tile_y")).rowsBetween(Window.unboundedPreceding, -1)
    val carried = local
      .withColumn("__left", accArrays(col("__row_cum"), col("h"), rowW))
      .withColumn("__above", accArrays(col("__col_cum"), col("w"), colW))
      .withColumn("__row_pref",
        coalesce(sum(col("__total")).over(diagRowW), lit(0.0)))
      .withColumn("__diag",
        coalesce(sum(col("__row_pref")).over(diagColW), lit(0.0)))
    // stage 3: stateless per-pixel addition
    carried.select(col("scale"), col("c"), col("tile_y"), col("tile_x"),
      col("h"), col("w"),
      transform(col("px"), (v, i) => v +
        element_at(col("__left"),
          (floor(i / col("w")) + 1).cast("int")) +
        element_at(col("__above"), (i % col("w") + 1).cast("int")) +
        col("__diag")).as("px"))
  }

  /** Sentinel for "no feature reached yet" in [[distanceTransform34]]:
    * an exact integer in a double, far above any reachable 3-4 chamfer
    * cost, and safe to add 4 to without losing exactness.
    */
  val DtInf: Double = 1e9

  /** Distributed DISTANCE TRANSFORM, 3-4 chamfer metric (Borgefors 1986):
    * every pixel gets the weighted-grid distance to its nearest FEATURE
    * pixel (value > 0) — axial steps cost 3, diagonal steps cost 4; the
    * classic integer approximation of 3·Euclidean. The workhorse behind
    * proximity masks, morphological seeding and "how far from tissue"
    * spatial features.
    *
    * The sequential algorithm is two whole-raster ordered sweeps — a
    * shape no single per-tile kernel can express, so this is the
    * iterative-relaxation form: each ROUND runs the full forward+backward
    * chamfer sweep INSIDE every tile (resolving all intra-tile
    * propagation at once) seeded by the neighbors' current depth-1
    * margins, through the same margin-clipped halo exchange as the box
    * kernels, with missing neighbors held at [[DtInf]] (outside the
    * raster is featureless). A round moves information across at least
    * one tile boundary, so `rounds` >= the tile-GRID diameter
    * (tiles_y + tiles_x) guarantees the global fixpoint — the caller
    * knows the grid from raster metadata; each round is one halo
    * exchange over the raster (the stated cost of distributing an
    * inherently sequential scan). Every value is an exact integer in a
    * double (0, 3a+4b, or the sentinel), so min/plus arithmetic is
    * engine-portable with zero drift. Pixels that reach no feature
    * report [[DtInf]]. Rounds are driver-pinned (no convergence probe —
    * deterministic job count, the q118 one-action-per-iteration lesson);
    * each round localCheckpoints so lineage stays flat (the
    * connectedComponents discipline).
    */
  def distanceTransform34(tiles: DataFrame, rounds: Int,
      tileSize: Int = TS): DataFrame = {
    require(rounds >= 1, s"distanceTransform34: rounds must be >= 1, got $rounds")
    var d = mapRaster(tiles)(v =>
      when(v > 0, lit(0.0)).otherwise(lit(DtInf)))
    for (_ <- 0 until rounds) {
      d = mapRasterWithHalo(d, tileSize, Boundary.Constant(DtInf), depth = 1) {
        (h, w, px, halo) =>
          val at = haloReader(h, w, px, halo, 1, "distanceTransform34")
          val out = px.clone()
          // cur: updated in-tile values where available, neighbor margins
          // (this round's INPUT state) beyond the tile
          def cur(r: Int, c: Int): Double =
            if (r >= 0 && r < h && c >= 0 && c < w) out(r * w + c) else at(r, c)
          def relax(r: Int, c: Int, offs: Array[(Int, Int, Double)]): Unit = {
            var m = out(r * w + c)
            var i = 0
            while (i < offs.length) {
              val v = cur(r + offs(i)._1, c + offs(i)._2) + offs(i)._3
              if (v < m) m = v
              i += 1
            }
            out(r * w + c) = m
          }
          val fwd = Array((-1, -1, 4.0), (-1, 0, 3.0), (-1, 1, 4.0), (0, -1, 3.0))
          val bwd = Array((1, 1, 4.0), (1, 0, 3.0), (1, -1, 4.0), (0, 1, 3.0))
          var r = 0
          while (r < h) {
            var c = 0
            while (c < w) { relax(r, c, fwd); c += 1 }
            r += 1
          }
          r = h - 1
          while (r >= 0) {
            var c = w - 1
            while (c >= 0) { relax(r, c, bwd); c -= 1 }
            r -= 1
          }
          out
      }.localCheckpoint(true)
    }
    d
  }

  /** 2x BILINEAR UPSAMPLING over the tiled layout (align-centers
    * convention: source coordinate of output (Y, X) is ((Y+0.5)/2 − 0.5)
    * — the torchvision/OpenCV `align_corners=false` default). Every
    * output pixel mixes its up-to-4 source neighbors with weights from
    * {0.25, 0.75}² — exact binary fractions, so integer-valued rasters
    * upsample with ZERO float drift. Per tile the kernel needs only the
    * depth-1 margin of each neighbor (the half-pixel offsets never reach
    * further), riding the same margin-clipped halo exchange; raster
    * borders replicate the edge pixel (Reflect at depth 1 == clamp).
    * Emits the tiled layout with DOUBLED per-tile dims — read it back
    * with `tilesToPixels(tileSize = 2 * tileSize)`.
    */
  def bilinearUpsample2x(tiles: DataFrame, tileSize: Int = TS): DataFrame =
    mapRasterWithHalo(tiles, tileSize, Boundary.Reflect, depth = 1) {
      (h, w, px, halo) =>
        val at = haloReader(h, w, px, halo, 1, "bilinearUpsample2x")
        Array.tabulate(2 * h * 2 * w) { i =>
          val oy = i / (2 * w); val ox = i % (2 * w)
          // source center = oy/2 - 0.25: an EVEN output row 2k sits at
          // k - 0.25 (rows k-1, k with weights 0.25, 0.75); an ODD row
          // 2k+1 sits at k + 0.25 (rows k, k+1 with weights 0.75, 0.25).
          // ry is the lower source row, wy its weight; same along x.
          val ry = if (oy % 2 == 0) oy / 2 - 1 else oy / 2
          val wy = if (oy % 2 == 0) 0.25 else 0.75
          val rx = if (ox % 2 == 0) ox / 2 - 1 else ox / 2
          val wx = if (ox % 2 == 0) 0.25 else 0.75
          val v00 = at(ry, rx); val v01 = at(ry, rx + 1)
          val v10 = at(ry + 1, rx); val v11 = at(ry + 1, rx + 1)
          wy * (wx * v00 + (1.0 - wx) * v01) +
            (1.0 - wy) * (wx * v10 + (1.0 - wx) * v11)
        }
    }
      .withColumn("h", col("h") * 2)
      .withColumn("w", col("w") * 2)

  /** Global HISTOGRAM EQUALIZATION over long-form integer-level pixels —
    * the contrast-normalization pass (OpenCV `equalizeHist` semantics):
    * with cdf(v) the running count of pixels at levels ≤ v and cdfMin
    * the count at the lowest PRESENT level,
    *
    *   eq(v) = floor((cdf(v) − cdfMin) · (levels−1) / (N − cdfMin) + 0.5)
    *
    * A constant image (N = cdfMin) maps to 0. Two-pass global-stat shape:
    * ONE keyed count aggregation to per-level counts (at most `levels`
    * rows — the window that builds the cdf runs over that bounded frame,
    * never pixels), then the level→eq map joins back (broadcast — its
    * size is the level count). All arithmetic is exact integer products
    * in doubles (≤ 2^53), so the floor is engine-portable with no snap.
    * Input (…, y, x, value); output the same with `value` equalized.
    */
  def histogramEqualize(pixels: DataFrame, levels: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(levels >= 2, s"histogramEqualize: levels must be >= 2, got $levels")
    val counts = pixels.groupBy(col("value").as("__v"))
      .agg(count(lit(1)).as("__n"))
    // bounded window: at most `levels` rows per frame
    val cdf = counts.withColumn("__cdf",
      sum(col("__n")).over(Window.orderBy(col("__v"))
        .rowsBetween(Window.unboundedPreceding, 0)))
    val stats = cdf.agg(min(col("__cdf")).as("__cdf_min"),
      max(col("__cdf")).as("__n_tot"))
    val mapping = cdf.crossJoin(broadcast(stats))
      .select(col("__v"),
        when(col("__n_tot") > col("__cdf_min"),
          floor((col("__cdf") - col("__cdf_min")).cast("double") *
            (levels - 1) / (col("__n_tot") - col("__cdf_min")) + 0.5))
          .otherwise(lit(0.0)).cast("long").as("__eq"))
    pixels.join(broadcast(mapping), pixels("value") === col("__v"))
      .drop("value", "__v")
      .withColumnRenamed("__eq", "value")
  }

  /** OTSU global threshold over long-form integer-level pixels (Otsu
    * 1979 — the parameter-free foreground/background split
    * skimage's `threshold_otsu` computes; the binarization pass before
    * [[labelConnected]] / morphology): pick the level t maximizing the
    * between-class variance σ²_b(t) = ω₀ω₁(μ₀−μ₁)² of the ≤ t / > t
    * split. Same two-pass global-stat shape as [[histogramEqualize]]:
    * ONE keyed count aggregation to per-level (count, value·count) rows,
    * cumulative sums over that BOUNDED level spine (never pixels), a
    * broadcast 1-row totals frame, and an argmax over ≤ levels rows.
    * σ²_b snaps to the 1e-6 grid BEFORE the argmax (the round-then-argmin
    * discipline of kmeansTrain), ties break to the LOWEST level — both
    * engines elect the same threshold even at near-ties. Candidate
    * thresholds leave class 1 non-empty (the top level is not a
    * candidate); a constant image therefore has no candidate and returns
    * an empty frame, stated. Levels must be non-negative integers.
    * Output: one row (threshold, sigma_b, n).
    */
  def otsuThreshold(pixels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = pixels.groupBy(col("value").cast("long").as("__v"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("__w0", sum(col("__n")).over(w))
      .withColumn("__s0", sum(col("__v") * col("__n")).over(w))
    val tot = counts.agg(sum(col("__n")).as("__nt"),
      sum(col("__v") * col("__n")).as("__st"))
    val w0d = col("__w0").cast("double")
    val w1d = (col("__nt") - col("__w0")).cast("double")
    val mu0 = col("__s0").cast("double") / w0d
    val mu1 = (col("__st") - col("__s0")).cast("double") / w1d
    val scored = cum.crossJoin(broadcast(tot))
      .filter(col("__w0") < col("__nt"))
      .select(col("__v").as("threshold"),
        graft.pipeline.TextAnalysis.round6(
          w0d * w1d * (mu0 - mu1) * (mu0 - mu1)).as("sigma_b"),
        col("__nt").as("n"))
    scored
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("sigma_b").desc, col("threshold"))))
      .filter(col("__rk") === 1).drop("__rk")
  }

  /** Shared neighborhood accessor for the box kernels: resolves (r, c)
    * offsets that fall outside the center tile into the neighbor ring,
    * indexing each neighbor with ITS OWN dims/stride (partial edge
    * tiles). Raises if a tile is thinner than the kernel depth (the
    * pixel would live beyond the 8-neighbor ring); clamps to the border
    * only for NoPad's genuinely-absent neighbors.
    */
  private def haloReader(h: Int, w: Int, px: Array[Double],
      halo: Map[(Int, Int), HaloTile], depth: Int,
      op: String): (Int, Int) => Double = { (r, c) =>
    val dy = if (r < 0) -1 else if (r >= h) 1 else 0
    val dx = if (c < 0) -1 else if (c >= w) 1 else 0
    if (dy == 0 && dx == 0) px(r * w + c)
    else halo.get((dy, dx)) match {
      case Some(t) =>
        val rr = if (dy < 0) t.h + r else if (dy > 0) r - h else r
        val cc = if (dx < 0) t.w + c else if (dx > 0) c - w else c
        if (rr < 0 || rr >= t.h || cc < 0 || cc >= t.w)
          throw new IllegalStateException(
            s"$op: neighbor tile ${t.h}x${t.w} is thinner than " +
              s"kernel depth $depth — pixels beyond the 8-neighbor ring " +
              "are not shipped; re-tile with tiles >= depth in each dim")
        t.px(rr * t.w + cc)
      case None => px(r.max(0).min(h - 1) * w + c.max(0).min(w - 1))
    }
  }

  // ---- pyramid (models.py:234-263 multiscale; coarsen/subsample) ----

  /** One pyramid level down for images: 2x2 mean (coarsen, like
    * multiscale_spatial_image; pyramids_utils.py:54). DIMS-GENERIC: a
    * `z` column, when present, coarsens too (2x2x2 mean — the
    * reference's 3D multiscales, models.py:234-263 pass the full dim
    * tuple to `to_multiscale`); without one the plan is the exact 2D
    * groupBy as before.
    */
  def coarsenImage(pixels: DataFrame, factor: Int = 2): DataFrame = {
    val zKey = if (pixels.columns.contains("z"))
      Seq((col("z") / factor).cast("int").as("z")) else Nil
    val keys = Seq(col("c")) ++ zKey ++ Seq(
      (col("y") / factor).cast("int").as("y"),
      (col("x") / factor).cast("int").as("x"))
    pixels.groupBy(keys: _*)
      .agg(avg(col("value")).as("value"))
  }

  /** One level down for labels: nearest-neighbour subsample (top-left),
    * matching ome-zarr's `resize` order-0 (models.py:242-263).
    * Dims-generic like [[coarsenImage]]: a `z` column subsamples too.
    */
  def subsampleLabels(labels: DataFrame, factor: Int = 2): DataFrame = {
    val has3d = labels.columns.contains("z")
    val keep = if (has3d)
      col("z") % factor === 0 && col("y") % factor === 0 && col("x") % factor === 0
    else col("y") % factor === 0 && col("x") % factor === 0
    val outCols = (if (has3d) Seq((col("z") / factor).cast("int").as("z")) else Nil) ++
      Seq((col("y") / factor).cast("int").as("y"),
        (col("x") / factor).cast("int").as("x"), col("label"))
    labels.filter(keep).select(outCols: _*)
  }

  /** Full pyramid as a single DataFrame with a `scale` column. */
  def buildPyramid(pixels: DataFrame, levels: Int, factor: Int = 2): DataFrame = {
    var cur = pixels.withColumn("scale", lit(0))
    var out = cur
    var s = 1
    while (s <= levels) {
      cur = coarsenImage(cur.drop("scale")).withColumn("scale", lit(s))
      out = out.unionByName(cur)
      s += 1
    }
    out
  }

  // ---- rasterize (rasterize.py:616-743 datashader path) ----

  /** Points -> sparse pixel table: bin coordinates at `(sx, sy)` resolution
    * from origin `(x0, y0)`, reduce per pixel (and per category when
    * `categoryCol` is set — datashader `count_cat`). The groupBy is the
    * whole algorithm; partial aggregation handles any point count.
    */
  def rasterizePoints(points: DataFrame, x0: Double, y0: Double,
      sx: Double, sy: Double, width: Int, height: Int,
      valueCol: Option[String] = None, aggFunc: String = "count",
      categoryCol: Option[String] = None): DataFrame = {
    val px = floor((col("x") - x0) / sx).cast("int")
    val py = floor((col("y") - y0) / sy).cast("int")
    val base = points
      .withColumn("__px", px).withColumn("__py", py)
      .filter(col("__px") >= 0 && col("__px") < width &&
        col("__py") >= 0 && col("__py") < height)
    val keys = Seq(col("__py").as("y"), col("__px").as("x")) ++
      categoryCol.map(c => col(c).as("category"))
    base.withColumn("__v", valueCol.map(col).getOrElse(lit(1L)))
      .groupBy(keys: _*)
      .agg(Aggregate.reduction(aggFunc, col("__v")).as("value"))
  }

  /** 3D points -> sparse voxel table (`rasterize` with
    * `spatial_axes={"x","y","z"}` + `target_depth`, rasterize.py:86-140;
    * axis assembly :487-531): bin all three coordinates, reduce per
    * voxel (and per category). Identical shape to [[rasterizePoints]]
    * with a z key — one partial-aggregated groupBy, any point count.
    */
  def rasterizePoints3d(points: DataFrame,
      x0: Double, y0: Double, z0: Double,
      sx: Double, sy: Double, sz: Double,
      width: Int, height: Int, depth: Int,
      valueCol: Option[String] = None, aggFunc: String = "count",
      categoryCol: Option[String] = None): DataFrame = {
    val px = floor((col("x") - x0) / sx).cast("int")
    val py = floor((col("y") - y0) / sy).cast("int")
    val pz = floor((col("z") - z0) / sz).cast("int")
    val base = points
      .withColumn("__px", px).withColumn("__py", py).withColumn("__pz", pz)
      .filter(col("__px") >= 0 && col("__px") < width &&
        col("__py") >= 0 && col("__py") < height &&
        col("__pz") >= 0 && col("__pz") < depth)
    val keys = Seq(col("__pz").as("z"), col("__py").as("y"), col("__px").as("x")) ++
      categoryCol.map(c => col(c).as("category"))
    base.withColumn("__v", valueCol.map(col).getOrElse(lit(1L)))
      .groupBy(keys: _*)
      .agg(Aggregate.reduction(aggFunc, col("__v")).as("value"))
  }

  /** Shapes -> raster via scanline fill (datashader Canvas.polygons,
    * rasterize.py:616-743): every shape emits its covered cells (geometry
    * kernel, exploded in-plan), then one groupBy reduces per pixel.
    * Default reduction: min over the shape index — deterministic
    * first-wins labels (`_default_agg_func`, rasterize.py:746-761).
    */
  def rasterizeShapes(shapes: DataFrame, x0: Double, y0: Double,
      sx: Double, sy: Double, width: Int, height: Int,
      valueCol: Option[String] = None, aggFunc: String = "min"): DataFrame = {
    import graft.geom.st._
    val cells = shapes.select(
      valueCol.map(col).getOrElse(col("index")).as("__sv"),
      explode(st_cover_cells(col("geometry"), lit(x0), lit(y0), lit(sx), lit(sy),
        lit(width), lit(height))).as("__cell"))
    cells.groupBy(
        shiftrightunsigned(col("__cell"), 32).cast("int").as("y"),
        (col("__cell").bitwiseAND(lit(0xFFFFFFFFL))).cast("int").as("x"))
      .agg(Aggregate.reduction(aggFunc, col("__sv")).as("value"))
  }

  /** rasterize_bins (rasterize_bins.py:31-237): grid-binned table values ->
    * sparse pixels, 1px per bin, origin at the min bin.
    */
  def rasterizeBins(obs: DataFrame, rowCol: String, colCol: String,
      valueCol: String): DataFrame = {
    val mins = obs.agg(min(col(rowCol)).as("r0"), min(col(colCol)).as("c0")).collect()(0)
    val (r0, c0) = (mins.getLong(0), mins.getLong(1))
    obs.select((col(rowCol) - r0).cast("int").as("y"),
      (col(colCol) - c0).cast("int").as("x"), col(valueCol).as("value"))
  }

  /** Unified rasterize dispatch (`rasterize`, rasterize.py:154-372): burn
    * any element kind into a raster over `[minC, maxC]` in `cs` at
    * `targetWidth x targetHeight`. Points reduce per cell, shapes scanline-
    * fill (first-wins index labels), labels/images resample through the
    * inverse affine (+ pyramid heuristic for multiscale images).
    */
  def rasterize(sd: graft.model.SpatialDataset, elementName: String, cs: String,
      minC: Seq[Double], maxC: Seq[Double],
      targetWidth: Int, targetHeight: Int,
      valueCol: Option[String] = None, aggFunc: Option[String] = None): DataFrame = {
    import graft.model._
    val el = sd.element(elementName)
    val t = sd.transformTo(elementName, cs)
    val m = t.toAffineMatrix(Seq("x", "y"), Seq("x", "y"))
    val sx = (maxC(0) - minC(0)) / targetWidth
    val sy = (maxC(1) - minC(1)) / targetHeight
    el.meta.kind match {
      case ElementKind.Points =>
        // transform points into cs, then bin (datashader Canvas.points path)
        val moved = TransformOps.transformPoints(el.data, t)
        rasterizePoints(moved, minC(0), minC(1), sx, sy, targetWidth, targetHeight,
          valueCol, aggFunc.getOrElse("count"))
      case ElementKind.Shapes =>
        val moved = TransformOps.transformShapes(el.data, t)
        rasterizeShapes(moved, minC(0), minC(1), sx, sy, targetWidth, targetHeight,
          valueCol, aggFunc.getOrElse("min")) // _default_agg_func: first-wins index
      case ElementKind.Labels =>
        rasterizeRaster(el.data, valueCol.getOrElse("label"), t, minC, maxC,
          targetWidth, targetHeight)._1
      case ElementKind.Images =>
        val numLevels = 1 + el.data.agg(max(col("scale"))).collect()(0).getInt(0)
        rasterizeRaster(tilesToPixels(el.data, el.meta.tileSize),
          valueCol.getOrElse("value"), t,
          minC, maxC, targetWidth, targetHeight, numLevels, keepCols = Seq("c"))._1
      case other => sys.error(s"rasterize: unsupported element kind $other")
    }
  }

  /** Unified 3D rasterize dispatch (`rasterize` with
    * `spatial_axes={"x","y","z"}` + `target_depth`, rasterize.py:86-140):
    * burn an element into a `(targetDepth, targetHeight, targetWidth)`
    * voxel grid over `[minC, maxC]` (x, y, z order) in `cs`. Points
    * transform through the full 3-axis affine then bin; labels/images
    * gather through the inverse 3x4 ([[rasterizeRaster3d]]). Shapes are
    * 2D by the data model (GeoParquet ingest force-drops z,
    * `io_shapes.py:33-67`) — refused loudly, matching the reference's
    * own ValueError for unsupported axis sets.
    */
  def rasterize3d(sd: graft.model.SpatialDataset, elementName: String, cs: String,
      minC: Seq[Double], maxC: Seq[Double],
      targetWidth: Int, targetHeight: Int, targetDepth: Int,
      valueCol: Option[String] = None, aggFunc: Option[String] = None): DataFrame = {
    import graft.model._
    require(minC.size == 3 && maxC.size == 3,
      "rasterize3d: minC/maxC must be (x, y, z) triples")
    val el = sd.element(elementName)
    val t = sd.transformTo(elementName, cs)
    val sx = (maxC(0) - minC(0)) / targetWidth
    val sy = (maxC(1) - minC(1)) / targetHeight
    val sz = (maxC(2) - minC(2)) / targetDepth
    el.meta.kind match {
      case ElementKind.Points =>
        val moved = TransformOps.transformPoints(el.data, t, Seq("x", "y", "z"))
        rasterizePoints3d(moved, minC(0), minC(1), minC(2), sx, sy, sz,
          targetWidth, targetHeight, targetDepth,
          valueCol, aggFunc.getOrElse("count"))
      case ElementKind.Labels =>
        rasterizeRaster3d(el.data, valueCol.getOrElse("label"), t, minC, maxC,
          targetWidth, targetHeight, targetDepth)._1
      case ElementKind.Images =>
        val numLevels = 1 + el.data.agg(max(col("scale"))).collect()(0).getInt(0)
        rasterizeRaster3d(tilesToPixels3d(el.data, el.meta.tileSize),
          valueCol.getOrElse("value"), t, minC, maxC,
          targetWidth, targetHeight, targetDepth, numLevels,
          keepCols = Seq("c"))._1
      case other => sys.error(
        s"rasterize3d: element kind $other has no z axis to rasterize " +
          "(shapes are 2D by the data model)")
    }
  }

  /** Fit the bin-grid -> space affine from sample bins
    * (`rasterize_bins`'s `estimate_transform("affine")` on 20 random bins,
    * rasterize_bins.py:129-157): least squares on driver over a
    * deterministic sample of (bin_col, bin_row) -> (x, y) pairs.
    */
  def rasterizeBinsAffine(obs: DataFrame, rowCol: String, colCol: String,
      xCol: String, yCol: String, sampleSize: Int = 20): graft.model.AffineT = {
    val sample = obs.select(col(colCol).cast("double"), col(rowCol).cast("double"),
        col(xCol).cast("double"), col(yCol).cast("double"))
      .orderBy(col(rowCol), col(colCol)).limit(sampleSize).collect()
    val src = sample.map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val dst = sample.map(r => (r.getDouble(2), r.getDouble(3))).toSeq
    graft.model.AffineT(Landmarks.estimateAffine(src, dst),
      Seq("x", "y"), Seq("x", "y"))
  }

  /** Re-point a table's annotation target at rasterized-bin labels
    * (`rasterize_bins_link_table_to_labels`, rasterize_bins.py:266-287):
    * the obs region column becomes the labels element name and the
    * instance key switches to the relabeled column, so joins resolve
    * against the rasterized labels instead of the original bins.
    */
  def rasterizeBinsLinkTableToLabels(sd: graft.model.SpatialDataset,
      tableName: String, labelsName: String): graft.model.SpatialDataset = {
    val el = sd.element(tableName)
    val ann = el.meta.table.getOrElse(
      sys.error(s"table '$tableName' has no annotation metadata"))
    val newObs = el.data.withColumn(ann.regionKey, lit(labelsName))
    val newAnn = ann.copy(region = Seq(labelsName),
      instanceKey = s"relabeled_${ann.instanceKey}")
    sd.withElement(el.copy(
      meta = el.meta.copy(table = Some(newAnn)), data = newObs))
  }

  // ---- affine resample, order 0 (rasterize.py:375-613 / transform.py:38-105) ----

  /** Inverse-affine gather on long-form pixels: for every output pixel the
    * source pixel is `floor(inv . (xo+0.5, yo+0.5))` (nearest); the gather
    * is an equi-join on source coordinates — a plain shuffle join Catalyst
    * can plan at any scale. `keepCols` (e.g. the channel column) pass
    * through the join into the output.
    */
  def affineResample(src: DataFrame, valueCol: String,
      inv: Array[Double], // row-major 2x3: xs = i00*xo + i01*yo + i02 ...
      outWidth: Int, outHeight: Int, keepCols: Seq[String] = Nil): DataFrame = {
    val spark = src.sparkSession
    val outGrid = spark.range(outWidth.toLong * outHeight)
      .select((col("id") / outWidth).cast("int").as("yo"),
        (col("id") % outWidth).cast("int").as("xo"))
    val xs = floor(lit(inv(0)) * (col("xo") + 0.5) + lit(inv(1)) * (col("yo") + 0.5) + lit(inv(2))).cast("int")
    val ys = floor(lit(inv(3)) * (col("xo") + 0.5) + lit(inv(4)) * (col("yo") + 0.5) + lit(inv(5))).cast("int")
    outGrid.withColumn("__xs", xs).withColumn("__ys", ys)
      .join(src.withColumnRenamed("x", "__xs").withColumnRenamed("y", "__ys"),
        Seq("__xs", "__ys"), "inner")
      .select(keepCols.map(col) ++
        Seq(col("yo").as("y"), col("xo").as("x"), col(valueCol)): _*)
  }

  /** Pyramid-level selection heuristic for rasterizing a multiscale raster
    * (rasterize.py:406-451): walk levels coarsest -> finest and pick the
    * first whose inverse-transformed bounding box spans at least
    * `target * sqrt(n_axes)` source pixels on EVERY axis — the coarsest
    * level that still oversamples the target by the sqrt(n) slack (the
    * slack covers bbox rotation in intrinsic space). Falls back to the
    * finest level when even it is too small. Pure driver math.
    */
  def selectPyramidLevel(numLevels: Int, levelToCs: graft.model.Transform,
      minC: Seq[Double], maxC: Seq[Double],
      targetWidth: Double, targetHeight: Double,
      levelFactor: Double = 2.0): Int = {
    val inv = levelToCs.toAffineMatrix(Seq("x", "y"), Seq("x", "y")).inverseMatrix
    val corners = Seq((minC(0), minC(1)), (maxC(0), minC(1)),
      (maxC(0), maxC(1)), (minC(0), maxC(1)))
      .map { case (x, y) =>
        (inv(0, 0) * x + inv(0, 1) * y + inv(0, 2),
          inv(1, 0) * x + inv(1, 1) * y + inv(1, 2)) }
    val sizeX = corners.map(_._1).max - corners.map(_._1).min
    val sizeY = corners.map(_._2).max - corners.map(_._2).min
    val slack = math.sqrt(2.0)
    var lvl = numLevels - 1
    while (lvl > 0) {
      val f = math.pow(levelFactor, lvl)
      if (sizeX / f >= targetWidth * slack && sizeY / f >= targetHeight * slack)
        return lvl
      lvl -= 1
    }
    0
  }

  /** Rasterize a (possibly multiscale) long-form raster into a target grid
    * over a bounding box in `cs` coordinates (rasterize of rasters,
    * rasterize.py:375-613): pick the pyramid level with
    * [[selectPyramidLevel]], fold the level factor and the output-grid
    * geometry into ONE inverse affine, and gather with [[affineResample]].
    * Returns (pixels, chosenLevel).
    */
  def rasterizeRaster(pyramid: DataFrame, valueCol: String,
      t: graft.model.Transform, minC: Seq[Double], maxC: Seq[Double],
      targetWidth: Int, targetHeight: Int, numLevels: Int = 1,
      keepCols: Seq[String] = Nil): (DataFrame, Int) = {
    import graft.model.{ScaleT, Transform}
    val lvl = selectPyramidLevel(numLevels, t, minC, maxC, targetWidth, targetHeight)
    val f = math.pow(2.0, lvl)
    // level px -> cs: scale by the level factor, then the element transform
    val levelToCs = Transform.sequence(ScaleT(Seq(f, f), Seq("x", "y")), t)
    val inv = levelToCs.toAffineMatrix(Seq("x", "y"), Seq("x", "y")).inverseMatrix
    // output px -> cs: x_cs = minx + (xo + 0.5) * sx (then into the inverse)
    val sx = (maxC(0) - minC(0)) / targetWidth
    val sy = (maxC(1) - minC(1)) / targetHeight
    val a = Array(
      inv(0, 0) * sx, inv(0, 1) * sy,
      inv(0, 0) * minC(0) + inv(0, 1) * minC(1) + inv(0, 2),
      inv(1, 0) * sx, inv(1, 1) * sy,
      inv(1, 0) * minC(0) + inv(1, 1) * minC(1) + inv(1, 2))
    val src = if (pyramid.columns.contains("scale"))
      pyramid.filter(col("scale") === lvl).drop("scale") else pyramid
    (affineResample(src, valueCol, a, targetWidth, targetHeight, keepCols), lvl)
  }

  // ---- 3D resample / rasterize-of-rasters (transform.py:38-105 and
  //      rasterize.py:375-613 are dim-generic via dask_image) ----

  /** 3D inverse-affine gather, order 0: for every output voxel the source
    * voxel is `floor(inv . (xo+0.5, yo+0.5, zo+0.5, 1))`; the gather is
    * an equi-join on `(z, y, x)` — the same plain shuffle join as the 2D
    * [[affineResample]], planned by Catalyst at any scale (the output
    * grid is a distributed `range`, never a driver loop). `inv` is
    * row-major 3x4 in row order (xs, ys, zs), each row's coefficients
    * over (xo, yo, zo, 1).
    */
  def affineResample3d(src: DataFrame, valueCol: String,
      inv: Array[Double],
      outWidth: Int, outHeight: Int, outDepth: Int,
      keepCols: Seq[String] = Nil): DataFrame = {
    require(inv.length == 12,
      s"affineResample3d: inverse must be row-major 3x4 (12 values), got ${inv.length}")
    val spark = src.sparkSession
    val plane = outWidth.toLong * outHeight
    val outGrid = spark.range(plane * outDepth)
      .select((col("id") / plane).cast("int").as("zo"),
        ((col("id") % plane) / outWidth).cast("int").as("yo"),
        (col("id") % outWidth).cast("int").as("xo"))
    def row(o: Int) = floor(
      lit(inv(o)) * (col("xo") + 0.5) + lit(inv(o + 1)) * (col("yo") + 0.5) +
        lit(inv(o + 2)) * (col("zo") + 0.5) + lit(inv(o + 3))).cast("int")
    outGrid
      .withColumn("__xs", row(0)).withColumn("__ys", row(4)).withColumn("__zs", row(8))
      .join(src.withColumnRenamed("x", "__xs").withColumnRenamed("y", "__ys")
          .withColumnRenamed("z", "__zs"),
        Seq("__xs", "__ys", "__zs"), "inner")
      .select(keepCols.map(col) ++
        Seq(col("zo").as("z"), col("yo").as("y"), col("xo").as("x"), col(valueCol)): _*)
  }

  /** 3D pyramid-level heuristic: the 2D walk (rasterize.py:406-451) over
    * the 8 bbox corners with `sqrt(3)` slack — coarsest level that still
    * oversamples the target on EVERY axis. Pure driver math.
    */
  def selectPyramidLevel3d(numLevels: Int, levelToCs: graft.model.Transform,
      minC: Seq[Double], maxC: Seq[Double],
      targetWidth: Double, targetHeight: Double, targetDepth: Double,
      levelFactor: Double = 2.0): Int = {
    val axes = Seq("x", "y", "z")
    val inv = levelToCs.toAffineMatrix(axes, axes).inverseMatrix
    val corners = for {
      x <- Seq(minC(0), maxC(0)); y <- Seq(minC(1), maxC(1))
      z <- Seq(minC(2), maxC(2))
    } yield (0 to 2).map(i =>
      inv(i, 0) * x + inv(i, 1) * y + inv(i, 2) * z + inv(i, 3))
    val span = (0 to 2).map(i => corners.map(_(i)).max - corners.map(_(i)).min)
    val targets = Seq(targetWidth, targetHeight, targetDepth)
    val slack = math.sqrt(3.0)
    var lvl = numLevels - 1
    while (lvl > 0) {
      val f = math.pow(levelFactor, lvl)
      if (span.zip(targets).forall { case (s, t) => s / f >= t * slack })
        return lvl
      lvl -= 1
    }
    0
  }

  /** Rasterize a (possibly multiscale) 3D long-form raster into a target
    * `(depth, height, width)` grid over a 3D bounding box in `cs`
    * coordinates — the z-generalized [[rasterizeRaster]]: pick the level,
    * fold level factor + output-grid geometry into ONE inverse 3x4, and
    * gather with [[affineResample3d]]. Returns (voxels, chosenLevel).
    */
  def rasterizeRaster3d(pyramid: DataFrame, valueCol: String,
      t: graft.model.Transform, minC: Seq[Double], maxC: Seq[Double],
      targetWidth: Int, targetHeight: Int, targetDepth: Int,
      numLevels: Int = 1, keepCols: Seq[String] = Nil): (DataFrame, Int) = {
    import graft.model.{ScaleT, Transform}
    val axes = Seq("x", "y", "z")
    val lvl = selectPyramidLevel3d(numLevels, t, minC, maxC,
      targetWidth, targetHeight, targetDepth)
    val f = math.pow(2.0, lvl)
    val levelToCs = Transform.sequence(ScaleT(Seq(f, f, f), axes), t)
    val inv = levelToCs.toAffineMatrix(axes, axes).inverseMatrix
    val s = Seq((maxC(0) - minC(0)) / targetWidth,
      (maxC(1) - minC(1)) / targetHeight,
      (maxC(2) - minC(2)) / targetDepth)
    val a = (0 to 2).flatMap { i =>
      Seq(inv(i, 0) * s(0), inv(i, 1) * s(1), inv(i, 2) * s(2),
        inv(i, 0) * minC(0) + inv(i, 1) * minC(1) + inv(i, 2) * minC(2) + inv(i, 3))
    }.toArray
    val src = if (pyramid.columns.contains("scale"))
      pyramid.filter(col("scale") === lvl).drop("scale") else pyramid
    (affineResample3d(src, valueCol, a, targetWidth, targetHeight, targetDepth,
      keepCols), lvl)
  }

  // ---- unpad (reference _utils.py:71-160) ----

  /** Strip empty margins: filter to the non-background extent (computed
    * distributed, applied as a range predicate).
    */
  def unpad(pixels: DataFrame, valueCol: String = "value"): DataFrame = {
    val ext = pixels.filter(col(valueCol) =!= 0)
      .agg(min("y").as("y0"), max("y").as("y1"), min("x").as("x0"), max("x").as("x1"))
      .collect()(0)
    pixels.filter(col("y") >= ext.getAs[Int]("y0") && col("y") <= ext.getAs[Int]("y1") &&
      col("x") >= ext.getAs[Int]("x0") && col("x") <= ext.getAs[Int]("x1"))
      .select(col("y") - ext.getAs[Int]("y0"), col("x") - ext.getAs[Int]("x0"), col(valueCol))
      .toDF("y", "x", valueCol)
  }

  // ---- relabel (map.py:159-253) ----

  /** Block-unique labels by bit-shifting the partition id in
    * (map.py:159-217): label' = (label << shift) | partition.
    */
  def relabelByPartition(labels: DataFrame, shift: Int = 20): DataFrame =
    labels.withColumn("label",
      when(col("label") === 0, 0L)
        .otherwise(shiftleft(col("label"), shift)
          .bitwiseOR(spark_partition_id().cast("long"))))

  /** Compact ids to 1..n by rank over distinct labels
    * (relabel_sequential, map.py:219-253). Rank assignment is a
    * range-partitioned sort + zipWithIndex (per-partition offsets), NOT an
    * unpartitioned window — 10^8 distinct labels would funnel through one
    * task under `row_number().over(Window.orderBy(...))`. The remap joins
    * back broadcast.
    */
  def relabelSequential(labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = labels.sparkSession
    val distinctSorted = labels.select("label").filter(col("label") =!= 0)
      .distinct().orderBy("label")
    val rankedRdd = distinctSorted.rdd.zipWithIndex
      .map { case (r, i) => Row(r.get(0), i + 1L) }
    val ranked = spark.createDataFrame(rankedRdd,
      StructType(distinctSorted.schema.fields :+ StructField("__new", LongType)))
    // no forced broadcast: the distinct-label table is usually small (AQE
    // broadcasts it) but can reach 10^8 rows, where a hint would break
    labels.join(ranked, Seq("label"), "left")
      .withColumn("label", coalesce(col("__new"), lit(0L)))
      .drop("__new")
  }

  /** Tile-LOCAL connected-component labeling (4-connectivity union-find
    * over one tile's pixel array) — the per-partition half of
    * [[labelConnected]]. Foreground = value != 0. Returns one label per
    * pixel: the MINIMUM GLOBAL LINEAR PIXEL ID (y·W + x) of the pixel's
    * tile-local component, or -1 for background. Choosing the min global
    * id as the provisional label makes the cross-tile merge a pure min
    * (graph CC's fixpoint IS the final label) with no renumber pass.
    */
  private[ops] def labelTileLocal(ty: Int, tx: Int, h: Int, w: Int,
      px: Seq[Double], widthPx: Int, tileSize: Int): Array[Long] = {
    val n = h * w
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    var i = 0
    while (i < n) {
      if (px(i) != 0.0) {
        val (r, c) = (i / w, i % w)
        if (c > 0 && px(i - 1) != 0.0) union(i, i - 1)
        if (r > 0 && px(i - w) != 0.0) union(i, i - w)
      }
      i += 1
    }
    // min global pixel id per root: roots are the smallest local index in
    // their set (union parents the larger root), and local row-major order
    // agrees with global (y, x) order inside one tile — so the root's own
    // global id IS the component minimum
    Array.tabulate(n) { j =>
      if (px(j) == 0.0) -1L
      else {
        val r = find(j)
        (ty.toLong * tileSize + r / w) * widthPx + tx.toLong * tileSize + r % w
      }
    }
  }

  /** DISTRIBUTED connected-component labeling of a raster mask — the
    * classic two-level image-processing primitive (tile-local union-find,
    * then a global merge of boundary equivalences) that turns "label the
    * blobs in 100 TB of imagery" into three keyed stages:
    *
    *  1. ONE pass per tile labels its own pixels locally
    *     ([[labelTileLocal]] — imperative union-find, the inherently
    *     procedural kernel surface, same contract as the halo kernels);
    *     provisional labels are min-global-pixel-ids, so they are already
    *     globally unique and globally comparable.
    *  2. Only the BOUNDARY STRIPS move: each tile ships its last row/
    *     column label vectors, which zip against the adjacent tile's
    *     first row/column via two keyed equi-joins on tile coordinates —
    *     the shuffle carries O(perimeter) longs per tile, never pixels.
    *  3. [[graft.pipeline.Dedup.connectedComponents]] resolves the
    *     equivalence graph (edges ≤ touching boundary pixels — for blobby
    *     masks a vanishing fraction of the raster) and the final label of
    *     a pixel is the component minimum of its provisional label — a
    *     keyed join back, identity for labels with no cross-tile edge.
    *
    * 4-connectivity; foreground = value != 0. Input: the
    * [[pixelsToTilesExact]] layout at a single (scale, c). Output:
    * long-form (y, x, component) for FOREGROUND pixels, component = the
    * min global linear pixel id (y·widthPx + x) of the blob.
    */
  def labelConnected(tiles: DataFrame, widthPx: Int,
      tileSize: Int = TS): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val wpx = widthPx
    val ts = tileSize
    val lab = tiles
      .select(col("tile_y").cast("int"), col("tile_x").cast("int"),
        col("h").cast("int"), col("w").cast("int"),
        col("px").cast("array<double>"))
      .as[(Int, Int, Int, Int, Seq[Double])]
      .map { case (ty, tx, h, w, px) =>
        (ty, tx, h, w, labelTileLocal(ty, tx, h, w, px, wpx, ts).toSeq)
      }
      .toDF("tile_y", "tile_x", "h", "w", "lab")
    // boundary strips: last column / first column (zip by row — horizontal
    // neighbors share tile_y and therefore h), last row / first row
    def pairsOf(aStrip: Column, bStrip: Column) =
      filter(zip_with(aStrip, bStrip, (a, b) =>
        when(a >= 0 && b >= 0, struct(least(a, b).as("id_a"),
          greatest(a, b).as("id_b")))), p => p.isNotNull)
    val right = lab.select(col("tile_y"), (col("tile_x") + 1).as("tile_x"),
      transform(sequence(lit(0), col("h") - 1),
        r => element_at(col("lab"), r * col("w") + col("w"))).as("__r"))
    val left = lab.select(col("tile_y"), col("tile_x"),
      transform(sequence(lit(0), col("h") - 1),
        r => element_at(col("lab"), r * col("w") + 1)).as("__l"))
    val bottom = lab.select((col("tile_y") + 1).as("tile_y"), col("tile_x"),
      slice(col("lab"), (col("h") - 1) * col("w") + 1, col("w")).as("__b"))
    val top = lab.select(col("tile_y"), col("tile_x"),
      slice(col("lab"), lit(1), col("w")).as("__t"))
    val hEdges = right.join(left, Seq("tile_y", "tile_x"))
      .select(explode(pairsOf(col("__r"), col("__l"))).as("__p"))
    val vEdges = bottom.join(top, Seq("tile_y", "tile_x"))
      .select(explode(pairsOf(col("__b"), col("__t"))).as("__p"))
    val edges = hEdges.unionByName(vEdges)
      .select(col("__p.id_a"), col("__p.id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val comp = graft.pipeline.Dedup.connectedComponents(edges)
      .select(col("doc_id").as("__lbl"), col("cluster_id").as("__comp"))
    lab.select(col("tile_y"), col("tile_x"), col("h"), col("w"),
        posexplode(col("lab")).as(Seq("pos", "__lbl")))
      .filter(col("__lbl") >= 0)
      .join(comp, Seq("__lbl"), "left")
      .select(
        (col("tile_y") * ts + (col("pos") / col("w")).cast("int")).as("y"),
        (col("tile_x") * ts + col("pos") % col("w")).cast("int").as("x"),
        coalesce(col("__comp"), col("__lbl")).as("component"))
  }

  /** DISTRIBUTED 3D connected-component labeling over z-stacked tiles —
    * [[labelConnected]] with the z axis (6-connectivity, the Labels3D
    * volumetric twin: nuclei/vessel segmentation masks in the reference's
    * 3D label arrays). Same three keyed stages, one new edge family:
    *
    *  1. Per (z, tile_y, tile_x) tile, the SAME in-plane local union-find
    *     ([[labelTileLocal]]); provisional labels are shifted by
    *     z·heightPx·widthPx so they are min GLOBAL VOXEL ids
    *     (z·H·W + y·W + x) — globally unique and min-mergeable.
    *  2. In-plane boundary strips zip exactly as in 2D (keyed by
    *     (z, tile_y, tile_x)); Z-FACE edges zip the FULL label arrays of
    *     (z, ty, tx) against (z+1, ty, tx) — the "boundary strip" of a
    *     1-voxel-thick plane IS the whole tile, the same O(face) cost the
    *     3D halo pays for pure-z neighbors. Edges ship only where BOTH
    *     voxels are foreground.
    *  3. Graph CC + min-label join-back, unchanged.
    *
    * Input: the [[pixelsToTiles3d]] layout at a single (scale, c); raster
    * dims must be tile multiples (pixelsToTiles3d zero-pads, and padding
    * is background, but heightPx must equal the padded plane height for
    * the voxel ids to be dense). Output: long-form (z, y, x, component)
    * for foreground voxels, component = min global voxel id of the blob.
    */
  def labelConnected3d(tiles: DataFrame, heightPx: Int, widthPx: Int,
      tileSize: Int = TS): DataFrame = {
    val spark = tiles.sparkSession
    import spark.implicits._
    val wpx = widthPx
    val hpx = heightPx
    val ts = tileSize
    val lab = tiles
      .select(col("z").cast("int"), col("tile_y").cast("int"),
        col("tile_x").cast("int"), col("h").cast("int"), col("w").cast("int"),
        col("px").cast("array<double>"))
      .as[(Int, Int, Int, Int, Int, Seq[Double])]
      .map { case (z, ty, tx, h, w, px) =>
        val off = z.toLong * hpx * wpx
        val l = labelTileLocal(ty, tx, h, w, px, wpx, ts)
          .map(v => if (v >= 0) v + off else v)
        (z, ty, tx, h, w, l.toSeq)
      }
      .toDF("z", "tile_y", "tile_x", "h", "w", "lab")
    def pairsOf(aStrip: Column, bStrip: Column) =
      filter(zip_with(aStrip, bStrip, (a, b) =>
        when(a >= 0 && b >= 0, struct(least(a, b).as("id_a"),
          greatest(a, b).as("id_b")))), p => p.isNotNull)
    val keys = Seq("z", "tile_y", "tile_x")
    val right = lab.select(col("z"), col("tile_y"), (col("tile_x") + 1).as("tile_x"),
      transform(sequence(lit(0), col("h") - 1),
        r => element_at(col("lab"), r * col("w") + col("w"))).as("__r"))
    val left = lab.select(col("z"), col("tile_y"), col("tile_x"),
      transform(sequence(lit(0), col("h") - 1),
        r => element_at(col("lab"), r * col("w") + 1)).as("__l"))
    val bottom = lab.select(col("z"), (col("tile_y") + 1).as("tile_y"), col("tile_x"),
      slice(col("lab"), (col("h") - 1) * col("w") + 1, col("w")).as("__b"))
    val top = lab.select(col("z"), col("tile_y"), col("tile_x"),
      slice(col("lab"), lit(1), col("w")).as("__t"))
    val below = lab.select((col("z") + 1).as("z"), col("tile_y"), col("tile_x"),
      col("lab").as("__d"))
    val above = lab.select(col("z"), col("tile_y"), col("tile_x"),
      col("lab").as("__u"))
    val hEdges = right.join(left, keys)
      .select(explode(pairsOf(col("__r"), col("__l"))).as("__p"))
    val vEdges = bottom.join(top, keys)
      .select(explode(pairsOf(col("__b"), col("__t"))).as("__p"))
    val zEdges = below.join(above, keys)
      .select(explode(pairsOf(col("__d"), col("__u"))).as("__p"))
    val edges = hEdges.unionByName(vEdges).unionByName(zEdges)
      .select(col("__p.id_a"), col("__p.id_b"))
      .filter(col("id_a") =!= col("id_b")).distinct()
    val comp = graft.pipeline.Dedup.connectedComponents(edges)
      .select(col("doc_id").as("__lbl"), col("cluster_id").as("__comp"))
    lab.select(col("z"), col("tile_y"), col("tile_x"), col("h"), col("w"),
        posexplode(col("lab")).as(Seq("pos", "__lbl")))
      .filter(col("__lbl") >= 0)
      .join(comp, Seq("__lbl"), "left")
      .select(col("z"),
        (col("tile_y") * ts + (col("pos") / col("w")).cast("int")).as("y"),
        (col("tile_x") * ts + col("pos") % col("w")).cast("int").as("x"),
        coalesce(col("__comp"), col("__lbl")).as("component"))
  }
}
