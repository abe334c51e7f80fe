package graft.ops

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Tile payload kernels, invoked via `StaticInvoke` (the
  * [[graft.geom.GeomKernel]] / [[graft.pipeline.AdcKernel]] pattern) so a
  * tile's payload is built or cut by one codegen'd static call per tile.
  *
  * Every long-form → tiled conversion ([[RasterOps.pixelsToTiles]],
  * [[RasterOps.pixelsToTilesExact]], [[RasterOps.pixelsToTiles3d]],
  * [[ImageTiles.tileBatch]]) groups its pixels by tile, collects the
  * row-major in-tile positions and the values side by side, and hands the
  * two lists here — the numpy block write of the reference, one pass over
  * the collected pixels into a zero-filled array. The halo exchange
  * ([[RasterOps.haloSent]], [[RasterOps.haloSent3d]]) cuts each margin
  * slab it ships with [[slab]]. The receiving side has no kernel here:
  * [[RasterOps.mapRasterWithHalo]] places the slabs a tile received into
  * one padded buffer, applies the boundary rule and notes which
  * neighbours were real, all inside the typed `flatMap` that already
  * runs the halo kernel's closure.
  */
object RasterKernel {

  /** Scatter `value(i)` to `out(pos(i))` over a zero-filled array of `n`
    * doubles. `what` names the operator and the tile for refusals.
    *
    * Refuses (never drops or misplaces a pixel):
    *  - a position outside `[0, n)`;
    *  - a position given twice;
    *  - lists of different lengths — `collect_list` skips nulls, so that is
    *    a null pixel value (or a null position) in the tile.
    */
  def scatter(pos: ArrayData, value: ArrayData, n: Int,
      what: UTF8String): ArrayData = {
    val k = pos.numElements()
    if (value.numElements() != k)
      throw new IllegalArgumentException(
        s"$what: null pixel value or position ($k positions, " +
          s"${value.numElements()} values) — filter or fill nulls upstream")
    val out = new Array[Double](n)
    val seen = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < k) {
      val p = pos.getInt(i)
      if (p < 0 || p >= n)
        throw new IllegalArgumentException(
          s"$what: pixel position $p outside the tile's [0, $n)")
      val bit = 1L << (p & 63)
      if ((seen(p >>> 6) & bit) != 0)
        throw new IllegalArgumentException(
          s"$what: duplicate pixel at in-tile position $p")
      seen(p >>> 6) |= bit
      out(p) = value.getDouble(i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** The `sh` x `sw` block at row `r0`, column `c0` of a row-major tile
    * `w` pixels wide, row-major: the margin slab one halo copy ships.
    * Refuses a block reaching past the payload (a tile whose `px` is
    * shorter than its `h` x `w`) and a null pixel inside the block: the
    * halo kernels read doubles, and a silent 0.0 would be a wrong
    * neighbour value.
    */
  def slab(px: ArrayData, w: Int, r0: Int, c0: Int, sh: Int, sw: Int): ArrayData = {
    if (sh > 0 && sw > 0 && (r0 + sh - 1) * w + c0 + sw > px.numElements())
      throw new IllegalArgumentException(
        s"halo slab: ${sh}x$sw block at ($r0, $c0) of a $w-wide tile reaches " +
          s"past its ${px.numElements()} pixels")
    val out = new Array[Double](sh * sw)
    var r = 0
    while (r < sh) {
      var c = 0
      val from = (r0 + r) * w + c0
      while (c < sw) {
        if (px.isNullAt(from + c))
          throw new IllegalArgumentException(
            s"halo slab: null pixel at in-tile position ${from + c}")
        out(r * sw + c) = px.getDouble(from + c)
        c += 1
      }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
