package graft.ops

import graft.SparkTestBase
import graft.geom.GeomKernel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class RasterVectorizeSpec extends SparkTestBase {
  import spark.implicits._

  test("pixelsToTiles/tilesToPixels round-trip") {
    val pixels = Seq.tabulate(300)(i => (0, i / 20, i % 20, i.toDouble))
      .toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 8)
    val back = RasterOps.tilesToPixels(tiles, tileSize = 8)
      .filter(col("value") =!= 0.0)
      .select("y", "x", "value").as[(Int, Int, Double)].collect().toSet
    val want = Seq.tabulate(300)(i => (i / 20, i % 20, i.toDouble))
      .filter(_._3 != 0.0).toSet
    assert(back == want)
  }

  test("mapRaster applies per-pixel kernel inside tiles") {
    val pixels = Seq((0, 0, 0, 1.0), (0, 0, 1, 2.0)).toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 4)
    val out = RasterOps.mapRaster(tiles)(_ + lit(10.0))
    val vals = RasterOps.tilesToPixels(out, tileSize = 4)
      .filter(col("y") === 0 && col("x") <= 1)
      .orderBy("x").select("value").as[Double].collect().toSeq
    assert(vals == Seq(11.0, 12.0))
  }

  test("mapRasterWithHalo sees neighbor tiles") {
    // two adjacent 2x2 tiles; kernel returns sum of center + right-neighbor payloads
    val pixels = (Seq.tabulate(4)(i => (0, i / 2, i % 2, 1.0)) ++
      Seq.tabulate(4)(i => (0, i / 2, 2 + i % 2, 10.0))).toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 2)
    val out = RasterOps.mapRasterWithHalo(tiles, tileSize = 2) { (h, w, buf, real) =>
      // depth 2 (the tile size): the right neighbor fills buffer columns
      // [w + 2, w + 4) of rows [2, h + 2)
      val bw = w + 4
      val right = if (!real(5)) 0.0
        else (for (r <- 2 until h + 2; c <- w + 2 until w + 4) yield buf(r * bw + c)).sum
      Array.tabulate(h * w)(i => buf((i / w + 2) * bw + i % w + 2) + right)
    }
    val tile0 = RasterOps.tilesToPixels(out, tileSize = 2)
      .filter(col("x") < 2).select("value").as[Double].collect().toSeq
    assert(tile0 == Seq(41.0, 41.0, 41.0, 41.0)) // 1 + sum(right tile)=40
  }

  test("halo boundary modes: Reflect mirrors the center, Constant fills, NoPad omits") {
    // one lone 2x2 tile, px row-major [1,2,3,4] — every neighbor is missing
    val pixels = Seq((0, 0, 0, 1.0), (0, 0, 1, 2.0), (0, 1, 0, 3.0), (0, 1, 1, 4.0))
      .toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 2)
    val offsets = Seq((-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1))
    // the kernel runs on executors — surface each neighbor's 2x2 margin of
    // the padded 6x6 buffer AS the output array ([real, v...] per offset in
    // fixed order) instead of closure state
    def haloOf(b: RasterOps.Boundary): Map[(Int, Int), (Boolean, Seq[Double])] = {
      val enc = RasterOps.mapRasterWithHalo(tiles, tileSize = 2, boundary = b) {
        (h, w, buf, real) =>
          offsets.toArray.flatMap { case (dy, dx) =>
            val margin = for (r <- 0 until 2; c <- 0 until 2)
              yield buf(((dy + 1) * 2 + r) * 6 + (dx + 1) * 2 + c)
            (if (real((dy + 1) * 3 + dx + 1)) 1.0 else 0.0) +: margin
          }
      }.select("px").as[Seq[Double]].collect()(0)
      offsets.zip(enc.grouped(5).toSeq).map { case (off, v) =>
        off -> (v.head == 1.0, v.tail)
      }.toMap
    }
    val refl = haloOf(RasterOps.Boundary.Reflect).map { case (k, (_, v)) => k -> v }
    assert(refl.size == 8)
    assert(refl((0, 1)) == Seq(2.0, 1.0, 4.0, 3.0), "right = horizontal mirror")
    assert(refl((-1, 0)) == Seq(3.0, 4.0, 1.0, 2.0), "above = vertical mirror")
    assert(refl((-1, -1)) == Seq(4.0, 3.0, 2.0, 1.0), "corner = both mirrors")
    val const = haloOf(RasterOps.Boundary.Constant(7.0))
    assert(const.size == 8 && const.values.forall(_._2 == Seq(7.0, 7.0, 7.0, 7.0)))
    // NoPad: no neighbor is real, and each margin reads the clamped center pixel
    val noPad = haloOf(RasterOps.Boundary.NoPad)
    assert(noPad.values.forall(!_._1), "no real neighbor")
    assert(noPad((0, 1))._2 == Seq(2.0, 2.0, 4.0, 4.0), "right = clamped last column")
    assert(noPad((-1, -1))._2 == Seq(1.0, 1.0, 1.0, 1.0), "corner = clamped corner pixel")
  }

  test("edge-tile kernel under Reflect runs the interior code path (vertical 3-tap mean)") {
    // 4x1 ramp column in two 2x2 tiles; value = y
    val pixels = Seq.tabulate(4)(y => (0, y, 0, y.toDouble)).toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 2)
    val out = RasterOps.mapRasterWithHalo(tiles, tileSize = 2,
      boundary = RasterOps.Boundary.Reflect) { (h, w, buf, _) =>
      // the kernel NEVER branches on missing neighbors — reflect fills both
      // vertical margins of every tile's buffer (depth 2, row stride w + 4)
      val bw = w + 4
      Array.tabulate(h * w) { i =>
        val o = (i / w + 2) * bw + i % w + 2
        (buf(o - bw) + buf(o) + buf(o + bw)) / 3.0
      }
    }
    val vals = RasterOps.tilesToPixels(out, tileSize = 2)
      .filter(col("x") === 0).orderBy("y").select("value").as[Double].collect().toSeq
    // symmetric padding: [0,0,1,2,3,3] -> means (1/3, 1, 2, 8/3)
    assert(vals.map(v => math.round(v * 1e9) / 1e9) ==
      Seq(1.0 / 3, 1.0, 2.0, 8.0 / 3).map(v => math.round(v * 1e9) / 1e9))
  }

  // tiles with PARTIAL edge tiles, exactly as NgffRaster emits them
  // (h = min(ts, shape - ty*ts)) — pixelsToTiles zero-pads to full tiles,
  // so it cannot produce this layout
  private def partialTiles(dense: Array[Double], hh: Int, ww: Int, ts: Int) = {
    val rows = for {
      ty <- 0 until (hh + ts - 1) / ts
      tx <- 0 until (ww + ts - 1) / ts
    } yield {
      val h = math.min(ts, hh - ty * ts); val w = math.min(ts, ww - tx * ts)
      val px = Seq.tabulate(h * w) { i =>
        dense((ty * ts + i / w) * ww + (tx * ts + i % w))
      }
      (0, 0, ty, tx, h, w, px)
    }
    rows.toDF("scale", "c", "tile_y", "tile_x", "h", "w", "px")
  }

  // numpy "symmetric" index mirror: -1 -> 0, -2 -> 1; n -> n-1, n+1 -> n-2;
  // an axis shorter than the reach bounces again (period 2n)
  private def mir(i: Int, n: Int) = {
    val m = Math.floorMod(i, 2 * n)
    if (m < n) m else 2 * n - 1 - m
  }

  test("halo exchange ships depth-clipped margin slabs, not whole tiles") {
    // 10x12 raster in 4x4 tiles (partial edges). At depth d, an edge
    // neighbor ships at most d*TS pixels and a corner neighbor d*d —
    // never the full tile (the pre-round-10 9x-bytes behavior).
    val hh = 10; val ww = 12; val ts = 4
    val dense = Array.tabulate(hh * ww)(_.toDouble)
    val tiles = partialTiles(dense, hh, ww, ts)
    for (d <- Seq(1, 2)) {
      val sent = RasterOps.haloSent(tiles, d)
        .select("dy", "dx", "n_h", "n_w", "n_px")
        .as[(Int, Int, Int, Int, Seq[Double])].collect()
      assert(sent.nonEmpty)
      sent.foreach { case (dy, dx, nh, nw, px) =>
        assert(px.length == nh * nw, s"slab dims disagree with payload at ($dy,$dx)")
        if (dy != 0) assert(nh <= d, s"row-clipped slab taller than depth: $nh > $d")
        if (dx != 0) assert(nw <= d, s"col-clipped slab wider than depth: $nw > $d")
        assert(px.length <= (if (dy != 0 && dx != 0) d * d else d * ts),
          s"slab at ($dy,$dx) ships ${px.length} px — not margin-clipped")
      }
    }
  }

  test("meanBlur3x3 is exact on a raster that is NOT a tile multiple (partial edge tiles)") {
    // 3x5 raster, tileSize 2 -> tiles of shapes 2x2, 2x2, 2x1, 1x2, 1x2, 1x1:
    // every neighbor-stride combination appears
    val hh = 3; val ww = 5
    val dense = Array.tabulate(hh * ww)(i => (i * 7 % 11).toDouble)
    val out = RasterOps.tilesToPixels(
      RasterOps.meanBlur3x3(partialTiles(dense, hh, ww, 2), tileSize = 2),
      tileSize = 2)
      .orderBy("y", "x").select("value").as[Double].collect().toSeq
    val expect = for (r <- 0 until hh; c <- 0 until ww) yield {
      var s = 0.0
      for (dy <- -1 to 1; dx <- -1 to 1)
        s += dense(mir(r + dy, hh) * ww + mir(c + dx, ww))
      s / 9.0
    }
    assert(out.map(v => math.round(v * 1e9)) == expect.map(v => math.round(v * 1e9)))
  }

  test("meanBlurBox depth 2 (5x5) matches a dense symmetric-padded reference") {
    // 6x7 raster, tileSize 4 -> partial edge tiles 4x3, 2x4, 2x3
    val hh = 6; val ww = 7
    val dense = Array.tabulate(hh * ww)(i => (i * 5 % 13).toDouble)
    val out = RasterOps.tilesToPixels(
      RasterOps.meanBlurBox(partialTiles(dense, hh, ww, 4), depth = 2, tileSize = 4),
      tileSize = 4)
      .orderBy("y", "x").select("value").as[Double].collect().toSeq
    val expect = for (r <- 0 until hh; c <- 0 until ww) yield {
      var s = 0.0
      for (dy <- -2 to 2; dx <- -2 to 2)
        s += dense(mir(r + dy, hh) * ww + mir(c + dx, ww))
      s / 25.0
    }
    assert(out.map(v => math.round(v * 1e9)) == expect.map(v => math.round(v * 1e9)))
  }

  test("meanBlurBox3d: z/y/x tile seams and symmetric borders match a dense 3D reference") {
    // 3 planes of 8x8 in 4x4 tiles: depth 2 crosses every y/x tile seam,
    // depthZ 1 crosses every z border; all raster borders reflect
    val zz = 3; val hh = 8; val ww = 8; val ts = 4
    val dense = Array.tabulate(zz * hh * ww)(i => (i * 7 % 11).toDouble)
    val pixels = (for (z <- 0 until zz; y <- 0 until hh; x <- 0 until ww)
      yield (0, z, y, x, dense(z * hh * ww + y * ww + x)))
      .toDF("c", "z", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles3d(pixels, tileSize = ts)
    val out = RasterOps.tilesToPixels3d(
      RasterOps.meanBlurBox3d(tiles, depth = 2, depthZ = 1, tileSize = ts),
      tileSize = ts)
      .orderBy("z", "y", "x").select("value").as[Double].collect().toSeq
    val expect = for (z <- 0 until zz; r <- 0 until hh; c <- 0 until ww) yield {
      var s = 0.0
      for (dz <- -1 to 1; dy <- -2 to 2; dx <- -2 to 2)
        s += dense(mir(z + dz, zz) * hh * ww + mir(r + dy, hh) * ww + mir(c + dx, ww))
      s / 75.0
    }
    assert(out.map(v => math.round(v * 1e9)) == expect.map(v => math.round(v * 1e9)))
  }

  test("meanBlurBox3d depthZ 2: multi-bounce symmetric z on a volume thinner than the reach") {
    // 2 planes only: z-2 from plane 0 must bounce off BOTH edges to plane 1
    // (numpy symmetric), z+2 from plane 1 to plane 0
    val zz = 2; val hh = 4; val ww = 4; val ts = 4
    val dense = Array.tabulate(zz * hh * ww)(i => (i * 3 % 7).toDouble)
    val pixels = (for (z <- 0 until zz; y <- 0 until hh; x <- 0 until ww)
      yield (0, z, y, x, dense(z * hh * ww + y * ww + x)))
      .toDF("c", "z", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles3d(pixels, tileSize = ts)
    val out = RasterOps.tilesToPixels3d(
      RasterOps.meanBlurBox3d(tiles, depth = 1, depthZ = 2, tileSize = ts),
      tileSize = ts)
      .orderBy("z", "y", "x").select("value").as[Double].collect().toSeq
    val expect = for (z <- 0 until zz; r <- 0 until hh; c <- 0 until ww) yield {
      var s = 0.0
      for (dz <- -2 to 2; dy <- -1 to 1; dx <- -1 to 1)
        s += dense(mir(z + dz, zz) * hh * ww + mir(r + dy, hh) * ww + mir(c + dx, ww))
      s / 45.0
    }
    assert(out.map(v => math.round(v * 1e9)) == expect.map(v => math.round(v * 1e9)))
  }

  test("meanBlurBox3d depthZ 16 on a one-plane volume: z reflects past any number of bounces") {
    // a single plane: every one of the 33 z offsets reflects back onto it
    val hh = 4; val ww = 4; val ts = 4
    val dense = Array.tabulate(hh * ww)(i => (i * 3 % 7).toDouble)
    val pixels = (for (y <- 0 until hh; x <- 0 until ww)
      yield (0, 0, y, x, dense(y * ww + x))).toDF("c", "z", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles3d(pixels, tileSize = ts)
    val out = RasterOps.tilesToPixels3d(
      RasterOps.meanBlurBox3d(tiles, depth = 1, depthZ = 16, tileSize = ts),
      tileSize = ts)
      .orderBy("z", "y", "x").select("value").as[Double].collect().toSeq
    val expect = for (r <- 0 until hh; c <- 0 until ww) yield {
      var s = 0.0
      for (dz <- -16 to 16; dy <- -1 to 1; dx <- -1 to 1)
        s += dense(mir(dz, 1) * hh * ww + mir(r + dy, hh) * ww + mir(c + dx, ww))
      s / (33 * 9)
    }
    assert(out.map(v => math.round(v * 1e9)) == expect.map(v => math.round(v * 1e9)))
  }

  test("meanBlurBox on a raster thinner than the depth: Reflect bounces as numpy does") {
    // one row in 4x4 tiles (1x4 and 1x2): rows -2..2 all reflect onto row 0
    val hh = 1; val ww = 6
    val dense = Array.tabulate(hh * ww)(i => (i * 5 % 7).toDouble)
    val out = RasterOps.tilesToPixels(
      RasterOps.meanBlurBox(partialTiles(dense, hh, ww, 4), depth = 2, tileSize = 4),
      tileSize = 4)
      .orderBy("y", "x").select("value").as[Double].collect().toSeq
    val expect = for (r <- 0 until hh; c <- 0 until ww) yield {
      var s = 0.0
      for (dy <- -2 to 2; dx <- -2 to 2)
        s += dense(mir(r + dy, hh) * ww + mir(c + dx, ww))
      s / 25.0
    }
    assert(out.map(v => math.round(v * 1e9)) == expect.map(v => math.round(v * 1e9)))
  }

  test("morphBox3d: 3D duality law and dense min/max reference across seams") {
    val zz = 3; val hh = 8; val ww = 8; val ts = 4
    val dense = Array.tabulate(zz * hh * ww)(i => (i * 13 % 17).toDouble)
    val pixels = (for (z <- 0 until zz; y <- 0 until hh; x <- 0 until ww)
      yield (0, z, y, x, dense(z * hh * ww + y * ww + x)))
      .toDF("c", "z", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles3d(pixels, tileSize = ts)
    def run(dilate: Boolean, in: org.apache.spark.sql.DataFrame = tiles) =
      RasterOps.morphBox3d(in, depth = 1, depthZ = 1, dilate = dilate, tileSize = ts)
    val ero = RasterOps.tilesToPixels3d(run(dilate = false), tileSize = ts)
      .orderBy("z", "y", "x").select("value").as[Double].collect().toSeq
    val expect = for (z <- 0 until zz; r <- 0 until hh; c <- 0 until ww) yield {
      (for (dz <- -1 to 1; dy <- -1 to 1; dx <- -1 to 1)
        yield dense(mir(z + dz, zz) * hh * ww + mir(r + dy, hh) * ww + mir(c + dx, ww))).min
    }
    assert(ero === expect)
    // duality: erode(-f) == -dilate(f) (flat SE), voxel for voxel
    val neg = RasterOps.pixelsToTiles3d(
      pixels.withColumn("value", -col("value")), tileSize = ts)
    val eroNeg = RasterOps.tilesToPixels3d(run(dilate = false, neg), tileSize = ts)
      .orderBy("z", "y", "x").select("value").as[Double].collect().toSeq
    val dil = RasterOps.tilesToPixels3d(run(dilate = true), tileSize = ts)
      .orderBy("z", "y", "x").select("value").as[Double].collect().toSeq
    assert(eroNeg === dil.map(-_))
  }

  test("haloSent3d ships margin slabs in y/x, whole planes only in pure z") {
    val zz = 2; val hh = 8; val ww = 8; val ts = 4
    val pixels = (for (z <- 0 until zz; y <- 0 until hh; x <- 0 until ww)
      yield (0, z, y, x, 1.0)).toDF("c", "z", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles3d(pixels, tileSize = ts)
    val sent = RasterOps.haloSent3d(tiles, depth = 1, depthZ = 1)
      .select("dz", "dy", "dx", "n_px").collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getSeq[Double](3).size))
    sent.foreach { case ((dz, dy, dx), n) =>
      val expected = (if (dy == 0) ts else 1) * (if (dx == 0) ts else 1)
      assert(n == expected,
        s"offset ($dz,$dy,$dx) shipped $n px, expected $expected")
    }
    // the pure-z full-plane copies exist, and nothing ships beyond dz=1
    assert(sent.exists { case ((dz, dy, dx), n) => dz != 0 && dy == 0 && dx == 0 && n == ts * ts })
    assert(sent.forall { case ((dz, _, _), _) => math.abs(dz) <= 1 })
  }

  test("binomialBlur5: two separable passes equal the direct 5x5 outer-product kernel") {
    // 6x7 raster, tileSize 4 -> partial edge tiles; integer values so the
    // dyadic-weight passes are bit-exact against the direct form
    val hh = 6; val ww = 7
    val dense = Array.tabulate(hh * ww)(i => (i * 5 % 13).toDouble)
    val out = RasterOps.tilesToPixels(
      RasterOps.binomialBlur5(partialTiles(dense, hh, ww, 4), tileSize = 4),
      tileSize = 4)
      .orderBy("y", "x").select("value").as[Double].collect().toSeq
    val w5 = Array(1.0, 4.0, 6.0, 4.0, 1.0)
    val expect = for (r <- 0 until hh; c <- 0 until ww) yield {
      var s = 0.0
      for (dy <- -2 to 2; dx <- -2 to 2)
        s += w5(dy + 2) * w5(dx + 2) *
          dense(mir(r + dy, hh) * ww + mir(c + dx, ww))
      s / 256.0
    }
    // bit-exact, not rounded: dyadic weights on integer inputs
    assert(out == expect.toSeq)
    // a constant raster is a fixed point of any normalized blur
    val const = RasterOps.tilesToPixels(
      RasterOps.binomialBlur5(partialTiles(Array.fill(hh * ww)(3.0), hh, ww, 4),
        tileSize = 4), tileSize = 4)
      .select("value").as[Double].collect().toSeq
    assert(const.forall(_ == 3.0))
  }

  test("otsuThreshold: bimodal split, exact tie breaks low, constant image empty") {
    def run(vals: Seq[Long]) =
      RasterOps.otsuThreshold(vals.zipWithIndex
          .map { case (v, i) => (0, i, 0, v) }.toDF("c", "y", "x", "value"))
        .as[(Long, Double, Long)].collect().toSeq
    // {0 x4, 10 x2}: only candidate t=0, sigma = 4*2*10^2 = 800
    assert(run(Seq(0L, 0L, 0L, 0L, 10L, 10L)) === Seq((0L, 800.0, 6L)))
    // {1 x3, 5 x2, 9 x3}: t=1 and t=5 tie at sigma 614.4 -> lowest wins
    assert(run(Seq(1L, 1L, 1L, 5L, 5L, 9L, 9L, 9L)) === Seq((1L, 614.4, 8L)))
    // constant image: no candidate threshold (class 1 would be empty)
    assert(run(Seq(7L, 7L, 7L)).isEmpty)
  }

  test("coarsen + subsample") {
    val pixels = Seq((0, 0, 0, 1.0), (0, 0, 1, 3.0), (0, 1, 0, 5.0), (0, 1, 1, 7.0))
      .toDF("c", "y", "x", "value")
    val c = RasterOps.coarsenImage(pixels).select("value").as[Double].collect().toSeq
    assert(c == Seq(4.0))
    val lbl = Seq((0, 0, 1L), (0, 1, 2L), (1, 0, 3L), (1, 1, 4L)).toDF("y", "x", "label")
    val s = RasterOps.subsampleLabels(lbl).select("label").as[Long].collect().toSeq
    assert(s == Seq(1L))
  }

  test("affineResample order-0 identity and 2x upscale") {
    val src = Seq((0, 0, 1L), (0, 1, 2L), (1, 0, 3L), (1, 1, 4L)).toDF("y", "x", "label")
    // identity: inv = [1,0,0, 0,1,0]
    val id = RasterOps.affineResample(src, "label", Array(1, 0, 0, 0, 1, 0), 2, 2)
      .orderBy("y", "x").select("label").as[Long].collect().toSeq
    assert(id == Seq(1L, 2L, 3L, 4L))
    // 2x upscale: output 4x4, source pixel = out/2 -> inv scale 0.5
    val up = RasterOps.affineResample(src, "label", Array(0.5, 0, 0, 0, 0.5, 0), 4, 4)
      .orderBy("y", "x").select("label").as[Long].collect().toSeq
    assert(up == Seq(1L, 1L, 2L, 2L, 1L, 1L, 2L, 2L, 3L, 3L, 4L, 4L, 3L, 3L, 4L, 4L))
  }

  test("relabelSequential compacts ids, keeps background") {
    val lbl = Seq((0, 0, 0L), (0, 1, 500L), (1, 0, 7L), (1, 1, 500L)).toDF("y", "x", "label")
    val got = RasterOps.relabelSequential(lbl).orderBy("y", "x")
      .select("label").as[Long].collect().toSeq
    assert(got == Seq(0L, 2L, 1L, 2L))
  }

  test("labelsToPolygons: rectangle, L-shape, donut, disconnected") {
    // label 1: 2x3 rectangle; label 2: donut (3x3 minus center);
    // label 3: two disconnected pixels
    val px =
      (for (y <- 0 until 2; x <- 0 until 3) yield (y, x, 1L)) ++
      (for (y <- 10 to 12; x <- 10 to 12; if !(y == 11 && x == 11)) yield (y, x, 2L)) ++
      Seq((20, 20, 3L), (20, 25, 3L))
    val shapes = Vectorize.labelsToPolygons(px.toDF("y", "x", "label"))
      .orderBy("index").collect()
    val area = shapes.map(r => (r.getLong(0), GeomKernel.area(r.getAs[Array[Byte]](1))))
    assert(area.toSeq == Seq((1L, 6.0), (2L, 8.0), (3L, 2.0)))
    assert(shapes.map(r => (r.getLong(0), r.getString(2))).toSeq ==
      Seq((1L, "polygon"), (2L, "polygon"), (3L, "multipolygon")))
    // donut: centroid of the traced shape is the center of the ring
    val donut = shapes(1).getAs[Array[Byte]](1)
    assert(math.abs(GeomKernel.centroidX(donut) - 11.5) < 1e-9)
    assert(math.abs(GeomKernel.centroidY(donut) - 11.5) < 1e-9)
    // the hole is a real hole
    assert(!GeomKernel.containsPoint(donut, 11.5, 11.5))
    assert(GeomKernel.containsPoint(donut, 10.5, 10.5))
  }

  test("rasterizeShapes scanline fill: triangle covers the expected cells") {
    import graft.geom.{GPolygon, WKB}
    import graft.model.Models
    import graft.geom.st._
    val tri = Models.ShapesModel.parse(Seq(
      (5L, WKB.write(GPolygon(Array(Array(0.0, 0, 8, 0, 0, 8)))), "polygon"))
      .toDF("index", "geometry", "geom_type"))
    val got = RasterOps.rasterizeShapes(tri, 0.0, 0.0, 1.0, 1.0, 16, 16)
      .select("y", "x").as[(Int, Int)].collect().toSet
    // cell centers (x+.5, y+.5) with x>=0, y>=0, x+y<=8 (boundary-inclusive:
    // a center exactly on the hypotenuse counts as covered)
    val want = (for (y <- 0 to 7; x <- 0 to 7 - y) yield (y, x)).toSet
    assert(got == want)
  }

  test("labelsToCircles equal-area invariant") {
    val px = (for (y <- 0 until 4; x <- 0 until 4) yield (y, x, 9L)).toDF("y", "x", "label")
    val r = Vectorize.labelsToCircles(px).select("radius").as[Double].collect()(0)
    assert(math.abs(math.Pi * r * r - 16.0) < 1e-9)
  }

  test("morphBox: erode drops specks, dilate grows; duality law holds") {
    import spark.implicits._
    // 8x8, one 4x4 tile quadrant each: a 3x3 block at (1..3, 1..3) plus an
    // isolated speck at (6, 6)
    val fg = (for (y <- 1 to 3; x <- 1 to 3) yield (y, x)) :+ ((6, 6))
    val pix = (for (y <- 0 until 8; x <- 0 until 8) yield
      (y, x, if (fg.contains((y, x))) 1.0 else 0.0)).toDF("y", "x", "value")
    val tiles = RasterOps.pixelsToTilesExact(pix, 8, 8, tileSize = 4,
      channelCol = None)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      RasterOps.tilesToPixels(df, tileSize = 4)
        .select("y", "x", "value").as[(Int, Int, Double)]
        .collect().map(r => (r._1, r._2) -> r._3).toMap
    val er = asMap(RasterOps.morphBox(tiles, depth = 1, dilate = false,
      tileSize = 4))
    // erosion keeps only the block's center; the speck dies
    assert(er((2, 2)) === 1.0)
    assert(er.filterNot(_._1 == ((2, 2))).values.forall(_ === 0.0))
    val di = asMap(RasterOps.morphBox(tiles, depth = 1, dilate = true,
      tileSize = 4))
    // dilation grows the block to 5x5 and the speck to 3x3 (45 px here:
    // the two grown regions are disjoint) — and crosses tile seams
    assert(di.values.count(_ === 1.0) === 25 + 9)
    assert(di((4, 4)) === 1.0 && di((5, 5)) === 1.0)
    // duality: dilate(mask) == 1 - erode(1 - mask)
    val inv = pix.select(col("y"), col("x"),
      (lit(1.0) - col("value")).as("value"))
    val invTiles = RasterOps.pixelsToTilesExact(inv, 8, 8, tileSize = 4,
      channelCol = None)
    val dual = asMap(RasterOps.morphBox(invTiles, depth = 1, dilate = false,
      tileSize = 4)).map { case (k, v) => k -> (1.0 - v) }
    assert(dual === di)
  }

  test("labelConnected: merges across BOTH tile boundaries, 4-connectivity only") {
    import spark.implicits._
    // 6x8 raster, 4x4 tiles: col 0 ones (crosses the row-3|4 tile seam),
    // row 0 cols 0..5 (crosses the col-3|4 seam), plus a diagonal pixel
    // pair (1,7)/(2,6) that must remain TWO components
    val fg = (0 until 6).map(y => (y, 0)) ++ (0 until 6).map(x => (0, x)) ++
      Seq((1, 7), (2, 6))
    val pix = (for (y <- 0 until 6; x <- 0 until 8) yield
      (y, x, if (fg.contains((y, x))) 1.0 else 0.0)).toDF("y", "x", "value")
    val tiles = RasterOps.pixelsToTilesExact(pix, 6, 8, tileSize = 4,
      channelCol = None)
    val got = RasterOps.labelConnected(tiles, widthPx = 8, tileSize = 4)
      .as[(Int, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.size === fg.distinct.size)
    // the L-shaped bar (col 0 + row 0) welds into one component, min id 0
    (0 until 6).foreach { y => assert(got((y, 0)) === 0L, s"col0 y=$y") }
    (0 until 6).foreach { x => assert(got((0, x)) === 0L, s"row0 x=$x") }
    // the diagonal pair stays split (no 8-connectivity)
    assert(got((1, 7)) === 15L && got((2, 6)) === 22L)
  }

  test("labelConnected3d: matches a brute-force 3D union-find; 6-connectivity only") {
    val zz = 3; val hh = 8; val ww = 8; val ts = 4
    val n = zz * hh * ww
    val fg = Array.tabulate(n)(i => (i * 5 % 3) == 0)
    val pixels = (for (z <- 0 until zz; y <- 0 until hh; x <- 0 until ww)
      yield (0, z, y, x, if (fg(z * hh * ww + y * ww + x)) 1.0 else 0.0))
      .toDF("c", "z", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles3d(pixels, tileSize = ts)
    val got = RasterOps.labelConnected3d(tiles, heightPx = hh, widthPx = ww,
        tileSize = ts)
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1), r.getInt(2)), r.getLong(3))).toMap
    // brute force: union-find over the 6-neighborhood, min-id components
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = { var r = i; while (parent(r) != r) r = parent(r); r }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
    }
    for (z <- 0 until zz; y <- 0 until hh; x <- 0 until ww) {
      val i = z * hh * ww + y * ww + x
      if (fg(i)) {
        if (x + 1 < ww && fg(i + 1)) union(i, i + 1)
        if (y + 1 < hh && fg(i + ww)) union(i, i + ww)
        if (z + 1 < zz && fg(i + hh * ww)) union(i, i + hh * ww)
      }
    }
    val want = (for (z <- 0 until zz; y <- 0 until hh; x <- 0 until ww;
        i = z * hh * ww + y * ww + x; if fg(i))
      yield ((z, y, x), find(i).toLong)).toMap
    assert(got === want)
    // 6-connectivity: two voxels sharing only an edge/corner stay separate
    assert(got.nonEmpty && got.values.toSet.size > 1,
      "fixture must produce multiple components")
  }

  test("sobelFilter matches the brute-force kernel with clamped borders") {
    // 6x6 deterministic integer grid, 3x3 tiles (interior + edge seams)
    def v(y: Int, x: Int): Double = ((y * 7 + x * 3) % 11).toDouble
    val pix = (for (y <- 0 until 6; x <- 0 until 6) yield
      (0, y, x, v(y, x))).toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pix, tileSize = 3)
    val got = RasterOps.tilesToPixels(
        RasterOps.sobelFilter(tiles, tileSize = 3), tileSize = 3)
      .select("y", "x", "value").as[(Int, Int, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    def at(y: Int, x: Int) = v(y.max(0).min(5), x.max(0).min(5))
    for (y <- 0 until 6; x <- 0 until 6) {
      val gx = -at(y - 1, x - 1) + at(y - 1, x + 1) - 2 * at(y, x - 1) +
        2 * at(y, x + 1) - at(y + 1, x - 1) + at(y + 1, x + 1)
      val gy = -at(y - 1, x - 1) - 2 * at(y - 1, x) - at(y - 1, x + 1) +
        at(y + 1, x - 1) + 2 * at(y + 1, x) + at(y + 1, x + 1)
      assert(got((y, x)) === math.abs(gx) + math.abs(gy), s"($y,$x)")
    }
  }

  test("integralImage equals the brute-force 2D prefix, partial edge tiles included") {
    // 5x7 raster, 4x4 tiles -> partial right and bottom tiles; carries
    // cross both tile seams
    def v(y: Int, x: Int): Double = ((y * 5 + x * 2 + 1) % 7).toDouble
    val pix = (for (y <- 0 until 5; x <- 0 until 7) yield
      (0, y, x, v(y, x))).toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTilesExact(pix, 5, 7, tileSize = 4)
    val got = RasterOps.tilesToPixels(
        RasterOps.integralImage(tiles, tileSize = 4), tileSize = 4)
      .select("y", "x", "value").as[(Int, Int, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.size === 35)
    for (y <- 0 until 5; x <- 0 until 7) {
      val want = (for (a <- 0 to y; b <- 0 to x) yield v(a, b)).sum
      assert(got((y, x)) === want, s"($y,$x)")
    }
  }

  test("distanceTransform34 reaches the closed-form chamfer fixpoint across tile seams") {
    // 8x8 raster, 4x4 tiles; two features in opposite corner tiles so
    // distances must propagate through every tile boundary
    val feats = Set((1, 1), (6, 6))
    val pix = (for (y <- 0 until 8; x <- 0 until 8) yield
      (0, y, x, if (feats((y, x))) 1.0 else 0.0)).toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pix, tileSize = 4)
    // rounds = tile-grid diameter (2 + 2)
    val got = RasterOps.tilesToPixels(
        RasterOps.distanceTransform34(tiles, rounds = 4, tileSize = 4),
        tileSize = 4)
      .select("y", "x", "value").as[(Int, Int, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    def chamfer(y: Int, x: Int) = feats.map { case (fy, fx) =>
      val dy = math.abs(y - fy); val dx = math.abs(x - fx)
      4.0 * math.min(dy, dx) + 3.0 * (math.max(dy, dx) - math.min(dy, dx))
    }.min
    for (y <- 0 until 8; x <- 0 until 8)
      assert(got((y, x)) === chamfer(y, x), s"($y,$x)")
    // featureless raster: every pixel reports the sentinel
    val none = (for (y <- 0 until 4; x <- 0 until 4) yield
      (0, y, x, 0.0)).toDF("c", "y", "x", "value")
    val g2 = RasterOps.tilesToPixels(
        RasterOps.distanceTransform34(
          RasterOps.pixelsToTiles(none, tileSize = 4), rounds = 1, tileSize = 4),
        tileSize = 4)
      .select("value").as[Double].collect()
    assert(g2.forall(_ === RasterOps.DtInf))
  }

  test("bilinearUpsample2x: hand-computed 2x2 -> 4x4 with clamped borders") {
    // source [[0, 4], [8, 12]]: interior output (1,1) mixes all four
    val pix = Seq((0, 0, 0, 0.0), (0, 0, 1, 4.0), (0, 1, 0, 8.0), (0, 1, 1, 12.0))
      .toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pix, tileSize = 2)
    val got = RasterOps.tilesToPixels(
        RasterOps.bilinearUpsample2x(tiles, tileSize = 2), tileSize = 4)
      .select("y", "x", "value").as[(Int, Int, Double)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got.size === 16)
    def src(y: Int, x: Int) = Map((0, 0) -> 0.0, (0, 1) -> 4.0,
      (1, 0) -> 8.0, (1, 1) -> 12.0)((y.max(0).min(1), x.max(0).min(1)))
    def bil(oy: Int, ox: Int): Double = {
      val ry = if (oy % 2 == 0) oy / 2 - 1 else oy / 2
      val wy = if (oy % 2 == 0) 0.25 else 0.75
      val rx = if (ox % 2 == 0) ox / 2 - 1 else ox / 2
      val wx = if (ox % 2 == 0) 0.25 else 0.75
      wy * (wx * src(ry, rx) + (1 - wx) * src(ry, rx + 1)) +
        (1 - wy) * (wx * src(ry + 1, rx) + (1 - wx) * src(ry + 1, rx + 1))
    }
    for (y <- 0 until 4; x <- 0 until 4)
      assert(got((y, x)) === bil(y, x), s"($y,$x)")
    // corners replicate the nearest source pixel exactly
    assert(got((0, 0)) === 0.0 && got((3, 3)) === 12.0)
  }

  test("histogramEqualize maps levels through the global cdf; constant image -> 0") {
    // levels 1,1,2,5: cdf 1->2, 2->3, 5->4; cdfMin=2, N=4
    // eq(v) = floor((cdf-2)*255/(4-2)+0.5) -> 1->0, 2->128, 5->255
    val pix = Seq((0, 0, 1L), (0, 1, 1L), (1, 0, 2L), (1, 1, 5L))
      .toDF("y", "x", "value")
    val got = RasterOps.histogramEqualize(pix, levels = 256)
      .select("y", "x", "value").as[(Int, Int, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(got === Map((0, 0) -> 0L, (0, 1) -> 0L, (1, 0) -> 128L, (1, 1) -> 255L))
    val const = Seq((0, 0, 9L), (0, 1, 9L)).toDF("y", "x", "value")
    val g2 = RasterOps.histogramEqualize(const, levels = 256)
      .select("value").as[Long].collect().toSeq
    assert(g2 === Seq(0L, 0L))
  }

  test("rasterizePoints3d: per-z-slice equals the 2D binner, out-of-range voxels drop") {
    val pts = (0 until 200).map { i =>
      (i % 17 + 0.25, (i * 3) % 13 + 0.75, (i % 5).toDouble + 0.5, (i % 7).toLong)
    }.toDF("x", "y", "z", "v")
    val got = RasterOps.rasterizePoints3d(pts, 0, 0, 0, 4.0, 4.0, 1.0,
        4, 4, 4, valueCol = Some("v"), aggFunc = "sum")
      .select("z", "y", "x", "value").as[(Int, Int, Int, Long)].collect().toSet
    // 2D binner per z slice (z bin = floor(z/1.0); z=4.5 bins to 4 >= depth -> dropped)
    val want = (0 until 4).flatMap { zi =>
      RasterOps.rasterizePoints(
          pts.filter(floor(col("z")) === zi), 0, 0, 4.0, 4.0, 4, 4,
          valueCol = Some("v"), aggFunc = "sum")
        .select("y", "x", "value").as[(Int, Int, Long)].collect()
        .map { case (y, x, v) => (zi, y, x, v) }
    }.toSet
    assert(got === want)
    assert(got.nonEmpty && !got.exists(_._1 >= 4))
  }

  test("affineResample3d: identity gather and z-downscale") {
    val src = (for (z <- 0 until 2; y <- 0 until 2; x <- 0 until 2)
      yield (z, y, x, (z * 4 + y * 2 + x).toLong)).toDF("z", "y", "x", "label")
    val id = Array[Double](1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0)
    val got = RasterOps.affineResample3d(src, "label", id, 2, 2, 2)
      .orderBy("z", "y", "x").select("label").as[Long].collect().toSeq
    assert(got == (0L until 8L))
    // 2x upscale in z only: zs = floor((zo+0.5)/2)
    val upZ = Array[Double](1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 0.5, 0)
    val up = RasterOps.affineResample3d(src, "label", upZ, 2, 2, 4)
      .orderBy("z", "y", "x").select("label").as[Long].collect().toSeq
    assert(up == Seq(0L, 1L, 2L, 3L, 0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 4L, 5L, 6L, 7L))
  }

  test("coarsenImage/subsampleLabels are dims-generic: 2x2x2 mean and z subsample") {
    val vox = (for (z <- 0 until 2; y <- 0 until 2; x <- 0 until 2)
      yield (0, z, y, x, (z * 4 + y * 2 + x).toDouble)).toDF("c", "z", "y", "x", "value")
    val c = RasterOps.coarsenImage(vox).select("value").as[Double].collect().toSeq
    assert(c == Seq(3.5)) // mean of 0..7
    val lbl = (for (z <- 0 until 2; y <- 0 until 2; x <- 0 until 2)
      yield (z, y, x, (z * 4 + y * 2 + x).toLong)).toDF("z", "y", "x", "label")
    val s = RasterOps.subsampleLabels(lbl)
      .select("z", "y", "x", "label").as[(Int, Int, Int, Long)].collect().toSeq
    assert(s == Seq((0, 0, 0, 0L))) // top-left-front voxel survives
    // buildPyramid composes the generic coarsen: scale-1 of a 4^3 volume is 2^3
    val vol4 = (for (z <- 0 until 4; y <- 0 until 4; x <- 0 until 4)
      yield (0, z, y, x, 1.0 * (z * 16 + y * 4 + x))).toDF("c", "z", "y", "x", "value")
    val lvl1 = RasterOps.buildPyramid(vol4, levels = 1).filter(col("scale") === 1)
    assert(lvl1.count() == 8)
  }

  test("vectorize refuses 3D labels loudly (reference contract: vectorize.py is 2D-only)") {
    val lbl3d = Seq((0, 0, 0, 1L), (0, 0, 1, 1L), (1, 0, 0, 2L))
      .toDF("z", "y", "x", "label")
    val e1 = intercept[IllegalArgumentException] {
      Vectorize.labelsToCircles(lbl3d)
    }
    assert(e1.getMessage.contains("2D-only"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      Vectorize.labelsToPolygons(lbl3d)
    }
    assert(e2.getMessage.contains("2D-only"), e2.getMessage)
    // a selected z plane vectorizes fine
    val plane = lbl3d.filter(col("z") === 0).drop("z")
    assert(Vectorize.labelsToCircles(plane).count() === 1)
  }

  test("rasterizeRaster3d picks the coarse pyramid level for a small target") {
    import graft.model.{AffineT, Matrix}
    // identity element transform; 2-level pyramid of an 8^3 volume
    val p0 = (for (z <- 0 until 8; y <- 0 until 8; x <- 0 until 8)
      yield (0, z, y, x, (z * 64 + y * 8 + x).toDouble)).toDF("c", "z", "y", "x", "value")
    val pyr = RasterOps.buildPyramid(p0, levels = 1)
    val ident = AffineT(Matrix(4, 4, Array[Double](
      1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1)),
      Seq("x", "y", "z"), Seq("x", "y", "z"))
    // 2x2x2 target over the full extent: level 1 spans 4 px per axis
    // >= 2 * sqrt(3) -> the coarse level is selected
    val (out, lvl) = RasterOps.rasterizeRaster3d(pyr, "value", ident,
      Seq(0, 0, 0), Seq(8, 8, 8), 2, 2, 2, numLevels = 2)
    assert(lvl == 1)
    assert(out.count() == 8)
    // full-resolution target keeps level 0
    val (_, lvl0) = RasterOps.rasterizeRaster3d(pyr, "value", ident,
      Seq(0, 0, 0), Seq(8, 8, 8), 8, 8, 8, numLevels = 2)
    assert(lvl0 == 0)
  }

  // ---- one-shuffle halo assembly ----

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  private def tilesOf(df: DataFrame): Seq[((Int, Int), Seq[Long])] =
    df.select("tile_y", "tile_x", "px").as[(Int, Int, Seq[Double])].collect()
      .map { case (ty, tx, px) => (ty, tx) -> px.map(java.lang.Double.doubleToLongBits) }
      .sortBy(_._1).toSeq

  /** The two chained depth-2 halo passes `binomialBlur5` ran before its
    * passes were fused into one exchange: pass 2 reads pass 1's output of
    * the neighbouring tiles, or `b` applied to pass 1's own output.
    */
  private def twoPassBinomial(tiles: DataFrame, ts: Int,
      b: RasterOps.Boundary): DataFrame = {
    val wts = Array(1.0, 4.0, 6.0, 4.0, 1.0)
    def pass(in: DataFrame, vertical: Boolean) =
      RasterOps.mapRasterWithHalo(in, ts, b, depth = 2) { (h, w, buf, _) =>
        val bw = w + 4
        Array.tabulate(h * w) { i =>
          val o = (i / w + 2) * bw + i % w + 2
          val step = if (vertical) bw else 1
          var s = 0.0
          var k = -2
          while (k <= 2) {
            s += wts(k + 2) * buf(o + k * step)
            k += 1
          }
          s / 16.0
        }
      }
    pass(pass(tiles, vertical = true), vertical = false)
  }

  test("fused binomialBlur5 is bit-identical to the two-pass composition") {
    // 11x10 raster in 4x4 tiles: a 3x3 grid whose last row is 3 high and
    // last column 2 wide; non-dyadic values, so only the same arithmetic
    // in the same order matches bit for bit
    val hh = 11; val ww = 10; val ts = 4
    val dense = Array.tabulate(hh * ww)(i => math.sin(i * 0.7) * 3.1 + 0.3)
    val full = partialTiles(dense, hh, ww, ts)
    // a sparse store: the one interior tile is missing
    val holed = full.filter(!(col("tile_y") === 1 && col("tile_x") === 1))
    for {
      b <- Seq(RasterOps.Boundary.Reflect, RasterOps.Boundary.Constant(0.1),
        RasterOps.Boundary.NoPad)
      (tiles, n) <- Seq((full, 9), (holed, 8))
    } {
      val got = tilesOf(RasterOps.binomialBlur5(tiles, ts, b))
      assert(got.size == n)
      assert(got == tilesOf(twoPassBinomial(tiles, ts, b)), s"$b on $n tiles")
    }
  }

  test("halo kernels run one shuffle; the fused binomialBlur5 no more jobs than a box blur") {
    val pix = (for (c <- 0 until 2; y <- 0 until 16; x <- 0 until 16)
      yield (c, y, x, ((y * 16 + x) % 7).toDouble)).toDF("c", "y", "x", "value")
    val tiles = RasterOps.pixelsToTiles(pix, tileSize = 4).persist()
    try {
      tiles.count()
      def run(df: => DataFrame): (Int, Int) = traced { df.collect(); () }
      val (meanJobs, meanShuffles) = run(RasterOps.meanBlurBox(tiles, 1, 4))
      val (_, medianShuffles) = run(RasterOps.medianFilterBox(tiles, 1, 4))
      val (binJobs, binShuffles) = run(RasterOps.binomialBlur5(tiles, 4))
      assert((meanShuffles, medianShuffles, binShuffles) == ((1, 1, 1)))
      assert(binJobs <= meanJobs, s"binomialBlur5 $binJobs jobs, meanBlurBox $meanJobs")
    } finally tiles.unpersist()
  }

  test("halo plans: no join, no aggregate keyed on px, no interpreted array filter") {
    import org.apache.spark.sql.catalyst.expressions.ArrayFilter
    import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
    // literal tiles: the only aggregate in a plan is the halo assembly's
    val t2 = partialTiles(Array.tabulate(70)(_.toDouble), 7, 10, 4)
    val t3 = Seq(0, 1).map(z => t2.withColumn("z", lit(z))).reduce(_ union _)
    def has(plan: LogicalPlan)(p: PartialFunction[Any, Boolean]): Boolean =
      plan.find(_.expressions.exists(_.find(e => p.applyOrElse(e, (_: Any) => false))
        .isDefined)).isDefined
    for ((what, df) <- Seq(
        "mapRasterWithHalo" -> RasterOps.meanBlurBox(t2, 1, 4),
        "binomialBlur5" -> RasterOps.binomialBlur5(t2, 4),
        "mapRasterWithHalo3d" -> RasterOps.meanBlurBox3d(t3, 1, 1, 4))) {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case j: Join => j }.isEmpty, s"$what joins")
      val aggs = plan.collect { case a: Aggregate => a }
      assert(aggs.size == 1, s"$what: ${aggs.size} aggregates")
      assert(aggs.forall(_.groupingExpressions.forall(_.references.forall(_.name != "px"))),
        s"$what groups on px")
      assert(!has(plan) { case _: ArrayFilter => true }, s"$what filters arrays")
      assert(has(plan) { case s: StaticInvoke => s.functionName == "slab" },
        s"$what cuts no slab with the kernel")
    }
  }

  test("halo assembly refuses a tile key that occurs twice (2D and 3D)") {
    val t2 = partialTiles(Array.tabulate(64)(_.toDouble), 8, 8, 4)
    val dup2 = t2.union(t2.filter(col("tile_y") === 1 && col("tile_x") === 0))
    val m2 = messages(intercept[Exception](RasterOps.meanBlurBox(dup2, 1, 4).collect()))
    assert(m2.contains(
      "mapRasterWithHalo: tile (scale=0, c=0, tile_y=1, tile_x=0) occurs more than once"), m2)
    val t3 = RasterOps.pixelsToTiles3d((for (z <- 0 until 2; y <- 0 until 8; x <- 0 until 8)
      yield (0, z, y, x, 1.0)).toDF("c", "z", "y", "x", "value"), tileSize = 4)
    val dup3 = t3.union(t3.filter(col("z") === 1 && col("tile_y") === 0 && col("tile_x") === 1))
    val m3 = messages(intercept[Exception](
      RasterOps.meanBlurBox3d(dup3, 1, 1, 4, RasterOps.Boundary.NoPad).collect()))
    assert(m3.contains("mapRasterWithHalo3d: tile (scale=0, c=0, z=1, tile_y=0, " +
      "tile_x=1) occurs more than once"), m3)
  }

  test("halo assembly refuses a neighbor tile thinner than the kernel depth (2D and 3D)") {
    // 9 rows in 4x4 tiles: the last tile row is 1 high, and depth 2 needs 2
    val t2 = partialTiles(Array.tabulate(72)(_.toDouble), 9, 8, 4)
    val m2 = messages(intercept[Exception](RasterOps.meanBlurBox(t2, 2, 4).collect()))
    assert(m2.contains("mapRasterWithHalo: tile (scale=0, c=0, tile_y=2, tile_x="), m2)
    assert(m2.contains("thinner than kernel depth 2"), m2)
    val t3 = Seq(0, 1).map(z => t2.withColumn("z", lit(z))).reduce(_ union _)
    val m3 = messages(intercept[Exception](RasterOps.meanBlurBox3d(t3, 2, 1, 4).collect()))
    assert(m3.contains("mapRasterWithHalo3d: tile (scale=0, c=0, z="), m3)
    assert(m3.contains(", tile_y=2, tile_x="), m3)
    assert(m3.contains("thinner than kernel depth 2"), m3)
  }
}
