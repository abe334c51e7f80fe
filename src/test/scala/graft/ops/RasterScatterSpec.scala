package graft.ops

import scala.util.Random

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, MapFromArrays, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Pins the one tile-assembly path ([[RasterOps.assembleTiles]] over
  * [[RasterKernel.scatter]]) at all four sites against a plain-Scala dense
  * reference on seeded sparse inputs, its refusals, and its plan shape.
  */
class RasterScatterSpec extends SparkTestBase {
  import spark.implicits._

  /** Sparse pixels on an h x w raster: each cell present with probability
    * `density`, values rounded to 3 decimals (present zeros included).
    */
  private def sparse(seed: Long, channels: Int, h: Int, w: Int,
      density: Double): Seq[(Int, Int, Int, Double)] = {
    val r = new Random(seed)
    for {
      c <- 0 until channels; y <- 0 until h; x <- 0 until w
      if r.nextDouble() < density
    } yield (c, y, x, math.round(r.nextGaussian() * 1000).toDouble / 1000)
  }

  private def bits(xs: Seq[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToLongBits)

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  private def refuses(df: => DataFrame, needles: String*): Unit = {
    val msg = messages(intercept[Exception](df.collect()))
    needles.foreach(n => assert(msg.contains(n), s"'$n' not in: $msg"))
  }

  /** Checks 2D tiles `(c, tile_y, tile_x, h, w, px)` against `ref`. */
  private def check2d(tiles: DataFrame, ref: Map[(Int, Int, Int), Double],
      ts: Int): Unit = {
    assert(tiles.schema("px").dataType == ArrayType(DoubleType, containsNull = false))
    val got = tiles.select("c", "tile_y", "tile_x", "h", "w", "px")
      .as[(Int, Int, Int, Int, Int, Seq[Double])].collect()
    assert(got.map(t => (t._1, t._2, t._3)).toSet ==
      ref.keySet.map { case (c, y, x) => (c, y / ts, x / ts) })
    assert(got.length == got.map(t => (t._1, t._2, t._3)).toSet.size)
    for ((c, ty, tx, h, w, px) <- got) {
      assert(px.length == h * w)
      val want = (0 until h * w).map(i =>
        ref.getOrElse((c, ty * ts + i / w, tx * ts + i % w), 0.0))
      assert(bits(px) == bits(want), s"tile ($c, $ty, $tx)")
    }
  }

  test("pixelsToTiles equals a dense reference (double values and int labels)") {
    for (seed <- 1L to 3L) {
      val px = sparse(seed, channels = 2, h = 37, w = 29, density = 0.3)
      val ref = px.map(p => (p._1, p._2, p._3) -> p._4).toMap
      check2d(RasterOps.pixelsToTiles(px.toDF("c", "y", "x", "value"), tileSize = 8),
        ref, 8)
      val labels = px.map(p => (p._1, p._2, p._3, (p._4 * 1000).toInt))
      check2d(RasterOps.pixelsToTiles(labels.toDF("c", "y", "x", "value"), tileSize = 8),
        labels.map(p => (p._1, p._2, p._3) -> p._4.toDouble).toMap, 8)
    }
  }

  test("pixelsToTilesExact: exact edge tiles equal a dense reference") {
    for (seed <- 4L to 6L) {
      val (h, w) = (21 + seed.toInt, 30 - seed.toInt)
      val px = sparse(seed, channels = 2, h = h, w = w, density = 0.4)
      val tiles = RasterOps.pixelsToTilesExact(px.toDF("c", "y", "x", "value"),
        h, w, tileSize = 8)
      check2d(tiles, px.map(p => (p._1, p._2, p._3) -> p._4).toMap, 8)
      val dims = tiles.select("tile_y", "tile_x", "h", "w").as[(Int, Int, Int, Int)]
        .collect()
      assert(dims.forall { case (ty, tx, th, tw) =>
        th == math.min(8, h - ty * 8) && tw == math.min(8, w - tx * 8) })
    }
  }

  test("pixelsToTiles3d equals a dense 3D reference") {
    val vox = for {
      z <- 0 until 4; p <- sparse(7 + z, channels = 2, h = 19, w = 23, density = 0.25)
    } yield (p._1, z, p._2, p._3, p._4 + z)
    val ref = vox.map(v => (v._1, v._2, v._3, v._4) -> v._5).toMap
    val tiles = RasterOps.pixelsToTiles3d(vox.toDF("c", "z", "y", "x", "value"),
        tileSize = 8)
      .select("c", "z", "tile_y", "tile_x", "h", "w", "px")
      .as[(Int, Int, Int, Int, Int, Int, Seq[Double])].collect()
    assert(tiles.map(t => (t._1, t._2, t._3, t._4)).toSet ==
      ref.keySet.map { case (c, z, y, x) => (c, z, y / 8, x / 8) })
    for ((c, z, ty, tx, h, w, px) <- tiles) {
      val want = (0 until h * w).map(i =>
        ref.getOrElse((c, z, ty * 8 + i / w, tx * 8 + i % w), 0.0))
      assert(bits(px) == bits(want), s"tile ($c, $z, $ty, $tx)")
    }
  }

  test("tileBatch crops equal a dense reference (crops past the raster edge zero-fill)") {
    val (h, w) = (40, 36)
    val px = sparse(8, channels = 2, h = h, w = w, density = 0.35)
    val ref = px.map(p => (p._1, p._2, p._3) -> p._4).toMap
    val r = new Random(9)
    val boxes = (1L to 12L).map { id =>
      val (cx, cy, e) = (r.nextDouble() * w, r.nextDouble() * h, 2.0 + r.nextDouble() * 9)
      (id, cx - e / 2, cy - e / 2, cx + e / 2, cy + e / 2)
    }
    val coords = boxes.toDF("instance_id", "minx", "miny", "maxx", "maxy")
    for (cell <- Seq(4.0, 16.0)) {
      val got = ImageTiles.tileBatch(px.toDF("c", "y", "x", "value"), coords, cell)
        .select("instance_id", "c", "th", "tw", "px")
        .as[(Long, Int, Int, Int, Seq[Double])].collect()
      val want = for {
        (id, minx, miny, maxx, maxy) <- boxes; c <- 0 until 2
        (y0, y1) = (math.floor(miny).toInt, math.ceil(maxy).toInt)
        (x0, x1) = (math.floor(minx).toInt, math.ceil(maxx).toInt)
        dense = for (y <- y0 until y1; x <- x0 until x1) yield ref.get((c, y, x))
        if dense.exists(_.isDefined)
      } yield (id, c, y1 - y0, x1 - x0, dense.map(_.getOrElse(0.0)))
      assert(got.map(g => (g._1, g._2, g._3, g._4, bits(g._5))).sortBy(g => (g._1, g._2)).toSeq ==
        want.map(g => (g._1, g._2, g._3, g._4, bits(g._5))).sortBy(g => (g._1, g._2)))
    }
  }

  test("a sparse tile at the default TileSize (256) assembles in seconds") {
    val px = sparse(10, channels = 1, h = 300, w = 280, density = 0.01)
    val t0 = System.nanoTime()
    val tiles = RasterOps.pixelsToTiles(px.toDF("c", "y", "x", "value"))
    check2d(tiles, px.map(p => (p._1, p._2, p._3) -> p._4).toMap, RasterOps.TS)
    val s = (System.nanoTime() - t0) / 1e9
    assert(RasterOps.TS == 256)
    assert(s < 30.0, f"default-TileSize assembly took $s%.1f s")
  }

  test("negative or null coordinates refuse instead of misplacing or dropping pixels") {
    val misplaced = Seq((0, 1, -1, 7.0)).toDF("c", "y", "x", "value")
    val dropped = Seq((0, -1, 2, 7.0)).toDF("c", "y", "x", "value")
    refuses(RasterOps.pixelsToTiles(misplaced, tileSize = 4),
      "pixelsToTiles: pixel (1,-1) has a negative or null coordinate")
    refuses(RasterOps.pixelsToTiles(dropped, tileSize = 4),
      "pixelsToTiles: pixel (-1,2) has a negative or null coordinate")
    refuses(RasterOps.pixelsToTiles(
        Seq((0, Option.empty[Int], 2, 7.0)).toDF("c", "y", "x", "value"), tileSize = 4),
      "pixelsToTiles: pixel (null,2)")
    for (df <- Seq(misplaced, dropped))
      refuses(RasterOps.pixelsToTiles3d(df.withColumn("z", lit(0)), tileSize = 4),
        "pixelsToTiles3d: pixel (", "has a negative or null coordinate")
  }

  test("a duplicate pixel refuses under every mapKeyDedupPolicy, naming the tile") {
    val dup = Seq((0, 5, 6, 1.0), (0, 5, 6, 2.0), (0, 1, 1, 3.0))
      .toDF("c", "y", "x", "value")
    val key = "spark.sql.mapKeyDedupPolicy"
    val before = spark.conf.getOption(key)
    try {
      for (policy <- Seq("EXCEPTION", "LAST_WIN")) {
        spark.conf.set(key, policy)
        refuses(RasterOps.pixelsToTiles(dup, tileSize = 4),
          "pixelsToTiles tile (c=0, tile_y=1, tile_x=1): duplicate pixel at in-tile position 6")
        refuses(RasterOps.pixelsToTilesExact(dup, 8, 8, tileSize = 4),
          "pixelsToTilesExact tile (c=0, tile_y=1, tile_x=1): duplicate pixel")
        refuses(RasterOps.pixelsToTiles3d(dup.withColumn("z", lit(2)), tileSize = 4),
          "pixelsToTiles3d tile (c=0, z=2, tile_y=1, tile_x=1): duplicate pixel")
        refuses(ImageTiles.tileBatch(dup,
            Seq((3L, 4.0, 4.0, 8.0, 8.0)).toDF("instance_id", "minx", "miny", "maxx", "maxy"),
            cell = 4.0),
          "tileBatch crop (instance_id=3, c=0): duplicate pixel at in-tile position 6")
      }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("a null pixel value refuses, naming the operator and the tile") {
    val withNull = Seq((0, 1, 1, Some(1.0)), (0, 1, 2, None), (0, 9, 9, Some(2.0)))
      .toDF("c", "y", "x", "value")
    refuses(RasterOps.pixelsToTiles(withNull, tileSize = 4),
      "pixelsToTiles tile (c=0, tile_y=0, tile_x=0): null pixel value")
    refuses(RasterOps.pixelsToTilesExact(withNull, 10, 10, tileSize = 4),
      "pixelsToTilesExact tile (c=0, tile_y=0, tile_x=0): null pixel value")
  }

  test("scatter refuses a position outside [0, n); absent pixels read 0.0") {
    val what = UTF8String.fromString("op tile (t)")
    def pos(xs: Int*) = UnsafeArrayData.fromPrimitiveArray(xs.toArray)
    def vals(xs: Double*) = new GenericArrayData(xs.toArray[Any])
    assert(RasterKernel.scatter(pos(2, 0), vals(5.0, -1.5), 4, what).toDoubleArray()
      .toSeq == Seq(-1.5, 0.0, 5.0, 0.0))
    for (p <- Seq(-1, 4)) {
      val e = intercept[IllegalArgumentException](
        RasterKernel.scatter(pos(1, p), vals(1.0, 2.0), 4, what))
      assert(e.getMessage == s"op tile (t): pixel position $p outside the tile's [0, 4)")
    }
  }

  test("optimized plans of every assembly site hold one scatter call, no map or lambda") {
    val px = sparse(11, channels = 1, h = 12, w = 12, density = 0.5)
      .toDF("c", "y", "x", "value")
    val coords = Seq((1L, 1.0, 1.0, 5.0, 5.0))
      .toDF("instance_id", "minx", "miny", "maxx", "maxy")
    for (df <- Seq(RasterOps.pixelsToTiles(px, tileSize = 4),
        RasterOps.pixelsToTilesExact(px, 12, 12, tileSize = 5),
        RasterOps.pixelsToTiles3d(px.withColumn("z", lit(0)), tileSize = 4),
        ImageTiles.tileBatch(px, coords, cell = 4.0))) {
      val exprs = df.queryExecution.optimizedPlan.flatMap(_.expressions)
      assert(!exprs.exists(_.exists(_.isInstanceOf[MapFromArrays])))
      assert(!exprs.exists(_.exists(_.isInstanceOf[ArrayTransform])))
      assert(exprs.flatMap(_.collect {
        case s: StaticInvoke if s.functionName == "scatter" => s
      }).size == 1)
    }
  }

  test("kernel micro-check: scatter of one 256x256 tile, best of 3, ns/px") {
    val n = 256 * 256
    val perm = new Random(12).shuffle((0 until n).toVector).toArray
    val pos = UnsafeArrayData.fromPrimitiveArray(perm)
    val vals = UnsafeArrayData.fromPrimitiveArray(perm.map(_.toDouble))
    val what = UTF8String.fromString("micro-check tile")
    val best = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val out = RasterKernel.scatter(pos, vals, n, what)
      val dt = System.nanoTime() - t0
      assert(out.getDouble(n - 1) == (n - 1).toDouble)
      dt
    }.min
    val nsPerPx = best.toDouble / n
    println(f"RasterKernel.scatter 256x256: $nsPerPx%.1f ns/px (best of 3)")
    assert(nsPerPx < 5000.0)
  }
}
