package perfbench

import java.io.File

import scala.util.Random

import graft.geom.{GPolygon, WKB}
import graft.model._
import graft.ops.{Aggregate, ImageTiles, RasterOps}
import graft.sources.{NgffRaster, RefStoreWriter}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Tiled rasters: window crops, halo kernels, zonal statistics and
  * rasterization read a stored NGFF image and its labels; writes ingest
  * long-form pixels into tiles and export them as NGFF or as a
  * reference-layout store.
  */
final class RasterTilesWorkload(tiny: Boolean) extends Workload {
  val name = "raster_tiles"

  /** Tile size of the stored image and of every ingest. */
  private val Ts = 64
  private val size = if (tiny) 128 else 256
  private val channels = 2
  private val nLabels = if (tiny) 6 else 24
  private val nRects = if (tiny) 8 else 40
  /** Side of one ingested patch, in pixels. */
  private val patch = 64

  val cycle: Seq[OpKind] = Seq(
    OpKind("window", write = false), OpKind("mean_blur", write = false),
    OpKind("median", write = false), OpKind("binomial", write = false),
    OpKind("zonal", write = false), OpKind("rasterize", write = false),
    OpKind("ingest_ngff", write = true), OpKind("ingest_refstore", write = true),
    // each ingest twice: a single ingest's latency swings by up to 35%
    // between runs, and these two kinds carry most of write_latency_s
    OpKind("ingest_ngff", write = true), OpKind("ingest_refstore", write = true))
  val nominalCycleS = 12.5
  val warmups: Seq[OpKind] = cycle.filter(k => k.name == "binomial" || k.name == "ingest_ngff").distinct

  private var image: Array[Array[Double]] = _ // [c][y * size + x]
  private var labels: Array[Int] = _
  private var rects: Array[(Double, Double, Double, Double)] = _
  private var imageDir: String = _
  private var labelsDir: String = _
  private var shapesDir: String = _

  private def base(ctx: Ctx) = new File(ctx.dir, "data/raster_tiles")

  /** Row-major tiles of one full raster, as the engine lays them out. */
  private def tilesOf(ctx: Ctx, planes: Seq[Array[Double]], w: Int, h: Int): DataFrame = {
    val rows = for {
      (plane, c) <- planes.zipWithIndex
      ty <- 0 until h / Ts
      tx <- 0 until w / Ts
    } yield Row(0, c, ty, tx, Ts, Ts, Array.tabulate(Ts * Ts) { i =>
      plane((ty * Ts + i / Ts) * w + tx * Ts + i % Ts)
    }.toSeq)
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, 4),
      Models.ImageModel.schema)
  }

  def setup(ctx: Ctx): Unit = {
    val rnd = new Random(ctx.seed)
    Host.deleteTree(base(ctx))
    base(ctx).mkdirs()
    // smooth channel fields plus noise, and Voronoi labels with background
    image = Array.tabulate(channels) { c =>
      val (fx, fy) = (1 + rnd.nextInt(4), 1 + rnd.nextInt(4))
      Array.tabulate(size * size) { i =>
        val (y, x) = (i / size, i % size)
        math.sin(fx * x * 0.05 + c) * math.cos(fy * y * 0.05) + rnd.nextDouble() * 0.25
      }
    }
    val seeds = Array.fill(nLabels)((rnd.nextInt(size), rnd.nextInt(size)))
    labels = Array.tabulate(size * size) { i =>
      val (y, x) = (i / size, i % size)
      val (best, d2) = seeds.zipWithIndex.map { case ((sy, sx), k) =>
        (k, (sy - y) * (sy - y) + (sx - x) * (sx - x))
      }.minBy(_._2)
      if (d2 > (size / 6) * (size / 6)) 0 else best + 1
    }
    // rectangles with edges at 1/8 offsets: no pixel centre of a 1 or
    // 1/2 unit grid sits on an edge
    rects = Array.fill(nRects) {
      val (w, h) = (4 + rnd.nextInt(size / 4), 4 + rnd.nextInt(size / 4))
      val (x0, y0) = (rnd.nextInt(size - w) + 0.125, rnd.nextInt(size - h) + 0.125)
      (x0, y0, x0 + w, y0 + h)
    }
    imageDir = new File(base(ctx), "image.zarr").getAbsolutePath
    labelsDir = new File(base(ctx), "labels.zarr").getAbsolutePath
    shapesDir = new File(base(ctx), "shapes.parquet").getAbsolutePath
    ctx.phase("raster_write") {
      NgffRaster.write(tilesOf(ctx, image.toSeq, size, size), imageDir, "image", Ts)
      NgffRaster.write(tilesOf(ctx, Seq(labels.map(_.toDouble)), size, size), labelsDir,
        "labels", Ts, axes = Seq("y", "x"), dtype = "<i4", isLabels = true)
    }
    val shapeRows = rects.zipWithIndex.map { case ((x0, y0, x1, y1), i) =>
      Row(i.toLong, WKB.write(GPolygon(Array(Array(x0, y0, x1, y0, x1, y1, x0, y1)))))
    }
    val shapes = ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(shapeRows.toSeq, 2),
      StructType(Seq(StructField("index", LongType), StructField("geometry", BinaryType))))
      .withColumn("geom_type", lit("polygon"))
    ctx.phase("shapes_write")(Models.ShapesModel.parse(shapes).write.parquet(shapesDir))
  }

  def prepareChecks(ctx: Ctx): Unit = ()

  /** Rasters the current op has read and cached; released once the op is
    * checked, or has failed.
    */
  private val held = scala.collection.mutable.ArrayBuffer[DataFrame]()

  /** Read a stored raster and materialise it (chunk IO and decoding) into
    * a cache the op then computes on, so the span covers the whole read.
    */
  private def readRaster(ctx: Ctx, dir: String): DataFrame =
    ctx.span("sources.ngff_read") {
      val tiles = NgffRaster.read(ctx.spark, dir)._1.persist(StorageLevel.MEMORY_ONLY)
      held += tiles
      tiles.count()
      tiles
    }

  private def readImage(ctx: Ctx): DataFrame = readRaster(ctx, imageDir)

  private def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }

  def run(kind: OpKind, rnd: Random, ctx: Ctx): Outcome = {
    val out = try kind.name match {
      case "window" => window(rnd, ctx)
      case "mean_blur" => halo(rnd, ctx, "mean", 2)
      case "median" => halo(rnd, ctx, "median", 1)
      case "binomial" => halo(rnd, ctx, "binomial", 2)
      case "zonal" => zonal(ctx)
      case "rasterize" => rasterize(rnd, ctx)
      case "ingest_ngff" => ingest(rnd, ctx, refStore = false)
      case "ingest_refstore" => ingest(rnd, ctx, refStore = true)
    } catch { case e: Throwable => release(); throw e }
    Outcome(() => try out.check() finally release())
  }

  // ---- reads ----

  private def window(rnd: Random, ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val wins = (0 until 8).map { i =>
      val e = 12 + rnd.nextInt(21)
      val (x, y) = (rnd.nextInt(size - e) + e / 2.0, rnd.nextInt(size - e) + e / 2.0)
      (i.toLong, x, y, e.toDouble, x - e / 2.0, y - e / 2.0, x + e / 2.0, y + e / 2.0)
    }
    val tiles = readImage(ctx)
    val got = ctx.span("ops.crop") {
      val coords = wins.toDF("instance_id", "x", "y", "extent", "minx", "miny", "maxx", "maxy")
      ImageTiles.tileBatch(RasterOps.tilesToPixels(tiles, Ts), coords, cell = Ts.toDouble)
        .select(col("instance_id"), col("c"), col("th"), col("tw"),
          aggregate(col("px"), lit(0.0), (a, b) => a + b).as("s"))
        .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getInt(3), r.getDouble(4)))
        .toMap
    }
    Outcome { () =>
      val bad = for {
        (i, _, _, _, x0, y0, x1, y1) <- wins
        c <- 0 until channels
        (ya, yb, xa, xb) = (math.floor(y0).toInt, math.ceil(y1).toInt,
          math.floor(x0).toInt, math.ceil(x1).toInt)
        want = (for (y <- ya until yb; x <- xa until xb) yield image(c)(y * size + x)).sum
        res = got.get((i, c))
        if !res.exists { case (th, tw, s) =>
          th == yb - ya && tw == xb - xa && close(s, want) }
      } yield s"window $i c$c: got $res, expected ${yb - ya}x${xb - xa} sum $want"
      bad.headOption
    }
  }

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * (1.0 + math.abs(a) + math.abs(b))

  /** Reference kernels, evaluated only where the window stays inside the
    * raster: edge policy never enters the comparison.
    */
  private def reference(kernel: String, depth: Int, c: Int, y: Int, x: Int): Double = {
    val img = image(c)
    def at(yy: Int, xx: Int) = img(yy * size + xx)
    kernel match {
      case "mean" =>
        var s = 0.0
        for (dy <- -depth to depth; dx <- -depth to depth) s += at(y + dy, x + dx)
        s / ((2 * depth + 1) * (2 * depth + 1))
      case "median" =>
        val w = (for (dy <- -depth to depth; dx <- -depth to depth) yield at(y + dy, x + dx)).sorted
        w(w.size / 2)
      case "binomial" =>
        val k = Array(1.0, 4.0, 6.0, 4.0, 1.0)
        (-2 to 2).map { dx =>
          k(dx + 2) * (-2 to 2).map(dy => k(dy + 2) * at(y + dy, x + dx)).sum / 16.0
        }.sum / 16.0
    }
  }

  private def halo(rnd: Random, ctx: Ctx, kernel: String, depth: Int): Outcome = {
    val tiles = readImage(ctx)
    val (ty0, tx0) = (rnd.nextInt(size / Ts - 1), rnd.nextInt(size / Ts - 1))
    ctx.note("halo.raster_bytes", size.toDouble * size * channels * 8)
    val got = ctx.span("ops.halo") {
      val out = kernel match {
        case "mean" => RasterOps.meanBlurBox(tiles, depth, Ts)
        case "median" => RasterOps.medianFilterBox(tiles, depth, Ts)
        case "binomial" => RasterOps.binomialBlur5(tiles, Ts)
      }
      out.filter(col("tile_y").between(ty0, ty0 + 1) && col("tile_x").between(tx0, tx0 + 1))
        .select(col("c"), col("tile_y"), col("tile_x"), col("w"), col("px")).collect()
    }
    Outcome { () =>
      val reach = if (kernel == "binomial") 2 else depth
      if (got.length != 4 * channels) Some(s"$kernel: ${got.length} tiles, expected ${4 * channels}")
      else got.iterator.flatMap { r =>
        val (c, ty, tx, w) = (r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3))
        val px = r.getSeq[Double](4)
        px.indices.iterator.flatMap { i =>
          val (y, x) = (ty * Ts + i / w, tx * Ts + i % w)
          if (y < reach || x < reach || y >= size - reach || x >= size - reach) None
          else {
            val want = reference(kernel, depth, c, y, x)
            if (close(px(i), want)) None
            else Some(s"$kernel d$depth c$c ($y,$x): got ${px(i)}, expected $want")
          }
        }
      }.nextOption()
    }
  }

  private def zonal(ctx: Ctx): Outcome = {
    val tiles = readImage(ctx)
    val labelPx = RasterOps.tilesToPixels(readRaster(ctx, labelsDir), Ts)
      .select(col("y"), col("x"), col("value").cast("long").as("label"))
    val got = ctx.span("ops.aggregate") {
      Aggregate.tilesByLabels(tiles, labelPx, "mean", Ts).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    }
    Outcome { () =>
      val want = for {
        c <- 0 until channels
        (lab, idx) <- labels.indices.filter(labels(_) != 0).groupBy(labels(_))
      } yield (lab.toLong, c) -> idx.map(image(c)(_)).sum / idx.size
      val bad = want.collect {
        case (k, v) if !got.get(k).exists(close(_, v)) => s"zone $k: got ${got.get(k)}, expected $v"
      }
      if (got.size != want.size) Some(s"zonal: ${got.size} zones, expected ${want.size}")
      else bad.headOption
    }
  }

  private def rasterize(rnd: Random, ctx: Ctx): Outcome = {
    val (w, h) = (size * 3 / 8 + rnd.nextInt(size / 4), size * 3 / 8 + rnd.nextInt(size / 4))
    val (x0, y0) = (rnd.nextInt(size - w).toDouble, rnd.nextInt(size - h).toDouble)
    val s = if (rnd.nextBoolean()) 1.0 else 0.5
    val got = ctx.span("ops.rasterize") {
      RasterOps.rasterizeShapes(ctx.spark.read.parquet(shapesDir), x0, y0, s, s, w, h)
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    }
    Outcome { () =>
      val want = (for (py <- 0 until h; pxl <- 0 until w) yield {
        val (xc, yc) = (x0 + (pxl + 0.5) * s, y0 + (py + 0.5) * s)
        val hits = rects.indices.filter { i =>
          val (a, b, c, d) = rects(i)
          xc > a && xc < c && yc > b && yc < d
        }
        if (hits.isEmpty) None else Some((py, pxl) -> hits.min.toLong)
      }).flatten.toMap
      if (got == want) None
      else Some(s"rasterize: ${got.size} cells, expected ${want.size}; first diff " +
        (want.toSeq ++ got.toSeq).find { case (k, _) => got.get(k) != want.get(k) })
    }
  }

  // ---- writes ----

  private def ingest(rnd: Random, ctx: Ctx, refStore: Boolean): Outcome = {
    val spark = ctx.spark
    val (oy, ox) = (rnd.nextInt(size - patch), rnd.nextInt(size - patch))
    val plane = image(rnd.nextInt(channels))
    val pixels = (0 until patch * patch).map { i =>
      val (y, x) = (i / patch, i % patch)
      Row(0, y, x, plane((oy + y) * size + ox + x))
    }
    val schema = StructType(Seq(StructField("c", IntegerType), StructField("y", IntegerType),
      StructField("x", IntegerType), StructField("value", DoubleType)))
    val longForm = spark.createDataFrame(spark.sparkContext.parallelize(pixels, 4), schema)
    val dir = new File(base(ctx), s"out-${rnd.nextLong().toHexString}").getAbsolutePath
    val tiles = ctx.span("ops.tiles") {
      val t = RasterOps.pixelsToTiles(longForm, Ts).persist(StorageLevel.MEMORY_ONLY)
      t.count()
      t
    }
    ctx.note("tiles.px", patch.toDouble * patch)
    val groupDir = ctx.span("model.write") {
      if (refStore) {
        val meta = Models.ImageModel.meta("patch").copy(attrs = Map("tile_size" -> Ts.toString))
        val sd = SpatialDataset(spark, Seq(SpatialElement(meta, tiles)))
        ctx.span("sources.refstore_write")(RefStoreWriter.write(sd, dir, tileSize = Ts))
        s"$dir/images/patch"
      } else {
        ctx.span("sources.ngff_write")(NgffRaster.write(tiles, dir, "patch", Ts))
        dir
      }
    }
    Outcome { () =>
      try {
        val want = pixels.map(_.getDouble(3)).sum
        val tileSum = tiles.select(aggregate(col("px"), lit(0.0), (a, b) => a + b)).collect()
          .map(_.getDouble(0)).sum
        val back = RasterOps.tilesToPixels(NgffRaster.read(spark, groupDir)._1, Ts)
          .collect().map(r => (r.getAs[Int]("y"), r.getAs[Int]("x")) -> r.getAs[Double]("value"))
          .toMap
        ctx.note("write.disk_bytes", Host.treeBytes(new File(dir)).toDouble)
        ctx.note("write.raster_bytes", patch.toDouble * patch * 8)
        val wrong = pixels.find(p => !back.get((p.getInt(1), p.getInt(2))).contains(p.getDouble(3)))
        if (!close(tileSum, want)) Some(s"tiles sum $tileSum, long-form sum $want")
        else wrong.map(p => s"read-back (${p.getInt(1)},${p.getInt(2)}): " +
          s"${back.get((p.getInt(1), p.getInt(2)))}, wrote ${p.getDouble(3)}")
      } finally {
        tiles.unpersist(blocking = true)
        Host.deleteTree(new File(dir))
      }
    }
  }

  // ---- per-layer ----

  def kernels(ctx: Ctx): Map[String, Double] = Map.empty

  def ratios(ctx: Ctx, agg: SpanAgg): Map[String, Double] = {
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    val tilesNs = agg.meanS("ops.tiles") * agg.calls("ops.tiles") * 1e9
    Map(
      "ops.tiles_ns_per_px" -> ratio(tilesNs, ctx.notes("tiles.px")),
      "ops.halo_shuffle_per_raster_byte" -> ratio(
        agg.jobsIn("ops.halo").map(_.shuffleWrite).sum.toDouble, ctx.notes("halo.raster_bytes")),
      "sources.refstore_jobs" -> ratio(agg.jobsIn("sources.refstore_write").size.toDouble,
        agg.calls("sources.refstore_write").toDouble),
      "sources.bytes_per_raster_byte" -> ratio(ctx.notes("write.disk_bytes"),
        ctx.notes("write.raster_bytes")))
  }
}
