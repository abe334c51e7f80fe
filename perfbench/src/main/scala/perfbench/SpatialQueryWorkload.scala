package perfbench

import java.io.File
import java.nio.{ByteBuffer, ByteOrder}

import scala.util.Random

import graft.geom.{GPolygon, GeomKernel, WKB}
import graft.model._
import graft.ops.Aggregate
import graft.query.{RelationalQuery, SpatialQuery}
import org.apache.spark.sql.functions._

/** A query region in the target cs: an axis-aligned box there, or a star
  * polygon around a centre. Area is log-uniform over two decades, since
  * latency follows selectivity.
  */
final case class Region(box: Option[(Double, Double, Double, Double)],
    ring: Array[Double]) {
  lazy val wkb: Array[Byte] = WKB.write(GPolygon(Array(ring)))
}

/** The paper's headline query: a bounding-box or polygon query over a
  * stored container of transcripts, circles and their table, in either of
  * two coordinate systems, then transcripts counted per circle. One write
  * kind saves a query result as a new container.
  */
final class SpatialQueryWorkload(tiny: Boolean) extends Workload {
  val name = "spatial_query"

  private val length = if (tiny) 256 else 1024
  private val nCells = if (tiny) 16 else 200
  private val pointsPerCell = if (tiny) 50 else 1000
  private val Points = "blobs_points"
  private val Circles = "blobs_circles"
  private val Table = "blobs_table"

  /** Global -> "aligned": rotate 30 degrees, scale 0.5, shift. */
  private val (m00, m01, m02, m10, m11, m12) = {
    val th = math.Pi / 6; val s = 0.5
    (s * math.cos(th), -s * math.sin(th), length / 3.0,
      s * math.sin(th), s * math.cos(th), -length / 5.0)
  }
  private val aligned = AffineT.square(Seq(m00, m01, m02, m10, m11, m12, 0.0, 0.0, 1.0),
    Seq("x", "y"))

  /** A half fraction of {bbox, polygon} x {global, aligned} x {filterTable
    * on, off}: every level of each factor twice, every pair of levels once.
    */
  val cycle: Seq[OpKind] =
    Seq("bbox.global.ft", "bbox.aligned.nf", "poly.global.nf", "poly.aligned.ft")
      .map(OpKind(_, write = false)) :+ OpKind("save_subset", write = true)
  val nominalCycleS = 5.5
  val warmups: Seq[OpKind] = cycle.take(1)

  private var root: String = _
  private var nStored = 0L

  // reference data, from the raw parquet of the stored container
  private var px: Array[Double] = _
  private var py: Array[Double] = _
  private var pid: Array[Long] = _
  private var byX: Array[Int] = _ // point indices sorted by x
  private var cIdx: Array[Long] = _
  private var cx: Array[Double] = _
  private var cy: Array[Double] = _
  private var cr: Array[Double] = _
  private var cWkb: Array[Array[Byte]] = _

  private def base(ctx: Ctx) = new File(ctx.dir, "data/spatial_query")

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    Host.deleteTree(base(ctx))
    base(ctx).mkdirs()
    val blobs = ctx.phase("vector_generate")(Datasets.blobs(spark, length, nCells,
      pointsPerCell, seed = (ctx.seed & 0x7fffffffL).toInt))
    val circles = blobs.element(Circles)
    val obs = circles.data.select(col("index").cast("int").as("instance_id"),
      lit(Circles).as("region"), (col("radius") * 2.0).as("a"))
    val sd = SpatialDataset(spark, Seq(
      blobs.element(Points), circles,
      SpatialElement(Models.TableModel.meta(Table,
        Some(TableAnnotation(Seq(Circles), "region", "instance_id"))), obs)))
      .setTransformation(Points, aligned, "aligned")
      .setTransformation(Circles, aligned, "aligned")
    root = new File(base(ctx), "container").getAbsolutePath
    ctx.phase("vector_write")(sd.write(root))
  }

  def prepareChecks(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val sd = SpatialDataset.read(spark, root)
    val pts = sd(Points).select(col("row_id"), col("x"), col("y")).collect()
    px = pts.map(_.getDouble(1)); py = pts.map(_.getDouble(2)); pid = pts.map(_.getLong(0))
    byX = px.indices.sortBy(px(_)).toArray
    val cs = sd(Circles).select(col("index"), col("geometry"), col("radius")).collect()
      .sortBy(_.getLong(0))
    cIdx = cs.map(_.getLong(0))
    cWkb = cs.map(_.getAs[Array[Byte]](1))
    val centers = cWkb.map(pointOf)
    cx = centers.map(_._1); cy = centers.map(_._2)
    cr = cs.map(_.getDouble(2))
    nStored = px.length.toLong + 2L * cIdx.length
  }

  /** Decode a WKB point by hand: the check must not lean on the engine's
    * own reader.
    */
  private def pointOf(wkb: Array[Byte]): (Double, Double) = {
    val bb = ByteBuffer.wrap(wkb)
    bb.order(if (wkb(0) == 1) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    require(bb.getInt(1) == 1, "circle geometry is not a WKB point")
    (bb.getDouble(5), bb.getDouble(13))
  }

  private def toCs(aligned: Boolean, x: Double, y: Double): (Double, Double) =
    if (!aligned) (x, y) else (m00 * x + m01 * y + m02, m10 * x + m11 * y + m12)

  // ---- query regions ----

  /** Area fractions still due in this cycle: one per op, at evenly spaced
    * quantiles of the log-uniform range. Each kind gets the same quantile
    * on every run, so a run's figure for a kind does not swing with the
    * selectivity the seed would otherwise hand it; the seed picks the
    * places and shapes.
    */
  private var strata: List[Double] = Nil

  override def startCycle(rnd: Random): Unit =
    strata = List(3, 0, 4, 1, 2).map(i => (i + 0.5) / cycle.size)

  private def draw(rnd: Random, poly: Boolean, alignedCs: Boolean): Region = {
    val u = strata match {
      case h :: t => strata = t; h
      case Nil => rnd.nextDouble()
    }
    val frac = math.exp(math.log(0.002) + u * math.log(0.25 / 0.002))
    val scale = if (alignedCs) 0.5 else 1.0
    val side = math.sqrt(frac) * length * scale
    val (ux, uy) = toCs(alignedCs, rnd.nextDouble() * length, rnd.nextDouble() * length)
    if (!poly) {
      val aspect = math.exp((rnd.nextDouble() - 0.5) * math.log(4.0))
      val w = side * math.sqrt(aspect); val h = side / math.sqrt(aspect)
      val b = (ux - w / 2, uy - h / 2, ux + w / 2, uy + h / 2)
      Region(Some(b), Array(b._1, b._2, b._3, b._2, b._3, b._4, b._1, b._4))
    } else {
      val k = 6 + rnd.nextInt(4)
      val r0 = side / math.sqrt(math.Pi * 0.6)
      val ring = (0 until k).flatMap { i =>
        val th = 2 * math.Pi * (i + 0.3 * rnd.nextDouble()) / k
        val r = r0 * (0.6 + 0.4 * rnd.nextDouble())
        Seq(ux + r * math.cos(th), uy + r * math.sin(th))
      }.toArray
      Region(None, ring)
    }
  }

  // ---- the op ----

  def run(kind: OpKind, rnd: Random, ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val parts = kind.name.split('.')
    val poly = parts(0) == "poly"
    val alignedCs = kind.write == false && parts(1) == "aligned"
    val filterTable = kind.write || parts(2) == "ft"
    val cs = if (alignedCs) "aligned" else "global"
    val region = draw(rnd, poly, alignedCs)

    val sd = ctx.span("model.read")(SpatialDataset.read(spark, root))
    val (tP, tS) = ctx.span("model.transform")(
      (sd.transformTo(Points, cs), sd.transformTo(Circles, cs)))
    val q = ctx.span("query.build") {
      region.box match {
        case Some((x0, y0, x1, y1)) =>
          SpatialQuery.boundingBox(sd, Seq("x", "y"), Seq(x0, y0), Seq(x1, y1), cs, filterTable)
        case None =>
          val out = sd
            .withElement(sd.element(Points).copy(
              data = SpatialQuery.polygonQueryPoints(sd(Points), tP, region.wkb)))
            .withElement(sd.element(Circles).copy(
              data = SpatialQuery.polygonQueryShapes(sd(Circles), tS, region.wkb)))
          if (filterTable) RelationalQuery.filterTablesByElements(out) else out
      }
    }
    ctx.note("query.rows_stored", nStored.toDouble)

    if (kind.write) {
      val dir = new File(base(ctx), s"subset-${rnd.nextLong().toHexString}").getAbsolutePath
      ctx.span("model.write")(q.write(dir))
      return Outcome { () =>
        val back = SpatialDataset.read(spark, dir)(Points)
          .agg(count(lit(1)), coalesce(sum(col("row_id")), lit(0L))).head()
        Host.deleteTree(new File(dir))
        checkPoints(pointSets(region, alignedCs), back.getLong(0), back.getLong(1))
      }
    }

    val (nPts, sumIds, shapeIds, tableRows) = ctx.span("query.action") {
      val d = q(Points).agg(count(lit(1)), coalesce(sum(col("row_id")), lit(0L))).head()
      val ids = q(Circles).select(col("index")).collect().map(_.getLong(0)).toSet
      (d.getLong(0), d.getLong(1), ids, q.element(Table).obs.count())
    }
    val (nRegions, total) = ctx.span("ops.aggregate") {
      val r = Aggregate.pointsByShapes(q(Points), q(Circles), None)
        .agg(count(lit(1)), coalesce(sum(col("value")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    Outcome { () =>
      val sets = pointSets(region, alignedCs)
      checkPoints(sets, nPts, sumIds)
        .orElse(checkShapes(region, alignedCs, shapeIds))
        .orElse {
          val want = if (filterTable) shapeIds.size.toLong else cIdx.length.toLong
          if (tableRows == want) None else Some(s"table rows $tableRows, expected $want")
        }
        .orElse(checkAggregate(sets, shapeIds, nRegions, total))
    }
  }

  // ---- checks: brute force over the raw parquet, with a tolerance band
  // so a point within rounding distance of an edge may fall either way ----

  private val Eps = 1e-7

  /** 1 = inside, 0 = outside, -1 = within rounding distance of the edge. */
  private def classify(region: Region, u: Double, v: Double): Int = {
    val tol = Eps * (1.0 + math.abs(u) + math.abs(v))
    region.box match {
      case Some((x0, y0, x1, y1)) =>
        val d = math.min(math.min(u - x0, x1 - u), math.min(v - y0, y1 - v))
        if (math.abs(d) <= tol) -1 else if (d > 0) 1 else 0
      case None =>
        if (edgeDistance(region.ring, u, v) <= tol) -1
        else if (rayCast(region.ring, u, v)) 1 else 0
    }
  }

  private def rayCast(ring: Array[Double], x: Double, y: Double): Boolean = {
    val n = ring.length / 2
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val (xi, yi, xj, yj) = (ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1))
      if ((yi > y) != (yj > y) && x < (xj - xi) * (y - yi) / (yj - yi) + xi) inside = !inside
      j = i; i += 1
    }
    inside
  }

  private def edgeDistance(ring: Array[Double], x: Double, y: Double): Double = {
    val n = ring.length / 2
    var best = Double.MaxValue
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      val (ax, ay, bx, by) = (ring(2 * i), ring(2 * i + 1), ring(2 * j), ring(2 * j + 1))
      val (dx, dy) = (bx - ax, by - ay)
      val t = math.max(0.0, math.min(1.0, ((x - ax) * dx + (y - ay) * dy) / (dx * dx + dy * dy)))
      best = math.min(best, math.hypot(x - ax - t * dx, y - ay - t * dy))
      i += 1
    }
    best
  }

  /** Reference membership of every point: (definite, uncertain) indices. */
  private def pointSets(region: Region, alignedCs: Boolean): (Array[Int], Array[Int]) = {
    val cls = Array.tabulate(px.length) { i =>
      val (u, v) = toCs(alignedCs, px(i), py(i))
      classify(region, u, v)
    }
    (px.indices.filter(cls(_) == 1).toArray, px.indices.filter(cls(_) == -1).toArray)
  }

  private def checkPoints(sets: (Array[Int], Array[Int]), n: Long,
      sumIds: Long): Option[String] = {
    val (sure, edge) = sets
    val wantSum = sure.map(pid(_)).sum
    if (edge.isEmpty && (n != sure.length || sumIds != wantSum))
      Some(s"points: got ($n, $sumIds), expected (${sure.length}, $wantSum)")
    else if (n < sure.length || n > sure.length + edge.length)
      Some(s"points: got $n, expected ${sure.length}..${sure.length + edge.length}")
    else None
  }

  private def checkShapes(region: Region, alignedCs: Boolean,
      got: Set[Long]): Option[String] = {
    val cls = cIdx.indices.map { i =>
      val (u, v) = toCs(alignedCs, cx(i), cy(i))
      classify(region, u, v)
    }
    val sure = cIdx.indices.filter(cls(_) == 1).map(cIdx(_)).toSet
    val maybe = sure ++ cIdx.indices.filter(cls(_) == -1).map(cIdx(_))
    if (sure.subsetOf(got) && got.subsetOf(maybe)) None
    else Some(s"circles: got ${got.toSeq.sorted.take(20)}, expected ${sure.toSeq.sorted.take(20)}")
  }

  /** Points-per-circle totals: bounds from the sure and the possible
    * point sets, each counted inside the circles the query returned.
    */
  private def checkAggregate(sets: (Array[Int], Array[Int]), circles: Set[Long],
      nRegions: Long, total: Long): Option[String] = {
    val (sure, edge) = sets
    val inSure = new Array[Boolean](px.length)
    val inMaybe = new Array[Boolean](px.length)
    sure.foreach { i => inSure(i) = true; inMaybe(i) = true }
    edge.foreach(inMaybe(_) = true)
    val xsSorted = byX.map(px(_))
    var (lo, hi, regLo, regHi) = (0L, 0L, 0L, 0L)
    cIdx.indices.filter(i => circles.contains(cIdx(i))).foreach { c =>
      val tol = Eps * (1.0 + math.abs(cx(c)) + math.abs(cy(c)) + cr(c))
      var k = java.util.Arrays.binarySearch(xsSorted, cx(c) - cr(c) - tol)
      if (k < 0) k = -k - 1
      var (a, b) = (0L, 0L)
      while (k < byX.length && xsSorted(k) <= cx(c) + cr(c) + tol) {
        val i = byX(k)
        val d = math.hypot(px(i) - cx(c), py(i) - cy(c))
        if (inSure(i) && d < cr(c) - tol) a += 1
        if (inMaybe(i) && d <= cr(c) + tol) b += 1
        k += 1
      }
      lo += a; hi += b
      if (a > 0) regLo += 1
      if (b > 0) regHi += 1
    }
    if (total >= lo && total <= hi && nRegions >= regLo && nRegions <= regHi) None
    else Some(s"aggregate: got $nRegions regions / $total points, expected " +
      s"$regLo..$regHi / $lo..$hi")
  }

  // ---- per-layer ----

  def kernels(ctx: Ctx): Map[String, Double] = {
    val rnd = new Random(ctx.seed + 99)
    val polys = Array.fill(16)(draw(rnd, poly = true, alignedCs = false).wkb)
    val n = math.min(px.length, 20000)
    val sample = Array.fill(n)(rnd.nextInt(px.length))
    val nC = cWkb.length
    var hits = 0L
    val contains = Workload.nsPerRow(n) { i =>
      if (GeomKernel.containsPoint(polys(i & 15), px(sample(i)), py(sample(i)))) hits += 1
    }
    val inter = Workload.nsPerRow(n) { i =>
      if (GeomKernel.intersects(cWkb(i % nC), polys(i & 15))) hits += 1
    }
    val read = Workload.nsPerRow(n) { i =>
      hits += WKB.read(if ((i & 1) == 0) cWkb(i % nC) else polys(i & 15)).hashCode & 1
    }
    if (hits == 42L) System.err.println("")
    Map("geom.contains_point_ns" -> contains, "geom.intersects_ns" -> inter,
      "geom.wkb_read_ns" -> read)
  }

  def ratios(ctx: Ctx, agg: SpanAgg): Map[String, Double] = {
    val stored = ctx.notes("query.rows_stored") * agg.calls("query.action") /
      math.max(1, agg.calls("query.build"))
    val read = agg.jobsIn("query.action").map(_.inputRows).sum.toDouble
    Map("query.scan_fraction" -> (if (stored > 0) read / stored else 0.0))
  }
}
