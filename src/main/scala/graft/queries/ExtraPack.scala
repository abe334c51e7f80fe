package graft.queries

import graft.{QueryPack, Tables}
import graft.model._
import graft.ops.{RasterOps, TransformOps}
import graft.query.RelationalQuery
import graft.streaming.EventStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Coverage-completion gate queries: geometric transforms, match_rows,
  * map_raster through the tiled layout, rasterize_bins, and the event-time
  * window/sessionization extensions.
  */
object ExtraPack extends QueryPack {

  private def points(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      (col("l_extendedprice") / 1000.0).as("x"),
      col("l_quantity").as("y"))

  private val pointsSql =
    "SELECT l_orderkey, l_linenumber, l_extendedprice / 1000.0 AS x, l_quantity AS y FROM lineitem"

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // transform(points, cs): generated affine projection (transform.py:429-503)
    "q18_transform_points" -> ((s, d) => {
      val t = SequenceT(List(
        AffineT(Matrix(3, 3, Array(0.5, -0.25, 3.0, 0.25, 2.0, -1.0, 0, 0, 1)),
          Seq("x", "y"), Seq("x", "y"))))
      TransformOps.transformPoints(points(s, d), t)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // cs-graph path solving + transform algebra: pts reaches "global" only
    // THROUGH the anchor element (pts --Scale--> stage --inv(Translation)-->
    // anchor --Affine--> global); the composed matrix entries are exact
    // multiples of 0.25 so the lowered one-affine application is bit-equal
    // to the closed form (transformations.py:626-699 Sequence composition)
    "q91_cs_graph_transform" -> ((s, d) => {
      val axes = Seq("x", "y")
      val ptsEl = SpatialElement(
        Models.PointsModel.meta("pts",
          transforms = Map("stage" -> ScaleT(Seq(2.0, 3.0), axes))),
        Models.PointsModel.parse(points(s, d)))
      val anchorEl = SpatialElement(
        Models.PointsModel.meta("anchor", transforms = Map(
          "stage" -> TranslationT(Seq(5.0, -1.0), axes),
          "global" -> AffineT(Matrix(3, 3,
            Array(0.5, -0.25, 3.0, 0.25, 2.0, -1.0, 0, 0, 1)), axes, axes))),
        Models.PointsModel.parse(s.range(1)
          .select(lit(0.0).as("x"), lit(0.0).as("y"))))
      val sd = SpatialDataset(s, Seq(ptsEl, anchorEl))
      val t = sd.transformTo("pts", "global")
      TransformOps.transformPoints(sd("pts"), t)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // filter_by_coordinate_system: keep only elements registered in the cs,
    // cascading annotating tables (spatialdata.py filter path)
    "q92_filter_by_cs" -> ((s, d) => {
      val axes = Seq("x", "y")
      def ptsFrom(mult: Int) = Models.PointsModel.parse(
        Tables.supplier(s, d).select(
          (col("s_suppkey") * mult).cast("double").as("x"),
          col("s_suppkey").cast("double").as("y")))
      val sd = SpatialDataset(s, Seq(
        SpatialElement(Models.PointsModel.meta("both", transforms = Map(
          "global" -> IdentityT, "stage" -> ScaleT(Seq(2.0, 2.0), axes))), ptsFrom(1)),
        SpatialElement(Models.PointsModel.meta("global_only"), ptsFrom(2)),
        SpatialElement(Models.PointsModel.meta("stage_only", transforms = Map(
          "stage" -> TranslationT(Seq(1.0, 1.0), axes))), ptsFrom(3))))
      val filtered = sd.filterByCoordinateSystem("stage")
      val names = filtered.manifest.elements.map(_.name).sorted
      val rows = names.map { nm =>
        filtered(nm).agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(28,6)")).cast("double").as("sum_x"))
          .withColumn("element", lit(nm))
      }
      rows.reduce(_ unionByName _).select("element", "n", "sum_x").orderBy("element")
    }),

    // match_rows row-aligned annotation (relational_query.py:482-504)
    "q19_match_rows" -> ((s, d) => {
      val elem = points(s, d)
      val obs = Tables.orders(s, d).select(
        col("o_orderkey").as("instance_id"), col("o_totalprice"),
        lit("li").as("region"))
      RelationalQuery.matchTableToElement(elem, "l_orderkey", "li", obs,
        TableAnnotation(Seq("li"), "region", "instance_id"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // map_raster through the tiled layout: pixels -> tiles -> per-pixel
    // kernel -> pixels (map.py:22-156; zero-fill for absent cells in
    // present tiles is tile semantics)
    "q38_map_raster" -> ((s, d) => {
      val pixels = Tables.events(s, d).select(
        lit(0).as("c"),
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"))
        .groupBy("c", "y", "x").agg(count(lit(1)).cast("double").as("value"))
      val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 16)
      RasterOps.tilesToPixels(RasterOps.mapRaster(tiles)(_ * 2.0 + 1.0), tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // RQ decomposition (transformations.py:837-966): the q18 affine split
    // into inversion/rotation/shear/scale/translation; the oracle rebuilds
    // the same Givens closed form (phi = atan2(a10, a11)) in SQL. Driver
    // math like the reference's numpy path; 6-dec snap absorbs the <=1-ulp
    // libm-vs-JVM transcendental drift.
    "q169_rq_decompose" -> ((s, d) => {
      import s.implicits._
      // touch the sf dir so the gate participates in the standard contract
      val nRows = Tables.supplier(s, d).count()
      val t = AffineT(Matrix(3, 3, Array(0.5, -0.25, 3.0, 0.25, 2.0, -1.0, 0, 0, 1)),
        Seq("x", "y"), Seq("x", "y"))
      val seq = Decompose.decompose(t, Seq("x", "y"), simple = false)
      def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
      // decompose(simple = false) contract: exactly this chain, in order
      val (inv, rot, shear, scale, trans) = seq.transforms match {
        case List(i: ScaleT, r: AffineT, sh: AffineT, sc: ScaleT, tr: TranslationT) =>
          (i, r, sh, sc, tr)
        case other => throw new IllegalStateException(s"unexpected chain $other")
      }
      val rows =
        inv.scale.zipWithIndex.map { case (v, i) => ("a_inversion", i, r6(v)) } ++
        Seq(0, 1, 3, 4).zipWithIndex.map { case (di, i) => ("b_rotation", i, r6(rot.matrix.data(di))) } ++
        Seq(("c_shear", 0, r6(shear.matrix.data(1)))) ++
        scale.scale.zipWithIndex.map { case (v, i) => ("d_scale", i, r6(v)) } ++
        trans.translation.zipWithIndex.map { case (v, i) => ("e_translation", i, r6(v)) }
      rows.toDF("part", "idx", "value")
        .withColumn("n_rows", lit(nRows))
        .orderBy(col("part"), col("idx"))
    }),

    // map_overlap with Reflect boundary (map.py:110-126): a dense 64x64
    // count raster blurred 3x3 through the depth-1 halo join; border
    // pixels sample the symmetric reflection = clamped coordinate, which
    // the oracle mirrors with LEAST/GREATEST. Counts are small ints, so
    // the 9-term sum is IEEE-exact in any order and value needs no snap.
    "q168_halo_blur" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(64L * 64)
        .select(lit(0).as("c"), (col("id") / 64).cast("int").as("y"),
          (col("id") % 64).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 16)
      val blurred = RasterOps.meanBlur3x3(tiles, tileSize = 16,
        boundary = RasterOps.Boundary.Reflect)
      RasterOps.tilesToPixels(blurred, tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // map_overlap at depth 2 (the reference's map.py:110-126 takes any
    // depth): 5x5 mean with numpy-"symmetric" borders over a 64x60 raster
    // whose width is NOT a tile multiple — the x-edge tiles are partial
    // (16,16,16,12), so the gate also pins neighbor-stride correctness
    "q199_halo_blur5" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 60).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(64L * 60)
        .select(lit(0).as("c"), (col("id") / 60).cast("int").as("y"),
          (col("id") % 60).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTilesExact(pixels, 64, 60, tileSize = 16)
      val blurred = RasterOps.meanBlurBox(tiles, depth = 2, tileSize = 16,
        boundary = RasterOps.Boundary.Reflect)
      RasterOps.tilesToPixels(blurred, tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // 3D box mean blur over a z-stacked 4x32x32 volume (2x2 tiles per
    // plane at tileSize 16): tile seams stitch through the (z,y,x) halo
    // exchange, raster borders reflect (numpy symmetric) in ALL THREE
    // axes — the dim-generic map_overlap the reference's 3D dask arrays
    // get. depth=2 crosses the y/x tile border; depthZ=1 reaches the
    // adjacent planes. Oracle recomputes every voxel densely.
    "q353_halo3d_blur" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 4).cast("int").as("z"),
        (col("event_id") % 32).cast("int").as("y"),
        (col("user_id") % 32).cast("int").as("x"))
        .groupBy("z", "y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(4L * 32 * 32).select(lit(0).as("c"),
        (col("id") / 1024).cast("int").as("z"),
        ((col("id") % 1024) / 32).cast("int").as("y"),
        (col("id") % 32).cast("int").as("x"))
      val vox = grid.join(counts, Seq("z", "y", "x"), "left")
        .select(col("c"), col("z"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTiles3d(vox, tileSize = 16)
      val blurred = RasterOps.meanBlurBox3d(tiles, depth = 2, depthZ = 1,
        tileSize = 16, boundary = RasterOps.Boundary.Reflect)
      RasterOps.tilesToPixels3d(blurred, tileSize = 16)
        .select(col("z"), col("y"), col("x"), col("value"))
        .orderBy(col("z"), col("y"), col("x"))
    }),

    // 3D EROSION over the q353 volume (3x3x3 flat SE, reflect): the
    // order-statistic twin — output values are exact copies, so the
    // compare is bit-level; the dense oracle takes MIN over the mirrored
    // 27-voxel window
    "q357_morph3d_erode" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 4).cast("int").as("z"),
        (col("event_id") % 32).cast("int").as("y"),
        (col("user_id") % 32).cast("int").as("x"))
        .groupBy("z", "y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(4L * 32 * 32).select(lit(0).as("c"),
        (col("id") / 1024).cast("int").as("z"),
        ((col("id") % 1024) / 32).cast("int").as("y"),
        (col("id") % 32).cast("int").as("x"))
      val vox = grid.join(counts, Seq("z", "y", "x"), "left")
        .select(col("c"), col("z"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTiles3d(vox, tileSize = 16)
      val eroded = RasterOps.morphBox3d(tiles, depth = 1, depthZ = 1,
        dilate = false, tileSize = 16, boundary = RasterOps.Boundary.Reflect)
      RasterOps.tilesToPixels3d(eroded, tileSize = 16)
        .select(col("z"), col("y"), col("x"), col("value"))
        .orderBy(col("z"), col("y"), col("x"))
    }),

    // separable 5-tap binomial blur over the q199 fixture (64x60, partial
    // x-edge tiles): two depth-2 axis passes must equal the direct 5x5
    // outer-product kernel the oracle computes — dyadic weights keep
    // every intermediate exact, so the compare is bit-level
    "q345_binomial_blur" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 60).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(64L * 60)
        .select(lit(0).as("c"), (col("id") / 60).cast("int").as("y"),
          (col("id") % 60).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTilesExact(pixels, 64, 60, tileSize = 16)
      val blurred = RasterOps.binomialBlur5(tiles, tileSize = 16,
        boundary = RasterOps.Boundary.Reflect)
      RasterOps.tilesToPixels(blurred, tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // Morton (Z-order) key — the at-rest spatial clustering key
    // (ZOrder.writeZOrdered / readBox): pure bit-interleave algebra the
    // oracle recomputes independently; range-prune equivalence is pinned
    // in ZOrderSpec
    "q201_zorder_key" -> ((s, d) => {
      val pts = Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 1024).cast("long").as("qx"),
        (col("user_id") % 1024).cast("long").as("qy"))
      pts.select(col("event_id"),
          graft.ops.ZOrder.interleave(col("qx"), col("qy"), 10).as("zkey"))
        .orderBy(col("event_id"))
    }),

    // surgical copy-on-write DELETE: v1 = 60%, v2 = +40%, v3 = delete a
    // slice living only in v2's file set — v1's set carries forward
    // unrewritten; every version stays a consistent snapshot and the
    // oracle recomputes each from the raw table (layout invisible)
    "q310_layout_delete" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("t").toString
        graft.ops.VersionedLayout.commit(docs.filter(col("doc_id") % 5 < 3), path)
        graft.ops.VersionedLayout.commit(docs.filter(col("doc_id") % 5 >= 3), path)
        graft.ops.VersionedLayout.deleteWhere(s, path, col("doc_id") % 5 === 4)
        Seq(1, 2, 3).map { v =>
          graft.ops.VersionedLayout.read(s, path, Some(v))
            .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_id"))
            .withColumn("version", lit(v))
        }.reduce(_.unionByName(_))
          .select(col("version"), col("n_rows"), col("sum_id"))
          .orderBy(col("version"))
      }
    }),

    // INCREMENTAL aggregate maintenance over the versioned layout: the
    // summary refreshes from file-level deltas only (append, upsert,
    // surgical delete), never rescanning the table — and must equal a
    // from-scratch aggregation of the final state, which the oracle
    // recomputes from the raw events with the commits' combined algebra
    "q349_ivm" -> ((s, d) => {
      val ev = Tables.eventsWithTs(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("t").toString
        val VL = graft.ops.VersionedLayout
        VL.commit(ev.filter(col("event_id") % 3 === 0), path)      // v1
        VL.commit(ev.filter(col("event_id") % 3 === 1), path)      // v2 append
        VL.upsert(ev.filter(col("event_id") % 6 === 1)
          .withColumn("value", col("value") + 10.0), path, "event_id") // v3
        VL.deleteWhere(s, path, col("event_type") === "click")     // v4
        var summary = VL.aggSnapshot(
          VL.read(s, path, Some(1)), Seq("event_type"), "value")
        for (v <- 2 to 4)
          summary = VL.maintainAgg(summary,
            VL.fileDiff(s, path, v - 1, v), Seq("event_type"), "value")
        summary
          .select(col("event_type"), col("n"),
            col("sum6").cast("double").as("sum_value"))
          .orderBy(col("event_type"))
      }
    }),

    // manifest-versioned layout: v1 = 60% commit, v2 = +40% append,
    // v3 = compaction — every version a consistent pinned snapshot; the
    // oracle recomputes each version's totals from the raw table with the
    // same split predicate (the layout machinery is invisible)
    "q228_versioned_layout" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("t").toString
        graft.ops.VersionedLayout.commit(docs.filter(col("doc_id") % 5 < 3), path)
        graft.ops.VersionedLayout.commit(docs.filter(col("doc_id") % 5 >= 3), path)
        graft.ops.VersionedLayout.compact(s, path, sortCol = Some("doc_id"))
        Seq(1, 2, 3).map { v =>
          graft.ops.VersionedLayout.read(s, path, Some(v))
            .agg(count(lit(1)).as("n_rows"), sum(col("doc_id")).as("sum_id"))
            .withColumn("version", lit(v))
        }.reduce(_.unionByName(_))
          .select(col("version"), col("n_rows"), col("sum_id"))
          .orderBy(col("version"))
      }
    }),

    // copy-on-write MERGE into the versioned layout: updates replace
    // same-key rows, inserts append, all in one atomic commit; the
    // oracle recomputes the merged table from the raw documents
    "q235_layout_upsert" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val mods = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val news = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("lang"), col("n_chars"))
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("t").toString
        graft.ops.VersionedLayout.commit(docs, path)
        graft.ops.VersionedLayout.upsert(mods.unionByName(news), path, "doc_id")
        graft.ops.VersionedLayout.read(s, path)
          .orderBy(col("doc_id"))
      }
    }),

    // CDC read between two versions of the layout: the upsert's updates
    // surface as (added new-value, removed old-value) pairs, inserts as
    // added only — multiset exceptAll semantics, reproducible until vacuum
    "q236_layout_diff" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val mods = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("n_chars", col("n_chars") + 1000L)
      val news = docs.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("lang"), col("n_chars"))
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("t").toString
        graft.ops.VersionedLayout.commit(docs, path)
        graft.ops.VersionedLayout.upsert(mods.unionByName(news), path, "doc_id")
        graft.ops.VersionedLayout.diff(s, path, 1, 2)
          .orderBy(col("doc_id"), col("change"))
      }
    }),

    // KNN riding the Z layout: probe stencils -> merged Morton bands
    // prune the at-rest scan, broadcast refine ranks exactly; the oracle
    // is the brute-force distance join (it never sees the layout)
    "q227_knn_zlayout" -> ((s, d) => {
      val pts = Tables.events(s, d).select(col("event_id"),
        ((col("event_id") * 131) % 997).cast("double") / 10.0,
        ((col("user_id") * 379) % 991).cast("double") / 10.0)
        .toDF("event_id", "x", "y")
      val probes = pts.filter(col("event_id") % 997 === 5)
        .select(col("event_id").as("qid"), col("x").as("qx"), col("y").as("qy"))
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("pts").toString
        graft.ops.ZOrder.writeZOrdered(pts, "x", "y", path,
          0.0, 100.0, 0.0, 100.0, bits = 10, numPartitions = Some(4))
        graft.ops.SpatialJoin.knnWithinRadiusZ(s, path, probes,
            k = 5, radius = 2.0, level = 6, pid = "event_id")
          .select(col("qid"), col("event_id").as("pid"),
            col("dist2"), col("knn_rank"))
          .orderBy(col("qid"), col("knn_rank"))
      }
    }),

    // 3-D Morton key (volumetric / spatiotemporal clustering): same
    // independent bit-interleave oracle as q201, three source dims
    "q224_zorder3_key" -> ((s, d) => {
      val pts = Tables.events(s, d).select(col("event_id"),
        (col("event_id") % 128).cast("long").as("qx"),
        (col("user_id") % 128).cast("long").as("qy"),
        ((col("event_id") + col("user_id")) % 128).cast("long").as("qz"))
      pts.select(col("event_id"),
          graft.ops.ZOrder.interleave3(col("qx"), col("qy"), col("qz"), 7)
            .as("zkey"))
        .orderBy(col("event_id"))
    }),

    // the Z-layout SERVING the spatial query path (SURVEY §2.3 at rest):
    // derived points written Morton-clustered to a temp layout, then a
    // TWO-box bbox query through a diagonal transform runs coarse
    // key-range prune + the exact transform predicate — row-identical to
    // the raw-table predicate (the oracle never sees the layout; q11's
    // constant-folded intrinsic bounds pattern)
    "q208_zorder_multibox" -> ((s, d) => {
      val pts = Tables.events(s, d).select(col("event_id"),
        ((col("event_id") * 131) % 997).cast("double") / 10.0,
        ((col("user_id") * 379) % 991).cast("double") / 10.0)
        .toDF("event_id", "x", "y")
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("pts").toString
        graft.ops.ZOrder.writeZOrdered(pts, "x", "y", path,
          0.0, 100.0, 0.0, 100.0, bits = 10, numPartitions = Some(4))
        val t = SequenceT(List(
          ScaleT(Seq(2.0, 2.0), Seq("x", "y")),
          TranslationT(Seq(5.0, -3.0), Seq("x", "y"))))
        graft.query.SpatialQuery.boundingBoxPointsMultiZ(s, path, t,
            Seq("x", "y"),
            Seq((Seq(40.0, 25.0), Seq(80.0, 65.0)),
              (Seq(150.0, 100.0), Seq(190.0, 140.0))), level = 5)
          .select(col("event_id"), col("x"), col("y"))
          .orderBy(col("event_id"))
      }
    }),

    // the STREAMING half of the at-rest spatial story, end-to-end as a
    // gate (DocStreamSpec pins it as a spec; q171 precedent for running
    // a real Structured Streaming query inside a gate): 3 micro-batches
    // append into the Z-ordered layout via foreachBatch with one
    // mid-stream compaction, then readBox over the final layout — must
    // equal the plain-SQL box recompute over the raw table
    "q329_stream_zingest" -> ((s, d) => {
      val pts = Tables.events(s, d).select(col("event_id"),
        (((col("event_id") * 131) % 997).cast("double") / 10.0).as("x"),
        (((col("user_id") * 379) % 991).cast("double") / 10.0).as("y"))
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("pts").toString
        // empty layout fixes the grid parameters before data flows
        graft.ops.ZOrder.writeZOrdered(pts.limit(0), "x", "y", path,
          0.0, 100.0, 0.0, 100.0, bits = 10, numPartitions = Some(2))
        val srcDir = tmp.resolve("src").toString
        pts.repartition(3).write.parquet(srcDir)
        val q = EventStream.streamingZOrderedIngest(s, srcDir,
          "event_id BIGINT, x DOUBLE, y DOUBLE", path,
          compactEvery = 2, maxFilesPerTrigger = Some(1),
          checkpointDir = Some(tmp.resolve("ckpt").toString))
        try assert(q.awaitTermination(180000),
          "q329: streaming ingest did not terminate within 180 s")
        finally q.stop()
        graft.ops.ZOrder.readBox(s, path, 20.0, 40.0, 15.0, 35.0, level = 5)
          .select(col("event_id"), col("x"), col("y"))
          .orderBy(col("event_id"))
      }
    }),

    // polygon query over the same Z layout: the target-cs triangle is
    // inverse-mapped, its envelope's Morton bands prune the scan, and the
    // plain path's exact ray-cast (in target space) refines — again the
    // oracle recomputes from the raw table only
    "q209_zorder_polygon" -> ((s, d) => {
      val pts = Tables.events(s, d).select(col("event_id"),
        ((col("event_id") * 131) % 997).cast("double") / 10.0,
        ((col("user_id") * 379) % 991).cast("double") / 10.0)
        .toDF("event_id", "x", "y")
      Scratch.run(s) { tmp =>
        val path = tmp.resolve("pts").toString
        graft.ops.ZOrder.writeZOrdered(pts, "x", "y", path,
          0.0, 100.0, 0.0, 100.0, bits = 10, numPartitions = Some(4))
        val t = SequenceT(List(
          ScaleT(Seq(2.0, 2.0), Seq("x", "y")),
          TranslationT(Seq(5.0, -3.0), Seq("x", "y"))))
        val poly = graft.geom.WKB.write(graft.geom.GPolygon(Array(Array(
          45.26, 17.14, 165.42, 58.26, 85.34, 139.98))))
        graft.query.SpatialQuery.polygonQueryPointsZ(s, path, t, poly,
            level = 5)
          .select(col("event_id"), col("x"), col("y"))
          .orderBy(col("event_id"))
      }
    }),

    // order-statistic twin of q168: 3x3 MEDIAN over the same dense grid
    // (odd window -> the median is an exact input element, no float sums)
    "q202_halo_median" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(64L * 64)
        .select(lit(0).as("c"), (col("id") / 64).cast("int").as("y"),
          (col("id") % 64).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 16)
      val filtered = RasterOps.medianFilterBox(tiles, depth = 1, tileSize = 16,
        boundary = RasterOps.Boundary.Reflect)
      RasterOps.tilesToPixels(filtered, tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // 3x3 Sobel L1 gradient magnitude over the q202 dense grid: the
    // small-integer kernel keeps every intermediate exact in a double
    // (depth-1 Reflect == coordinate clamp, as in q202)
    "q323_sobel" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(64L * 64)
        .select(lit(0).as("c"), (col("id") / 64).cast("int").as("y"),
          (col("id") % 64).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 16)
      RasterOps.tilesToPixels(
          RasterOps.sobelFilter(tiles, tileSize = 16), tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // distributed integral image (summed-area table) over the dense
    // 64x64 grid: per-tile local SAT + tile-grid carry windows; every
    // sum is exact integer arithmetic in doubles
    "q324_integral_image" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(64L * 64)
        .select(lit(0).as("c"), (col("id") / 64).cast("int").as("y"),
          (col("id") % 64).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 16)
      RasterOps.tilesToPixels(
          RasterOps.integralImage(tiles, tileSize = 16), tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // global histogram equalization over the sparse long-form event
    // grid (integer levels; exact integer products, portable floor)
    "q325_hist_equalize" -> ((s, d) => {
      val pixels = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).as("value"))
      RasterOps.histogramEqualize(pixels, levels = 256)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // Otsu global threshold over the q325 count raster: between-class
    // variance maximized over the bounded level spine, snapped before
    // the argmax so near-ties elect the same level on both engines
    "q352_otsu" -> ((s, d) => {
      val pixels = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).as("value"))
      RasterOps.otsuThreshold(pixels)
    }),

    // distributed 3-4 chamfer distance transform: features = dense-grid
    // cells whose event count is a multiple of 5; 4 relaxation rounds
    // (>= the 2x2 tile-grid diameter) reach the global fixpoint; the
    // oracle is the closed-form chamfer metric min over features — a
    // completely different algorithm than the iterative sweeps
    "q331_distance_transform" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 32).cast("int").as("y"),
        (col("user_id") % 32).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).as("cnt"))
      val grid = s.range(32L * 32)
        .select(lit(0).as("c"), (col("id") / 32).cast("int").as("y"),
          (col("id") % 32).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          when(col("cnt").isNotNull && col("cnt") % 5 === 0, 1.0)
            .otherwise(0.0).as("value"))
      val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 16)
      RasterOps.tilesToPixels(
          RasterOps.distanceTransform34(tiles, rounds = 4, tileSize = 16),
          tileSize = 16)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // 2x bilinear upsampling (align-centers): 64x64 -> 128x128 through
    // the depth-1 halo; {0.25, 0.75} weights are exact binary fractions,
    // so integer counts upsample drift-free
    "q332_bilinear_up" -> ((s, d) => {
      val counts = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"))
        .groupBy("y", "x").agg(count(lit(1)).cast("double").as("cnt"))
      val grid = s.range(64L * 64)
        .select(lit(0).as("c"), (col("id") / 64).cast("int").as("y"),
          (col("id") % 64).cast("int").as("x"))
      val pixels = grid.join(counts, Seq("y", "x"), "left")
        .select(col("c"), col("y"), col("x"),
          coalesce(col("cnt"), lit(0.0)).as("value"))
      val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 16)
      RasterOps.tilesToPixels(
          RasterOps.bilinearUpsample2x(tiles, tileSize = 16), tileSize = 32)
        .select(col("y"), col("x"), col("value"))
        .orderBy(col("y"), col("x"))
    }),

    // rasterize_bins (rasterize_bins.py:31-237): grid-binned obs -> pixels
    "q39_rasterize_bins" -> ((s, d) => {
      val obs = Tables.orders(s, d).select(
        (col("o_orderkey") % 30 + 5).as("bin_row"),
        (col("o_custkey") % 40 + 2).as("bin_col"),
        col("o_totalprice").cast("decimal(28,6)").as("v"))
        .groupBy("bin_row", "bin_col")
        .agg(sum(col("v")).cast("double").as("value"))
      RasterOps.rasterizeBins(obs, "bin_row", "bin_col", "value")
        .orderBy(col("y"), col("x"))
    }),

    // event-time tumbling window aggregate (batch form of the streaming
    // plan; SURVEY.md §2.9 extension)
    "q55_event_windows" -> ((s, d) => {
      EventStream.windowedCounts(Tables.eventsWithTs(s, d))
        .orderBy(col("window_start"), col("event_type"))
    }),

    // sessionization (gaps-and-islands; streaming form =
    // flatMapGroupsWithState)
    "q56_sessionize" -> ((s, d) => {
      EventStream.sessionize(Tables.eventsWithTs(s, d))
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // exactly-once ingestion dedup, batch form: first event per key by
    // (ts, event_id); streaming form = dropDuplicatesWithinWatermark.
    // Gate output carries ts at MICROSECONDS — DuckDB reads the parquet
    // TIMESTAMP(NANOS) column at us precision, the engine keeps ns
    "q98_dedup_first_by_key" -> ((s, d) => {
      EventStream.dedupByKey(Tables.eventsWithTs(s, d),
        Seq("user_id", "event_type"))
        .withColumn("ts_us", org.apache.spark.sql.graftbridge.Bridge
          .integralDivide(col("ts"), lit(1000L)))
        .drop("ts")
        .orderBy(col("user_id"), col("event_type"))
    }),

    // shapes -> raster via scanline fill, min-index labels
    // (rasterize.py:616-743)
    "q58_rasterize_shapes" -> ((s, d) => {
      val boxes = Models.ShapesModel.parse(
        Tables.supplier(s, d).select(
          col("s_suppkey").as("index"),
          ((col("s_suppkey") * 7) % 50).cast("double").as("x0"),
          ((col("s_suppkey") * 3) % 40).cast("double").as("y0"))
          .withColumn("geometry", graft.geom.st.st_make_box(
            col("x0"), col("y0"), col("x0") + 8.0, col("y0") + 6.0))
          .withColumn("geom_type", lit("polygon")))
      graft.ops.RasterOps.rasterizeShapes(boxes, 0.0, 0.0, 1.0, 1.0, 60, 50)
        .orderBy(col("y"), col("x"))
    }),

    // multi-box batch bounding-box query: one scan, OR of range predicates
    // (vectorized bounding_box_query, spatial_query.py:458-505)
    "q59_bbox_multibox" -> ((s, d) => {
      graft.query.SpatialQuery.boundingBoxPointsMulti(points(s, d), IdentityT,
        Seq("x", "y"), Seq(
          (Seq(5.0, 5.0), Seq(15.0, 15.0)),
          (Seq(60.0, 30.0), Seq(90.0, 45.0))))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // 3D bounding-box query on points: the predicate builder is
    // axis-generic (case analysis spatial_query.py:47-135 covers 3D); the
    // negative z scale exercises the interval-inversion bound swap
    "q70_bbox_points_3d" -> ((s, d) => {
      val pts3 = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") / 1000.0).as("x"),
        col("l_quantity").as("y"),
        (col("l_discount") * 100.0).as("z"))
      val t = ScaleT(Seq(2.0, 1.0, -1.0), Seq("x", "y", "z"))
      graft.query.SpatialQuery.boundingBoxPoints(pts3, t, Seq("x", "y", "z"),
        Seq(10.0, 5.0, -8.0), Seq(100.0, 40.0, -1.0))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // labels pixel masking: zero out labels not annotated by the table
    // (relational_query.py:1112-1156)
    "q60_mask_labels" -> ((s, d) => {
      val labels = Tables.events(s, d).select(
        (col("event_id") % 64).cast("int").as("y"),
        (col("user_id") % 64).cast("int").as("x"),
        (col("event_id") % 50).as("label"))
      val keep = Tables.supplier(s, d).select(col("s_suppkey"))
      RelationalQuery.maskLabelsByInstances(labels, keep)
        .orderBy(col("y"), col("x"), col("label"))
    })
  )

  override def oracleSql: Map[String, String] = Map(
    "q18_transform_points" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  (0.5 * x + -0.25 * y) + 3.0 AS x, (0.25 * x + 2.0 * y) + -1.0 AS y
         |FROM ($pointsSql) ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q92_filter_by_cs" ->
      """SELECT 'both' AS element, COUNT(*) AS n,
        |  CAST(SUM(CAST(s_suppkey AS DECIMAL(28,6))) AS DOUBLE) AS sum_x
        |FROM supplier
        |UNION ALL SELECT 'stage_only', COUNT(*),
        |  CAST(SUM(CAST(s_suppkey * 3 AS DECIMAL(28,6))) AS DOUBLE)
        |FROM supplier
        |ORDER BY element""".stripMargin,
    // composed: A(Tinv(S(v))) with S=(2x,3y), Tinv=v-(5,-1), A=q18's affine
    // -> x' = 1.0 x - 0.75 y + 0.25, y' = 0.5 x + 6.0 y - 0.25 (exact)
    "q91_cs_graph_transform" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  (1.0 * x + -0.75 * y) + 0.25 AS x, (0.5 * x + 6.0 * y) + -0.25 AS y
         |FROM ($pointsSql) ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q19_match_rows" ->
      s"""SELECT p.l_orderkey, p.l_linenumber, o.o_totalprice
         |FROM ($pointsSql) p LEFT JOIN orders o ON p.l_orderkey = o.o_orderkey
         |ORDER BY p.l_orderkey, p.l_linenumber""".stripMargin,
    "q38_map_raster" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS value
        |  FROM events GROUP BY 1, 2),
        |tiles AS (SELECT DISTINCT y // 16 AS ty, x // 16 AS tx FROM px),
        |cells AS (
        |  SELECT CAST(t.ty * 16 + (c.i // 16) AS INT) AS y,
        |         CAST(t.tx * 16 + (c.i % 16) AS INT) AS x
        |  FROM tiles t, (SELECT unnest(range(0, 256)) AS i) c)
        |SELECT cells.y, cells.x, COALESCE(px.value, 0.0) * 2.0 + 1.0 AS value
        |FROM cells LEFT JOIN px ON px.y = cells.y AND px.x = cells.x
        |ORDER BY cells.y, cells.x""".stripMargin,
    "q39_rasterize_bins" ->
      """WITH obs AS (
        |  SELECT o_orderkey % 30 + 5 AS bin_row, o_custkey % 40 + 2 AS bin_col,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS value
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT min(bin_row) AS r0, min(bin_col) AS c0 FROM obs)
        |SELECT CAST(obs.bin_row - m.r0 AS INT) AS y, CAST(obs.bin_col - m.c0 AS INT) AS x,
        |  obs.value
        |FROM obs, m ORDER BY y, x""".stripMargin,
    "q55_event_windows" ->
      """SELECT make_timestamp((epoch_ns(ts) // 1000) // 300000000 * 300000000) AS window_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // gap compare in integer MICROSECONDS + event_id tiebreak, mirroring
    // EventStream.sessionize exactly (second-truncated epoch() would split
    // 1800.x s gaps differently between the engines)
    "q56_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |    make_timestamp(epoch_ns(ts) // 1000) AS event_time FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us, event_time,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |seq AS (
        |  SELECT user_id, event_time,
        |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM flagged)
        |SELECT user_id, session_seq, min(event_time) AS session_start,
        |  max(event_time) AS session_end, COUNT(*) AS n_events
        |FROM seq GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin,
    "q98_dedup_first_by_key" ->
      """SELECT user_id, event_type, event_id, value, props, ts_us FROM (
        |  SELECT user_id, event_type, event_id, epoch_ns(ts) // 1000 AS ts_us,
        |    value, props,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY epoch_ns(ts), event_id) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,
    // cell center (x+0.5, y+0.5) inside box [x0, x0+8] x [y0, y0+6]
    "q58_rasterize_shapes" ->
      """WITH b AS (
        |  SELECT s_suppkey AS index, CAST((s_suppkey * 7) % 50 AS DOUBLE) AS x0,
        |    CAST((s_suppkey * 3) % 40 AS DOUBLE) AS y0 FROM supplier),
        |g AS (SELECT CAST(id // 60 AS INT) AS y, CAST(id % 60 AS INT) AS x
        |      FROM range(3000) t(id)),
        |hit AS (
        |  SELECT g.y, g.x, b.index FROM g JOIN b
        |  ON g.x + 0.5 >= b.x0 AND g.x + 0.5 <= b.x0 + 8.0
        |  AND g.y + 0.5 >= b.y0 AND g.y + 0.5 <= b.y0 + 6.0
        |  WHERE g.y < 50)
        |SELECT y, x, min(index) AS value FROM hit GROUP BY 1, 2 ORDER BY y, x""".stripMargin,
    "q59_bbox_multibox" ->
      s"""SELECT * FROM ($pointsSql)
         |WHERE (x > 5.0 AND x < 15.0 AND y > 5.0 AND y < 15.0)
         |   OR (x > 60.0 AND x < 90.0 AND y > 30.0 AND y < 45.0)
         |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // interval inversion mirrored: lo=(min-shift)/scale, hi=(max-shift)/scale,
    // swapped when scale < 0; exclusive bounds both sides
    "q70_bbox_points_3d" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice / 1000.0 AS x,
        |  l_quantity AS y, l_discount * 100.0 AS z
        |FROM lineitem
        |WHERE l_extendedprice / 1000.0 > (10.0 - 0.0) / 2.0
        |  AND l_extendedprice / 1000.0 < (100.0 - 0.0) / 2.0
        |  AND l_quantity > (5.0 - 0.0) / 1.0 AND l_quantity < (40.0 - 0.0) / 1.0
        |  AND l_discount * 100.0 > (-1.0 - 0.0) / -1.0
        |  AND l_discount * 100.0 < (-8.0 - 0.0) / -1.0
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q60_mask_labels" ->
      """SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |  CASE WHEN event_id % 50 IN (SELECT s_suppkey FROM supplier)
        |       THEN event_id % 50 ELSE 0 END AS label
        |FROM events ORDER BY y, x, label""".stripMargin,
    // the same Givens closed form: phi zeroes R(1,0); signs fold into the
    // inversion; the 6-dec snap absorbs libm-vs-JVM ulp drift
    "q169_rq_decompose" ->
      """WITH nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM supplier),
        |t AS (SELECT atan2(0.25, 2.0) AS phi),
        |v AS (SELECT cos(phi) AS c, sin(phi) AS s FROM t),
        |r AS (SELECT c, s,
        |        0.5 * c - (-0.25) * s AS r00,
        |        0.5 * s + (-0.25) * c AS r01,
        |        0.25 * s + 2.0 * c AS r11 FROM v),
        |w AS (SELECT c, s, r01,
        |        abs(r00) AS sc0, abs(r11) AS sc1,
        |        CASE WHEN r00 >= 0 THEN 1.0 ELSE -1.0 END AS d0,
        |        CASE WHEN r11 >= 0 THEN 1.0 ELSE -1.0 END AS d1 FROM r),
        |parts AS (
        |  SELECT 'a_inversion' AS part, 0 AS idx, d0 AS value FROM w
        |  UNION ALL SELECT 'a_inversion', 1, d1 FROM w
        |  UNION ALL SELECT 'b_rotation', 0, c * d0 * d0 FROM w
        |  UNION ALL SELECT 'b_rotation', 1, -s * d0 * d1 FROM w
        |  UNION ALL SELECT 'b_rotation', 2, s * d1 * d0 FROM w
        |  UNION ALL SELECT 'b_rotation', 3, c * d1 * d1 FROM w
        |  UNION ALL SELECT 'c_shear', 0, (r01 / sc0) * d1 FROM w
        |  UNION ALL SELECT 'd_scale', 0, sc0 FROM w
        |  UNION ALL SELECT 'd_scale', 1, sc1 FROM w
        |  UNION ALL SELECT 'e_translation', 0, 3.0 FROM w
        |  UNION ALL SELECT 'e_translation', 1, -1.0 FROM w)
        |SELECT part, idx, FLOOR(value * 1e6 + 0.5) / 1e6 AS value, nn.n_rows
        |FROM parts, nn ORDER BY part, idx""".stripMargin,
    // 3x3 mean with symmetric (clamp-at-depth-1) borders over the dense grid
    "q168_halo_blur" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 64 AS INT) AS y, CAST(i % 64 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 4096)) AS i)),
        |dense AS (
        |  SELECT g.y, g.x, COALESCE(px.v, 0.0) AS v
        |  FROM grid g LEFT JOIN px ON px.y = g.y AND px.x = g.x),
        |offs AS (
        |  SELECT dy, dx
        |  FROM (SELECT unnest(range(-1, 2)) AS dy), (SELECT unnest(range(-1, 2)) AS dx))
        |SELECT d.y, d.x, SUM(n.v) / 9.0 AS value
        |FROM dense d
        |JOIN offs o ON TRUE
        |JOIN dense n
        |  ON n.y = LEAST(GREATEST(d.y + o.dy, 0), 63)
        | AND n.x = LEAST(GREATEST(d.x + o.dx, 0), 63)
        |GROUP BY d.y, d.x
        |ORDER BY d.y, d.x""".stripMargin,
    // independent bit-interleave recomputation of the Morton key
    "q201_zorder_key" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(0, 10), i ->
        |    ((((event_id % 1024) >> i) & 1) << (2 * i)) +
        |    ((((user_id % 1024) >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zkey
        |FROM events ORDER BY event_id""".stripMargin,
    // merged table recomputed from the raw documents
    "q235_layout_upsert" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |merged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END AS n_chars
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id + 100000, lang, n_chars FROM base WHERE doc_id % 50 = 0)
        |SELECT doc_id, lang, n_chars FROM merged ORDER BY doc_id""".stripMargin,
    // updates -> (added new, removed old); inserts -> added only
    "q236_layout_diff" ->
      """WITH base AS (SELECT doc_id, lang, n_chars FROM documents),
        |changes AS (
        |  SELECT doc_id, lang, n_chars + 1000 AS n_chars, 'added' AS change
        |  FROM base WHERE doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, lang, n_chars, 'added'
        |  FROM base WHERE doc_id % 50 = 0
        |  UNION ALL
        |  SELECT doc_id, lang, n_chars, 'removed' FROM base WHERE doc_id % 7 = 0)
        |SELECT doc_id, lang, n_chars, change FROM changes
        |ORDER BY doc_id, change""".stripMargin,
    // v1 = the 60% split, v2 = full, v3 = full minus the deleted slice
    "q310_layout_delete" ->
      """WITH v1 AS (
        |  SELECT COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS sum_id
        |  FROM documents WHERE doc_id % 5 < 3),
        |v2 AS (
        |  SELECT COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS sum_id
        |  FROM documents),
        |v3 AS (
        |  SELECT COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS sum_id
        |  FROM documents WHERE doc_id % 5 <> 4)
        |SELECT 1 AS version, n_rows, sum_id FROM v1
        |UNION ALL SELECT 2, n_rows, sum_id FROM v2
        |UNION ALL SELECT 3, n_rows, sum_id FROM v3
        |ORDER BY version""".stripMargin,

    // per-version totals from the raw table: v1 = the 60% split, v2 and
    // v3 (compaction rewrites, content unchanged) = the full table
    "q228_versioned_layout" ->
      """WITH v1 AS (
        |  SELECT COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS sum_id
        |  FROM documents WHERE doc_id % 5 < 3),
        |vall AS (
        |  SELECT COUNT(*) AS n_rows, CAST(SUM(doc_id) AS BIGINT) AS sum_id
        |  FROM documents)
        |SELECT 1 AS version, n_rows, sum_id FROM v1
        |UNION ALL SELECT 2, n_rows, sum_id FROM vall
        |UNION ALL SELECT 3, n_rows, sum_id FROM vall
        |ORDER BY version""".stripMargin,
    // the four commits' combined algebra recomputed from the raw table:
    // v1+v2 rows = event_id%3 in (0,1), the upsert adds 10 to %6==1
    // values, the delete drops clicks — the incremental summary must
    // land exactly there
    "q349_ivm" ->
      """WITH st AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 6 = 1 THEN value + 10.0 ELSE value END AS value
        |  FROM events
        |  WHERE event_id % 3 IN (0, 1) AND event_type <> 'click')
        |SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin,

    // brute-force KNN ground truth over the derived points — the Z
    // layout must be invisible
    "q227_knn_zlayout" ->
      """WITH pts AS (
        |  SELECT event_id,
        |    CAST((event_id * 131) % 997 AS DOUBLE) / 10.0 AS x,
        |    CAST((user_id * 379) % 991 AS DOUBLE) / 10.0 AS y
        |  FROM events),
        |q AS (SELECT event_id AS qid, x AS qx, y AS qy FROM pts
        |      WHERE event_id % 997 = 5),
        |cand AS (
        |  SELECT qid, event_id AS pid,
        |    (qx - x) * (qx - x) + (qy - y) * (qy - y) AS dist2
        |  FROM q JOIN pts
        |    ON (qx - x) * (qx - x) + (qy - y) * (qy - y) <= 4.0)
        |SELECT qid, pid, dist2, CAST(rnk AS INT) AS knn_rank FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist2, pid) AS rnk
        |  FROM cand)
        |WHERE rnk <= 5 ORDER BY qid, knn_rank""".stripMargin,
    // independent 3-D bit-interleave recomputation
    "q224_zorder3_key" ->
      """SELECT event_id,
        |  CAST(list_sum(list_transform(range(0, 7), i ->
        |    ((((event_id % 128) >> i) & 1) << (3 * i)) +
        |    ((((user_id % 128) >> i) & 1) << (3 * i + 1)) +
        |    (((((event_id + user_id) % 128) >> i) & 1) << (3 * i + 2))))
        |    AS BIGINT) AS zkey
        |FROM events ORDER BY event_id""".stripMargin,
    // the raw-table recompute of q208's two-box query: target boxes
    // (40,25)-(80,65) and (150,100)-(190,140) under target = 2*v + (5,-3)
    // fold to the intrinsic bounds below; the Z layout must be invisible
    "q208_zorder_multibox" ->
      """WITH pts AS (
        |  SELECT event_id,
        |    CAST((event_id * 131) % 997 AS DOUBLE) / 10.0 AS x,
        |    CAST((user_id * 379) % 991 AS DOUBLE) / 10.0 AS y
        |  FROM events)
        |SELECT event_id, x, y FROM pts
        |WHERE (x > 17.5 AND x < 37.5 AND y > 14.0 AND y < 34.0)
        |   OR (x > 72.5 AND x < 92.5 AND y > 51.5 AND y < 71.5)
        |ORDER BY event_id""".stripMargin,
    // streamed-in rows answer box queries exactly like a batch write:
    // the oracle recomputes from the raw table, inclusive bounds
    // (readBox's refine), layout/compaction machinery never mirrored
    "q329_stream_zingest" ->
      """WITH pts AS (
        |  SELECT event_id,
        |    CAST((event_id * 131) % 997 AS DOUBLE) / 10.0 AS x,
        |    CAST((user_id * 379) % 991 AS DOUBLE) / 10.0 AS y
        |  FROM events)
        |SELECT event_id, x, y FROM pts
        |WHERE x >= 20.0 AND x <= 40.0 AND y >= 15.0 AND y <= 35.0
        |ORDER BY event_id""".stripMargin,
    // q209's raw recompute: coarse intrinsic bbox (the engine's
    // interval-inverse formulas, written as the same arithmetic) + CCW
    // half-plane containment of the TARGET-projected point against the
    // target triangle — array/ray machinery never mirrored
    "q209_zorder_polygon" ->
      """WITH pts AS (
        |  SELECT event_id,
        |    CAST((event_id * 131) % 997 AS DOUBLE) / 10.0 AS x,
        |    CAST((user_id * 379) % 991 AS DOUBLE) / 10.0 AS y
        |  FROM events),
        |proj AS (
        |  SELECT event_id, x, y, 2.0 * x + 5.0 AS px, 2.0 * y - 3.0 AS py
        |  FROM pts)
        |SELECT event_id, x, y FROM proj
        |WHERE x >= (45.26 - 5.0) / 2.0 AND x <= (165.42 - 5.0) / 2.0
        |  AND y >= (17.14 + 3.0) / 2.0 AND y <= (139.98 + 3.0) / 2.0
        |  AND (165.42 - 45.26) * (py - 17.14) - (58.26 - 17.14) * (px - 45.26) >= 0
        |  AND (85.34 - 165.42) * (py - 58.26) - (139.98 - 58.26) * (px - 165.42) >= 0
        |  AND (45.26 - 85.34) * (py - 139.98) - (17.14 - 139.98) * (px - 85.34) >= 0
        |ORDER BY event_id""".stripMargin,
    // 3x3 median with symmetric (clamp-at-depth-1) borders; 9-element
    // window -> median is an exact element, no interpolation
    "q202_halo_median" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 64 AS INT) AS y, CAST(i % 64 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 4096)) AS i)),
        |dense AS (
        |  SELECT g.y, g.x, COALESCE(px.v, 0.0) AS v
        |  FROM grid g LEFT JOIN px ON px.y = g.y AND px.x = g.x),
        |offs AS (
        |  SELECT dy, dx
        |  FROM (SELECT unnest(range(-1, 2)) AS dy), (SELECT unnest(range(-1, 2)) AS dx))
        |SELECT d.y, d.x, MEDIAN(n.v) AS value
        |FROM dense d
        |JOIN offs o ON TRUE
        |JOIN dense n
        |  ON n.y = LEAST(GREATEST(d.y + o.dy, 0), 63)
        | AND n.x = LEAST(GREATEST(d.x + o.dx, 0), 63)
        |GROUP BY d.y, d.x
        |ORDER BY d.y, d.x""".stripMargin,
    // 3x3 Sobel |Gx|+|Gy| with depth-1 clamped borders; integer-exact
    "q323_sobel" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 64 AS INT) AS y, CAST(i % 64 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 4096)) AS i)),
        |dense AS (
        |  SELECT g.y, g.x, COALESCE(px.v, 0.0) AS v
        |  FROM grid g LEFT JOIN px ON px.y = g.y AND px.x = g.x),
        |offs AS (
        |  SELECT dy, dx,
        |    CASE WHEN dx = 0 THEN 0.0 ELSE dx * (CASE WHEN dy = 0 THEN 2.0 ELSE 1.0 END) END AS wx,
        |    CASE WHEN dy = 0 THEN 0.0 ELSE dy * (CASE WHEN dx = 0 THEN 2.0 ELSE 1.0 END) END AS wy
        |  FROM (SELECT unnest(range(-1, 2)) AS dy), (SELECT unnest(range(-1, 2)) AS dx))
        |SELECT d.y, d.x, ABS(SUM(o.wx * n.v)) + ABS(SUM(o.wy * n.v)) AS value
        |FROM dense d
        |JOIN offs o ON TRUE
        |JOIN dense n
        |  ON n.y = LEAST(GREATEST(d.y + o.dy, 0), 63)
        | AND n.x = LEAST(GREATEST(d.x + o.dx, 0), 63)
        |GROUP BY d.y, d.x
        |ORDER BY d.y, d.x""".stripMargin,
    // summed-area table: two chained cumulative windows over the dense
    // grid — integer sums, exact in doubles
    "q324_integral_image" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 64 AS INT) AS y, CAST(i % 64 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 4096)) AS i)),
        |dense AS (
        |  SELECT g.y, g.x, COALESCE(px.v, 0.0) AS v
        |  FROM grid g LEFT JOIN px ON px.y = g.y AND px.x = g.x),
        |colcum AS (
        |  SELECT y, x, SUM(v) OVER (PARTITION BY x ORDER BY y
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
        |  FROM dense)
        |SELECT y, x, SUM(cv) OVER (PARTITION BY y ORDER BY x
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |FROM colcum
        |ORDER BY y, x""".stripMargin,
    // histogram equalization: bounded per-level cdf -> eq map -> join
    // Otsu recomputed over the same level spine: cumulative class
    // moments, the variance in the engine's exact double order, snap,
    // then (sigma DESC, level ASC) row_number argmax
    "q352_otsu" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         COUNT(*) AS v
        |  FROM events GROUP BY 1, 2),
        |lvl AS (SELECT v, COUNT(*) AS n FROM px GROUP BY v),
        |cum AS (
        |  SELECT v,
        |    SUM(n) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w0,
        |    SUM(v * n) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s0
        |  FROM lvl),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
        |               CAST(SUM(v * n) AS BIGINT) AS st FROM lvl),
        |scored AS (
        |  SELECT v AS threshold,
        |    FLOOR(CAST(w0 AS DOUBLE) * CAST(nt - w0 AS DOUBLE) *
        |      (CAST(s0 AS DOUBLE) / CAST(w0 AS DOUBLE)
        |        - CAST(st - s0 AS DOUBLE) / CAST(nt - w0 AS DOUBLE)) *
        |      (CAST(s0 AS DOUBLE) / CAST(w0 AS DOUBLE)
        |        - CAST(st - s0 AS DOUBLE) / CAST(nt - w0 AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6 AS sigma_b,
        |    nt AS n
        |  FROM cum, tot WHERE w0 < nt)
        |SELECT threshold, sigma_b, n FROM (
        |  SELECT *, ROW_NUMBER() OVER (ORDER BY sigma_b DESC, threshold) AS rk
        |  FROM scored)
        |WHERE rk = 1""".stripMargin,

    "q325_hist_equalize" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         COUNT(*) AS v
        |  FROM events GROUP BY 1, 2),
        |lvl AS (SELECT v, COUNT(*) AS n FROM px GROUP BY v),
        |cdf AS (
        |  SELECT v, SUM(n) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM lvl),
        |st AS (SELECT MIN(c) AS cmin, MAX(c) AS ntot FROM cdf),
        |mp AS (
        |  SELECT v,
        |    CASE WHEN st.ntot > st.cmin THEN
        |      CAST(FLOOR(CAST(c - st.cmin AS DOUBLE) * 255 / (st.ntot - st.cmin) + 0.5) AS BIGINT)
        |    ELSE 0 END AS eq
        |  FROM cdf, st)
        |SELECT px.y, px.x, mp.eq AS value
        |FROM px JOIN mp ON px.v = mp.v
        |ORDER BY px.y, px.x""".stripMargin,
    // closed-form 3-4 chamfer: d = 4*min(|dy|,|dx|) + 3*(max-min), min
    // over all features; featureless rasters would read the 1e9 sentinel
    "q331_distance_transform" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 32 AS INT) AS y, CAST(user_id % 32 AS INT) AS x,
        |         COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 32 AS INT) AS y, CAST(i % 32 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 1024)) AS i)),
        |feat AS (SELECT y, x FROM px WHERE c % 5 = 0)
        |SELECT g.y, g.x,
        |  COALESCE(CAST(MIN(
        |    4 * LEAST(ABS(g.y - f.y), ABS(g.x - f.x)) +
        |    3 * (GREATEST(ABS(g.y - f.y), ABS(g.x - f.x)) -
        |         LEAST(ABS(g.y - f.y), ABS(g.x - f.x)))) AS DOUBLE),
        |    1000000000.0) AS value
        |FROM grid g LEFT JOIN feat f ON TRUE
        |GROUP BY g.y, g.x
        |ORDER BY g.y, g.x""".stripMargin,
    // bilinear: per output pixel the 4 clamped source neighbors with
    // parity-derived {0.25, 0.75} weights — exact dyadic arithmetic
    "q332_bilinear_up" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 64 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 64 AS INT) AS y, CAST(i % 64 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 4096)) AS i)),
        |dense AS (
        |  SELECT g.y, g.x, COALESCE(px.v, 0.0) AS v
        |  FROM grid g LEFT JOIN px ON px.y = g.y AND px.x = g.x),
        |og AS (
        |  SELECT CAST(i // 128 AS INT) AS oy, CAST(i % 128 AS INT) AS ox
        |  FROM (SELECT unnest(range(0, 16384)) AS i)),
        |w AS (
        |  SELECT oy, ox,
        |    CASE WHEN oy % 2 = 0 THEN oy // 2 - 1 ELSE oy // 2 END AS ry,
        |    CASE WHEN oy % 2 = 0 THEN 0.25 ELSE 0.75 END AS wy,
        |    CASE WHEN ox % 2 = 0 THEN ox // 2 - 1 ELSE ox // 2 END AS rx,
        |    CASE WHEN ox % 2 = 0 THEN 0.25 ELSE 0.75 END AS wx
        |  FROM og)
        |SELECT w.oy AS y, w.ox AS x,
        |  w.wy * (w.wx * d00.v + (1 - w.wx) * d01.v) +
        |  (1 - w.wy) * (w.wx * d10.v + (1 - w.wx) * d11.v) AS value
        |FROM w
        |JOIN dense d00 ON d00.y = LEAST(GREATEST(w.ry, 0), 63)
        |              AND d00.x = LEAST(GREATEST(w.rx, 0), 63)
        |JOIN dense d01 ON d01.y = LEAST(GREATEST(w.ry, 0), 63)
        |              AND d01.x = LEAST(GREATEST(w.rx + 1, 0), 63)
        |JOIN dense d10 ON d10.y = LEAST(GREATEST(w.ry + 1, 0), 63)
        |              AND d10.x = LEAST(GREATEST(w.rx, 0), 63)
        |JOIN dense d11 ON d11.y = LEAST(GREATEST(w.ry + 1, 0), 63)
        |              AND d11.x = LEAST(GREATEST(w.rx + 1, 0), 63)
        |ORDER BY y, x""".stripMargin,
    // direct 5x5 binomial outer-product kernel with symmetric mirroring
    // over the 64x60 dense grid — must equal the engine's two separable
    // passes exactly (dyadic weights, integer inputs)
    "q345_binomial_blur" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 60 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 60 AS INT) AS y, CAST(i % 60 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 3840)) AS i)),
        |dense AS (
        |  SELECT g.y, g.x, COALESCE(px.v, 0.0) AS v
        |  FROM grid g LEFT JOIN px ON px.y = g.y AND px.x = g.x),
        |offs AS (
        |  SELECT dy, dx,
        |    (CASE WHEN dy IN (-2, 2) THEN 1 WHEN dy IN (-1, 1) THEN 4 ELSE 6 END) *
        |    (CASE WHEN dx IN (-2, 2) THEN 1 WHEN dx IN (-1, 1) THEN 4 ELSE 6 END) AS wt
        |  FROM (SELECT unnest(range(-2, 3)) AS dy), (SELECT unnest(range(-2, 3)) AS dx))
        |SELECT d.y, d.x, SUM(o.wt * n.v) / 256.0 AS value
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

    // 5x5 mean with true numpy-"symmetric" mirroring (depth 2: -2 -> 1,
    // dim+1 -> dim-2 — NOT a clamp) over the 64x60 dense grid
    "q199_halo_blur5" ->
      """WITH px AS (
        |  SELECT CAST(event_id % 64 AS INT) AS y, CAST(user_id % 60 AS INT) AS x,
        |         CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2),
        |grid AS (
        |  SELECT CAST(i // 60 AS INT) AS y, CAST(i % 60 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 3840)) AS i)),
        |dense AS (
        |  SELECT g.y, g.x, COALESCE(px.v, 0.0) AS v
        |  FROM grid g LEFT JOIN px ON px.y = g.y AND px.x = g.x),
        |offs AS (
        |  SELECT dy, dx
        |  FROM (SELECT unnest(range(-2, 3)) AS dy), (SELECT unnest(range(-2, 3)) AS dx))
        |SELECT d.y, d.x, SUM(n.v) / 25.0 AS value
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

    "q357_morph3d_erode" ->
      """WITH vox AS (
        |  SELECT CAST(event_id % 4 AS INT) AS z, CAST(event_id % 32 AS INT) AS y,
        |         CAST(user_id % 32 AS INT) AS x, CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT CAST(i // 1024 AS INT) AS z, CAST((i % 1024) // 32 AS INT) AS y,
        |         CAST(i % 32 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 4096)) AS i)),
        |dense AS (
        |  SELECT g.z, g.y, g.x, COALESCE(v.v, 0.0) AS v
        |  FROM grid g LEFT JOIN vox v ON v.z = g.z AND v.y = g.y AND v.x = g.x),
        |offs AS (
        |  SELECT dz, dy, dx
        |  FROM (SELECT unnest(range(-1, 2)) AS dz),
        |       (SELECT unnest(range(-1, 2)) AS dy),
        |       (SELECT unnest(range(-1, 2)) AS dx))
        |SELECT d.z, d.y, d.x, MIN(n.v) AS value
        |FROM dense d
        |JOIN offs o ON TRUE
        |JOIN dense n
        |  ON n.z = CASE WHEN d.z + o.dz < 0 THEN -(d.z + o.dz) - 1
        |                WHEN d.z + o.dz >= 4 THEN 7 - (d.z + o.dz)
        |                ELSE d.z + o.dz END
        | AND n.y = CASE WHEN d.y + o.dy < 0 THEN -(d.y + o.dy) - 1
        |                WHEN d.y + o.dy >= 32 THEN 63 - (d.y + o.dy)
        |                ELSE d.y + o.dy END
        | AND n.x = CASE WHEN d.x + o.dx < 0 THEN -(d.x + o.dx) - 1
        |                WHEN d.x + o.dx >= 32 THEN 63 - (d.x + o.dx)
        |                ELSE d.x + o.dx END
        |GROUP BY d.z, d.y, d.x
        |ORDER BY d.z, d.y, d.x""".stripMargin,

    "q353_halo3d_blur" ->
      """WITH vox AS (
        |  SELECT CAST(event_id % 4 AS INT) AS z, CAST(event_id % 32 AS INT) AS y,
        |         CAST(user_id % 32 AS INT) AS x, CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM events GROUP BY 1, 2, 3),
        |grid AS (
        |  SELECT CAST(i // 1024 AS INT) AS z, CAST((i % 1024) // 32 AS INT) AS y,
        |         CAST(i % 32 AS INT) AS x
        |  FROM (SELECT unnest(range(0, 4096)) AS i)),
        |dense AS (
        |  SELECT g.z, g.y, g.x, COALESCE(v.v, 0.0) AS v
        |  FROM grid g LEFT JOIN vox v ON v.z = g.z AND v.y = g.y AND v.x = g.x),
        |offs AS (
        |  SELECT dz, dy, dx
        |  FROM (SELECT unnest(range(-1, 2)) AS dz),
        |       (SELECT unnest(range(-2, 3)) AS dy),
        |       (SELECT unnest(range(-2, 3)) AS dx))
        |SELECT d.z, d.y, d.x, SUM(n.v) / 75.0 AS value
        |FROM dense d
        |JOIN offs o ON TRUE
        |JOIN dense n
        |  ON n.z = CASE WHEN d.z + o.dz < 0 THEN -(d.z + o.dz) - 1
        |                WHEN d.z + o.dz >= 4 THEN 7 - (d.z + o.dz)
        |                ELSE d.z + o.dz END
        | AND n.y = CASE WHEN d.y + o.dy < 0 THEN -(d.y + o.dy) - 1
        |                WHEN d.y + o.dy >= 32 THEN 63 - (d.y + o.dy)
        |                ELSE d.y + o.dy END
        | AND n.x = CASE WHEN d.x + o.dx < 0 THEN -(d.x + o.dx) - 1
        |                WHEN d.x + o.dx >= 32 THEN 63 - (d.x + o.dx)
        |                ELSE d.x + o.dx END
        |GROUP BY d.z, d.y, d.x
        |ORDER BY d.z, d.y, d.x""".stripMargin
  )
}
