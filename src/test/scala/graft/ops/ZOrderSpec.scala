package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkTestBase {
  import spark.implicits._

  test("interleave column == driver-side morton on a value sweep") {
    val rows = (0 until 500).map(i => (i.toLong, (i * 7 % 64).toLong, (i * 13 % 64).toLong))
    val got = rows.toDF("id", "qx", "qy")
      .select(col("id"), ZOrder.interleave(col("qx"), col("qy"), 6).as("z"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, qx, qy) =>
      assert(got(id) == ZOrder.morton(qx, qy, 6), s"id=$id qx=$qx qy=$qy")
    }
    // the curve is a bijection on the grid
    assert(rows.map { case (_, qx, qy) => ZOrder.morton(qx, qy, 6) }.distinct.size ==
      rows.map(r => (r._2, r._3)).distinct.size)
  }

  test("interleave3 column == driver-side morton3; bijective on the grid") {
    val rows = (0 until 500).map(i =>
      (i.toLong, (i * 7 % 32).toLong, (i * 13 % 32).toLong, (i * 29 % 32).toLong))
    val got = rows.toDF("id", "qx", "qy", "qz")
      .select(col("id"),
        ZOrder.interleave3(col("qx"), col("qy"), col("qz"), 5).as("z"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (id, qx, qy, qz) =>
      assert(got(id) == ZOrder.morton3(qx, qy, qz, 5), s"id=$id")
    }
    assert(rows.map { case (_, qx, qy, qz) => ZOrder.morton3(qx, qy, qz, 5) }
      .distinct.size == rows.map(r => (r._2, r._3, r._4)).distinct.size)
    // full-grid bijection at 2 bits: 64 distinct keys covering [0, 64)
    val all = for (x <- 0L until 4; y <- 0L until 4; z <- 0L until 4)
      yield ZOrder.morton3(x, y, z, 2)
    assert(all.toSet === (0L until 64L).toSet)
    intercept[IllegalArgumentException] { ZOrder.interleave3(col("a"), col("b"), col("c"), 22) }
  }

  test("clusteringDepth: 1 after write and compact, layered after appends") {
    tempDir("graft_zdepth_") { tmp =>
      val path = tmp.resolve("pts").toString
      val pts = (0 until 2000).map(i =>
        (i.toLong, (i * 7 % 100).toDouble, (i * 13 % 100).toDouble))
        .toDF("id", "x", "y")
      ZOrder.writeZOrdered(pts, "x", "y", path, 0.0, 100.0, 0.0, 100.0,
        bits = 8, numPartitions = Some(4))
      assert(ZOrder.clusteringDepth(spark, path) === 1)
      // two appends layer full-extent bands over the four disjoint ones
      val more = (0 until 300).map(i =>
        (10000L + i, (i * 11 % 100).toDouble, (i * 3 % 100).toDouble))
        .toDF("id", "x", "y")
      ZOrder.appendZOrdered(more, path)
      ZOrder.appendZOrdered(more.withColumn("id", col("id") + 1000), path)
      assert(ZOrder.clusteringDepth(spark, path) >= 3)
      ZOrder.compact(spark, path, numPartitions = Some(4))
      assert(ZOrder.clusteringDepth(spark, path) === 1)
    }
  }

  test("zRangesForBox: sorted, disjoint, merged, and covering") {
    val bits = 8
    val (qx0, qx1, qy0, qy1) = (37L, 90L, 12L, 55L)
    val ranges = ZOrder.zRangesForBox(qx0, qx1, qy0, qy1, bits, level = 5)
    // sorted + disjoint + no two adjacent ranges left unmerged
    ranges.sliding(2).foreach {
      case Seq((_, h1), (l2, _)) => assert(l2 > h1 + 1, s"unmerged/overlap: $ranges")
      case _ =>
    }
    // covering: every cell in the box maps into some range
    for (qx <- qx0 to qx1; qy <- qy0 to qy1) {
      val k = ZOrder.morton(qx, qy, bits)
      assert(ranges.exists { case (lo, hi) => k >= lo && k <= hi },
        s"cell ($qx,$qy) key $k not covered")
    }
    // cell-count guardrail is loud
    intercept[IllegalArgumentException] {
      ZOrder.zRangesForBox(0, 255, 0, 255, bits, level = 8, maxCells = 16)
    }
  }

  test("writeZOrdered + readBox == plain bbox filter; prune pushes to the scan") {
    val pts = (0 until 4000).map { i =>
      (i.toLong, (i * 131 % 997).toDouble / 10.0, (i * 379 % 991).toDouble / 10.0)
    }.toDF("id", "x", "y")
    tempDir("graft_zorder_") { d =>
      val dir = d.toString
      ZOrder.writeZOrdered(pts, "x", "y", dir, 0.0, 100.0, 0.0, 100.0,
        bits = 10, numPartitions = Some(4))
      val got = ZOrder.readBox(spark, dir, "x", "y", 20.0, 40.0, 30.0, 60.0,
        0.0, 100.0, 0.0, 100.0, bits = 10, level = 4)
      val want = pts.filter(col("x") >= 20.0 && col("x") <= 40.0 &&
        col("y") >= 30.0 && col("y") <= 60.0)
        .as[(Long, Double, Double)].collect().toSet
      assert(got.select("id", "x", "y").as[(Long, Double, Double)].collect().toSet == want)
      assert(want.nonEmpty, "fixture box must be non-empty")
      // the Morton range predicate must reach the parquet scan as a pushed
      // filter — that is the whole point of the layout
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("zkey"),
        s"zkey ranges not pushed to the scan:\n$plan")
      // the write persisted its layout parameters; mismatched query params
      // refuse instead of silently pruning real rows
      val m = ZOrder.readMeta(spark, dir)
      assert(m.contains(ZOrder.ZOrderMeta("x", "y", "zkey", 10, 0.0, 100.0, 0.0, 100.0)))
      intercept[IllegalArgumentException] {
        ZOrder.readBox(spark, dir, "x", "y", 20.0, 40.0, 30.0, 60.0,
          0.0, 100.0, 0.0, 100.0, bits = 12, level = 4)
      }
      // the self-configuring overload needs nothing but the box
      val got2 = ZOrder.readBox(spark, dir, 20.0, 40.0, 30.0, 60.0, level = 4)
        .select("id", "x", "y").as[(Long, Double, Double)].collect().toSet
      assert(got2 == want)
    }
  }

  test("boundingBoxPointsMultiZ == plain multi-box path under an affine transform") {
    import graft.model.{AffineT, Matrix}
    import graft.query.SpatialQuery
    val pts = (0 until 4000).map { i =>
      (i.toLong, (i * 131 % 997).toDouble / 10.0, (i * 379 % 991).toDouble / 10.0)
    }.toDF("id", "x", "y")
    tempDir("graft_zmbspec_") { d =>
      val dir = d.toString
      ZOrder.writeZOrdered(pts, "x", "y", dir, 0.0, 100.0, 0.0, 100.0,
        bits = 10, numPartitions = Some(4))
      // 30-degree-ish rotation + shift: the intrinsic box is ROTATED, so
      // the coarse prune uses the back-mapped polygon's envelope
      val t = AffineT(Matrix(3, 3, Array(
        0.866, -0.5, 3.0,
        0.5, 0.866, -2.0,
        0.0, 0.0, 1.0)), Seq("x", "y"), Seq("x", "y"))
      val boxes = Seq(
        (Seq(10.0, 20.0), Seq(50.0, 60.0)),
        (Seq(-30.0, 70.0), Seq(10.0, 95.0)))
      val got = SpatialQuery.boundingBoxPointsMultiZ(spark, dir, t,
          Seq("x", "y"), boxes, level = 5)
        .select("id", "x", "y").as[(Long, Double, Double)].collect().toSet
      val want = SpatialQuery.boundingBoxPointsMulti(pts, t, Seq("x", "y"), boxes)
        .as[(Long, Double, Double)].collect().toSet
      assert(want.nonEmpty, "fixture boxes must be non-empty under the transform")
      assert(got == want, s"Z path diverged: ${got.size} vs ${want.size} rows")

      // the polygon query rides the same coarse prune + plain-path refine
      val poly = graft.geom.WKB.write(graft.geom.GPolygon(Array(Array(
        20.13, 10.07, 80.21, 30.63, 40.17, 71.49))))
      val gotP = SpatialQuery.polygonQueryPointsZ(spark, dir,
          graft.model.IdentityT, poly, level = 5)
        .select("id", "x", "y").as[(Long, Double, Double)].collect().toSet
      val wantP = SpatialQuery.polygonQueryPoints(pts, graft.model.IdentityT, poly)
        .as[(Long, Double, Double)].collect().toSet
      assert(wantP.nonEmpty && gotP == wantP,
        s"polygon Z path diverged: ${gotP.size} vs ${wantP.size} rows")
    }
  }
}
