package graft.ops

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-radius KNN join: grid == broadcast == brute force, exact-k
  * bound, deterministic tie ranking, product-free grid plan.
  */
class KnnJoinSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic pseudo-random point cloud: 400 points in [0, 20)^2
  private lazy val pts: DataFrame = (0 until 400).map { i =>
    val x = (i * 37 % 200) / 10.0
    val y = (i * 53 % 200) / 10.0
    (i.toLong, x, y)
  }.toDF("pid", "x", "y").cache()

  private lazy val probes: DataFrame =
    pts.filter($"pid" % 17 === 3)
      .select($"pid".as("qid"), $"x".as("qx"), $"y".as("qy"))

  private def brute(k: Int, r: Double): DataFrame = {
    val cand = probes.crossJoin(pts)
      .withColumn("dist2", ($"qx" - $"x") * ($"qx" - $"x") +
        ($"qy" - $"y") * ($"qy" - $"y"))
      .filter($"dist2" <= r * r)
    cand.withColumn("knn_rank",
        row_number().over(Window.partitionBy($"qid").orderBy($"dist2", $"pid")))
      .filter($"knn_rank" <= k)
      .select($"qid", $"pid", $"dist2", $"knn_rank")
  }

  test("grid path matches brute force exactly") {
    val got = SpatialJoin.knnWithinRadiusGrid(probes, pts, k = 4, radius = 1.5)
    assert(got.exceptAll(brute(4, 1.5)).isEmpty && brute(4, 1.5).exceptAll(got).isEmpty)
  }

  test("broadcast path matches the grid path") {
    val g = SpatialJoin.knnWithinRadiusGrid(probes, pts, k = 3, radius = 2.0)
    val b = SpatialJoin.knnWithinRadiusBroadcast(probes, pts, k = 3, radius = 2.0)
    assert(g.exceptAll(b).isEmpty && b.exceptAll(g).isEmpty)
  }

  test("at most k neighbors per probe, all within the radius") {
    val got = SpatialJoin.knnWithinRadiusGrid(probes, pts, k = 5, radius = 1.0)
      .cache()
    val per = got.groupBy($"qid").agg(count(lit(1)).as("n"),
      max($"dist2").as("maxd")).collect()
    assert(per.nonEmpty)
    per.foreach { r =>
      assert(r.getLong(1) <= 5)
      assert(r.getDouble(2) <= 1.0)
    }
    got.unpersist()
  }

  test("rank 1 of a probe drawn from the point set is itself at dist2 0") {
    val got = SpatialJoin.knnWithinRadiusGrid(probes, pts, k = 1, radius = 0.5)
      .filter($"knn_rank" === 1).collect()
    // probes are corpus points: each probe's nearest neighbor is a point
    // at distance zero, and the (dist2, pid) tiebreak picks the least pid
    // among exact co-located duplicates
    got.foreach { r => assert(r.getDouble(2) == 0.0) }
    assert(got.nonEmpty)
  }

  test("grid plan has no cartesian product") {
    val plan = SpatialJoin.knnWithinRadiusGrid(probes, pts, k = 2, radius = 1.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("knnWithinRadiusZ over a Z layout == the grid path; bands reach the scan") {
    tempDir("graft_knnz_spec_") { tmp =>
      val path = tmp.resolve("pts").toString
      ZOrder.writeZOrdered(pts, "x", "y", path, 0.0, 20.0, 0.0, 20.0,
        bits = 8, numPartitions = Some(3))
      val viaZ = SpatialJoin.knnWithinRadiusZ(spark, path, probes,
        k = 4, radius = 1.5, level = 5, pid = "pid")
      val plain = SpatialJoin.knnWithinRadiusGrid(probes, pts, k = 4, radius = 1.5)
      assert(viaZ.exceptAll(plain).isEmpty && plain.exceptAll(viaZ).isEmpty)
      val plan = viaZ.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") && plan.contains("zkey"), plan)
    }
  }

  test("guards reject non-positive k and radius") {
    intercept[IllegalArgumentException] {
      SpatialJoin.knnWithinRadiusGrid(probes, pts, k = 0, radius = 1.0)
    }
    intercept[IllegalArgumentException] {
      SpatialJoin.knnWithinRadiusBroadcast(probes, pts, k = 1, radius = 0.0)
    }
  }

  test("idwInterpolate: hand weights, exact-hit short-circuit, no-neighbor probe absent") {
    val samples = Seq(
      (1L, 0.0, 0.0, 10.0), (2L, 1.0, 0.0, 20.0), (3L, 100.0, 100.0, 99.0)
    ).toDF("pid", "x", "y", "v")
    val q = Seq(
      (1L, 0.5, 0.0),   // equidistant (d2=0.25 each): idw = mean = 15
      (2L, 0.0, 0.0),   // exact hit on sample 1: short-circuit to 10
      (3L, 50.0, 50.0)  // nothing within radius: absent
    ).toDF("qid", "qx", "qy")
    val out = SpatialJoin.idwInterpolate(q, samples, k = 4, radius = 2.0)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === ((2L, 15.0)))
    assert(out(2L) === ((2L, 10.0)), "dist2=0 must return the sample value itself")
    assert(!out.contains(3L))
    // asymmetric weights: probe at (0.25, 0): d2 = 0.0625 / 0.5625,
    // w = 16, 1.777778 (snapped); idw = (16*10 + 1.777778*20)/17.777778
    val q2 = Seq((9L, 0.25, 0.0)).toDF("qid", "qx", "qy")
    val got = SpatialJoin.idwInterpolate(q2, samples, k = 4, radius = 2.0)
      .as[(Long, Long, Double)].collect().head
    val w2 = math.floor(1.0 / 0.5625 * 1e6 + 0.5) / 1e6
    val vw2 = math.floor(20.0 / 0.5625 * 1e6 + 0.5) / 1e6
    val expect = math.floor((160.0 + vw2) / (16.0 + w2) * 1e6 + 0.5) / 1e6
    assert(got === ((9L, 2L, expect)))
  }
}
