package graft.query

import graft.SparkTestBase
import graft.model._
import org.apache.spark.sql.functions._

/** Plan-shape assertions: the fast paths must reach the parquet scan.
  * (The gate queries derive coordinates from TPC-H columns, so scan-level
  * pushdown is only observable on a parquet-native points element — this is
  * that evidence.)
  */
class PushdownSpec extends SparkTestBase {
  import spark.implicits._

  /** Runs `f` on a fresh container with a 10000-row points element. */
  private def withPoints[T](f: String => T): T = tempDir("graft-push") { d =>
    val pts = Seq.tabulate(10000)(i =>
      (i.toLong, (i % 100).toDouble, (i / 100).toDouble, s"g${i % 7}"))
      .toDF("row_id", "x", "y", "gene")
    val sd = SpatialDataset(spark, Seq(
      SpatialElement(Models.PointsModel.meta("pts"), Models.PointsModel.parse(pts))))
    sd.write(d.toString)
    f(d.toString)
  }

  test("identity bbox pushes range predicates into the parquet scan") {
    withPoints { dir =>
      val sd = SpatialDataset.read(spark, dir)
      val q = SpatialQuery.boundingBoxPoints(sd("pts"), IdentityT,
        Seq("x", "y"), Seq(10.0, 10.0), Seq(50.0, 50.0))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters:") && plan.contains("GreaterThan(x,10.0)"),
        s"expected pushed range filters, got:\n$plan")
      // PushedFilters print truncates; the x-interval upper bound is visible
      assert(plan.contains("LessThan(x,50.0)"))
    }
  }

  test("diagonal-transform bbox still pushes (inverted) range predicates") {
    withPoints { dir =>
      val sd = SpatialDataset.read(spark, dir)
      val t = ScaleT(Seq(2.0, 2.0), Seq("x", "y"))
      val q = SpatialQuery.boundingBoxPoints(sd("pts"), t,
        Seq("x", "y"), Seq(20.0, 20.0), Seq(100.0, 100.0))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThan(x,10.0)") && plan.contains("LessThan(x,50.0)"),
        s"expected inverted-interval pushdown, got:\n$plan")
    }
  }

  test("column pruning reaches the scan for narrow projections") {
    withPoints { dir =>
      val sd = SpatialDataset.read(spark, dir)
      val q = sd("pts").select("x").filter(col("x") > 5.0)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("ReadSchema: struct<x:double>"),
        s"expected pruned read schema, got:\n$plan")
    }
  }

  test("hash sampling a projection prunes the text column from the scan") {
    // at 100 TB the text column IS the table — a sample that only needs ids
    // and metadata must never read it. Write a docs-shaped parquet and
    // assert the scan schema stays narrow through the sampling filter.
    tempDir("graft-docs") { t =>
      val d = t.toString
      Seq.tabulate(100)(i => (i.toLong, "x" * 1000, "en", i.toLong))
        .toDF("doc_id", "text", "lang", "n_chars")
        .write.mode("overwrite").parquet(d)
      val q = graft.pipeline.Sampling.hashSample(
          spark.read.parquet(d), "doc_id", 0.5)
        .select("doc_id", "lang", "n_chars")
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>"),
        s"expected text-free read schema, got:\n$plan")
    }
  }

  test("whole-stage codegen covers the spatial predicate stage") {
    withPoints { dir =>
      val sd = SpatialDataset.read(spark, dir)
      val poly = graft.geom.WKB.write(graft.geom.GPolygon(
        Array(Array(0.0, 0, 60, 0, 60, 60, 0, 60))))
      val q = SpatialQuery.polygonQueryPoints(sd("pts"), IdentityT, poly)
      val plan = q.queryExecution.executedPlan.toString
      // `*(n)` prefix marks a whole-stage-codegen span in executedPlan.toString
      assert(plan.contains("*(1) Filter"), s"no codegen span in:\n$plan")
      // the kernel call appears as a static invoke inside the codegen'd
      // filter — not a UDF, and the coarse range conjuncts still push down
      assert(plan.contains("static_invoke(graft.geom.GeomKernel.containsPoint"))
      assert(plan.contains("PushedFilters:") && plan.contains("GreaterThanOrEqual(x,0.0)"))
    }
  }
}
