package graft.functions

import graft.{SparkTestBase, SparkTestBase => STB}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The injected optimizer rule refuses scale-melting plan shapes at
  * PLANNING time, exempts provably-1-row cross sides, and stays inert in
  * warn/off modes and on ordinary keyed plans.
  */
class GraftGuardrailsSpec extends SparkTestBase {

  private def withGuarded(f: SparkSession => Unit): Unit = {
    val orig = STB.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder()
        .withExtensions(new GraftGuardrails()(_))
        .getOrCreate()
      assert(fresh ne orig)
      try f(fresh)
      finally fresh.conf.set("spark.graft.guardrails", "fail")
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("global windows and true cross joins fail at planning; keyed plans pass") {
    withGuarded { s =>
      import s.implicits._
      val df = (1 to 10).map(i => (i.toLong, i % 3)).toDF("id", "k")
      // the melting shapes refuse before any task launches
      val e1 = intercept[Exception] {
        df.withColumn("rn",
          row_number().over(Window.orderBy(col("id")))).collect()
      }
      assert(e1.getMessage.contains("global-window"), e1.getMessage)
      val e2 = intercept[Exception] {
        df.crossJoin(df.select(col("id").as("id2"))).collect()
      }
      assert(e2.getMessage.contains("cross-join"), e2.getMessage)
      // ordinary keyed work is untouched
      assert(df.groupBy("k").count().collect().length === 3)
      assert(df.as("a").join(df.as("b"), "id").count() === 10)
      // a PARTITIONED window is not a global window
      assert(df.withColumn("rn",
        row_number().over(Window.partitionBy("k").orderBy("id")))
        .count() === 10)
    }
  }

  test("provably 1-row cross sides are exempt (the broadcast-stats idiom)") {
    withGuarded { s =>
      import s.implicits._
      val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
      val stats = df.agg(max(col("v")).as("mx")) // grouping-free: <= 1 row
      assert(df.crossJoin(stats).count() === 10)
      assert(df.crossJoin(broadcast(df.limit(1).select(col("id").as("one"))))
        .count() === 10)
      // and the engine's own stats-crossjoin operators keep working
      val t = graft.pipeline.Sketches.welchT(df, df, "v").collect()
      assert(t.length === 1)
    }
  }

  test("warn and off modes let the shapes through") {
    withGuarded { s =>
      import s.implicits._
      val df = (1 to 5).map(i => (i.toLong, i)).toDF("id", "k")
      s.conf.set("spark.graft.guardrails", "warn")
      assert(df.withColumn("rn",
        row_number().over(Window.orderBy("id"))).count() === 5)
      s.conf.set("spark.graft.guardrails", "off")
      assert(df.crossJoin(df.select(col("id").as("id2"))).count() === 25)
    }
  }

  test("non-equi joins between multi-row sides refuse; equi and bounded sides pass") {
    withGuarded { s =>
      import s.implicits._
      val a = (1 to 10).map(i => (i.toLong, i * 2.0)).toDF("id", "lo")
      val b = (1 to 10).map(i => (i.toLong, i * 3.0)).toDF("id2", "hi")
      // pure range join, both sides multi-row -> BroadcastNestedLoopJoin
      val e = intercept[Exception] {
        a.join(b, col("lo") < col("hi")).collect()
      }
      assert(e.getMessage.contains("nested-loop-join"), e.getMessage)
      // an equi-conjunct restores a hash-joinable shape
      assert(a.join(b, col("id") === col("id2") && col("lo") < col("hi"))
        .count() === 10)
      // an equality buried in an OR is NOT a usable join key — refuse
      val eOr = intercept[Exception] {
        a.join(b, col("id") === col("id2") || col("lo") < col("hi")).collect()
      }
      assert(eOr.getMessage.contains("nested-loop-join"), eOr.getMessage)
      // a provably <= 1-row side is exempt (the broadcast-threshold idiom)
      val mx = b.agg(max(col("hi")).as("mxhi"))
      assert(a.join(mx, col("lo") < col("mxhi")).count() === 10)
      // warn mode is the documented escape for bounded-by-construction
      // inequality joins (routeToRanges' O(ranges) broadcast manifest)
      s.conf.set("spark.graft.guardrails", "warn")
      assert(a.join(b, col("lo") < col("hi")).count() > 0)
      s.conf.set("spark.graft.guardrails", "fail")
    }
  }

  test("an EXPLICIT broadcast() hint exempts a non-equi join (the routeToRanges shape)") {
    withGuarded { s =>
      import s.implicits._
      val rows = (1 to 100).map(i => (i.toLong, i % 7)).toDF("id", "key")
      val manifest = (1 to 5).map(i => (i, i * 20L)).toDF("range_id", "lo_id")
      // the ErIndex.routeToRanges shape: rows >= a broadcast O(ranges)
      // manifest, left join + max — the hint is the author's bounded-side
      // assertion, so fail mode lets it plan
      val routed = rows.join(broadcast(manifest), col("id") >= col("lo_id"), "left")
        .groupBy("id").agg(coalesce(max(col("range_id")), lit(0)).as("range_id"))
      assert(routed.count() === 100)
      // the SAME shape without the hint still refuses — no silent hole
      val e = intercept[Exception] {
        rows.join(manifest, col("id") >= col("lo_id"), "left")
          .groupBy("id").agg(max(col("range_id"))).collect()
      }
      assert(e.getMessage.contains("nested-loop-join"), e.getMessage)
    }
  }

  test("graft's own shapes ingest plans clean under fail mode (StaticInvoke kernels, no UDFs)") {
    withGuarded { s =>
      import s.implicits._
      // GeoJSON paths: driver-split collection + newline-delimited scale path
      val root = new java.io.File("src/test/resources/geojson").getAbsolutePath
      val gc = graft.model.Models.ShapesModel.parseGeoJson(s, s"$root/gc.json")
      assert(gc.count() === 18)
      val nd = graft.model.Models.ShapesModel
        .parseGeoJsonLines(s, s"$root/features.ndjson")
      assert(nd.count() === 12)
      // geoarrow path: struct<x,y> points through readGeoParquet
      tempDir("geoarrow") { d =>
        val dir = d.toString
        (1 to 8).map(i => (i.toLong, i.toDouble, i * 2.0, 1.5))
          .toDF("index", "x", "y", "radius")
          .select(col("index"), struct(col("x"), col("y")).as("geometry"),
            col("radius"))
          .write.mode("overwrite").parquet(dir)
        val ga = graft.model.Models.ShapesModel.readGeoParquet(s, dir)
        assert(ga.count() === 8)
        assert(ga.select("geom_type").distinct().as[String].collect()
          .toSeq === Seq("circle"))
      }
    }
  }

  test("per-row ScalaUDFs refuse in fail mode; warn is the ingest escape") {
    withGuarded { s =>
      import s.implicits._
      // range-backed (a local Seq would fold through ConvertToLocalRelation
      // and evaluate the UDF at optimize time, leaving nothing to flag)
      val df = s.range(5).select(col("id"),
        concat(lit("v"), col("id").cast("string")).as("t"))
      val up = udf((x: String) => x.toUpperCase)
      val e = intercept[Exception] {
        df.select(up(col("t")).as("u")).collect()
      }
      assert(e.getMessage.contains("scala-udf"), e.getMessage)
      // the native-function spelling of the same thing passes
      assert(df.select(upper(col("t"))).count() === 5)
      s.conf.set("spark.graft.guardrails", "warn")
      assert(df.select(up(col("t")).as("u")).count() === 5)
      s.conf.set("spark.graft.guardrails", "fail")
    }
  }
}
