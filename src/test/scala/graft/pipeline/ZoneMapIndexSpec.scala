package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Zone-map sidecar range reads: exactness vs the plain filter, actual
  * partition pruning, NULL handling, metadata contract.
  */
class ZoneMapIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def withLayout[T](f: String => T): T =
    tempDir("graft_zmspec_")(tmp => f(tmp.resolve("data").toString))

  // partitions with DISJOINT value bands: p0 [0,99], p1 [100,199], p2
  // [200,299], plus a NULL-only partition
  private lazy val rows = ((0 until 300).map { i =>
    (i.toLong, s"p${i / 100}", Some(i.toDouble))
  } :+ (999L, "pnull", Option.empty[Double])).toDF("id", "p", "v")

  test("readRange == plain filter; bands outside the range prune away") {
    withLayout { path =>
      ZoneMapIndex.writeZoneMapped(rows, path, "p", Seq("v"))
      val got = ZoneMapIndex.readRange(spark, path, "v", 150.0, 250.0)
      val want = rows.filter($"v" >= 150.0 && $"v" <= 250.0)
        .select("id", "v").as[(Long, Double)].collect().toSet
      assert(got.select("id", "v").as[(Long, Double)].collect().toSet === want)
      val pf = got.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PartitionFilters")).get
      // only p1 and p2 intersect [150, 250]; p0 and the NULL band don't
      assert(pf.contains("p1") && pf.contains("p2") && !pf.contains("p0") &&
        !pf.contains("pnull"), pf)
    }
  }

  test("a range hitting nothing returns empty without scanning") {
    withLayout { path =>
      ZoneMapIndex.writeZoneMapped(rows, path, "p", Seq("v"))
      assert(ZoneMapIndex.readRange(spark, path, "v", 5000.0, 6000.0)
        .count() === 0L)
    }
  }

  test("append merges stats arithmetically: append == rebuild, reads agree") {
    withLayout { path =>
      val first = rows.filter($"id" < 150)
      val second = rows.filter($"id" >= 150)
      ZoneMapIndex.writeZoneMapped(first, path, "p", Seq("v"))
      ZoneMapIndex.appendZoneMapped(second, path)
      val rebuilt = path + "_rebuild"
      ZoneMapIndex.writeZoneMapped(rows, rebuilt, "p", Seq("v"))
      // align column order: the merged rewrite and the fresh build emit
      // the same rows with different physical column order
      val cols = Seq("part", "column", "lo", "hi", "lo_d", "hi_d", "n_notnull")
      val a = spark.read.parquet(s"$path/_zonemap").select(cols.map(col): _*)
      val b = spark.read.parquet(s"$rebuilt/_zonemap").select(cols.map(col): _*)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      val got = ZoneMapIndex.readRange(spark, path, "v", 120.0, 220.0)
        .select("id").as[Long].collect().toSet
      val want = rows.filter($"v" >= 120.0 && $"v" <= 220.0)
        .select("id").as[Long].collect().toSet
      assert(got === want)
      intercept[IllegalArgumentException] {
        ZoneMapIndex.appendZoneMapped(rows, path + "_nometa")
      }
    }
  }

  test("metadata contract and refusals") {
    withLayout { path =>
      ZoneMapIndex.writeZoneMapped(rows, path, "p", Seq("v"))
      assert(ZoneMapIndex.readMeta(spark, path) === Some(("p", Seq("v"))))
      intercept[IllegalArgumentException] {
        ZoneMapIndex.readRange(spark, path, "id", 0L, 10L) // no stats for id
      }
      intercept[IllegalArgumentException] {
        ZoneMapIndex.writeZoneMapped(rows, path + "2", "p", Seq("p"))
      }
      val bare = path + "_plain"
      rows.write.partitionBy("p").parquet(bare)
      intercept[IllegalArgumentException] {
        ZoneMapIndex.readRange(spark, bare, "v", 0.0, 1.0)
      }
    }
  }
}
