package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Bloom sidecar point lookups: exactness vs the plain filter, actual
  * partition pruning, metadata contract.
  */
class BloomIndexSpec extends SparkTestBase {
  import spark.implicits._

  private def withLayout[T](f: String => T): T =
    tempDir("graft_bloomspec_")(tmp => f(tmp.resolve("data").toString))

  // 4 partitions x 250 keys, keys globally unique and part-disjoint
  private lazy val rows = (0 until 1000).map { i =>
    (i.toLong, s"part${i / 250}", i * 3 % 17)
  }.toDF("k", "p", "v")

  test("lookup == plain filter: exact, no false negatives, absent keys empty") {
    withLayout { path =>
      BloomIndex.writeBloomIndexed(rows, path, "p", "k")
      val keys = Seq(0L, 5L, 249L, 250L, 999L)
      val got = BloomIndex.lookupKeys(spark, path, keys)
        .select("k", "p", "v").as[(Long, String, Int)].collect().toSet
      val want = rows.filter(col("k").isin(keys: _*))
        .as[(Long, String, Int)].collect().toSet
      assert(got === want)
      assert(BloomIndex.lookupKeys(spark, path, Seq(123456L)).count() === 0L)
    }
  }

  test("the scan touches only the partitions holding requested keys") {
    withLayout { path =>
      BloomIndex.writeBloomIndexed(rows, path, "p", "k")
      // all five keys live in part0; 32k-bit bitmap over 250 keys makes a
      // cross-partition false positive astronomically unlikely
      val looked = BloomIndex.lookupKeys(spark, path, Seq(1L, 2L, 3L, 4L, 5L))
      val plan = looked.queryExecution.executedPlan.toString
      // the candidate list must land in the scan's PartitionFilters (dir-
      // level prune) and name ONLY part0; the key predicate must push down
      assert(plan.contains("PartitionFilters"), plan)
      val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
      assert(pf.contains("part0") && !pf.contains("part1"), pf)
      assert(plan.contains("PushedFilters") && plan.contains("k"), plan)
      assert(looked.count() === 5L)
    }
  }

  test("append merges bitmaps by bit_or: append == rebuild, lookups agree") {
    withLayout { path =>
      BloomIndex.writeBloomIndexed(rows.filter(col("k") < 500), path, "p", "k")
      BloomIndex.appendBloomIndexed(rows.filter(col("k") >= 500), path)
      val rebuilt = path + "_rebuild"
      BloomIndex.writeBloomIndexed(rows, rebuilt, "p", "k")
      val a = spark.read.parquet(s"$path/_bloom")
      val b = spark.read.parquet(s"$rebuilt/_bloom")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      val keys = Seq(10L, 499L, 500L, 900L)
      val got = BloomIndex.lookupKeys(spark, path, keys)
        .select("k").as[Long].collect().toSet
      assert(got === keys.toSet)
      intercept[IllegalArgumentException] {
        BloomIndex.appendBloomIndexed(rows, path + "_nometa")
      }
    }
  }

  test("metadata contract: meta persists; lookup without it refuses") {
    withLayout { path =>
      BloomIndex.writeBloomIndexed(rows, path, "p", "k", bits = 4096, hashes = 4,
        salt = "x")
      assert(BloomIndex.readMeta(spark, path) ===
        Some(BloomIndex.BloomMeta("p", "k", 4096, 4, "x")))
      val bare = path + "_noindex"
      rows.write.partitionBy("p").parquet(bare)
      intercept[IllegalArgumentException] {
        BloomIndex.lookupKeys(spark, bare, Seq(1L))
      }
      intercept[IllegalArgumentException] {
        BloomIndex.writeBloomIndexed(rows, path, "p", "k", bits = 100)
      }
    }
  }
}
