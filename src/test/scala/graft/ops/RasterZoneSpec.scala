package graft.ops

import graft.SparkTestBase
import graft.pipeline.ZoneMapIndex
import org.apache.spark.sql.functions._

/** At-rest tile store ([[TileLayout]]): blocked layout + zone-map crop —
  * the sidecar must put ONLY intersecting block dirs in PartitionFilters,
  * scale levels must prune, appends must merge, and the crop must equal
  * the plain tile-range filter (value-exactness is gate q368).
  */
class RasterZoneSpec extends SparkTestBase {
  import spark.implicits._

  private def withDir[T](f: String => T): T =
    tempDir("graft_rz_")(tmp => f(tmp.resolve("t").toString))

  /** 8×8 tiles of 16px (128×128 image), value = tile id — enough blocks
    * (16 at blockTiles=2) for pruning to be observable in the plan.
    */
  private def tiles(scale: Int) = {
    val H = 128; val W = 128
    val pix = spark.range(0, H.toLong * W).select(
        (col("id") / W).cast("int").as("y"),
        (col("id") % W).cast("int").as("x"))
      .withColumn("value",
        ((col("y") / 16) * 8 + (col("x") / 16)).cast("double"))
    RasterOps.pixelsToTilesExact(pix, H, W, tileSize = 16, channelCol = None)
      .withColumn("scale", lit(scale))
  }

  test("crop equals the plain tile-range filter and prunes block dirs in the plan") {
    withDir { path =>
      val t0 = tiles(0)
      TileLayout.write(t0, path, blockTiles = 2)
      val got = TileLayout.crop(spark, path, scale = 0, 2, 3, 4, 6)
      val want = t0.filter(col("tile_y").between(2, 3) &&
        col("tile_x").between(4, 6))
      // identical tile set
      assert(got.select("tile_y", "tile_x").as[(Int, Int)].collect().toSet ===
        want.select("tile_y", "tile_x").as[(Int, Int)].collect().toSet)
      assert(got.count() === 2L * 3)
      // PLAN: the block-dir candidates land in PartitionFilters — blocks
      // (1..1, 2..3) intersect; block 0_0_0 must NOT be listed
      val plan = got.queryExecution.executedPlan.toString()
      assert(plan.contains("PartitionFilters"), plan)
      val pf = plan.linesIterator.find(_.contains("PartitionFilters")).get
      assert(pf.contains("0_1_2") && pf.contains("0_1_3") &&
        !pf.contains("0_0_0"), pf)
    }
  }

  test("appended scale level merges the sidecar and prunes away from a scale-0 crop") {
    withDir { path =>
      TileLayout.write(tiles(0), path, blockTiles = 2)
      TileLayout.append(tiles(1), path)
      val s0 = TileLayout.crop(spark, path, scale = 0, 0, 7, 0, 7)
      assert(s0.count() === 64L)
      assert(s0.select("scale").distinct().as[Int].collect().toSeq === Seq(0))
      val pf = s0.queryExecution.executedPlan.toString()
        .linesIterator.find(_.contains("PartitionFilters")).get
      // scale-1 block dirs are pruned before the scan
      assert(!pf.contains("1_0_0"), pf)
      // the appended level reads back whole
      assert(TileLayout.crop(spark, path, scale = 1, 0, 7, 0, 7).count() === 64L)
    }
  }

  test("a crop hitting no blocks returns empty without scanning") {
    withDir { path =>
      TileLayout.write(tiles(0), path, blockTiles = 2)
      assert(TileLayout.crop(spark, path, 0, 100, 110, 100, 110).count() === 0L)
    }
  }

  test("readRanges is conjunctive: per-column unions would over-scan") {
    withDir { path =>
      // partitions p0 (a=0..9,   b=100..109) and p1 (a=100..109, b=0..9):
      // a∈[0,9] matches p0 only, b∈[0,9] matches p1 only — the CONJUNCTION
      // matches NOTHING (no partition intersects both), a union would
      // return both partitions
      val rows = (0 until 10).map(i => ("p0", i.toLong, 100L + i)) ++
        (0 until 10).map(i => ("p1", 100L + i, i.toLong))
      ZoneMapIndex.writeZoneMapped(rows.toDF("p", "a", "b"), path, "p", Seq("a", "b"))
      assert(ZoneMapIndex.readRanges(spark, path,
        Seq(("a", 0, 9), ("b", 0, 9))).count() === 0L)
      // and a genuinely intersecting conjunction scans just its partition
      val hit = ZoneMapIndex.readRanges(spark, path,
        Seq(("a", 0, 9), ("b", 100, 109)))
      assert(hit.count() === 10L)
      val pf = hit.queryExecution.executedPlan.toString()
        .linesIterator.find(_.contains("PartitionFilters")).get
      assert(pf.contains("p0") && !pf.contains("p1"), pf)
    }
  }
}
