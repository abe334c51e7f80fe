package graft.sources

import graft.SparkTestBase
import graft.ops.RasterOps
import graft.sources.v2.{NgffInputPartition, NgffScan}
import org.apache.spark.sql.functions._

/** DataSourceV2 "ngff" format: result parity with the v1 reader, chunk
  * pruning from pushed filters, and column pruning that skips chunk IO.
  */
class NgffDataSourceV2Spec extends SparkTestBase {
  import spark.implicits._

  /** Runs `f` on a fresh temp dir holding a two-channel store at
    * `<root>/img`, deleted when `f` returns; `f` may write beside it.
    */
  private def withStore[T](f: java.nio.file.Path => T): T = tempDir("graft-ngff-v2") { root =>
    val pixels = Seq.tabulate(800)(i =>
      (i % 2, i % 20, (i * 7) % 23, (i % 89 + 1).toDouble))
      .toDF("c", "y", "x", "value")
      .groupBy("c", "y", "x").agg(sum("value").as("value"))
    val tiles = RasterOps.pixelsToTiles(pixels, tileSize = 8)
    NgffRaster.write(tiles, s"$root/img", "img", tileSize = 8,
      channels = Seq("ch0", "ch1"))
    f(root)
  }

  test("format(\"ngff\") matches the v1 reader row-for-row") {
    withStore { root =>
      val storeDir = s"$root/img"
      val v2 = spark.read.format("ngff").load(storeDir)
      val (v1, _) = NgffRaster.read(spark, storeDir)
      assert(v2.schema === v1.schema)
      val key = Seq("scale", "c", "tile_y", "tile_x")
      val a = v2.orderBy(key.map(col): _*).collect().map(_.toString).toSeq
      val b = v1.orderBy(key.map(col): _*).collect().map(_.toString).toSeq
      assert(a === b)
    }
  }

  test("pushed tile filters prune chunk partitions at planning time") {
    withStore { root =>
      val storeDir = s"$root/img"
      val all = spark.read.format("ngff").load(storeDir)
      val filtered = all.filter(col("tile_y") === 1 && col("c") === 0)
      // results are exact
      val want = NgffRaster.read(spark, storeDir)._1
        .filter(col("tile_y") === 1 && col("c") === 0)
        .orderBy("tile_x").collect().map(_.toString).toSeq
      val got = filtered.orderBy("tile_x").collect().map(_.toString).toSeq
      assert(got === want)
      // and the scan plans strictly fewer chunk tasks than the full scan
      def chunkTasks(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            s.partitions.flatten.map(_.asInstanceOf[NgffInputPartition].tasks.length).sum
        }.sum
      val full = chunkTasks(all)
      val pruned = chunkTasks(filtered)
      assert(full > 0 && pruned > 0 && pruned < full,
        s"expected pruning: full=$full pruned=$pruned")
      // the pushdown is visible in the scan description
      assert(filtered.queryExecution.executedPlan.toString.contains("PushedChunkFilters") ||
        filtered.queryExecution.toString.contains("tile_y"))
    }
  }

  test("column pruning: a px-free scan still counts every tile") {
    withStore { root =>
      val storeDir = s"$root/img"
      val v2 = spark.read.format("ngff").load(storeDir)
      val coordOnly = v2.select("scale", "c", "tile_y", "tile_x")
      // readSchema of the planned scan must not include px
      val scans = coordOnly.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }
      assert(scans.nonEmpty)
      assert(!scans.head.scan.readSchema().fieldNames.contains("px"),
        s"px not pruned: ${scans.head.scan.readSchema()}")
      assert(coordOnly.count() === NgffRaster.read(spark, storeDir)._1.count())
    }
  }

  test("aggregation over the v2 scan matches the v1 reader") {
    withStore { root =>
      val storeDir = s"$root/img"
      val v2sum = spark.read.format("ngff").load(storeDir)
        .select(explode(col("px")).as("v")).agg(sum("v")).head().getDouble(0)
      val v1sum = NgffRaster.read(spark, storeDir)._1
        .select(explode(col("px")).as("v")).agg(sum("v")).head().getDouble(0)
      assert(v2sum === v1sum)
    }
  }

  private def tileKey = Seq("scale", "c", "tile_y", "tile_x")

  test("write.format(\"ngff\") round-trips through both readers") {
    withStore { root =>
      val storeDir = s"$root/img"
      val dir = s"$root/out"
      val src = NgffRaster.read(spark, storeDir)._1
      src.write.format("ngff").option("tileSize", 8)
        .option("channels", "ch0,ch1").mode("overwrite").save(dir)
      val (back, meta) = NgffRaster.read(spark, dir)
      assert(meta.channels === Seq("ch0", "ch1"))
      val a = src.orderBy(tileKey.map(col): _*).collect().map(_.toString).toSeq
      val b = back.orderBy(tileKey.map(col): _*).collect().map(_.toString).toSeq
      assert(a === b)
      // and the v2 reader agrees with itself
      val v2 = spark.read.format("ngff").load(dir)
        .orderBy(tileKey.map(col): _*).collect().map(_.toString).toSeq
      assert(v2 === a)
    }
  }

  test("v1 NgffRaster.write and write.format(\"ngff\") write identical stores") {
    withStore { root =>
      val storeDir = s"$root/img"
      val src = NgffRaster.read(spark, storeDir)._1
      val (v1, v2) = (s"$root/v1", s"$root/v2")
      NgffRaster.write(src, v1, "image", tileSize = 8)
      src.write.format("ngff").option("tileSize", 8).mode("overwrite").save(v2)
      def files(root: String): Map[String, Seq[Byte]] = {
        val r = java.nio.file.Paths.get(root)
        val walk = java.nio.file.Files.walk(r)
        try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
          .map(p => r.relativize(p).toString -> java.nio.file.Files.readAllBytes(p).toSeq).toMap
        finally walk.close()
      }
      val (a, b) = (files(v1), files(v2))
      assert(a.keySet === b.keySet)
      assert(a.keySet.contains("0/.zarray") && a.keys.count(_.startsWith("0/0.")) > 1)
      a.keys.foreach(k => assert(a(k) === b(k), s"$k differs"))
    }
  }

  test("v2 write: 3D tiles round-trip with a z axis") {
    tempDir("graft-ngff-v2") { root =>
      val dir = s"$root/vol"
      import spark.implicits._
      val pixels = Seq.tabulate(400)(i =>
        (0, i % 3, i % 11, (i * 3) % 13, (i % 17 + 1).toDouble))
        .toDF("c", "z", "y", "x", "value")
        .groupBy("c", "z", "y", "x").agg(sum("value").as("value"))
      val tiles = RasterOps.pixelsToTiles3d(pixels, tileSize = 8)
      tiles.write.format("ngff").option("tileSize", 8).mode("overwrite").save(dir)
      val (back, meta) = NgffRaster.read(spark, dir)
      assert(meta.axes === Seq("c", "z", "y", "x"))
      val key = Seq("scale", "c", "z", "tile_y", "tile_x")
      val a = tiles.orderBy(key.map(col): _*).collect().map(_.toString).toSeq
      val b = back.orderBy(key.map(col): _*).collect().map(_.toString).toSeq
      assert(a === b)
    }
  }

  test("v2 write: overwrite truncates stale chunks from a prior larger write") {
    withStore { root =>
      val storeDir = s"$root/img"
      val dir = s"$root/trunc"
      val src = NgffRaster.read(spark, storeDir)._1
      src.write.format("ngff").option("tileSize", 8).mode("overwrite").save(dir)
      val small = src.filter(col("tile_y") === 0 && col("tile_x") === 0)
      small.write.format("ngff").option("tileSize", 8).mode("overwrite").save(dir)
      val (back, _) = NgffRaster.read(spark, dir)
      assert(back.count() === small.count(),
        "stale chunks from the first write must not survive overwrite")
    }
  }

  test("v2 write: missing tileSize option fails loudly") {
    withStore { root =>
      val storeDir = s"$root/img"
      val dir = s"$root/bad"
      val src = NgffRaster.read(spark, storeDir)._1
      val e = intercept[Exception] {
        src.write.format("ngff").mode("overwrite").save(dir)
      }
      assert(e.getMessage.contains("tileSize") ||
        Option(e.getCause).exists(_.getMessage.contains("tileSize")))
    }
  }
}
