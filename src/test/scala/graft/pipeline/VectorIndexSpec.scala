package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The persisted IVF-PQ index: layout round-trip, bit-for-bit parity with
  * the recompute path, and the partition-pruned probe join.
  */
class VectorIndexSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = (1 to 200).map(i =>
    (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.37 + d * 1.7))))
    .toDF("vec_id", "embedding")
  private lazy val cent = emb.filter(col("vec_id") % 40 === 1)
    .select(col("vec_id").as("centroid_id"), col("embedding"))
  private lazy val cb = emb.filter(col("vec_id") % 25 === 2)
    .select(col("vec_id").as("code_id"),
      posexplode(transform(sequence(lit(0), lit(1)),
        x => slice(col("embedding").cast("array<double>"), x * 8 + 1, lit(8))))
        .as(Seq("sub", "subvec")))
  private lazy val queries = emb.filter(col("vec_id") % 50 === 0)
    .select(col("vec_id").as("query_id"), col("embedding"))

  test("at-rest search matches the recompute path bit-for-bit") {
    tempDir("vidx_parity") { d =>
      val path = d.toString
      VectorIndex.writeIndex(emb, cent, cb, m = 2, subDim = 8, path)
      val atRest = VectorIndex.searchIndex(VectorIndex.readIndex(spark, path),
        cent, cb, queries, k = 4, m = 2, subDim = 8, nprobe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
      val recompute = Similarity.ivfPqSearch(emb, cent, cb, queries,
        k = 4, m = 2, subDim = 8, nprobe = 2)
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(atRest === recompute)
      assert(atRest.nonEmpty)
    }
  }

  test("frozen-model append equals a full rebuild, row-for-row and in search") {
    tempDir("vidx_full") { d =>
      val full = d.toString
      VectorIndex.writeIndex(emb, cent, cb, m = 2, subDim = 8, full)
      tempDir("vidx_incr") { di =>
        val incr = di.toString
        VectorIndex.writeIndex(emb.filter(col("vec_id") % 3 =!= 0),
          cent, cb, m = 2, subDim = 8, incr)
        VectorIndex.appendToIndex(emb.filter(col("vec_id") % 3 === 0),
          cent, cb, m = 2, subDim = 8, incr)
        def rows(p: String) = VectorIndex.readIndex(spark, p)
          .select("vec_id", "centroid_id", "codes")
          .as[(Long, Long, Seq[Long])].collect().toSet
        assert(rows(incr) === rows(full))
        def search(p: String) = VectorIndex.searchIndex(
          VectorIndex.readIndex(spark, p), cent, cb, queries,
          k = 4, m = 2, subDim = 8, nprobe = 2)
          .as[(Long, Long, Double, Int)].collect().toSet
        val got = search(incr)
        assert(got === search(full) && got.nonEmpty)
      }
    }
  }

  test("readIndex opens a partitioned index with no Spark job, after an append too") {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetOpen
    tempDir("vidx_open") { d =>
      val path = d.toString
      VectorIndex.writeIndex(emb.filter(col("vec_id") % 3 =!= 0),
        cent, cb, m = 2, subDim = 8, path)
      VectorIndex.appendToIndex(emb.filter(col("vec_id") % 3 === 0),
        cent, cb, m = 2, subDim = 8, path)
      var opened: org.apache.spark.sql.DataFrame = null
      var idx: org.apache.spark.sql.DataFrame = null
      val (jobs, _) = traced {
        opened = ParquetOpen.read(spark, path)
        idx = VectorIndex.readIndex(spark, path)
      }
      assert(jobs == 0)
      assert(opened.schema == spark.read.parquet(path).schema)
      assert(idx.schema("centroid_id").dataType == org.apache.spark.sql.types.LongType)
      assert(idx.count() == 200)
    }
  }

  test("index layout: one partition directory per cell; codes only, no raw vectors") {
    tempDir("vidx_layout") { d =>
      val path = d.toString
      VectorIndex.writeIndex(emb, cent, cb, m = 2, subDim = 8, path)
      val dirs = new java.io.File(path).listFiles()
        .filter(_.getName.startsWith("centroid_id=")).map(_.getName).sorted
      assert(dirs.nonEmpty, "expected centroid_id= partition directories")
      val idx = VectorIndex.readIndex(spark, path)
      assert(idx.columns.sorted.toSeq === Seq("centroid_id", "codes", "vec_id"),
        s"index must store codes only, got ${idx.columns.toSeq}")
      // ONE row per vector, carrying all m codes
      assert(idx.count() === emb.count())
      assert(idx.filter(size(col("codes")) =!= 2).isEmpty,
        "every row must carry exactly m codes")
    }
  }

  test("at-rest kernel scoring == recompute on randomized vectors (all probe depths)") {
    // the round-14 pivot scores through AdcKernel (row-local snapped
    // micro-long sums) while ivfPqSearch keeps the independent
    // join+aggregate DECIMAL(28,6) pipeline — randomized cross-check of
    // the two implementations, bit-for-bit
    val rng = new scala.util.Random(41)
    val rEmb = (1 to 150).map(i =>
      (i.toLong, Array.fill(12)(rng.nextDouble() * 6 - 3)))
      .toDF("vec_id", "embedding")
    val rCent = rEmb.filter(col("vec_id") % 30 === 1)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val rCb = rEmb.filter(col("vec_id") % 20 === 2)
      .select(col("vec_id").as("code_id"),
        posexplode(transform(sequence(lit(0), lit(2)),
          x => slice(col("embedding").cast("array<double>"), x * 4 + 1, lit(4))))
          .as(Seq("sub", "subvec")))
    val rQ = rEmb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    tempDir("vidx_randparity") { d =>
      val path = d.toString
      VectorIndex.writeIndex(rEmb, rCent, rCb, m = 3, subDim = 4, path)
      for (np <- Seq(1, 3, 5)) {
        val atRest = VectorIndex.searchIndex(VectorIndex.readIndex(spark, path),
          rCent, rCb, rQ, k = 6, m = 3, subDim = 4, nprobe = np)
          .as[(Long, Long, Double, Int)].collect().toSet
        val recompute = Similarity.ivfPqSearch(rEmb, rCent, rCb, rQ,
          k = 6, m = 3, subDim = 4, nprobe = np)
          .as[(Long, Long, Double, Int)].collect().toSet
        assert(atRest === recompute, s"nprobe=$np diverged")
        assert(atRest.nonEmpty)
      }
    }
  }

  test("model-side width refusal fires even with zero scored candidates") {
    tempDir("vidx_widths") { d =>
      val path = d.toString
      VectorIndex.writeIndex(emb, cent, cb, m = 2, subDim = 8, path)
      val idx = VectorIndex.readIndex(spark, path)
      // a codebook whose subvectors are the wrong width must refuse loudly
      // even if no candidate row would ever join against it
      val badCb = cb.withColumn("subvec",
        slice(col("subvec").cast("array<double>"), 1, 3))
      val ex = intercept[Exception] {
        VectorIndex.searchIndex(idx, cent, badCb, queries,
          k = 4, m = 2, subDim = 8, nprobe = 1).collect()
      }
      assert(ex.getMessage != null)
      // wrong-width query batch refuses too (old form silently ignored
      // trailing dims; the pivot asserts |qv| == m*subDim)
      val badQ = queries.withColumn("embedding",
        slice(col("embedding").cast("array<double>"), 1, 12))
      intercept[Exception] {
        VectorIndex.searchIndex(idx, cent.withColumn("embedding",
            slice(col("embedding").cast("array<double>"), 1, 12)),
          cb, badQ, k = 4, m = 2, subDim = 8, nprobe = 1).collect()
      }
    }
  }

  test("codebook width refusal fires on an index that is empty only at run time") {
    tempDir("vidx_empty_at_runtime") { d =>
      val path = d.toString
      VectorIndex.writeIndex(emb, cent, cb, m = 2, subDim = 8, path)
      // a data-column filter on the parquet index: no row survives, but only
      // the scan can tell, so the scoring plan still runs
      val empty = VectorIndex.readIndex(spark, path).filter(col("vec_id") < 0)
      val badCb = cb.withColumn("subvec",
        slice(col("subvec").cast("array<double>"), 1, 3))
      val ex = intercept[Exception] {
        VectorIndex.searchIndex(empty, cent, badCb, queries,
          k = 4, m = 2, subDim = 8, nprobe = 1).collect()
      }
      val msg = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
      assert(msg.contains("searchIndex: codebook subvector width mismatch (3 vs subDim = 8 dims)"), msg)
      // the same empty index with a well-formed codebook answers nothing
      assert(VectorIndex.searchIndex(empty, cent, cb, queries,
        k = 4, m = 2, subDim = 8, nprobe = 1).isEmpty)
    }
  }

  test("two-stage rerank: with full probe + corpus-wide shortlist it equals exact L2 top-k") {
    tempDir("vidx_rerank_full") { d =>
      val path = d.toString
      VectorIndex.writeIndex(emb, cent, cb, m = 2, subDim = 8, path)
      val got = VectorIndex.searchRerank(VectorIndex.readIndex(spark, path),
        cent, cb, emb, queries, k = 4, shortlist = 200, m = 2, subDim = 8,
        nprobe = 5)
        .as[(Long, Long, Double, Int)].collect().toSet
      // exact top-k by true squared L2, same snap + tie rule, computed
      // independently of the index machinery
      val d2 = aggregate(zip_with(col("__qv"), col("__v"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (s, t) => s + t)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("edist"), col("vec_id"))
      val want = queries.select(col("query_id"), col("embedding").cast("array<double>").as("__qv"))
        .crossJoin(emb.select(col("vec_id"), col("embedding").cast("array<double>").as("__v")))
        .withColumn("edist", TextAnalysis.round6(d2))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 4)
        .select(col("query_id"), col("vec_id"), col("edist"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
      assert(got === want)
      assert(got.nonEmpty)
    }
  }

  test("rerank draws only from the ADC shortlist and orders by exact distance") {
    tempDir("vidx_rerank_sub") { d =>
      val path = d.toString
      VectorIndex.writeIndex(emb, cent, cb, m = 2, subDim = 8, path)
      val idx = VectorIndex.readIndex(spark, path)
      val short = VectorIndex.searchIndex(idx, cent, cb, queries,
        k = 8, m = 2, subDim = 8, nprobe = 2)
        .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
      val rer = VectorIndex.searchRerank(idx, cent, cb, emb, queries,
        k = 4, shortlist = 8, m = 2, subDim = 8, nprobe = 2)
        .as[(Long, Long, Double, Int)].collect()
      assert(rer.nonEmpty)
      assert(rer.forall { case (q, v, _, _) => short.contains((q, v)) },
        "rerank candidates must come from the ADC shortlist")
      rer.groupBy(_._1).foreach { case (_, rows) =>
        val byRank = rows.sortBy(_._4)
        assert(byRank.map(_._3).toSeq === byRank.map(_._3).sorted.toSeq,
          "rank order must follow exact distance")
      }
    }
  }

  test("probe join prunes to the probed cells (runtime or static partition filter)") {
    tempDir("vidx_prune") { d =>
      val path = d.toString
      VectorIndex.writeIndex(emb, cent, cb, m = 2, subDim = 8, path)
      val idx = VectorIndex.readIndex(spark, path)
      // a static one-cell filter must prune the file scan to one directory
      val oneCell = cent.limit(1).select("centroid_id").as[Long].head()
      val scan = idx.filter(col("centroid_id") === oneCell)
        .queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters") && scan.contains("centroid_id"),
        s"static cell filter must reach PartitionFilters:\n$scan")
      // the search plan joins the index on the partition column with a
      // broadcast probe side — no shuffle of the index, no cartesian product
      val plan = VectorIndex.searchIndex(idx, cent, cb, queries,
        k = 3, m = 2, subDim = 8, nprobe = 1)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"probe join must broadcast:\n$plan")
      // and at run time the probe side prunes the index scan dynamically
      val search = VectorIndex.searchIndex(idx, cent, cb, queries,
        k = 3, m = 2, subDim = 8, nprobe = 1)
      search.collect()
      val ran = search.queryExecution.executedPlan.toString
      assert(ran.linesIterator.exists(l => l.contains("PartitionFilters") &&
        l.contains("dynamicpruningexpression")),
        s"index scan must carry a dynamic partition filter:\n$ran")
    }
  }
}
