package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class ErIndexSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic corpus of 8-char hex "entity keys" with planted 1-edit
  // variants (leading-char replacement + trailing insertion)
  private lazy val terms = {
    val base = (1 to 120).map(i => f"${(i * 2654435761L) & 0xffffffffL}%08x")
    val variants = base.zipWithIndex.collect {
      case (t, i) if i % 5 == 0 => "z" + t.substring(1)
      case (t, i) if i % 7 == 0 => t + "q"
    }
    (base ++ variants).distinct.toDF("term")
  }

  private def withTmp[A](tag: String)(f: java.nio.file.Path => A): A =
    tempDir(s"eridx_$tag")(f)

  test("FastSS index: probe-after-append == probe-after-rebuild == brute force") {
    withTmp("fss") { tmp =>
      val t1 = "graft_eridx_fss_a"; val t2 = "graft_eridx_fss_b"
      try {
        val part1 = terms.filter(crc32(col("term")) % 5 =!= 4)
        val part2 = terms.filter(crc32(col("term")) % 5 === 4)
        val batch = terms.filter(substring(col("term"), 3, 1).isin("0", "7", "e"))
        // incremental: build on 4/5, append 1/5
        ErIndex.writeFastSSIndex(part1, t1, tmp.resolve("a").toString)
        ErIndex.appendToFastSSIndex(part2, t1)
        val inc = ErIndex.probeFastSS(spark, t1, batch)
          .orderBy("term", "corpus_term").collect().toSeq
        // full rebuild
        ErIndex.writeFastSSIndex(terms, t2, tmp.resolve("b").toString)
        val full = ErIndex.probeFastSS(spark, t2, batch)
          .orderBy("term", "corpus_term").collect().toSeq
        assert(inc === full, "append != rebuild")
        // brute force over the cross product (test-only oracle)
        val brute = batch.select(col("term"))
          .crossJoin(terms.select(col("term").as("corpus_term")))
          .filter(col("term") =!= col("corpus_term"))
          .withColumn("dist", levenshtein(col("term"), col("corpus_term")))
          .filter(col("dist") <= 1)
          .orderBy("term", "corpus_term").collect().toSeq
        assert(inc === brute, "FastSS probe must be recall-exact at d=1")
        assert(inc.nonEmpty, "fixture must contain real near-matches")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$t1`")
        spark.sql(s"DROP TABLE IF EXISTS `$t2`")
      }
    }
  }

  test("FastSS probe plan: no exchange on the index side (bucketed on the join key)") {
    withTmp("fssplan") { tmp =>
      val t = "graft_eridx_fss_plan"
      try {
        ErIndex.writeFastSSIndex(terms, t, tmp.resolve("idx").toString)
        val batch = terms.limit(10)
        val plan = ErIndex.probeFastSS(spark, t, batch)
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"index scan must engage the bucketed layout:\n$plan")
        // exchanges belong to the (small) batch side and the final
        // distinct only — never between the index scan and the join
        val idxScanAt = plan.indexOf("Bucketed: true")
        val joinAt = plan.lastIndexOf("SortMergeJoin")
        assert(!plan.contains("CartesianProduct"), s"product in probe:\n$plan")
        if (joinAt >= 0) {
          val between = plan.substring(0, idxScanAt)
          assert(!between.substring(between.lastIndexOf("Scan parquet").max(0))
            .contains("Exchange hashpartitioning(key"),
            s"index side re-shuffled on key:\n$plan")
        }
      } finally spark.sql(s"DROP TABLE IF EXISTS `$t`")
    }
  }

  test("FastSS probe deeper than the build maxDist refuses loudly") {
    withTmp("fssdepth") { tmp =>
      val t = "graft_eridx_fss_depth"
      try {
        ErIndex.writeFastSSIndex(terms, t, tmp.resolve("idx").toString, maxDist = 1)
        assert(ErIndex.fastSSIndexMaxDist(spark, t) == 1)
        val ex = intercept[IllegalArgumentException] {
          ErIndex.probeFastSS(spark, t, terms.limit(5), maxDist = 2)
        }
        assert(ex.getMessage.contains("maxDist"), ex.getMessage)
        // the streaming probe validates at setup, before any batch runs
        val ex2 = intercept[IllegalArgumentException] {
          graft.streaming.DocStream.streamingFastSSProbe(spark,
            tmp.resolve("nosrc").toString, "term STRING", t,
            tmp.resolve("noout").toString, maxDist = 2)
        }
        assert(ex2.getMessage.contains("maxDist"), ex2.getMessage)
      } finally spark.sql(s"DROP TABLE IF EXISTS `$t`")
    }
  }

  test("SNM probe refuses a layout with EMPTY ranges (ids absent from the manifest)") {
    withTmp("snmgap") { tmp =>
      val t = "graft_eridx_snm_gap"
      try {
        // An EMPTY middle range (numRanges beyond realizable bounds)
        // writes no rows, so its id never reaches the manifest — the
        // ±1-adjacency argument breaks across that gap. The manifest is
        // derived state, so simulate the gap deterministically: drop one
        // middle id from it (an empty partition produces exactly this).
        val recs = (1 to 240).map { i =>
          (i.toLong, f"${(i * 1099511628211L) & 0xffffffffL}%08x")
        }.toDF("id", "key")
        ErIndex.writeSnmLayout(recs, t, tmp.resolve("layout").toString,
          "key", "id", numRanges = 8)
        val man = spark.table(s"${t}_manifest")
        val kept = man.filter(col("range_id") =!= 3).collect().toSeq
        spark.createDataFrame(
            spark.sparkContext.parallelize(kept, 1), man.schema)
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${t}_manifest")
        val batch = recs.select((col("id") + 10000).as("id"), col("key"))
        val ex = intercept[IllegalArgumentException] {
          ErIndex.probeSnm(spark, t, batch, "key", "id", window = 2)
        }
        assert(ex.getMessage.contains("empty") || ex.getMessage.contains("fewer"),
          ex.getMessage)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        spark.sql(s"DROP TABLE IF EXISTS `${t}_manifest`")
      }
    }
  }

  test("SNM layout: probe-after-append == pairs involving batch of a full recompute") {
    withTmp("snm") { tmp =>
      val t = "graft_eridx_snm"
      try {
        val recs = (1 to 240).map { i =>
          (i.toLong, f"${(i * 1099511628211L) & 0xffffffffL}%08x")
        }.toDF("id", "key")
        val batch = recs.filter(col("id") % 10 === 3)
        val stored = recs.filter(col("id") % 10 =!= 3)
        ErIndex.writeSnmLayout(stored.filter(col("id") % 5 =!= 4), t,
          tmp.resolve("layout").toString, "key", "id", numRanges = 8)
        ErIndex.appendToSnmLayout(stored.filter(col("id") % 5 === 4), t, "key", "id")
        for (window <- Seq(2, 4, 6)) {
          val got = ErIndex.probeSnm(spark, t, batch, "key", "id", window)
            .orderBy("id_a", "id_b")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          val all = Dedup.sortedNeighborPairs(recs, "key", "id", window)
          val bIds = batch.select(col("id")).as[Long].collect().toSet
          val want = all.collect()
            .map(r => (r.getLong(0), r.getLong(1)))
            .filter { case (a, b) => bIds.contains(a) || bIds.contains(b) }
            .sorted.toSeq
          assert(got === want, s"window $window: probe != full recompute")
          assert(got.nonEmpty, s"window $window: fixture produced no pairs")
        }
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        spark.sql(s"DROP TABLE IF EXISTS `${t}_manifest`")
      }
    }
  }

  test("snmPairsAtRest == sortedNeighborPairs, including after an append") {
    withTmp("snmrest") { tmp =>
      val t = "graft_eridx_snm_rest"
      try {
        val recs = (1 to 300).map { i =>
          (i.toLong, f"${(i * 1099511628211L) & 0xffffffffL}%08x")
        }.toDF("id", "key")
        ErIndex.writeSnmLayout(recs.filter(col("id") % 4 =!= 0), t,
          tmp.resolve("layout").toString, "key", "id", numRanges = 8)
        ErIndex.appendToSnmLayout(recs.filter(col("id") % 4 === 0), t, "key", "id")
        for (window <- Seq(2, 5)) {
          val atRest = ErIndex.snmPairsAtRest(spark, t, window)
            .orderBy("id_a", "id_b")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          val scratch = Dedup.sortedNeighborPairs(recs, "key", "id", window)
            .orderBy("id_a", "id_b")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
          assert(atRest === scratch, s"window $window")
          assert(atRest.nonEmpty)
        }
        // the at-rest plan never range-exchanges: no RangePartitioning
        // exchange (the layout already holds the range order)
        val plan = ErIndex.snmPairsAtRest(spark, t, 4)
          .queryExecution.executedPlan.toString
        assert(!plan.contains("rangepartitioning("),
          s"at-rest pairing re-sorted the corpus:\n$plan")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        spark.sql(s"DROP TABLE IF EXISTS `${t}_manifest`")
      }
    }
  }

  test("SNM probe prunes partitions and refuses thin ranges") {
    withTmp("snmplan") { tmp =>
      val t = "graft_eridx_snm_plan"
      try {
        val recs = (1 to 240).map { i =>
          (i.toLong, f"${(i * 1099511628211L) & 0xffffffffL}%08x")
        }.toDF("id", "key")
        ErIndex.writeSnmLayout(recs, t, tmp.resolve("layout").toString,
          "key", "id", numRanges = 8)
        // a batch clustered at the low end of the key order touches few ranges
        val batch = recs.orderBy("key").limit(5)
          .select((col("id") + 10000).as("id"), col("key"))
        // the probe's corpus slice must partition-prune on range_id (the
        // probe itself hides the scan behind globalRank's checkpoint)
        val slicePlan = ErIndex.snmSlice(spark, t, batch, "key", "id", 3)
          .queryExecution.executedPlan.toString
        assert(slicePlan.contains("PartitionFilters") &&
          slicePlan.contains("range_id"),
          s"probe scan must prune on range_id:\n$slicePlan")
        val probe = ErIndex.probeSnm(spark, t, batch, "key", "id", window = 3)
        // correctness of the pruned probe on this clustered batch too
        val got = probe.orderBy("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        val union = recs.unionByName(batch)
        val bIds = batch.select(col("id")).as[Long].collect().toSet
        val want = Dedup.sortedNeighborPairs(union, "key", "id", 3)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .filter { case (a, b) => bIds.contains(a) || bIds.contains(b) }
          .sorted.toSeq
        assert(got === want)
        // thin ranges refuse loudly: window larger than any range can cover
        val ex = intercept[IllegalArgumentException] {
          ErIndex.probeSnm(spark, t, batch, "key", "id", window = 200)
        }
        assert(ex.getMessage.contains("window"), ex.getMessage)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        spark.sql(s"DROP TABLE IF EXISTS `${t}_manifest`")
      }
    }
  }
}
