package graft.streaming

import graft.{SparkTestBase, Tables}
import graft.pipeline.TextIndex
import org.apache.spark.sql.functions._

class DocStreamSpec extends SparkTestBase {

  private val schemaDDL = "doc_id LONG, text STRING"

  test("streaming per-batch probe union equals the one-shot batch probe") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val newDocs = corpus.filter(col("doc_id") % 5 === 0)

    tempDir("graft_docstream_") { tmp =>
      val table = "graft_band_index_docstream"
      try {
        TextIndex.writeBandIndex(corpus, table, tmp.resolve("idx").toString)
        val index = TextIndex.readBandIndex(spark, table)

        // one-shot batch probe of everything that will arrive
        val batchPairs = TextIndex.probe(index, newDocs)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(batchPairs.nonEmpty, "fixture must produce candidates")

        // stage the same docs as 3 files -> 3 micro-batches
        val srcDir = tmp.resolve("src").toString
        newDocs.repartition(3).write.parquet(srcDir)
        val outDir = tmp.resolve("out").toString
        val q = DocStream.streamingNearDupProbe(spark, srcDir, schemaDDL,
          index, outDir, maxFilesPerTrigger = Some(1))
        try assert(q.awaitTermination(120000),
          "streaming probe did not terminate within 120 s")
        finally q.stop()

        val streamed = spark.read.parquet(outDir)
        val nBatches = streamed.select("batch_id").distinct().count()
        assert(nBatches >= 2, s"expected multiple micro-batches, got $nBatches")
        val streamedPairs = streamed.select("doc_id", "corpus_id", "n_bands")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(streamedPairs == batchPairs)
        // each new doc is screened in exactly one batch — no pair repeats
        assert(streamed.count() == streamedPairs.size)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
      }
    }
  }

  test("streaming FastSS probe union equals the one-shot probe; batches disjoint") {
    import graft.pipeline.ErIndex
    import spark.implicits._
    val terms = ((1 to 80).map(i => f"${(i * 2654435761L) & 0xffffffffL}%08x") ++
      (1 to 80 by 4).map(i => "z" + f"${(i * 2654435761L) & 0xffffffffL}%08x".substring(1)))
      .distinct.toDF("term")
    val batch = terms.filter(substring(col("term"), 2, 1).isin("0", "3", "a", "z"))
    tempDir("graft_fss_ds_") { tmp =>
      val table = "graft_fastss_docstream"
      try {
        ErIndex.writeFastSSIndex(terms, table, tmp.resolve("idx").toString)
        val oneShot = ErIndex.probeFastSS(spark, table, batch)
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
        assert(oneShot.nonEmpty, "fixture must contain near-matches")
        val srcDir = tmp.resolve("src").toString
        batch.repartition(3).write.parquet(srcDir)
        val outDir = tmp.resolve("out").toString
        val q = DocStream.streamingFastSSProbe(spark, srcDir, "term STRING",
          table, outDir, maxFilesPerTrigger = Some(1))
        try assert(q.awaitTermination(120000),
          "streaming FastSS probe did not terminate within 120 s")
        finally q.stop()
        val streamed = spark.read.parquet(outDir)
        assert(streamed.select("batch_id").distinct().count() >= 2)
        val streamedPairs = streamed.select("term", "corpus_term", "dist")
          .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
        assert(streamedPairs == oneShot)
        // a term is screened in exactly one batch — no pair repeats
        assert(streamed.count() == streamedPairs.size)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
      }
    }
  }

  test("streaming BM25 append: drained stream equals the one-shot full build") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    val base = corpus.filter(col("doc_id") % 5 =!= 0)
    val arriving = corpus.filter(col("doc_id") % 5 === 0)

    tempDir("graft_bm25stream_") { tmp =>
      val (tFull, tStream) = ("graft_bm25_ds_full", "graft_bm25_ds_stream")
      try {
        TextIndex.writeBm25Index(corpus, tFull, tmp.resolve("full").toString)
        TextIndex.writeBm25Index(base, tStream, tmp.resolve("incr").toString)
        val srcDir = tmp.resolve("src").toString
        arriving.repartition(3).write.parquet(srcDir)
        val q = DocStream.streamingBm25Append(spark, srcDir, schemaDDL,
          tStream, maxFilesPerTrigger = Some(1))
        try assert(q.awaitTermination(120000),
          "streaming BM25 append did not terminate within 120 s")
        finally q.stop()

        val (pF, sF) = TextIndex.readBm25Index(spark, tFull)
        val (pS, sS) = TextIndex.readBm25Index(spark, tStream)
        assert(sS.select("n_docs", "avgdl").collect().toSeq ===
          sF.select("n_docs", "avgdl").collect().toSeq)
        def rank(p: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame) =
          TextIndex.bm25RankIndexed(p, s, Seq("spark", "join", "vector"), k = 10)
            .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
        val got = rank(pS, sS)
        assert(got === rank(pF, sF) && got.nonEmpty)
      } finally {
        Seq(tFull, tStream).foreach { t =>
          spark.sql(s"DROP TABLE IF EXISTS `$t`")
          spark.sql(s"DROP TABLE IF EXISTS `${t}_stats`")
        }
      }
    }
  }

  test("streaming Z-ordered ingest: post-compaction readBox equals the batch path") {
    import spark.implicits._
    import graft.ops.ZOrder
    val all = (0 until 4000).map { i =>
      (i.toLong, (i * 131 % 997).toDouble / 10.0, (i * 379 % 991).toDouble / 10.0)
    }.toDF("id", "x", "y")
    val base = all.filter(col("id") < 2000)
    val arriving = all.filter(col("id") >= 2000)
    tempDir("graft_zstream_") { tmp =>
      val path = tmp.resolve("pts").toString
      ZOrder.writeZOrdered(base, "x", "y", path, 0.0, 100.0, 0.0, 100.0,
        bits = 10, numPartitions = Some(4))
      val srcDir = tmp.resolve("src").toString
      arriving.repartition(3).write.parquet(srcDir)
      // 3 files -> 3 micro-batches; compactEvery=3 fires the compaction
      // on the last batch (batchId 2)
      val q = EventStream.streamingZOrderedIngest(spark, srcDir,
        "id LONG, x DOUBLE, y DOUBLE", path, compactEvery = 3,
        maxFilesPerTrigger = Some(1))
      try assert(q.awaitTermination(120000),
        "streaming ingest did not terminate within 120 s")
      finally q.stop()
      // the batch query path reads the streamed-into layout unchanged
      val got = ZOrder.readBox(spark, path, 20.0, 40.0, 30.0, 60.0, level = 4)
        .select("id", "x", "y").as[(Long, Double, Double)].collect().toSet
      val want = all.filter(col("x") >= 20.0 && col("x") <= 40.0 &&
          col("y") >= 30.0 && col("y") <= 60.0)
        .as[(Long, Double, Double)].collect().toSet
      assert(want.nonEmpty && got == want,
        s"Z ingest diverged: ${got.size} vs ${want.size} rows")
      // the compaction swap preserved the layout metadata
      assert(ZOrder.readMeta(spark, path).exists(m => m.bits == 10 && m.xCol == "x"))
      // and restored GLOBAL clustering: data files hold disjoint key bands
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("zkey").as("lo"), max("zkey").as("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      perFile.sliding(2).foreach {
        case Array((_, h1), (l2, _)) =>
          assert(l2 > h1, s"overlapping key bands after compaction: ${perFile.toSeq}")
        case _ =>
      }
    }
  }

  test("checkpointed probe RESTARTS after the last committed batch (no re-screening)") {
    val sf = "/root/testdata/sf0.001"
    val corpus = Tables.documents(spark, sf).select("doc_id", "text")
    tempDir("graft_docstream_ckpt_") { tmp =>
      val table = "graft_band_index_ckpt"
      try {
        TextIndex.writeBandIndex(corpus, table, tmp.resolve("idx").toString)
        val index = TextIndex.readBandIndex(spark, table)
        val srcDir = tmp.resolve("src").toString
        val outDir = tmp.resolve("out").toString
        val ckpt = tmp.resolve("ckpt").toString

        def stage(pred: org.apache.spark.sql.Column): Unit =
          corpus.filter(pred).coalesce(1).write.mode("append").parquet(srcDir)
        def runOnce(): Unit = {
          val q = DocStream.streamingNearDupProbe(spark, srcDir, schemaDDL,
            index, outDir, checkpointDir = Some(ckpt))
          try assert(q.awaitTermination(120000), "probe run did not terminate")
          finally q.stop()
        }

        // run 1 drains only the first slice; run 2 must resume AFTER it —
        // the first slice's docs are never screened again
        stage(col("doc_id") % 10 === 0)
        runOnce()
        val run1 = spark.read.parquet(outDir)
          .agg(max("batch_id"), count(lit(1))).head()
        stage(col("doc_id") % 10 === 5)
        runOnce()
        val all = spark.read.parquet(outDir)
        // resumed batch ids continue past run 1's
        assert(all.agg(max("batch_id")).head().getLong(0) > run1.getLong(0))
        // every (doc, corpus, batch) row exactly once — nothing re-emitted
        assert(all.count() ==
          all.select("doc_id", "corpus_id", "batch_id").distinct().count())
        // union across the restart equals the one-shot probe of everything
        val oneShot = TextIndex.probe(index,
          corpus.filter(col("doc_id") % 10 === 0 || col("doc_id") % 10 === 5))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val streamed = all.select("doc_id", "corpus_id", "n_bands")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(streamed == oneShot && oneShot.nonEmpty)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
      }
    }
  }

  test("streaming SNM probe: per-micro-batch outputs equal per-batch one-shot probes") {
    import graft.pipeline.ErIndex
    import spark.implicits._
    val recs = (1 to 200).map { i =>
      (i.toLong, f"${(i * 1099511628211L) & 0xffffffffL}%08x")
    }.toDF("id", "key")
    val stored = recs.filter(col("id") % 10 =!= 3)
    val batch = recs.filter(col("id") % 10 === 3)
    tempDir("graft_snm_ds_") { tmp =>
      val table = "graft_snm_docstream"
      try {
        ErIndex.writeSnmLayout(stored, table, tmp.resolve("layout").toString,
          "key", "id", numRanges = 4)
        // one-shot probes, one per deterministic sub-batch (SNM batch rows
        // interact through the window, so composition is semantic)
        val want = (0 to 2).flatMap { i =>
          ErIndex.probeSnm(spark, table, batch.filter(col("id") % 3 === i),
              "key", "id", window = 4)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }.toSet
        assert(want.nonEmpty, "fixture must produce pairs")
        val srcDir = tmp.resolve("src").toString
        (0 to 2).foreach { i =>
          batch.filter(col("id") % 3 === i).coalesce(1)
            .write.mode("append").parquet(srcDir)
        }
        val outDir = tmp.resolve("out").toString
        val q = DocStream.streamingSnmProbe(spark, srcDir, "id BIGINT, key STRING",
          table, outDir, "key", "id", window = 4, maxFilesPerTrigger = Some(1))
        try assert(q.awaitTermination(120000),
          "streaming SNM probe did not terminate within 120 s")
        finally q.stop()
        val streamed = spark.read.parquet(outDir)
        assert(streamed.select("batch_id").distinct().count() == 3)
        val got = streamed.select("id_a", "id_b")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got == want)
        // no cross-sub-batch pair can form -> no repeats across batches
        assert(streamed.count() == got.size)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        spark.sql(s"DROP TABLE IF EXISTS `${table}_manifest`")
      }
    }
  }

  test("streaming span probe: per-micro-batch outputs equal per-batch one-shot probes") {
    import graft.pipeline.TextIndex
    import spark.implicits._
    // i % 5 templates so every doc_id % 3 sub-batch of the % 4 == 1
    // batch holds template docs (an % 6 period would alias with % 4 and
    // % 3 into a single spanning sub-batch)
    val docs = (1 to 120).map { i =>
      val core = if (i % 5 < 2)
        s"alpha beta gamma delta epsilon zeta eta theta shared run ${i % 2}"
      else s"solo text $i with tokens ${i * 13} ${i * 29} spread wide apart here now"
      (i.toLong, core)
    }.toDF("doc_id", "text")
    val stored = docs.filter(col("doc_id") % 4 =!= 1)
    val batch = docs.filter(col("doc_id") % 4 === 1)
    tempDir("graft_span_ds_") { tmp =>
      val table = "graft_span_docstream"
      try {
        TextIndex.writeSpanIndex(stored, table, tmp.resolve("idx").toString, k = 8)
        // one-shot probes per deterministic sub-batch (grams duplicate
        // within a batch, so composition is semantic — the SNM discipline)
        val want = (0 to 2).flatMap { i =>
          TextIndex.probeSpans(spark, table, batch.filter(col("doc_id") % 3 === i))
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        }.toSet
        assert(want.nonEmpty, "fixture must produce duplicate spans")
        val srcDir = tmp.resolve("src").toString
        (0 to 2).foreach { i =>
          batch.filter(col("doc_id") % 3 === i).coalesce(1)
            .write.mode("append").parquet(srcDir)
        }
        val outDir = tmp.resolve("out").toString
        val q = DocStream.streamingSpanProbe(spark, srcDir,
          "doc_id BIGINT, text STRING", table, outDir,
          maxFilesPerTrigger = Some(1))
        try assert(q.awaitTermination(120000),
          "streaming span probe did not terminate within 120 s")
        finally q.stop()
        val streamed = spark.read.parquet(outDir)
        assert(streamed.select("batch_id").distinct().count() == 3)
        val got = streamed.select("doc_id", "span_start", "span_tokens")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
        assert(got == want)
        // a doc lives in exactly one sub-batch -> no repeats
        assert(streamed.count() == got.size)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
      }
    }
  }
}
