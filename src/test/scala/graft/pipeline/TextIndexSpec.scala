package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The at-rest LSH band index: parity with the recompute cross-corpus
  * path, and the exchange-free index side (the point of bucketing).
  */
class TextIndexSpec extends SparkTestBase {
  import spark.implicits._

  // duplicate-heavy corpus: every 7th doc repeats one of 5 templates with
  // small edits, the rest are distinct
  private lazy val corpus = (1 to 300).map { i =>
    val text =
      if (i % 7 == 0) s"the quick brown fox jumps over the lazy dog variant ${i % 5}"
      else s"unique document number $i with its own words ${i * 31} and ${i * 17}"
    (i.toLong, text)
  }.toDF("doc_id", "text")

  private lazy val batch = corpus.filter($"doc_id" % 4 === 0)

  private def withIndex[A](tag: String)(f: org.apache.spark.sql.DataFrame => A): A = {
    tempDir(s"tidx_$tag") { tmp =>
      val table = s"graft_tidx_$tag"
      try {
        TextIndex.writeBandIndex(corpus, table, tmp.resolve("idx").toString)
        f(TextIndex.readBandIndex(spark, table))
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
      }
    }
  }

  test("positional index: phraseCountIndexed == phraseCount hits, term IN pushed to the scan") {
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha"), // "alpha beta" twice, "alpha beta alpha" twice
      (2L, "beta alpha"),                  // no "alpha beta"
      (3L, "alpha beta gamma"),            // once
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    tempDir("tidx_pos") { tmp =>
      val table = "graft_tidx_pos"
      try {
        TextIndex.writePositionalIndex(docs, table, tmp.resolve("idx").toString)
        for (phrase <- Seq("alpha beta", "alpha beta alpha", "beta alpha")) {
          val indexed = TextIndex.phraseCountIndexed(spark, table, phrase)
            .as[(Long, Long)].collect().toMap
          val scan = TextIndex.phraseCount(docs, phrase)
            .filter($"n_occurrences" > 0)
            .select($"doc_id", $"n_occurrences").as[(Long, Long)].collect().toMap
          assert(indexed === scan, s"phrase '$phrase' mismatch")
        }
        // the duplicated-term phrase intersects the SAME posting list twice
        val dup = TextIndex.phraseCountIndexed(spark, table, "alpha beta alpha")
          .as[(Long, Long)].collect().toMap
        assert(dup === Map(1L -> 2L))
        val plan = TextIndex.phraseCountIndexed(spark, table, "alpha beta")
          .queryExecution.executedPlan.toString
        assert(plan.contains("PushedFilters") && plan.contains("In(term"),
          s"term IN must push to the postings scan:\n$plan")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
      }
    }
  }

  test("at-rest probe matches the recompute cross-corpus path row-for-row") {
    withIndex("parity") { idx =>
      val atRest = TextIndex.probe(idx, batch)
        .as[(Long, Long, Long)].collect().toSet
      val recompute = Dedup.crossCorpusCandidates(batch, corpus,
        refOutCol = "corpus_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(atRest === recompute)
      assert(atRest.exists { case (a, b, _) => a != b },
        "fixture must produce at least one non-self candidate")
    }
  }

  test("probe plans with NO exchange on the index side (bucketed scan)") {
    withIndex("plan") { idx =>
      // force SMJ so the exchange-free shape is visible (AQE would
      // broadcast this tiny probe side, hiding the property under test)
      val l = Dedup.lshBands(batch, "text", "doc_id")
        .select(col("doc_id"), col("band"), col("band_key"))
      val joined = l.hint("merge")
        .join(idx.select(col("doc_id").as("corpus_id"), col("band"), col("band_key")),
          Seq("band", "band_key"))
      joined.collect()
      // AQE renders the initial plan below the final one — count only the
      // final section or every exchange appears twice
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(plan.contains("Bucketed: true"), s"index scan not bucketed:\n$plan")
      // exactly one exchange: the probe side; the bucketed index side has none
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 1, s"index side should not shuffle:\n$plan")
    }
  }

  test("BM25 append equals a full rebuild: postings, merged stats, and ranking") {
    // empty-text doc in the APPENDED batch: contributes to N/avgdl but
    // has no postings — the stats merge must still be exact
    val docs = corpus.union(Seq((9999L, "")).toDF("doc_id", "text"))
    tempDir("tidx_bm25_full") { tmpF =>
      tempDir("tidx_bm25_incr") { tmpI =>
        val (tf, ti) = ("graft_tidx_bm25_full", "graft_tidx_bm25_incr")
        try {
          TextIndex.writeBm25Index(docs, tf, tmpF.resolve("idx").toString)
          TextIndex.writeBm25Index(docs.filter($"doc_id" % 4 =!= 0),
            ti, tmpI.resolve("idx").toString)
          TextIndex.appendToBm25Index(docs.filter($"doc_id" % 4 === 0), ti)
          val (pF, sF) = TextIndex.readBm25Index(spark, tf)
          val (pI, sI) = TextIndex.readBm25Index(spark, ti)
          assert(pI.as[(String, Long, Double, Double)].collect().toSet ===
            pF.as[(String, Long, Double, Double)].collect().toSet)
          // stats merge is EXACT: n adds, decimal sum_dl adds, avgdl is the
          // same double as the rebuild's
          assert(sI.select("n_docs", "avgdl").as[(Long, Double)].head() ===
            sF.select("n_docs", "avgdl").as[(Long, Double)].head())
          val rF = TextIndex.bm25RankIndexed(pF, sF, Seq("quick", "unique"), k = 10)
            .as[(Long, Double, Long)].collect().toSeq
          val rI = TextIndex.bm25RankIndexed(pI, sI, Seq("quick", "unique"), k = 10)
            .as[(Long, Double, Long)].collect().toSeq
          assert(rI === rF && rI.nonEmpty)
        } finally {
          Seq(tf, ti).foreach { t =>
            spark.sql(s"DROP TABLE IF EXISTS `$t`")
            spark.sql(s"DROP TABLE IF EXISTS `${t}_stats`")
          }
        }
      }
    }
  }

  test("Dirichlet QL: hand-computed scores, and indexed == scan form") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "spark spark join"),   // tf(spark)=2, tf(join)=1, dl=3
      (2L, "spark vector"),       // tf(spark)=1, tf(vector)=1, dl=2
      (3L, "other words here"),   // no query terms -> not a candidate
      (4L, "join")                // tf(join)=1, dl=1
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "join", "vector")
    val mu = 10.0
    val got = TextIndex.qlRank(docs, terms, k = 10, mu = mu)
      .orderBy(col("doc_id"))
      .as[(Long, Double, Long)].collect().toSeq
    // T=9; cf: spark=3, join=2, vector=1; p=cf/9
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    def lbg(cf: Double) = r6(math.log(mu * cf / 9.0))
    def dec6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val sumLbg = dec6(lbg(3)) + dec6(lbg(2)) + dec6(lbg(1))
    def lm(tf: Double, cf: Double) = r6(math.log(tf + mu * cf / 9.0))
    def score(matched: Seq[(Double, Double)], dl: Double) = {
      val m = matched.map { case (tf, cf) => dec6(lm(tf, cf) - lbg(cf)) }.sum
      r6(m.toDouble + sumLbg.toDouble - 3 * r6(math.log(dl + mu)))
    }
    val want = Seq(
      (1L, score(Seq((2.0, 3.0), (1.0, 2.0)), 3.0), 2L),
      (2L, score(Seq((1.0, 3.0), (1.0, 1.0)), 2.0), 2L),
      (4L, score(Seq((1.0, 2.0)), 1.0), 1L))
    assert(got.map(_._1) === want.map(_._1))
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._2 - w._2) < 1e-9, s"doc ${g._1}: ${g._2} vs ${w._2}")
      assert(g._3 === w._3)
    }
    // at-rest form: identical rows through the postings/stats layout
    tempDir("graft_qlidx_") { tmp =>
      val t = "graft_ql_spec_idx"
      try {
        TextIndex.writeBm25Index(docs, t, tmp.resolve("idx").toString)
        val (p, st) = TextIndex.readBm25Index(spark, t)
        val idx = TextIndex.qlRankIndexed(p, st, terms, k = 10, mu = mu)
          .orderBy(col("doc_id")).as[(Long, Double, Long)].collect().toSeq
        assert(idx === got)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$t`")
        spark.sql(s"DROP TABLE IF EXISTS `${t}_stats`")
      }
    }
  }

  test("hot-bucket cap applies to each side independently") {
    withIndex("cap") { idx =>
      // cap of 1 drops every bucket shared by >1 doc on either side ->
      // only singleton-bucket collisions survive; with templates repeated
      // ~8x, the capped result must be a strict subset of the uncapped one
      val uncapped = TextIndex.probe(idx, batch, maxBucketSize = None)
        .filter($"doc_id" =!= $"corpus_id").count()
      val capped = TextIndex.probe(idx, batch, maxBucketSize = Some(1))
        .filter($"doc_id" =!= $"corpus_id").count()
      assert(capped < uncapped, s"cap=1 ($capped) must drop pairs vs uncapped ($uncapped)")
    }
  }

  test("span index at rest: probe-after-append == rebuild == full recompute on batch docs") {
    // corpus where every 6th doc shares an 8+-token run with its neighbor
    val docs = (1 to 120).map { i =>
      val core = if (i % 6 < 2)
        s"alpha beta gamma delta epsilon zeta eta theta shared run ${i % 2}"
      else s"solo text $i with tokens ${i * 13} ${i * 29} spread wide apart here now"
      (i.toLong, core)
    }.toDF("doc_id", "text")
    val batch = docs.filter($"doc_id" % 4 === 1)
    val stored = docs.filter($"doc_id" % 4 =!= 1)
    tempDir("tidx_span") { tmp =>
      val t1 = "graft_tidx_span_a"; val t2 = "graft_tidx_span_b"
      try {
        TextIndex.writeSpanIndex(stored.filter($"doc_id" % 3 =!= 0), t1,
          tmp.resolve("a").toString, k = 8)
        TextIndex.appendToSpanIndex(stored.filter($"doc_id" % 3 === 0), t1)
        val inc = TextIndex.probeSpans(spark, t1, batch)
          .orderBy("doc_id", "span_start")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
        TextIndex.writeSpanIndex(stored, t2, tmp.resolve("b").toString, k = 8)
        val full = TextIndex.probeSpans(spark, t2, batch)
          .orderBy("doc_id", "span_start")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
        assert(inc === full, "append != rebuild")
        // recompute oracle: full-union duplicateSpans restricted to batch
        val batchIds = batch.select("doc_id").as[Long].collect().toSet
        val want = Dedup.duplicateSpans(docs, k = 8)
          .orderBy("doc_id", "span_start")
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
          .filter(x => batchIds.contains(x._1)).toSeq
        assert(inc === want, "probe != full-union recompute")
        assert(inc.nonEmpty, "fixture must contain duplicated spans")
        // the index-side gram count aggregates bucket-locally: no exchange
        // between the index scan and its aggregate
        val plan = TextIndex.probeSpans(spark, t2, batch)
          .queryExecution.executedPlan.toString
        assert(plan.contains("Bucketed: true"),
          s"span probe must engage the bucketed layout:\n$plan")
        // k mismatch refuses loudly via the stored property
        assert(TextIndex.spanIndexK(spark, t2) == 8)
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$t1`")
        spark.sql(s"DROP TABLE IF EXISTS `$t2`")
      }
    }
  }
}
