package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Plan-shape assertions for the pipeline operators that must never produce
  * an all-pairs product: every candidate-generation stage joins on a bucket
  * key (equi-join), so the physical plan contains no CartesianProduct and no
  * BroadcastNestedLoopJoin. `bruteForceTopK` is the one intentional product
  * (the exact small-query-batch baseline) and is excluded.
  */
class PlanShapeSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = (1 to 200).map(i =>
    (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.37 + d * 1.7).toFloat)))
    .toDF("vec_id", "embedding")

  private def assertNoProduct(df: org.apache.spark.sql.DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"BroadcastNestedLoopJoin in:\n$plan")
  }

  test("hammingTopK: one deliberate broadcast bits scan, keyed rerank, no product") {
    val q = emb.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val plan = Similarity.hammingTopK(emb, q, k = 3, candidates = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    // the bits scan broadcasts the query batch over the corpus words —
    // exactly ONE nested-loop by design; the float-vector rerank must
    // stay a keyed (broadcastable) join, never a second scan product
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj === 1, s"expected exactly 1 BroadcastNestedLoopJoin:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      s"keyed rerank join missing in:\n$plan")
  }

  test("cosinePairs is bucket-gated: no product join in the plan") {
    assertNoProduct(Dedup.cosinePairs(emb, threshold = 0.5))
  }

  test("round-10 additions: SNM / mutualPairs / quantileNormalize / mmrSelect plan shapes") {
    val docs = (1 to 40).map(i => (i.toLong, s"s${i % 3}", i.toLong * 7 % 100))
      .toDF("doc_id", "source", "n_chars")
    // sorted-neighborhood pairing is a rank-block equi-join, never an
    // inequality self-join; its rank comes from the range-partition path
    val snm = Dedup.sortedNeighborPairs(docs, "n_chars", "doc_id", window = 3)
    assertNoProduct(snm)
    assert(graft.tools.PlanLint.lint(snm).isEmpty,
      s"SNM plan must be scale-safe: ${graft.tools.PlanLint.lint(snm)}")
    // mutual-kNN filter is one keyed swapped self-join
    val ranked = Seq((1L, 2L, 1), (2L, 1L, 1)).toDF("query_id", "vec_id", "rank")
    assertNoProduct(Similarity.mutualPairs(ranked))
    // quantile normalization's inverse CDF is a literal lookup — no range
    // join, no broadcast nested loop anywhere
    assertNoProduct(Sketches.quantileNormalize(docs, "source", "n_chars", bins = 8))
    // each MMR round is keyed join + struct-min argmax (the only product
    // is none at all; sims ride the query-keyed join)
    val cand = (1 to 12).map(i => (i.toLong % 3, i.toLong,
      (i % 7).toDouble / 10, Array.tabulate(4)(d => (i + d).toFloat)))
      .toDF("query_id", "vec_id", "rel", "embedding")
    assertNoProduct(Similarity.mmrSelect(cand, k = 2, lambda = 0.5))
  }

  test("pageRank: edges only ever meet rank frames through equi-joins") {
    val edges = (1 to 50).map(i => (s"n${i % 10}", s"n${(i * 3) % 10}"))
      .toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, iters = 2)
    val plan = pr.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    // the ONLY nested-loop joins are the broadcast 1-row N frame — one per
    // rank projection (init + one per iteration), never an edge product
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    assert(bnlj <= 3, s"expected <= 3 one-row-N BNLJs, got $bnlj:\n$plan")
  }

  test("searchRerank: shortlist and query vectors broadcast — no product join") {
    val embD = (1 to 120).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.29 + d * 1.3))))
      .toDF("vec_id", "embedding")
    val cent = embD.filter(col("vec_id") % 30 === 1)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val cb = embD.filter(col("vec_id") % 20 === 2)
      .select(col("vec_id").as("code_id"),
        posexplode(transform(sequence(lit(0), lit(1)),
          x => slice(col("embedding").cast("array<double>"), x * 8 + 1, lit(8))))
          .as(Seq("sub", "subvec")))
    val queries = embD.filter(col("vec_id") % 40 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val idx = VectorIndex.buildIndex(embD, cent, cb, m = 2, subDim = 8)
    val plan = VectorIndex.searchRerank(idx, cent, cb, embD, queries,
      k = 3, shortlist = 10, m = 2, subDim = 8, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    // the only nested-loop join is stage 1's probe crossJoin (queries x
    // the broadcast centroids, identifiable by its width-check condition;
    // the index build is a kernel projection); the rerank stage itself
    // must add none — its corpus and query joins are keyed and
    // broadcast-hash
    val bnlj = plan.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin")).toSeq
    assert(bnlj.forall(_.contains("vector width mismatch")),
      s"unexpected product join outside the centroid-model crossJoins:\n$plan")
  }

  test("cosinePairs finds near-identical vectors through the bucket gate") {
    val nearDup = Seq(
      (1001L, Array.tabulate(16)(d => math.sin(7 * 0.37 + d * 1.7).toFloat)))
      .toDF("vec_id", "embedding")
    val got = Dedup.cosinePairs(emb.unionAll(nearDup), threshold = 0.999999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got.contains((7L, 1001L)), s"identical pair not found: $got")
  }

  test("lshBucket spreads WIDE (>64-dim) vectors over >1 bucket") {
    // the round-5 latent defect: a 64-wide plane matrix silently zeroed
    // every sign bit for wider vectors, putting ALL of them in bucket 0
    // (correct output, quadratic bucket join). Pin the fix: 128-dim
    // vectors must land in multiple buckets.
    val wide = (1 to 100).map(i =>
      (i.toLong, Array.tabulate(128)(d => math.sin(i * 0.37 + d * 1.7))))
      .toDF("vec_id", "embedding")
    val nBuckets = wide
      .select(Similarity.lshBucket(col("embedding"), numPlanes = 8).as("b"))
      .distinct().count()
    assert(nBuckets > 1, s"128-dim vectors all collapsed into $nBuckets bucket(s)")
  }

  test("lshBucket refuses vectors wider than the declared plane matrix") {
    val tooWide = Seq((1L, Array.tabulate(40)(_.toDouble)))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      tooWide.select(Similarity.lshBucket(col("embedding"), 4, dims = 32)).collect()
    }
    assert(ex.getMessage.contains("lshBucket") ||
      Option(ex.getCause).exists(_.getMessage.contains("lshBucket")),
      s"expected a loud lshBucket width error, got: ${ex.getMessage}")
    // and the plan-build require for dims beyond MaxDims
    intercept[IllegalArgumentException] {
      Similarity.lshBucket(col("embedding"), 4, dims = Similarity.MaxDims + 1)
    }
  }

  test("cosineForPairs computes exact cosine over supplied pairs only") {
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val got = Dedup.cosineForPairs(emb, pairs)
    assertNoProduct(got)
    assert(got.count() == 2)
  }

  test("lshTopK joins corpus to queries on bucket only") {
    val q = emb.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    assertNoProduct(Similarity.lshTopK(emb, q, k = 3, numPlanes = 4))
  }

  test("lsh candidate pairs join on band key only") {
    val docs = (1 to 50).map(i => (i.toLong,
      s"document number $i with some shared vocabulary across documents ${i % 5}"))
      .toDF("doc_id", "text")
    assertNoProduct(Dedup.lshCandidatePairs(docs))
  }

  test("skew caps are ON by default: the cap aggregation is in the default plan") {
    // the unguarded |bucket|^2 self-join is opt-in now — the DEFAULT plan
    // must contain the bucket-size aggregation + <= cap filter
    val docs = (1 to 20).map(i => (i.toLong, s"some text number $i of the corpus"))
      .toDF("doc_id", "text")
    val lshPlan = Dedup.lshCandidatePairs(docs).queryExecution.analyzed.toString
    assert(lshPlan.contains(s"<= ${Dedup.DefaultMaxBucketSize}"),
      s"default lshCandidatePairs plan lacks the bucket cap:\n$lshPlan")
    val cosPlan = Dedup.cosinePairs(emb).queryExecution.analyzed.toString
    assert(cosPlan.contains(s"<= ${Dedup.DefaultMaxBucketSize}"),
      s"default cosinePairs plan lacks the bucket cap:\n$cosPlan")
    // explicit opt-out removes it
    val unb = Dedup.lshCandidatePairs(docs, maxBucketSize = None)
      .queryExecution.analyzed.toString
    assert(!unb.contains(s"<= ${Dedup.DefaultMaxBucketSize}"))
  }

  test("simhash is a per-doc kernel: no explode, no exchange in the plan") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "")).toDF("doc_id", "text")
    val plan = Dedup.simhash(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), s"explode in simhash plan:\n$plan")
    assert(!plan.contains("Exchange"), s"shuffle in simhash plan:\n$plan")
  }

  test("simhash64 is a per-doc kernel; simhashPairs64 joins on band key only") {
    val docs = (1 to 30).map(i => (i.toLong, s"document body number $i with shared words"))
      .toDF("doc_id", "text")
    val fpPlan = Dedup.simhash64(docs).queryExecution.executedPlan.toString
    assert(!fpPlan.contains("Generate"), s"explode in simhash64 plan:\n$fpPlan")
    assert(!fpPlan.contains("Exchange"), s"shuffle in simhash64 plan:\n$fpPlan")
    assertNoProduct(Dedup.simhashPairs64(docs))
  }

  test("simhashPairs joins on nibble band only; pqSearch broadcasts the LUT") {
    val docs = (1 to 30).map(i => (i.toLong, s"document body number $i with shared words"))
      .toDF("doc_id", "text")
    assertNoProduct(Dedup.simhashPairs(docs))
    val cb = Seq((0, 0L, Seq(0.0, 0.0)), (1, 0L, Seq(0.0, 0.0)))
      .toDF("sub", "code_id", "subvec")
    val codes = Seq((1L, 0, 0L), (1L, 1, 0L)).toDF("vec_id", "sub", "code_id")
    val q = Seq((9L, Seq(1.0, 2.0, 3.0, 4.0))).toDF("query_id", "embedding")
    val search = Similarity.pqSearch(codes, cb, q, k = 1, m = 2, subDim = 2)
    assertNoProduct(search)
    assert(search.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "the per-query LUT must broadcast to the code table")
  }

  test("packSequences rides ONE shard exchange: the (shard, seq) window re-sorts locally") {
    val docs = (0 until 50).map(i => (i.toLong, 10L)).toDF("doc_id", "n_tokens")
    val out = Sampling.packSequences(docs, "n_tokens", 100L, numShards = 4,
      keyCol = "doc_id")
    out.collect()
    // AQE's toString repeats the tree under "== Initial Plan ==" — count
    // the final plan only
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val nHash = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(nHash == 1, s"expected exactly one hash exchange, got $nHash:\n$plan")
  }

  test("fuzzyContaminationFlags joins on band key only: no product") {
    val docs = (1 to 20).map(i => (i.toLong, s"document body number $i with shared words"))
      .toDF("doc_id", "text")
    val bench = (1 to 3).map(i => (i.toLong, s"benchmark item $i held out"))
      .toDF("doc_id", "text")
    assertNoProduct(Dedup.fuzzyContaminationFlags(docs, bench))
  }

  test("ivfAssign is a struct-min aggregate: no window in the plan") {
    val cent = emb.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val out = Similarity.ivfAssign(emb, cent)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "argmin must be a map-side-combinable aggregate, not a row_number window")
    // nearest centroid of a centroid is itself at distance 0
    val self = out.filter(col("vec_id") === 1L).collect().head
    assert(self.getLong(1) == 1L && self.getDouble(2) == 0.0)
  }

  test("kmeansTrain: window-free assignment, broadcast centroids each round") {
    val init = emb.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val out = Similarity.kmeansTrain(emb, init, iters = 2)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"kmeans assignment must be a struct-min aggregate, not a window:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin")
      || plan.contains("BroadcastNestedLoopJoin"),
      s"centroids must broadcast, the corpus must not shuffle for assignment:\n$plan")
  }

  test("pqTrain runs ONE action (planned query) per Lloyd iteration, independent of m") {
    // the per-subspace loop it replaces planned/collected ~3m separate
    // queries per train — pure orchestration latency (round-8 q118: 40 s
    // on 780 KB). Count ACTIONS, not Spark jobs: AQE legitimately splits
    // one action's shuffle stages into several jobs.
    val actions = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val init = emb.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("code_id"),
        posexplode(transform(sequence(lit(0), lit(3)),
          x => slice(col("embedding").cast("array<double>"), x * 4 + 1, lit(4))))
          .as(Seq("sub", "subvec")))
    spark.listenerManager.register(listener)
    try {
      Similarity.pqTrain(emb, init, m = 4, subDim = 4, iters = 2)
      // the execution-listener bus is asynchronous — poll until the count
      // has reached the expected floor AND been quiet for several
      // consecutive polls (a fixed post-sleep flaked on loaded machines
      // when a late event landed after it)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var prev = -1
      var quiet = 0
      while (quiet < 5 && System.nanoTime() < deadline) {
        val cur = actions.get()
        if (cur == prev && cur >= 2) quiet += 1 else quiet = 0
        prev = cur
        Thread.sleep(100)
      }
      assert(actions.get() == 2,
        s"pqTrain(iters=2, m=4) ran ${actions.get()} actions; expected one per iteration")
    } finally spark.listenerManager.unregister(listener)
  }

  test("simhashPairs guard scan is limit-bounded: refusal costs <= maxDocs+1 rows") {
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        // analyzed, not executed: over a LocalRelation the optimizer folds
        // the limit into the relation itself, but the analyzed tree proves
        // the guard CONSTRUCTED one (file-backed inputs keep it physical)
        plans.add(qe.analyzed.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val docs = (1 to 30).map(i => (i.toLong, s"document number $i"))
      .toDF("doc_id", "text")
    spark.listenerManager.register(listener)
    try {
      intercept[IllegalArgumentException] { Dedup.simhashPairs(docs, maxDocs = 10) }
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      assert(plans.asScala.exists(p => p.contains("GlobalLimit")),
        s"guard count must run under a limit, not a full scan:\n${plans.asScala.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("prioritySample global: candidate cut is TakeOrderedAndProject; the tail window sees n+1 rows") {
    val df = (1 to 500).map(i => (i.toLong, (i % 9 + 1).toDouble))
      .toDF("id", "w")
    val out = Sampling.prioritySample(df, "id", "w", n = 10)
    val plan = out.queryExecution.executedPlan.toString
    // the corpus-scale cut must be top-k machinery — a global Sort over
    // the input would be the 100 TB failure mode; the only Window sits
    // above the 11-row limit (bounded by the sample, never by data)
    assert(plan.contains("TakeOrderedAndProject"),
      s"global draw must plan as TakeOrderedAndProject:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"product in:\n$plan")
    assert(out.count() === 10)
  }

  test("bm25Rank: query-term filter precedes the shuffle; top-k is TakeOrdered") {
    val docs = (1 to 50).map(i => (i.toLong, s"spark join filter scan number $i"))
      .toDF("doc_id", "text")
    val out = TextIndex.bm25Rank(docs, Seq("spark", "join"), k = 5)
    val plan = out.queryExecution.executedPlan.toString
    // the 1-row (N, avgdl) stats frame rides the usual broadcast cross
    // join (same pattern as quantizeInt8) — a CartesianProduct over DATA
    // is still forbidden
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject, not a global sort:\n$plan")
    // the stats row and doc frequencies broadcast back to the tf rows
    assert(plan.contains("BroadcastExchange"), s"stats/df must broadcast:\n$plan")
    val rows = out.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(2) == 2L),
      "every fixture doc contains both query terms")
  }

  test("bm25RankIndexed: term IN pushes to the postings scan; stats broadcast; top-k TakeOrdered") {
    val docs = (1 to 50).map(i => (i.toLong, s"spark join filter scan number $i"))
      .toDF("doc_id", "text")
    tempDir("graft_bm25spec_") { tmp =>
      val table = "graft_bm25_spec_idx"
      try {
        TextIndex.writeBm25Index(docs, table, tmp.resolve("idx").toString)
        val (postings, stats) = TextIndex.readBm25Index(spark, table)
        val out = TextIndex.bm25RankIndexed(postings, stats, Seq("spark", "join"), k = 5)
        val plan = out.queryExecution.executedPlan.toString
        // the whole point of the index: the probe reads postings for ITS
        // terms only — the IN filter must reach the parquet scan
        assert(plan.contains("PushedFilters: [In(term"),
          s"term IN not pushed to the postings scan:\n$plan")
        assert(plan.contains("TakeOrderedAndProject"),
          s"top-k must plan as TakeOrderedAndProject:\n$plan")
        assert(plan.contains("BroadcastExchange"), s"stats/df must broadcast:\n$plan")
        assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
        // and the ranking itself agrees with the recompute path exactly
        val got = out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        val want = TextIndex.bm25Rank(docs, Seq("spark", "join"), k = 5)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        assert(got.sameElements(want), s"indexed != recompute:\n${got.toSeq}\n${want.toSeq}")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        spark.sql(s"DROP TABLE IF EXISTS `${table}_stats`")
      }
    }
  }

  test("qlRankIndexed: term IN pushes to the postings scan; top-k TakeOrdered; == scan form") {
    val docs = (1 to 50).map(i => (i.toLong, s"spark join filter scan number $i"))
      .toDF("doc_id", "text")
    tempDir("graft_qlspec_") { tmp =>
      val table = "graft_ql_spec_idx"
      try {
        TextIndex.writeBm25Index(docs, table, tmp.resolve("idx").toString)
        val (postings, stats) = TextIndex.readBm25Index(spark, table)
        val out = TextIndex.qlRankIndexed(postings, stats, Seq("spark", "join"), k = 5)
        val plan = out.queryExecution.executedPlan.toString
        // the index serves BOTH ranking families: the QL probe too must
        // read only its own terms' postings
        assert(plan.contains("PushedFilters: [In(term"),
          s"term IN not pushed to the postings scan:\n$plan")
        assert(plan.contains("TakeOrderedAndProject"),
          s"top-k must plan as TakeOrderedAndProject:\n$plan")
        assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
        val got = out.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        val want = TextIndex.qlRank(docs, Seq("spark", "join"), k = 5)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
        assert(got.sameElements(want), s"indexed != recompute:\n${got.toSeq}\n${want.toSeq}")
      } finally {
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        spark.sql(s"DROP TABLE IF EXISTS `${table}_stats`")
      }
    }
  }

  test("assocRules: basket-keyed pair join, broadcast N row, top-k TakeOrdered, no product") {
    val b = (1 to 60).flatMap(g => Seq((g.toLong, s"i${g % 5}"), (g.toLong, s"i${g % 7}")))
      .toDF("basket", "item")
    val out = GraphOps.assocRules(b, "basket", "item", minPairCount = 2, topK = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$plan")
    // the only nested-loop join allowed is the broadcast 1-row N frame
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnlj <= 1, s"unexpected nested-loop joins ($bnlj):\n$plan")
  }

  test("quantizeInt8: the range row broadcasts; no window, no wide shuffle") {
    val out = Similarity.quantizeInt8(emb)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"quantize must not window:\n$plan")
    // the only exchanges allowed are the single-row range aggregate + its
    // broadcast back — the vector side itself must not repartition
    assert(!plan.contains("SortMergeJoin"),
      s"range join must broadcast, not sort-merge:\n$plan")
  }

  test("tfidfKeywords: TopKPerGroup prunes map-side, no corpus window") {
    val docs = Seq((1L, "alpha beta beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(docs, topK = 2)
    val plan = out.queryExecution.executedPlan.toString
    // the one allowed product is the broadcast of the single-row corpus
    // count; a CartesianProduct (non-broadcast) would mean the N join
    // shuffled the token table
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    assert(!plan.contains("Window"),
      "top-k per doc must aggregate, not rank the corpus through a window")
    assert(plan.contains("TopKPerGroup"),
      s"per-doc top-k must plan through TopKPerGroupExec:\n$plan")
  }

  test("topTermsPerGroup / bm25RankIndexedBatch: TopKPerGroup, no window") {
    val docs = Seq((1L, "en", "alpha beta beta"), (2L, "de", "alpha gamma"))
      .toDF("doc_id", "lang", "text")
    val p1 = TextAnalysis.topTermsPerGroup(docs, "lang", topK = 2)
      .queryExecution.executedPlan.toString
    assert(!p1.contains("Window") && p1.contains("TopKPerGroup"),
      s"topTermsPerGroup must rank through TopKPerGroupExec:\n$p1")
    val postings = Seq(("alpha", 1L, 2L, 5L), ("beta", 2L, 1L, 3L))
      .toDF("term", "doc_id", "tf", "dl")
    val stats = Seq((2L, 4.0)).toDF("n_docs", "avgdl")
    val queries = Seq((10L, "alpha"), (10L, "beta")).toDF("query_id", "term")
    val p2 = TextIndex.bm25RankIndexedBatch(postings, stats, queries, k = 2)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("Window") && p2.contains("TopKPerGroup"),
      s"bm25RankIndexedBatch must rank through TopKPerGroupExec:\n$p2")
  }

  test("attributionPairs joins on user id: no product") {
    val events = Seq(
      (1L, 1000000000L, 7L, "click", 1.0, ""),
      (2L, 2000000000L, 7L, "purchase", 1.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assertNoProduct(graft.streaming.EventStream
      .attributionPairs(events, "click", "purchase", 30))
  }

  test("connectedComponents rounds are equi-joins: no product in any iteration") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    // force the distributed loop (the default would take the small-graph
    // union-find path, whose plan is a parallelize leaf)
    spark.conf.set("graft.graph.localEdgeThreshold", "0")
    // every round is re-rooted at an RDD-backed leaf, so the result's own
    // physical plan is a scan of the last round. The rounds' joins live in
    // the leaves' RDD lineage: walk it, with whole-stage codegen off so
    // each operator keeps its own scope name, and broadcasts off, since a
    // broadcast side runs in a job of its own, outside the lineage
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val cc = Dedup.connectedComponents(pairs)
      val ops = org.apache.spark.sql.graftbridge.Lineage.operators(cc)
      assert(ops.exists(o => o == "SortMergeJoin" || o.endsWith("HashJoin")),
        s"no equi-join in the loop's lineage: $ops")
      assert(!ops.exists(o => o == "CartesianProduct" || o == "BroadcastNestedLoopJoin"),
        s"product join in the loop's lineage: $ops")
      assert(cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("graft.graph.localEdgeThreshold")
    }
  }

  test("repetitionSignals aggregates by doc id: no product, no global window") {
    val docs = Seq((1L, "a b a b\nc d"), (2L, "x y z")).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(docs)
    assertNoProduct(out)
    // shingleRows' per-doc lead window is the only allowed window; a global
    // (unpartitioned) window would serialize the corpus through one task
    val windows = out.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"unpartitioned window in:\n${out.queryExecution.executedPlan}")
  }

  test("hashSample is a pure filter: no shuffle in the plan") {
    val docs = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val plan = Sampling.hashSample(docs, "doc_id", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"sampling must not shuffle:\n$plan")
  }

  test("paragraphDedup, contaminationFlags and ivfTopK stay product-free") {
    val docs = Seq((1L, "a b c d e f g h i j\nk l"), (2L, "a b c d e f g h x y"))
      .toDF("doc_id", "text")
    assertNoProduct(Dedup.paragraphDedup(docs))
    assertNoProduct(TextAnalysis.contaminationFlags(docs, docs.limit(1), k = 3))
    // ivfTopK's centroid comparisons are broadcast product by design (tiny
    // K side); the corpus-vs-query join must be the cell-id equi-join
    val cent = emb.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val q = emb.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val plan = Similarity.ivfTopK(emb, q, cent, k = 3, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
  }

  test("ivfPqSearch: LUT broadcasts, corpus joins stay keyed (no CartesianProduct)") {
    val cent = emb.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val cb = emb.filter(col("vec_id") % 40 === 2)
      .select(col("vec_id").as("code_id"),
        posexplode(transform(sequence(lit(0), lit(1)),
          x => slice(col("embedding").cast("array<double>"), x * 8 + 1, lit(8))))
          .as(Seq("sub", "subvec")))
    val q = emb.filter(col("vec_id") <= 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val plan = Similarity.ivfPqSearch(emb, cent, cb, q,
      k = 3, m = 2, subDim = 8, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"ADC LUT must broadcast:\n$plan")
  }

  test("recallAtK: keyed semi-join + keyed count, no product, no window") {
    val approx = emb.filter(col("vec_id") <= 20)
      .select((col("vec_id") % 4).as("query_id"), col("vec_id"))
    val exact = emb.filter(col("vec_id") <= 24)
      .select((col("vec_id") % 4).as("query_id"), col("vec_id"))
    val plan = Similarity.recallAtK(approx, exact, k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"product in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in:\n$plan")
    assert(!plan.contains("Window"), s"no window needed for recall:\n$plan")
  }

  test("heavyHitterGrams plans the top-k as TakeOrderedAndProject (no full sort)") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "a b c d e x y z"))
      .toDF("doc_id", "text")
    val plan = TextAnalysis.heavyHitterGrams(docs, k = 5, topK = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrderedAndProject:\n$plan")
  }

  test("semanticDedup pair generation is a cell-id equi-join: no CartesianProduct") {
    val cent = emb.filter(col("vec_id") % 50 === 1)
      .select(col("vec_id").as("centroid_id"), col("embedding"))
    val plan = Dedup.semanticDedup(emb, cent, threshold = 0.9)
      .queryExecution.executedPlan.toString
    // the broadcast-centroid assign is the one allowed nested-loop; the
    // within-cell pair join must never be an unkeyed product
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
  }

  test("bloomContaminationFlags: the corpus never joins on grams") {
    val docs = Seq((1L, "a b c d e f g h i j k l"), (2L, "m n o p q r s t u v w x"))
      .toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") === 1)
    val plan = TextAnalysis.bloomContaminationFlags(docs, bench, k = 8)
      .queryExecution.executedPlan.toString
    // the only join is the single-row bitmap broadcast; a SortMergeJoin
    // would mean corpus gram rows are being shuffled (the q103 shape this
    // operator exists to avoid)
    assert(!plan.contains("SortMergeJoin"), s"corpus-side gram join in:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bitmap must reach the corpus as a broadcast:\n$plan")
  }

  test("temperatureSample: rates reach the corpus as a broadcast hash join") {
    val docs = Seq((1L, "en"), (2L, "en"), (3L, "de")).toDF("doc_id", "lang")
    val plan = Sampling.temperatureSample(docs, "lang", "doc_id", 0.7, 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"rates join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for rates:\n$plan")
  }

  test("relabelSequential has no unpartitioned window in the plan") {
    val lbl = Seq((0, 0, 10L), (0, 1, 20L), (1, 0, 0L), (1, 1, 10L))
      .toDF("y", "x", "label")
    val out = graft.ops.RasterOps.relabelSequential(lbl)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "window node present — rank must come from zipWithIndex")
    val got = out.orderBy("y", "x").select("label").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 0L, 1L))
  }

  test("gopherRules is a stateless projection: no shuffle, no join") {
    val docs = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    val plan = TextAnalysis.gopherRules(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopherRules shuffled:\n$plan")
    assert(!plan.contains("Join"), s"gopherRules joined:\n$plan")
  }

  test("event analytics (funnel/retention/zscore/rolling) plan product-free") {
    val ev = Seq(
      (1L, 1000000L, 1L, "click", 1.0, ""),
      (2L, 2000000L, 1L, "view", 2.0, ""),
      (3L, 3000000L, 1L, "purchase", 3.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    import graft.streaming.EventStream
    for ((name, df) <- Seq(
        "funnel" -> EventStream.funnel(ev, Seq("click", "view", "purchase")),
        "retention" -> EventStream.retentionCohorts(ev),
        "zscore" -> EventStream.zScoreFlags(ev, "event_type", "value"),
        "rolling" -> EventStream.rollingFeatures(ev))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
    }
  }

  test("covarianceMatrix: no corpus-side product, moment sums stay keyed") {
    val plan = Similarity.covarianceMatrix(emb)
      .queryExecution.executedPlan.toString
    // the only non-equi join is the documented 1-row total broadcast; a
    // CartesianProduct (corpus x index explode-join) must never appear
    assert(!plan.contains("CartesianProduct"), s"CartesianProduct in:\n$plan")
    // the corpus is consumed once by the mapPartitions accumulator
    assert(plan.contains("MapPartitions") || plan.contains("mapPartitions"),
      s"accumulator stage missing:\n$plan")
  }
}
