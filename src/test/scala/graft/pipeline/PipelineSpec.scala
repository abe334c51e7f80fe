package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "The quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (3L, "Completely different content about distributed query engines and shuffles"),
    (4L, "The quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
    (5L, "la la la"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val d = Dedup.exact(docs)
    val dups = d.filter(col("n_copies") > 1).collect()
    assert(dups.length == 1 && dups(0).getAs[Long]("keep_id") == 1L &&
      dups(0).getAs[Long]("n_copies") == 2L)
    assert(Dedup.exactFiltered(docs).count() == 4)
  }

  test("LSH finds the exact and near duplicates, not the distinct doc") {
    val pairs = Dedup.lshCandidatePairs(docs)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // exact dup always collides
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup likely
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("lsh hot-bucket cap drops oversized band keys before the join") {
    // 6 identical docs -> every band key has 6 members; cap 3 kills them all
    val clones = (1L to 6L).map(i => (i, "same text repeated again and again here"))
      .toDF("doc_id", "text")
    assert(Dedup.lshCandidatePairs(clones).count() == 15) // 6 choose 2
    assert(Dedup.lshCandidatePairs(clones, maxBucketSize = Some(3)).count() == 0)
    // cap above the bucket size: identical results
    assert(Dedup.lshCandidatePairs(clones, maxBucketSize = Some(6)).count() == 15)
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, distinct low") {
    val pairs = Seq((1L, 4L), (1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, pairs)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.7)
    assert(j((1L, 3L)) == 0.0)
  }

  test("simhash: exact dup identical, near-dup close in hamming") {
    val fp = Dedup.simhash(docs, "text", "doc_id")
      .select("doc_id", "simhash").as[(Long, Int)].collect().toMap
    assert(fp(1L) == fp(4L))
    val ham = Integer.bitCount(fp(1L) ^ fp(2L))
    assert(ham <= 6, s"near-dup hamming distance $ham")
  }

  test("cosine pairs and ANN agree with brute-force math") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.cosinePairs(emb, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
    val q = emb.filter(col("vec_id") === 1L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val top = Similarity.bruteForceTopK(emb, q, k = 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(1L, 2L))
  }

  test("brute-force top-k refuses zero-norm embeddings loudly") {
    // cosine of a zero vector is 0/0 = NaN; the TopK heap and the rank
    // tail order NaN differently, so the scorer must refuse, not rank
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 1L)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ex = intercept[Exception] {
      Similarity.bruteForceTopK(emb, q, k = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ msgs(e.getCause))
    assert(msgs(ex).exists(_.contains("zero-norm")), msgs(ex).mkString("; "))
  }

  test("lsh ANN returns subset of brute-force candidates with exact scores") {
    val emb = (1 to 50).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(emb, q, 5)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
      .map { case (qid, vid, c) => (qid, vid) -> c }.toMap
    val lsh = Similarity.lshTopK(emb, q, 5, numPlanes = 4)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    // every LSH hit's cosine equals the exact brute-force cosine
    lsh.foreach { case (qid, vid, c) =>
      assert(brute.get((qid, vid)).forall(_ == c))
    }
    // self-match always in the same bucket
    assert(lsh.exists { case (qid, vid, _) => qid == vid })
  }

  test("binarize packs sign bits MSB-first into 32-bit words") {
    val df = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f)),
      (2L, Array.fill(35)(1.0f)),
      (3L, Array.fill(35)(-2.0f))).toDF("vec_id", "embedding")
    val out = Similarity.binarize(df).select("vec_id", "bits")
      .as[(Long, Seq[Long])].collect().toMap
    assert(out(1L) == Seq(5L)) // 101 MSB-first
    assert(out(2L) == Seq(4294967295L, 7L)) // 32 ones + 3-bit tail
    assert(out(3L) == Seq(0L, 0L))
  }

  test("ndcgAtK and mrrAtK: hand-derived graded gains and first-hit ranks") {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val ranked = Seq(
      ("qa", 1L, 1), ("qa", 2L, 2), ("qa", 3L, 3),
      ("qb", 1L, 1), ("qb", 2L, 2)).toDF("query_id", "vec_id", "rank")
    val rel = Seq(("qa", 2L, 1.0), ("qa", 3L, 2.0), ("qa", 9L, 5.0))
      .toDF("query_id", "vec_id", "rel")
    val n = Similarity.ndcgAtK(ranked, rel, k = 3,
      queryIdCol = "query_id").orderBy("query_id")
      .as[(String, Double, Double, Option[Double])].collect()
    // qa: dcg = r6(1/log2(3)) + r6(3/log2(4)); ideal list [5,2,1].
    // micro-unit integer sums + ONE divide mirror the exact-decimal path
    def u6(x: Double) = math.floor(x * 1e6 + 0.5).toLong
    val lg3 = math.log(3) / math.log(2)
    val dcgA = (u6(1.0 / lg3) + u6(1.5)) / 1e6
    val idcgA = (u6(31.0) + u6(3.0 / lg3) + u6(0.5)) / 1e6
    assert(n(0) === (("qa", dcgA, idcgA, Some(r6(dcgA / idcgA)))))
    // qb has no relevant docs: dcg 0, idcg 0, ndcg NULL
    assert(n(1) === (("qb", 0.0, 0.0, None)))
    val m = Similarity.mrrAtK(ranked, rel, k = 3, queryIdCol = "query_id")
      .orderBy("query_id")
      .as[(String, Option[Int], Double)].collect()
    assert(m(0) === (("qa", Some(2), 0.5)))
    assert(m(1) === (("qb", None, 0.0)))
  }

  test("mapAtK: hand-derived AP, perfect top-k, zero-hit and no-relevant laws") {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val ranked = Seq(
      ("qa", 1L, 1), ("qa", 2L, 2), ("qa", 3L, 3),   // rel at ranks 2, 3
      ("qb", 7L, 1), ("qb", 8L, 2),                  // both relevant, R=2
      ("qc", 4L, 1),                                 // R>0 but zero hits
      ("qd", 5L, 1)                                  // no relevant docs
    ).toDF("query_id", "vec_id", "rank")
    val rel = Seq(("qa", 2L, 1.0), ("qa", 3L, 1.0),
      ("qb", 7L, 1.0), ("qb", 8L, 1.0),
      ("qc", 9L, 1.0)).toDF("query_id", "vec_id", "rel")
    val got = Similarity.mapAtK(ranked, rel, k = 3, queryIdCol = "query_id")
      .orderBy("query_id")
      .as[(String, Long, Option[Double])].collect()
    // qa: (r6(1/2) + r6(2/3)) / min(2,3)
    assert(got(0) === (("qa", 2L, Some(r6((0.5 + r6(2.0 / 3)) / 2)))))
    // qb: perfect ranking scores exactly 1
    assert(got(1) === (("qb", 2L, Some(1.0))))
    assert(got(2) === (("qc", 1L, Some(0.0))))
    assert(got(3) === (("qd", 0L, None)))
  }

  test("mongeElkan: reorder-invariant, asymmetric on subsets, NULL law") {
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val df = Seq(
      ("perm", Some("Maria Garcia"), Some("garcia, MARIA")),
      ("sub", Some("customer"), Some("customer building")),
      ("nul", None, Some("x"))).toDF("k", "a", "b")
    val got = df.select(col("k"),
      TextAnalysis.round6(TextAnalysis.mongeElkanCol(col("a"), col("b"))).as("ab"),
      TextAnalysis.round6(TextAnalysis.mongeElkanCol(col("b"), col("a"))).as("ba"))
      .as[(String, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // same token set, any order/case/punctuation -> exactly 1.0 both ways
    assert(got("perm") === ((Some(1.0), Some(1.0))))
    // the quoted subset scores 1.0 forward, averaged-down backward
    val jwBC = graft.pipeline.TextKernel.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString("building"),
      org.apache.spark.unsafe.types.UTF8String.fromString("customer"))
    assert(got("sub")._1 === Some(1.0))
    // one-grid slack: the op sums snapped terms in decimal then halves,
    // which can land exactly on a floor boundary the double replay of
    // this expectation resolves differently
    assert(math.abs(got("sub")._2.get - (1.0 + r6(jwBC)) / 2) < 1.1e-6)
    assert(got("nul") === ((None, None)))
  }

  test("sourceSimilarity: identical sources read exactly 1.0") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "s1"),
      (2L, "zeta eta theta iota kappa", "s1"),
      (3L, "alpha beta gamma delta epsilon", "s2"),
      (4L, "zeta eta theta iota kappa", "s2"),
      (5L, "totally different words over here", "s3"))
      .toDF("doc_id", "text", "source")
    val out = Dedup.sourceSimilarity(docs)
      .as[(String, String, Int, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out.size === 3)
    // same shingle union -> identical group signatures -> estimate 1.0
    assert(out(("s1", "s2")) === ((12, 1.0)))
    // disjoint corpora agree only by hash collision — never fully
    assert(out(("s1", "s3"))._2 < 1.0 && out(("s2", "s3"))._2 < 1.0)
  }

  test("rboTruncated: hand suffix weights, identity and disjoint laws") {
    val a = Seq(("q", 1L, 1), ("q", 2L, 2)).toDF("query_id", "vec_id", "rank")
    val b = Seq(("q", 2L, 1), ("q", 3L, 2)).toDF("query_id", "vec_id", "rank")
    // p=0.5, k=2: S(1)=1.25, S(2)=0.25; only d2 common at max(2,1)=2
    val out = Similarity.rboTruncated(a, b, k = 2, p = 0.5,
      queryIdCol = "query_id")
      .as[(String, Long, Double)].head()
    assert(out === (("q", 1L, 0.125)))
    // identical rankings reach the truncated maximum (1-p)*(S(1)+S(2))
    val same = Similarity.rboTruncated(a, a, k = 2, p = 0.5,
      queryIdCol = "query_id").as[(String, Long, Double)].head()
    assert(same === (("q", 2L, 0.75)))
    // disjoint rankings score 0 and keep the query row
    val c = Seq(("q", 8L, 1), ("q", 9L, 2)).toDF("query_id", "vec_id", "rank")
    val dis = Similarity.rboTruncated(a, c, k = 2, p = 0.5,
      queryIdCol = "query_id").as[(String, Long, Double)].head()
    assert(dis === (("q", 0L, 0.0)))
  }

  test("hammingTopK at full candidate width reproduces brute-force") {
    val emb = (1 to 40).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 0.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val q = emb.filter(col("vec_id") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val brute = Similarity.bruteForceTopK(emb, q, 5)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val ham = Similarity.hammingTopK(emb, q, k = 5, candidates = 40)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(ham == brute)
    // a query is hamming-0 from its own corpus copy
    val self = Similarity.hammingTopK(emb, q, k = 5, candidates = 40)
      .filter(col("query_id") === col("vec_id"))
      .select("hamming").as[Long].collect()
    assert(self.length == 2 && self.forall(_ == 0L))
  }

  test("redactPii replaces every marker, counts before rewriting") {
    val docs = Seq(
      (1L, "mail a@b.co and c.d+x@e.org, call +1 (555) 123-4567, from 10.1.2.3"),
      (2L, "clean text with no personal data at all")).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs).orderBy("doc_id")
      .select("text", "n_redactions").as[(String, Long)].collect()
    assert(out(0)._1 == "mail <EMAIL> and <EMAIL>, call <PHONE>, from <IP>")
    assert(out(0)._2 == 4L)
    assert(out(1) == (("clean text with no personal data at all", 0L)))
  }

  test("recallAtK: perfect, partial and empty approximate results") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L), (3L, 31L))
      .toDF("query_id", "vec_id")
    // q1 perfect, q2 half right (one hit + one miss), q3 absent entirely
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L))
      .toDF("query_id", "vec_id")
    val out = Similarity.recallAtK(approx, exact, k = 2)
      .orderBy("query_id").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 2L, 1.0), (2L, 1L, 0.5), (3L, 0L, 0.0)))
    // approximate-only junk pairs never inflate recall
    val noisy = approx.unionAll(Seq((1L, 77L), (9L, 1L)).toDF("query_id", "vec_id"))
    val out2 = Similarity.recallAtK(noisy, exact, k = 2)
      .orderBy("query_id").as[(Long, Long, Double)].collect().toSeq
    assert(out2 == out, "extra approx rows for unknown/other queries must not change recall")
  }

  test("token counting and subword estimate") {
    val t = Seq((1L, "Hello world, this is GPT4 speaking"), (2L, "  "), (3L, "one"))
      .toDF("doc_id", "text")
    val got = t.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.subwordCountEstimate(col("text")).as("sub"))
      .orderBy("doc_id").as[(Long, Int, Int)].collect().toSeq
    assert(got.map(_._2) == Seq(6, 0, 1))
    assert(got(0)._3 >= 7) // GPT|4 splits
  }

  test("language id picks the stopword-majority language") {
    val t = Seq(
      (1L, "the cat and the dog is in that house for it"),
      (2L, "der hund und die katze ist nicht ein problem"),
      (3L, "xyzzy plugh")).toDF("doc_id", "text")
    val got = TextAnalysis.languageId(t).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "und")
  }

  test("fingerprint is normalization-invariant") {
    val t = Seq((1L, "Hello,   World!"), (2L, "hello world"), (3L, "HELLO WORLD?"))
      .toDF("doc_id", "text")
    val fps = t.select(TextAnalysis.fingerprint(col("text"))).as[String].collect()
    assert(fps.distinct.length == 1)
  }

  test("repetition signals: dup-line and top-2gram fractions") {
    val t = Seq(
      (1L, "aa bb\naa bb\ncc dd"),          // one dup line of 2 distinct
      (2L, "x y x y x y"),                   // top 2-gram 'x y' x3
      (3L, ""),
      (4L, null)).toDF("doc_id", "text")       // NULL folds to "" (0.0 signals)
    val got = TextAnalysis.repetitionSignals(t)
      .orderBy("doc_id")
      .as[(Long, Double, Double, Double, Double)].collect()
    // doc 1: 3 line occurrences, 2 distinct -> dup_line_frac = 1/3; the
    // duplicated occurrence holds 5 of 15 line chars
    assert(got(0)._2 == 0.333333 && got(0)._3 == 0.333333)
    // doc 2: norm 'x y x y x y' (11 chars); top 2-gram 'x y' occurs 3x,
    // len 3 -> 9/11
    assert(got(1)._4 == 0.818182)
    // empty doc: all-zero signals, still present
    assert(got(2) == ((3L, 0.0, 0.0, 0.0, 0.0)))
    // NULL doc: same contract as empty, not a null-propagated row
    assert(got(3) == ((4L, 0.0, 0.0, 0.0, 0.0)))
  }

  test("bigramPmi: hand-computed fixture; sub-2-word docs emit nothing") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "x"), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramPmi(docs, minCount = 1)
      .collect().map(r => ((r.getString(0), r.getString(1)), (r.getLong(2), r.getDouble(3))))
      .toMap // (t1, t2) -> (c_ab, pmi)
    // corpus: bigrams (a,b)x3, (b,a)x1, (b,c)x1 -> M=5; unigrams a3 b3 c1
    // x1 ""(doc 4) -> N=9
    def pmi(cab: Double, ca: Double, cb: Double) =
      math.floor(math.log((cab / 5.0) / ((ca / 9.0) * (cb / 9.0))) * 1e6 + 0.5) / 1e6
    assert(got(("a", "b")) == ((3L, pmi(3, 3, 3))), s"got $got")
    assert(got(("b", "a")) == ((1L, pmi(1, 3, 3))))
    assert(got(("b", "c")) == ((1L, pmi(1, 3, 1))))
    assert(got.size == 3, s"single-word/empty docs leaked bigrams: $got")
    // minCount prunes before the joins
    assert(TextAnalysis.bigramPmi(docs, minCount = 2).count() == 1)
  }

  test("temperatureMixture == mixtureSample at the derived sqrt rates; small strata upweight") {
    val docs = ((0 until 100).map(i => (i.toLong, "en")) ++
      (100 until 104).map(i => (i.toLong, "de"))).toDF("doc_id", "lang")
    val out = Sampling.temperatureMixture(docs, "lang", "doc_id", budget = 24)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    // n_en=100 (w 10), n_de=4 (w 2), sumW 12: r_en = 24*10/(12*100) = 0.2,
    // r_de = min(1, 24*2/(12*4)) = 1.0 — the whole small stratum survives
    assert(out.count(_._2 == "de") == 4, "temperature must keep all of the small stratum")
    val expect = Sampling.mixtureSample(docs, "lang", "doc_id",
      Map("en" -> 0.2, "de" -> 1.0)).select("doc_id", "lang")
      .as[(Long, String)].collect().toSet
    assert(out == expect, "derived rates must equal the explicit-rate draw")
    assert(out.count(_._2 == "en") > 0, "fixture should keep some en rows")
  }

  test("hash sampling is deterministic, uniform-ish, and composable") {
    val ids = (0L until 2000L).toDF("doc_id").withColumn("lang",
      when(col("doc_id") % 3 === 0, "en").otherwise("fr"))
    val s1 = Sampling.hashSample(ids, "doc_id", 0.25).as[(Long, String)].collect().toSet
    val s2 = Sampling.hashSample(ids, "doc_id", 0.25).as[(Long, String)].collect().toSet
    assert(s1 == s2, "same salt -> same sample")
    assert(math.abs(s1.size - 500) < 100, s"got ${s1.size}, expected ~500")
    // a smaller fraction with the same salt is a SUBSET (nested samples)
    val s3 = Sampling.hashSample(ids, "doc_id", 0.1).as[(Long, String)].collect().toSet
    assert(s3.subsetOf(s1))
    // a different salt draws an independent sample
    val s4 = Sampling.hashSample(ids, "doc_id", 0.25, salt = "t")
      .as[(Long, String)].collect().toSet
    assert(s4 != s1)
  }

  test("stratified quota takes exactly n per stratum; mixture rates filter per stratum") {
    val ids = (0L until 300L).toDF("doc_id").withColumn("lang",
      when(col("doc_id") % 3 === 0, "en")
        .when(col("doc_id") % 3 === 1, "fr").otherwise("de"))
    val q = Sampling.stratifiedQuota(ids, "lang", "doc_id", 7)
    val perLang = q.groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(perLang == Map("en" -> 7L, "fr" -> 7L, "de" -> 7L))
    val m = Sampling.mixtureSample(ids, "lang", "doc_id", Map("en" -> 1.0, "fr" -> 0.0))
      .select("lang").distinct().as[String].collect().toSeq
    assert(m == Seq("en"), "rate-1.0 keeps all en; rate-0 and unlisted drop")
  }

  test("paragraph dedup keeps each paragraph only where it first occurs") {
    val t = Seq(
      (1L, "shared header\nunique one"),
      (2L, "shared header\nunique two\n  \nshared header"),
      (3L, "shared header")).toDF("doc_id", "text")
    val got = Dedup.paragraphDedup(t).orderBy("doc_id")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "shared header\nunique one"),   // first owner keeps it
      (2L, "unique two"),                  // dup + blank + repeat dropped
      (3L, "")))                           // nothing left
  }

  test("domainBoilerplateStrip: frequency rule per domain, first occurrence goes too") {
    val t = Seq(
      (1L, "a", "nav bar\nbody one"),
      (2L, "a", "nav bar\nbody two\nshared quote"),
      (3L, "a", "nav bar\nshared quote"),
      (4L, "a", "nav bar"),
      (5L, "b", "nav bar\nbody five")).toDF("doc_id", "source", "text")
    // domain a: 4 docs — "nav bar" in 4/4 (>= 0.75, stripped EVERYWHERE,
    // including doc 1); "shared quote" in 2/4 (< 0.75, survives).
    // domain b: 1 doc < minDomainDocs — untouched (the frequency rule
    // would otherwise erase every 1-doc domain wholesale).
    val got = Dedup.domainBoilerplateStrip(t, threshold = 0.75)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "body one"),
      (2L, "body two\nshared quote"),
      (3L, "shared quote"),
      (4L, ""),
      (5L, "nav bar\nbody five")))
    // the threshold boundary is >= and exact: at 0.5 the 2/4 quote is
    // boilerplate too (integer compare 2*10^6 >= 5*10^5 * 4 holds)
    val tight = Dedup.domainBoilerplateStrip(t, threshold = 0.5)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(tight == Seq((1L, "body one"), (2L, "body two"), (3L, ""),
      (4L, ""), (5L, "nav bar\nbody five")))
    intercept[IllegalArgumentException] {
      Dedup.domainBoilerplateStrip(t, threshold = 0.0)
    }
  }

  test("chunking covers every token with the right overlap") {
    val t = Seq((1L, (1 to 10).map(i => s"w$i").mkString(" ")), (2L, "  "), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunkDocuments(t, maxTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "chunk_text", "n_tokens")
      .as[(Long, Int, String, Int)].collect().toSeq
    // step 3: starts 0,3,6,9 over 10 tokens
    assert(got == Seq(
      (1L, 0, "w1 w2 w3 w4", 4), (1L, 1, "w4 w5 w6 w7", 4),
      (1L, 2, "w7 w8 w9 w10", 4), (1L, 3, "w10", 1),
      (3L, 0, "solo", 1)))
  }

  test("contamination flags docs sharing k-grams with the benchmark") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // contains the bench 3-gram
      (2L, "totally different words here now"),
      (3L, "beta gamma delta unrelated tail")).toDF("doc_id", "text")
    val bench = Seq((100L, "beta gamma delta")).toDF("doc_id", "text")
    val got = TextAnalysis.contaminationFlags(docs, bench, k = 3)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect().toSeq
    assert(got == Seq((1L, 1L, true), (2L, 0L, false), (3L, 1L, true)))
  }

  test("pii signals count emails, phones and IPs") {
    val t = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org, call +1 (415) 555-0100 now"),
      (2L, "server at 10.0.0.1 and 192.168.1.255"),
      (3L, "clean text")).toDF("doc_id", "text")
    val got = TextAnalysis.piiSignals(t)
      .select("doc_id", "n_emails", "n_phones", "n_ips")
      .orderBy("doc_id").as[(Long, Int, Int, Int)].collect().toSeq
    assert(got == Seq((1L, 2, 1, 0), (2L, 0, 0, 2), (3L, 0, 0, 0)))
  }

  test("connected components label every node with its component minimum") {
    // two chains and an isolated pair: {1,2,3,4}, {10,11}, {20,21,22}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L), (21L, 22L))
      .toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
    // default: small graph -> driver union-find path
    val got = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    // forced distributed loop: identical labels
    val key = "graft.graph.localEdgeThreshold"
    spark.conf.set(key, "0")
    try {
      val gotDist = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      assert(gotDist == want)
      // pathological chain deeper than maxIter fails loudly, not
      // half-merged (loop path only; union-find converges exactly)
      val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      intercept[IllegalArgumentException] {
        Dedup.connectedComponents(chain, maxIter = 2)
      }
    } finally spark.conf.unset(key)
  }

  test("connected components: local union-find == distributed loop on a deep chain, string ids") {
    // a 60-deep chain: ~30 propagation rounds — this SPECIFICALLY
    // exercises the loop's per-round re-rooting (each round references
    // labels twice, so an unrooted plan DAG's tree expansion is
    // ~2^rounds and an 8 GiB driver OOMs in the analyzer near round ~24
    // — measured) — plus a star, over STRING ids
    val chain = (1 to 60).map(i => (f"s$i%03d", f"s${i + 1}%03d"))
    val star = (2 to 5).map(i => ("zz1", s"zz$i"))
    val pairs = (chain ++ star).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    val key = "graft.graph.localEdgeThreshold"
    spark.conf.set(key, "0")
    val dist = try Dedup.connectedComponents(pairs, maxIter = 200)
      .as[(String, String)].collect().toMap
    finally {
      spark.conf.unset(key)
      spark.catalog.clearCache()
    }
    assert(local == dist)
    assert(local("s061") == "s001" && local("zz5") == "zz1")
  }

  test("connected components: local path is a pure optimization (UTF-8 min-roots, exotic ids fall through)") {
    val key = "graft.graph.localEdgeThreshold"
    // supplementary (non-BMP) string ids: UTF-16 code-unit order and
    // UTF-8 byte order DISAGREE here — U+10400 (surrogate pair, UTF-8
    // F0 90 90 80) sorts BELOW U+FF21 (UTF-8 EF BC A1) in UTF-16 but
    // ABOVE it in UTF-8 bytes. The distributed loop's least/min is
    // UTF8String byte order, so the local union-find must match it.
    val hi = "𐐀" // U+10400
    val fw = "Ａ"       // U+FF21 — the UTF-8-byte minimum
    val pairs = Seq((hi, fw), (fw, "Ｂ")).toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    spark.conf.set(key, "0")
    val dist = try Dedup.connectedComponents(pairs)
      .as[(String, String)].collect().toMap
    finally spark.conf.unset(key)
    assert(local == dist)
    assert(local(hi) == fw, "min-id root must follow UTF-8 byte order")
    // decimal ids: no local ordering — the small-graph cutover FALLS
    // THROUGH to the distributed loop instead of erroring (the local
    // path never changes which inputs are accepted)
    val dec = Seq((BigDecimal(7), BigDecimal(2)), (BigDecimal(2), BigDecimal(3)))
      .toDF("id_a", "id_b")
    val gotDec = Dedup.connectedComponents(dec)
      .as[(BigDecimal, BigDecimal)].collect().toMap
    assert(gotDec.values.toSet == Set(BigDecimal(2)))
    // null ids likewise route to the distributed loop on BOTH sides of
    // the threshold — identical outputs, no local-path require() crash
    val withNull = Seq((null.asInstanceOf[String], "b"), ("b", "c"))
      .toDF("id_a", "id_b")
    val nLocalSide = Dedup.connectedComponents(withNull).collect().toSet
    spark.conf.set(key, "0")
    val nDistSide = try Dedup.connectedComponents(withNull).collect().toSet
    finally spark.conf.unset(key)
    assert(nLocalSide == nDistSide)
  }

  test("iterative loops run on a cloned session: concurrent queries keep the caller's conf") {
    // the loop's AQE/shuffle-partition overrides live on an Iterate
    // session clone — the CALLER's session conf must never flicker mid-loop
    // (round-12 verdict item: previously the loop mutated session conf
    // and restored it, racing any concurrently planned query)
    val clone = Iterate.enter(spark)
    assert(clone ne spark)
    assert(clone.conf.get("spark.sql.adaptive.enabled") == "false")
    Iterate.sizeShuffles(clone, spark, 100L)
    assert(clone.conf.get("spark.sql.shuffle.partitions") == "1")
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "1")
    assert(spark.conf.get("spark.sql.adaptive.enabled", "true") != "false")
    // live race: a deep-chain CC on the distributed loop in another
    // thread, while this thread keeps planning on the original session —
    // every observed conf sample must be the session's own value
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions")
    val key = "graft.graph.localEdgeThreshold"
    spark.conf.set(key, "0")
    val pairs = (1 to 40).map(i => (f"c$i%03d", f"c${i + 1}%03d")).toDF("id_a", "id_b")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val worker = new Thread(() => {
      val got = Dedup.connectedComponents(pairs, maxIter = 100)
        .as[(String, String)].collect()
      assert(got.forall(_._2 == "c001"))
    })
    try {
      worker.start()
      seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
      while (worker.isAlive) {
        seen.add(spark.conf.get("spark.sql.shuffle.partitions"))
        seen.add(spark.conf.get("spark.sql.adaptive.enabled", "true"))
        Thread.sleep(5)
      }
      worker.join()
    } finally spark.conf.unset(key)
    import scala.jdk.CollectionConverters._
    val samples = seen.asScala.toSeq
    assert(samples.nonEmpty)
    assert(samples.forall(v => v == sessionParts || v == "true"),
      s"caller-session conf flickered mid-loop: ${samples.distinct}")
  }

  test("kmeansTrain separates obvious clusters and converges inertia") {
    // two tight blobs around (0,0,...) and (10,10,...); seeds start badly
    // (both near the origin blob) so the update step has to do real work
    val vecs = (Seq.tabulate(6)(i => (i.toLong, Seq.fill(4)(0.0f + i * 0.01f))) ++
      Seq.tabulate(6)(i => (i + 10L, Seq.fill(4)(10.0f + i * 0.01f))))
      .toDF("vec_id", "embedding")
    val init = Seq((0L, Seq.fill(4)(0.0f)), (1L, Seq.fill(4)(2.0f)))
      .toDF("centroid_id", "embedding")
    val out = Similarity.kmeansTrain(vecs, init, iters = 3)
      .orderBy("centroid_id")
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.map(_._2).sum == 12L) // every vector assigned exactly once
    assert(out.size == 2 && out.map(_._2).toSet == Set(6L))
    // trained inertia is far below one-iteration inertia (centroids moved)
    val first = Similarity.kmeansTrain(vecs, init, iters = 1)
      .agg(sum("inertia")).as[Double].collect()(0)
    assert(out.map(_._3).sum < first / 10)
  }

  test("pqTrain + pqEncode: codebooks converge per subspace, codes compress") {
    // 8-dim vectors = 2 subspaces x 4 dims; subspace 0 clusters around
    // 0 vs 10, subspace 1 around 5 vs -5 (independent structure per sub)
    val vecs = (0 until 12).map { i =>
      val a = if (i % 2 == 0) 0.0f else 10.0f
      val b = if (i < 6) 5.0f else -5.0f
      (i.toLong, Seq.fill(4)(a) ++ Seq.fill(4)(b))
    }.toDF("vec_id", "embedding")
    val init = Seq(
      (0, 0L, Seq.fill(4)(1.0)), (0, 1L, Seq.fill(4)(8.0)),
      (1, 0L, Seq.fill(4)(1.0)), (1, 1L, Seq.fill(4)(-1.0)))
      .toDF("sub", "code_id", "subvec")
    val cb = Similarity.pqTrain(vecs, init, m = 2, subDim = 4, iters = 3)
    val entries = cb.as[(Int, Long, Seq[Double])].collect()
    assert(entries.length == 4)
    // trained centroids land on the blob means
    val bySub = entries.groupBy(_._1)
    assert(bySub(0).map(_._3.head).sorted.sameElements(Seq(0.0, 10.0)))
    assert(bySub(1).map(_._3.head).sorted.sameElements(Seq(-5.0, 5.0)))
    // encode: every subvector lands on its blob's code at distance 0
    val codes = Similarity.pqEncode(vecs, cb, m = 2, subDim = 4)
    assert(codes.count() == 24)
    assert(codes.filter(col("dist2") =!= 0.0).count() == 0)
    // vectors sharing a blob per subspace share that subspace's code
    val c0 = codes.filter(col("sub") === 0)
      .select("vec_id", "code_id").as[(Long, Long)].collect().toMap
    assert((0 until 12).forall(i => c0(i.toLong) == c0(((i % 2) + 2).toLong)))
  }

  test("pqTrain sampled: one source scan, same codebooks as a pre-filtered corpus") {
    CacheScope.drainAll(spark); spark.catalog.clearCache()
    val scans = spark.sparkContext.longAccumulator("pq-train-scans")
    // non-deterministic marker: evaluated exactly once per source row per
    // scan (never duplicated into the sample filter by CollapseProject)
    val mark = udf((id: Long) => { scans.add(1); id }).asNondeterministic()
    val raw = (0 until 40).map { i =>
      (i.toLong, (0 until 8).map(d => (i % 4) * 10.0 + d * 0.1))
    }.toDF("vec_id", "embedding")
    val init = Seq(
      (0, 0L, Seq.fill(4)(5.0)), (0, 1L, Seq.fill(4)(25.0)),
      (1, 0L, Seq.fill(4)(5.0)), (1, 1L, Seq.fill(4)(25.0)))
      .toDF("sub", "code_id", "subvec")
    val marked = raw.withColumn("vec_id", mark(col("vec_id")))
    val cb = Similarity.pqTrain(marked, init, m = 2, subDim = 4, iters = 3,
      sampleFraction = 0.5, sampleSalt = "t")
      .as[(Int, Long, Seq[Double])].collect().toSeq
    assert(cb.nonEmpty)
    // the persisted training set means the marked source evaluates at most
    // once per row; unpersisted, the m x iters Lloyd passes would rescan
    assert(scans.value <= 40L, s"source scanned ${scans.value} marker evals for 40 rows")
    // the sample IS the hashSample draw: pre-filtering by hand is identical
    val manual = Sampling.hashSample(raw, "vec_id", 0.5, "t")
    assert(manual.count() < 40) // the draw actually subsets
    val cb2 = Similarity.pqTrain(manual, init, m = 2, subDim = 4, iters = 3)
      .as[(Int, Long, Seq[Double])].collect().toSeq
    assert(cb == cb2)
    // cache hygiene: pqTrain unpersists its training set on exit (poll —
    // earlier suites' CacheScope releases land via the async listener bus)
    awaitEmptyCache("pqTrain")
  }

  test("simhashPairs == brute-force hamming pairs (pigeonhole recall is exact)") {
    // 4-band nibble LSH guarantees every pair within hamming 3 shares a
    // band, and the exact verify drops everything above — so the operator
    // must return EXACTLY the brute-force pair set
    val corp = (0 until 20).map { i =>
      val base = s"shared vocabulary across documents with topic ${i % 5} and more shared filler words"
      val text = if (i >= 15) base + " lightly edited" else base
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val got = Dedup.simhashPairs(corp)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect().toSet
    val fps = Dedup.simhash(corp, "text", "doc_id")
      .as[(Long, Int)].collect().toMap
    val want = (for {
      a <- fps.keys; b <- fps.keys if a < b
      h = Integer.bitCount(fps(a) ^ fps(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.exists(_._3 == 0), "fixture must contain identical-fingerprint pairs")
    // the hot-bucket cap drops oversize nibble buckets before the join
    assert(Dedup.simhashPairs(corp, maxBucketSize = Some(1)).count() == 0)
  }

  test("simhashPairs refuses corpus-scale inputs and points to the 64-bit form") {
    // 64 buckets ever -> O(n^2/64) candidates; the teaching form must be
    // loud above its bound, not silently quadratic (or silently empty
    // once the hot-bucket cap drops all 64 buckets)
    val docs = (1 to 30).map(i => (i.toLong, s"document number $i"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxDocs = 10)
    }
    assert(ex.getMessage.contains("fingerprintPairs64"),
      s"refusal must name the scale path: ${ex.getMessage}")
  }

  test("shardShuffle: a reproducible epoch permutation in balanced ordered shards") {
    val docs = (0 until 200).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val out = Sampling.shardShuffle(docs, "doc_id", 4)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(out.length == 200 && out.map(_._1).distinct.length == 200)
    // per-shard positions are 0-based and contiguous
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(rows.indices.map(_.toLong)))
    }
    // uniform hash keeps shards balanced (no shard under 1/2 or over 2x par)
    val sizes = out.groupBy(_._2).values.map(_.size)
    assert(sizes.size == 4 && sizes.min > 25 && sizes.max < 100, s"sizes $sizes")
    // same salt = identical epoch; new salt = a different permutation
    val again = Sampling.shardShuffle(docs, "doc_id", 4)
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(out.sortBy(_._1).sameElements(again.sortBy(_._1)))
    val epoch1 = Sampling.shardShuffle(docs, "doc_id", 4, salt = "epoch1")
      .select("doc_id", "shard", "pos").as[(Long, Int, Long)].collect()
    assert(!out.sortBy(_._1).sameElements(epoch1.sortBy(_._1)))
  }

  test("packSequences: every doc packed once, sequence totals bounded by budget + max member") {
    val docs = (0 until 150).map(i => (i.toLong, 10L + (i % 37) * 7L))
      .toDF("doc_id", "n_tokens")
    val budget = 100L
    val out = Sampling.packSequences(docs, "n_tokens", budget, numShards = 3,
        keyCol = "doc_id")
      .select("doc_id", "n_tokens", "shard", "seq_in_shard", "pos_in_seq")
      .as[(Long, Long, Int, Long, Long)].collect()
    assert(out.length == 150 && out.map(_._1).distinct.length == 150)
    out.groupBy(r => (r._3, r._4)).foreach { case ((shard, seq), rows) =>
      val total = rows.map(_._2).sum
      val maxDoc = rows.map(_._2).max
      // next-fit-by-offset bound: only the boundary-straddling doc overflows
      assert(total < budget + maxDoc,
        s"shard $shard seq $seq total $total exceeds budget+$maxDoc")
      assert(rows.map(_._5).sorted.sameElements(rows.indices.map(_.toLong)))
    }
    // first sequence of every shard is 0; ids may skip after docs longer
    // than the budget (floor-offset semantics), but never repeat out of
    // order — already implied by the grouping above
    out.groupBy(_._3).foreach { case (_, rows) =>
      assert(rows.map(_._4).min == 0L)
    }
  }

  test("fuzzyContaminationFlags: near-dup eval leaks flagged, clean docs keep a 0 row") {
    val mkText = (i: Int) =>
      s"completely unique document number $i " + (0 until 30).map(j => s"w${i}x$j").mkString(" ")
    val docs = (0 until 10).map(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    // benchmark: lightly edited copies of docs 2 and 7 (near-dups, not exact)
    val bench = Seq((100L, mkText(2) + " tail"), (101L, mkText(7) + " tail"))
      .toDF("doc_id", "text")
    val out = Dedup.fuzzyContaminationFlags(docs, bench)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.length == 10, "every corpus doc keeps a row")
    val flagged = out.filter(_._3).map(_._1).toSet
    assert(flagged == Set(2L, 7L), s"expected docs 2 and 7 flagged, got $flagged")
    assert(out.filter(r => !r._3).forall(_._2 == 0L))
    // candidates carry both id spaces and the band-agreement count
    val cand = Dedup.crossCorpusCandidates(docs, bench)
      .as[(Long, Long, Long)].collect()
    assert(cand.map(c => (c._1, c._2)).toSet == Set((2L, 100L), (7L, 101L)))
    assert(cand.forall(_._3 >= 1))
  }

  test("simhash64 matches an independent bit-vote recomputation; pairs64 == brute force") {
    val corp = (0 until 24).map { i =>
      val base = s"shared vocabulary across documents with topic ${i % 6} and more shared filler words"
      val text = if (i >= 18) base + " lightly edited" else base
      (i.toLong, text)
    }.toDF("doc_id", "text")
    val got = Dedup.simhash64(corp).as[(Long, Long)].collect().toMap
    // independent reference: normalize, md5 per word, 64 bit votes
    val md = java.security.MessageDigest.getInstance("MD5")
    def ref(text: String): Long = {
      val norm = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      val votes = new Array[Int](64)
      norm.split(' ').foreach { word =>
        md.reset()
        val hex = md.digest(word.getBytes("UTF-8")).map("%02x".format(_)).mkString
        for (j <- 0 until 64) {
          val nib = Integer.parseInt(hex((j >> 2)).toString, 16)
          if (((nib >> (j & 3)) & 1) == 1) votes(j) += 1 else votes(j) -= 1
        }
      }
      (0 until 64).foldLeft(0L)((fp, j) => if (votes(j) > 0) fp | (1L << j) else fp)
    }
    corp.as[(Long, String)].collect().foreach { case (id, text) =>
      assert(got(id) == ref(text), s"fingerprint mismatch for doc $id")
    }
    // pairs: pigeonhole recall is exact at hamming <= 3
    val pairsGot = Dedup.simhashPairs64(corp)
      .as[(Long, Long, Int)].collect().toSet
    val want = (for {
      a <- got.keys; b <- got.keys if a < b
      h = java.lang.Long.bitCount(got(a) ^ got(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(pairsGot == want, s"got ${pairsGot.size} pairs, want ${want.size}")
    assert(want.exists(_._3 == 0), "fixture must contain identical-fingerprint pairs")
  }

  test("ivfPqSearch: nprobe=1 searches only the query's cell; nprobe=2 reaches both") {
    // two exact clusters at 0^8 and 10^8; centroids and codebooks sit on them,
    // so ADC distances are exact: in-cell adist 0, cross-cell 2 * 4 * 100
    val corpus = (0 until 6).map(i =>
      (i.toLong, Seq.fill(8)(if (i % 2 == 0) 0.0 else 10.0)))
      .toDF("vec_id", "embedding")
    val cent = Seq((0L, Seq.fill(8)(0.0)), (1L, Seq.fill(8)(10.0)))
      .toDF("centroid_id", "embedding")
    val cb = Seq(
      (0, 0L, Seq.fill(4)(0.0)), (0, 1L, Seq.fill(4)(10.0)),
      (1, 0L, Seq.fill(4)(0.0)), (1, 1L, Seq.fill(4)(10.0)))
      .toDF("sub", "code_id", "subvec")
    val q = Seq((0L, Seq.fill(8)(0.0))).toDF("query_id", "embedding")
    val near = Similarity.ivfPqSearch(corpus, cent, cb, q,
      k = 6, m = 2, subDim = 4, nprobe = 1)
      .as[(Long, Long, Double, Int)].collect()
    assert(near.map(_._2).toSet === Set(0L, 2L, 4L),
      s"nprobe=1 must stay in the query's cell: ${near.toSeq}")
    assert(near.forall(_._3 == 0.0))
    val both = Similarity.ivfPqSearch(corpus, cent, cb, q,
      k = 6, m = 2, subDim = 4, nprobe = 2)
      .as[(Long, Long, Double, Int)].collect()
    assert(both.length === 6)
    val far = both.filter(r => r._2 % 2 == 1)
    assert(far.forall(_._3 == 800.0), s"cross-cell adist must be 800: ${far.toSeq}")
    // ranks: all in-cell (adist 0, id-asc) before all cross-cell
    assert(both.sortBy(_._4).map(_._2).toSeq === Seq(0L, 2L, 4L, 1L, 3L, 5L))
  }

  test("outlierFlags: far-from-every-centroid vectors flag, cluster members don't") {
    val corpus = Seq(
      (1L, Seq(0.0, 0.1)), (2L, Seq(0.1, 0.0)), (3L, Seq(5.0, 5.0)))
      .toDF("vec_id", "embedding")
    val cent = Seq((0L, Seq(0.0, 0.0))).toDF("centroid_id", "embedding")
    val out = Similarity.outlierFlags(corpus, cent, maxDist2 = 1.0)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out === Map(1L -> false, 2L -> false, 3L -> true))
  }

  test("pqSearch ADC: zero-distance codes rank first, ties break on vec_id") {
    val vecs = (0 until 12).map { i =>
      val a = if (i % 2 == 0) 0.0 else 10.0
      val b = if (i % 3 == 0) 5.0 else -5.0
      (i.toLong, Seq.fill(4)(a) ++ Seq.fill(4)(b))
    }.toDF("vec_id", "embedding")
    val cb = Seq(
      (0, 0L, Seq.fill(4)(0.0)), (0, 1L, Seq.fill(4)(10.0)),
      (1, 0L, Seq.fill(4)(5.0)), (1, 1L, Seq.fill(4)(-5.0)))
      .toDF("sub", "code_id", "subvec")
    val codes = Similarity.pqEncode(vecs, cb, m = 2, subDim = 4)
      .select("vec_id", "sub", "code_id")
    val queries = vecs.filter(col("vec_id") < 2)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val out = Similarity.pqSearch(codes, cb, queries, k = 3, m = 2, subDim = 4)
      .as[(Long, Long, Double, Int)].collect()
    assert(out.length == 6) // 2 queries x k=3
    val byQ = out.groupBy(_._1)
    // query 0 codes (0,0): same-cell vectors {0, 6} -> rank1 = id 0, adist 0
    val q0r1 = byQ(0L).find(_._4 == 1).get
    assert(q0r1._2 == 0L && q0r1._3 == 0.0)
    assert(byQ(0L).find(_._4 == 2).get._2 == 6L)
    // query 1 codes (1,1): same-cell vectors {1, 5, 7, 11} -> rank1 = id 1
    val q1r1 = byQ(1L).find(_._4 == 1).get
    assert(q1r1._2 == 1L && q1r1._3 == 0.0)
    // adist is monotone in rank within each query
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._3).sameElements(sorted.map(_._3).sorted))
    }
  }

  test("randomProject: deterministic, linear, guards width") {
    val corpus = (1 to 50).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.cos(i * 0.7 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val a = Similarity.randomProject(corpus, outDims = 4, dims = 16)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2))
    val b = Similarity.randomProject(corpus, outDims = 4, dims = 16)
      .as[(Long, Int, Double)].collect().sortBy(r => (r._1, r._2))
    assert(a.toSeq === b.toSeq, "plane matrix is deterministic")
    assert(a.length === 200 && a.map(_._2).distinct.sorted.toSeq === Seq(0, 1, 2, 3))
    // linearity: projecting 2v gives ~2*proj(v) (snapping-level tolerance)
    val doubled = corpus.select(col("vec_id"),
      transform(col("embedding"), x => x * 2).as("embedding"))
    val d2 = Similarity.randomProject(doubled, outDims = 4, dims = 16)
      .as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    a.foreach { case (id, dim, v) =>
      assert(math.abs(d2((id, dim)) - 2 * v) < 1e-5,
        s"projection must be linear: $id/$dim")
    }
    val wide = Seq((1L, Array.fill(300)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.randomProject(wide, outDims = 2, dims = 16).collect()
    }
    assert(e.toString.contains("plane matrix") ||
      Option(e.getCause).exists(_.toString.contains("plane matrix")))
  }

  test("lshMultiProbeTopK: candidate set is a strict superset of single-probe's") {
    val corpus = (1 to 300).map(i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 0.43 + d * 1.9).toFloat)))
      .toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val single = Similarity.lshTopK(corpus, queries, k = 300, numPlanes = 8, dims = 16)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val multi = Similarity.lshMultiProbeTopK(corpus, queries, k = 300,
      numPlanes = 8, dims = 16)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(single.subsetOf(multi),
      "every same-bucket candidate must survive multi-probing")
    assert(multi.size > single.size,
      s"Hamming-1 probes must widen the candidate set (${multi.size} vs ${single.size})")
    // no (query, candidate) pair is scored twice: distinct probe buckets
    val raw = Similarity.lshMultiProbeTopK(corpus, queries, k = 300,
      numPlanes = 8, dims = 16).select("query_id", "vec_id")
      .as[(Long, Long)].collect()
    assert(raw.length === raw.toSet.size, "pairs must meet exactly once")
  }

  test("clusterCohesion: a chained cluster shows a near-zero min; big clusters report unaudited") {
    // A~B and B~C are near-dups but A and C share almost nothing
    val t = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon QQQ"),
      (3L, "QQQ RRR SSS TTT UUU VVV"),
      (9L, "totally unrelated text here now")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.clusterCohesion(t, clusters, maxClusterSize = 10)
      .as[(Long, Long, Option[Long], Option[Double], Option[Double], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    val c1 = out(1L)
    assert(c1._2 === 3L && c1._3 === Some(3L) && c1._6)
    assert(c1._4.exists(_ < 0.05), s"the A-C chain pair must score near 0: $c1")
    assert(c1._5.exists(_ > c1._4.get), "mean above min")
    // singleton: present, unaudited metrics NULL
    val c9 = out(9L)
    assert(c9._2 === 1L && c9._3 === None && !c9._6)
    // over the cap: reported but unaudited
    val big = Dedup.clusterCohesion(t, clusters, maxClusterSize = 2)
      .as[(Long, Long, Option[Long], Option[Double], Option[Double], Boolean)]
      .collect().map(r => r._1 -> r).toMap
    assert(big(1L)._3 === None && !big(1L)._6,
      "a cluster past the cap must skip the quadratic audit")
  }

  test("mutualPairs keeps only symmetric edges: the asymmetric hub drops out") {
    // hand ranked frame with k=1: 1->2, 2->1 (mutual); 3->1 but 1's one
    // slot is taken by 2, so (1,3) is one-directional and must drop
    val ranked = Seq((1L, 2L, 1), (2L, 1L, 1), (3L, 1L, 1))
      .toDF("query_id", "vec_id", "rank")
    val got = Similarity.mutualPairs(ranked)
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(got === Seq((1L, 2L, 1, 1)))
    // selfTopK never returns the self-hit and ranks among others
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.1f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val st = Similarity.selfTopK(corpus, k = 1)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toMap
    assert(st === Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("mmrSelect diversifies: the near-duplicate runner-up loses to the orthogonal doc") {
    // A (1,0) rel .9; B (1,.01) rel .89 — a near-copy of A; C (0,1) rel .5
    val cand = Seq(
      (7L, 1L, 0.9, Seq(1.0f, 0.0f)),
      (7L, 2L, 0.89, Seq(1.0f, 0.01f)),
      (7L, 3L, 0.5, Seq(0.0f, 1.0f))
    ).toDF("query_id", "vec_id", "rel", "embedding")
    val got = Similarity.mmrSelect(cand, k = 3, lambda = 0.5)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect().toSeq
    // rank 1 = A (top rel); rank 2 = C (B's marginal goes negative against
    // its near-copy A); rank 3 = B
    assert(got.map(r => (r._2, r._3)) === Seq((1L, 1), (3L, 2), (2L, 3)))
    assert(got.head._4 === 0.45) // 0.5 * 0.9 snapped
    assert(got(2)._4 < 0.0, "the near-copy's marginal must be negative")
    // lambda = 1 is plain relevance order
    val plain = Similarity.mmrSelect(cand, k = 3, lambda = 1.0)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect().toSeq
    assert(plain.map(_._2) === Seq(1L, 2L, 3L))
    // k beyond the shortlist yields only |shortlist| rows; bad args refuse
    assert(Similarity.mmrSelect(cand, k = 5, lambda = 0.5).count() === 3)
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(cand, k = 0, lambda = 0.5)
    }
    intercept[IllegalArgumentException] {
      Similarity.mmrSelect(cand, k = 1, lambda = 1.5)
    }
  }

  test("simplifiedSilhouette: hand geometry, boundary point scores 0, guards fire") {
    // centroids at x=0 and x=10; points at 1 (tight to c0), 9 (tight to
    // c1), and 5 (exactly on the boundary)
    val corpus = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(9.0f, 0.0f)),
      (3L, Seq(5.0f, 0.0f))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Seq(0.0f, 0.0f)), (1L, Seq(10.0f, 0.0f)))
      .toDF("centroid_id", "embedding")
    val out = Similarity.simplifiedSilhouette(corpus, cents)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // point 1: a=1, b=9 -> s=8/9=0.888889; point 5: a=b=5 -> s=0
    // cluster 0 holds points 1 and 5 (tie at 5 breaks to lower cid)
    assert(out(0L) === ((2L, 0.444445)))  // mean of 0.888889 and 0
    assert(out(1L) === ((1L, 0.888889)))
    intercept[IllegalArgumentException] { // < 2 centroids is undefined
      Similarity.simplifiedSilhouette(corpus, cents.limit(1))
    }
    val e = intercept[Exception] {
      Similarity.simplifiedSilhouette(
        Seq((9L, Seq(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding"),
        cents).collect()
    }
    assert(e.toString.contains("width mismatch") ||
      Option(e.getCause).exists(_.toString.contains("width mismatch")))
  }

  test("vector ops refuse mismatched widths loudly (no silent null-pad)") {
    val corpus = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val wideQueries = Seq((10L, Seq(1.0f, 0.0f, 0.0f))).toDF("query_id", "embedding")
    val e1 = intercept[Exception] {
      Similarity.bruteForceTopK(corpus, wideQueries, k = 1).collect()
    }
    assert(e1.toString.contains("width mismatch") ||
      Option(e1.getCause).exists(_.toString.contains("width mismatch")))
    // mismatched centroids: a null distance would win the struct-min argmin
    val badCent = Seq((0L, Seq(0.0f, 0.0f, 0.0f))).toDF("centroid_id", "embedding")
    val e2 = intercept[Exception] {
      Similarity.ivfAssign(corpus, badCent).collect()
    }
    assert(e2.toString.contains("width mismatch") ||
      Option(e2.getCause).exists(_.toString.contains("width mismatch")))
    // mixed-width corpus through the pair pipeline
    val mixed = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val e3 = intercept[Exception] {
      Dedup.cosineForPairs(mixed, Seq((1L, 2L)).toDF("id_a", "id_b")).collect()
    }
    assert(e3.toString.contains("width mismatch") ||
      Option(e3.getCause).exists(_.toString.contains("width mismatch")))
    // matched widths unaffected
    val ok = Similarity.bruteForceTopK(corpus,
      Seq((10L, Seq(1.0f, 0.0f))).toDF("query_id", "embedding"), k = 2)
    assert(ok.count() == 2)
    // a NULL embedding gets its own diagnosable message, not a confusing
    // "null vs N dims" width rendering (and not a silent drop)
    val withNull = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val e4 = intercept[Exception] {
      Dedup.cosineForPairs(withNull, Seq((1L, 2L)).toDF("id_a", "id_b")).collect()
    }
    assert(e4.toString.contains("null embedding") ||
      Option(e4.getCause).exists(_.toString.contains("null embedding")))
  }

  test("cosinePairs hot-bucket cap drops oversize buckets before the join") {
    // identical vectors collide in one bucket in every band -> 6 choose 2
    val vecs = (1L to 6L).map(i => (i, Seq(1.0f, 0.5f))).toDF("vec_id", "embedding")
    assert(Dedup.cosinePairs(vecs).count() == 15)
    assert(Dedup.cosinePairs(vecs, maxBucketSize = Some(3)).count() == 0)
    assert(Dedup.cosinePairs(vecs, maxBucketSize = Some(6)).count() == 15)
  }

  test("quantizeInt8 maps the global range onto [-128, 127]") {
    val vecs = Seq((1L, Seq(0.0f, 5.0f)), (2L, Seq(10.0f, 2.5f)))
      .toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs).orderBy("vec_id")
      .select("qvec").as[Seq[Int]].collect()
    assert(q(0) == Seq(-128, 0)) // 0 -> -128; 5 = midpoint -> round(127.5)-128 = 0
    assert(q(1) == Seq(127, -64)) // 10 -> 127; 2.5 -> quarter point
    assert(q.flatten.forall(v => v >= -128 && v <= 127))
    // degenerate range (constant corpus): everything maps to 0, never NaN
    val const = Seq((1L, Seq(3.0f, 3.0f)), (2L, Seq(3.0f, 3.0f)))
      .toDF("vec_id", "embedding")
    val qc = Similarity.quantizeInt8(const).select("qvec").as[Seq[Int]].collect()
    assert(qc.flatten.forall(_ == 0))
  }

  test("documentFrequency counts docs (not occurrences) and applies minDf") {
    val t = Seq((1L, "alpha alpha beta"), (2L, "alpha gamma"), (3L, "beta!"))
      .toDF("doc_id", "text")
    val df = TextAnalysis.documentFrequency(t)
      .as[(String, Long)].collect().toMap
    assert(df == Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L))
    val filtered = TextAnalysis.documentFrequency(t, minDf = 2)
      .as[(String, Long)].collect().toMap
    assert(filtered == Map("alpha" -> 2L, "beta" -> 2L))
  }

  test("tfidfKeywords ranks rare-but-frequent tokens first") {
    val t = Seq(
      (1L, "common common zebra zebra zebra"),
      (2L, "common words only here"),
      (3L, "common words again")).toDF("doc_id", "text")
    val top = TextAnalysis.tfidfKeywords(t, topK = 1)
      .select("doc_id", "token").as[(Long, String)].collect().toMap
    // doc 1: zebra (tf=3, df=1) beats common (tf=2, df=3)
    assert(top(1L) == "zebra")
    // doc 3 "common words again": tf=1 each, df common=3/words=2/again=1
    // -> scores N/df = 1, 1.5, 3 -> top-2 is (again, words)
    val d3 = TextAnalysis.tfidfKeywords(t, topK = 2)
      .filter(col("doc_id") === 3L).orderBy("rank")
      .select("token", "score").as[(String, Double)].collect().toSeq
    assert(d3 == Seq(("again", 3.0), ("words", 1.5)))
  }

  test("curateCorpus gates on quality, language, and duplication together") {
    // both survivors need quality_score >= 0.3: with clean prose that is
    // roughly >= 29 whitespace tokens (29/64 * (mwl/4)/1.5 ~ 0.30)
    val textA = "the meaning of the word is that it stands for the thing " +
      "and the thing is in the world with all of the other things that " +
      "we can name when we speak about the world"
    val textB = "distributed engines shuffle partitions across executors " +
      "while broadcast relations avoid moving large tables and adaptive " +
      "execution picks join strategies from runtime statistics for the " +
      "queries that people actually run in production today"
    val t = Seq(
      (1L, textA), // passes everything
      (2L, textA), // exact dup of 1 -> dropped by dedup
      (3L, "der hund und die katze sind mit dem ball auf der wiese und " +
        "das ist nicht ein problem mit dem zaun zu haben und der hund " +
        "ist mit der katze auf der wiese und das ist auf der wiese gut"), // German
      (4L, "short text"), // too few tokens -> dropped
      (5L, textB)) // different content, passes
      .toDF("doc_id", "text")
    val out = TextAnalysis.curateCorpus(t).select("doc_id")
      .as[Long].collect().toSet
    assert(out == Set(1L, 5L))
  }

  test("dedupCorpus drops exact and near duplicates, keeps canonicals") {
    // docs: 4 = exact dup of 1 (exact stage), 2 = near-dup of 1 (LSH+CC
    // stage), 3 and 5 unique -> survivors {1, 3, 5}
    val out = Dedup.dedupCorpus(docs).select("doc_id")
      .as[Long].collect().toSet
    assert(out == Set(1L, 3L, 5L))
  }

  test("dedupCorpus jaccardThreshold verifies candidates before dropping") {
    // at threshold 1.0 only the EXACT pair survives the verify stage, so
    // the near-dup doc 2 is kept (doc 4 already fell to the exact stage)
    val out = Dedup.dedupCorpus(docs, jaccardThreshold = Some(1.0))
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 2L, 3L, 5L))
    // a permissive threshold matches the default behavior on this corpus
    val out2 = Dedup.dedupCorpus(docs, jaccardThreshold = Some(0.5))
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(1L, 3L, 5L))
  }

  private def awaitEmptyCache(what: String): Unit = {
    // CacheScope releases via the (async) execution-listener bus
    val deadline = System.currentTimeMillis + 15000
    while (!spark.sharedState.cacheManager.isEmpty &&
      System.currentTimeMillis < deadline) Thread.sleep(50)
    assert(spark.sharedState.cacheManager.isEmpty,
      s"$what leaked cache entries past pipeline exit")
  }

  test("composed pipelines release internal caches after the consuming action") {
    CacheScope.drainAll(spark); spark.catalog.clearCache()
    assert(Dedup.dedupCorpus(docs).count() == 3)
    awaitEmptyCache("dedupCorpus") // bands + CC labels
    val pairs = Seq((1L, 4L), (1L, 2L)).toDF("id_a", "id_b")
    assert(Dedup.ngramJaccard(docs, pairs).count() == 2)
    awaitEmptyCache("ngramJaccard") // pair + shingle hubs
    assert(TextAnalysis.curateCorpus(docs).count() >= 0)
    awaitEmptyCache("curateCorpus") // survivor set + dedup internals
    // an UNRELATED action must not release a pipeline's caches early
    val lazyPairs = Dedup.lshCandidatePairs(docs, persistBands = true)
    assert(docs.count() == 5) // unrelated
    Thread.sleep(500) // give a (wrongly) triggered release time to land
    assert(!spark.sharedState.cacheManager.isEmpty,
      "unrelated action released the band cache early")
    assert(lazyPairs.count() >= 1) // the pipeline's own action releases it
    awaitEmptyCache("lshCandidatePairs")
  }

  test("Caches.release frees scopes after a non-Dataset consumption (toRdd)") {
    CacheScope.drainAll(spark); spark.catalog.clearCache()
    val result = Dedup.lshCandidatePairs(docs, persistBands = true)
    // consume through raw physical execution — no SQL-execution event, so
    // the listener never observes it (df.rdd DOES fire the listener in
    // Spark 4; custom physical execution is the remaining blind spot)
    assert(result.queryExecution.toRdd.count() >= 1)
    assert(CacheScope.pendingCount(spark) > 0,
      "raw execution should NOT have released the scope (that's the gap)")
    assert(graft.pipeline.Caches.release(result), "explicit release found no scope")
    assert(CacheScope.pendingCount(spark) == 0)
    awaitEmptyCache("explicit release")
    // releasing again is a harmless no-op
    assert(!graft.pipeline.Caches.release(result))
  }

  test("abandoned pipelines stay bounded: one shared listener, capped registry") {
    CacheScope.drainAll(spark); spark.catalog.clearCache()
    // build MANY composed pipelines and never consume them: the pending
    // registry must cap (oldest scopes released eagerly), and the
    // persisted band caches must not accumulate past the cap
    val n = 80
    (0 until n).foreach { i =>
      Dedup.lshCandidatePairs(docs, persistBands = true, numHashes = 12,
        bands = if (i % 2 == 0) 4 else 3) // vary the plan a little
    }
    assert(CacheScope.pendingCount(spark) <= 64,
      s"pending scopes not capped: ${CacheScope.pendingCount(spark)}")
    // consuming a fresh pipeline still releases ITS caches promptly, with
    // all the stale scopes around
    val live = Dedup.lshCandidatePairs(docs, persistBands = true)
    assert(live.count() >= 0)
    // fire unrelated actions until the stale scopes expire or get evicted;
    // the cap + abandon window guarantee this terminates. 90 s, not 30:
    // the wall-clock abandon window still has to elapse when the host is
    // sharing cores with other JVMs (observed flake at 30 s under a
    // concurrent bench run)
    val deadline = System.currentTimeMillis + 90000
    while (CacheScope.pendingCount(spark) > 0 &&
      System.currentTimeMillis < deadline) {
      (0 until 50).foreach(_ => docs.count())
    }
    assert(CacheScope.pendingCount(spark) == 0,
      s"stale scopes never expired: ${CacheScope.pendingCount(spark)}")
    awaitEmptyCache("abandoned pipelines")
  }

  test("multimodal decode batch + resize plan + features") {
    // non-image payloads (UTF-8 text bytes) fall back to the stub, loudly
    // labeled in the decoder column
    val media = Multimodal.asMediaTable(docs, "doc_id", "text", "image")
    val dec = Multimodal.decodeBatch(media)
    assert(dec.count() == 5)
    assert(dec.filter(col("decoder") =!= "stub").count() == 0)
    assert(dec.filter(col("px_sum").isNotNull).count() == 0)
    val plan = Multimodal.resizePlan(dec, maxEdge = 16)
    val r = plan.filter(col("media_id") === 1).select("target_w", "target_h")
      .as[(Int, Int)].collect()(0)
    assert(r._1 <= 16 && r._2 <= 16)
    val feats = Multimodal.extractFeatures(media, dim = 4)
      .select("features").as[Array[Float]].collect()
    assert(feats.forall(_.length == 4))
    // deterministic: same payload -> same features
    val f = Multimodal.extractFeatures(media, dim = 4)
      .orderBy("media_id").select("features").as[Array[Float]].collect()
    assert(f(0).toSeq == f(3).toSeq) // docs 1 and 4 have identical text
  }

  test("multimodal REAL decode: ImageIO round-trips dims and exact pixel stats") {
    val media = Multimodal.pngMediaTable(docs, "doc_id")
    val dec = Multimodal.decodeBatch(media)
    assert(dec.filter(col("decoder") =!= "imageio").count() == 0,
      "every fixture PNG must decode through the real ImageIO path")
    val rows = dec.orderBy("media_id")
      .select("media_id", "width", "height", "px_sum", "px_sumsq")
      .as[(Long, Int, Int, Long, Long)].collect()
    assert(rows.length == 5)
    rows.foreach { case (id, w, h, sum, sumSq) =>
      val (ew, eh) = Multimodal.fixtureDims(id)
      assert((w, h) == (ew, eh), s"decoded dims for $id: ${(w, h)} != ${(ew, eh)}")
      // exact sums from the generator pattern, independently recomputed
      var es = 0L; var esq = 0L
      for (y <- 0 until eh; x <- 0 until ew) {
        val v = (x + 3 * y) % 256; es += v; esq += v.toLong * v
      }
      assert(sum == es && sumSq == esq, s"pixel stats for $id off")
    }
    // histogram buckets cover the full raster exactly
    val histTotal = Multimodal.grayHistogram(media, bins = 8)
      .groupBy("media_id").agg(sum("n_px").as("n"))
      .orderBy("media_id").select("n").as[Long].collect()
    assert(histTotal.toSeq == rows.map { case (_, w, h, _, _) => w.toLong * h }.toSeq)
    // real features: histogram counts as a fixed-dim vector summing to w*h
    val f = Multimodal.extractFeatures(media, dim = 8)
      .orderBy("media_id").select("features").as[Array[Float]].collect()
    assert(f.zip(rows).forall { case (v, (_, w, h, _, _)) =>
      v.length == 8 && v.sum == w * h })
    // a corrupted payload degrades to the stub, not an exception
    val broken = media.withColumn("payload",
      expr("substring(payload, 1, 10)").cast("binary"))
    assert(Multimodal.decodeBatch(broken)
      .filter(col("decoder") === "stub").count() == 5)
  }

  test("multimodal REAL audio decode: javax.sound round-trips frames and exact PCM sums") {
    val media = Multimodal.wavMediaTable(docs, "doc_id")
    val dec = Multimodal.audioStats(media)
    assert(dec.filter(col("decoder") =!= "javasound").count() == 0,
      "every fixture WAV must decode through the real javax.sound path")
    val rows = dec.orderBy("media_id")
      .select("media_id", "sample_rate", "channels", "n_frames", "pcm_sum", "pcm_abs_sum")
      .as[(Long, Int, Int, Long, Long, Long)].collect()
    assert(rows.length == 5)
    rows.foreach { case (id, rate, ch, frames, sum, absSum) =>
      assert(rate == 8000 && ch == 1)
      val en = id % 400 + 100
      assert(frames == en, s"frame count for $id: $frames != $en")
      var es = 0L; var ea = 0L
      for (i <- 0L until en) {
        val s = (i * 37 + id * 11) % 4001 - 2000
        es += s; ea += math.abs(s)
      }
      assert(sum == es && absSum == ea, s"PCM sums for $id off")
    }
    // a corrupted payload degrades to the stub, not an exception
    val broken = media.withColumn("payload",
      expr("substring(payload, 1, 10)").cast("binary"))
    assert(Multimodal.audioStats(broken)
      .filter(col("decoder") === "stub").count() == 5)
  }

  test("covarianceMatrix: known 2-dim fixture; partitioning-invariant") {
    import spark.implicits._
    val emb = Seq(Array(1.0f, 2.0f), Array(3.0f, 4.0f), Array(5.0f, 6.0f))
      .toDF("embedding")
    def covOf(df: org.apache.spark.sql.DataFrame) =
      Similarity.covarianceMatrix(df).collect()
        .map(r => (r.getInt(1), r.getInt(0), r.getDouble(2))).toSet
    val out = covOf(emb)
    // x=[1,3,5], y=[2,4,6]: var(x)=var(y)=cov(x,y)=8/3 -> 2.666667 snapped
    assert(out === Set((0, 0, 2.666667), (1, 0, 2.666667), (1, 1, 2.666667)))
    // fixed-point long accumulation: exact under any partitioning
    assert(covOf(emb.repartition(7)) === out)
  }

  test("covarianceMatrix rejects ragged vector widths loudly") {
    import spark.implicits._
    val bad = Seq(Array(1.0f, 2.0f), Array(3.0f)).toDF("embedding")
    val e = intercept[org.apache.spark.SparkException] {
      Similarity.covarianceMatrix(bad).collect()
    }
    assert(e.getMessage != null)
  }
}
