package graft.queries

import graft.{QueryPack, Tables}
import graft.pipeline.{Classifier, Dedup, Sampling, Sketches, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-curation gates: per-domain caps, temperature mixing,
  * Bloom-filter decontamination, SemDeDup-style semantic dedup, the
  * CCNet perplexity partition/curate pair, the Gopher rule battery,
  * per-group top terms, and the per-group quantile sketch.
  *
  * Determinism conventions as elsewhere: derived doubles 6-decimal-rounded
  * via the IEEE floor form; hash draws mirror `Sampling.keyHash32` as
  * md5-hex arithmetic; cosine mirrors are sequential `list_sum` folds.
  */
object CurationPack extends QueryPack {

  private val wordsSql =
    "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
  private def shinglesSql(w: String, k: Int) =
    s"""CASE WHEN len($w) >= $k
       |  THEN list_transform(range(1, len($w) - $k + 2),
       |         i -> array_to_string(list_slice($w, i, i + $k - 1), ' '))
       |  ELSE [] END""".stripMargin
  private def hex32Sql(s: String) =
    s"CAST('0x' || substr(md5($s), 1, 8) AS BIGINT)"

  /** The q155/q156 training frame: doc shape features (6-dec-snapped by
    * qualityFeatures / here) + the is-English label.
    */
  private def classifierFeatures(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityFeatures(Tables.documents(s, d))
      .withColumn("f_len",
        TextAnalysis.round6(col("n_chars").cast("double") / 1000.0))
      .withColumn("is_en", (col("lang") === "en").cast("double"))

  // mirrors TextAnalysis.tokenCount (same string as CorpusPack)
  private val nTokensSql =
    """CASE WHEN length(trim(text)) = 0 THEN 0
      |     ELSE len(string_split_regex(trim(text), '\s+')) END""".stripMargin

  /** Unrolled 2-iteration logistic-GD CTEs over the q155 features: f =
    * snapped features + label; iteration 1 has sigma exactly 0.5 (w = 0);
    * w1/w2 = single-row weight tables after each update. Every double op
    * mirrors the Spark trace operator-for-operator (left-assoc z fold,
    * snapped sigma, snapped per-row gradient terms, exact DECIMAL sums,
    * snapped update).
    */
  private lazy val logisticCtes: String = {
    def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
    val fLen = r6("CAST(length(text) AS DOUBLE) / 1000.0")
    val punct = r6("CAST(length(regexp_replace(text, '[^.,;:!?''\"()]', '', 'g')) AS DOUBLE) / length(text)")
    val mwl = r6(s"CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / GREATEST($nTokensSql, 1)")
    def gsum(sg: String, x: String) =
      s"CAST(SUM(CAST(${r6(s"($sg - y) * $x")} AS DECIMAL(28,6))) AS DOUBLE)"
    val z2 = "x0 * w1.w0 + x1 * w1.w1 + x2 * w1.w2 + x3 * w1.w3"
    s"""WITH f AS (
       |  SELECT doc_id, $fLen AS x0, $punct AS x1, $mwl AS x2, 1.0 AS x3,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents),
       |g1 AS (
       |  SELECT COUNT(*) AS n, ${gsum("0.5", "x0")} AS g0, ${gsum("0.5", "x1")} AS g1,
       |    ${gsum("0.5", "x2")} AS g2, ${gsum("0.5", "x3")} AS g3
       |  FROM f),
       |w1 AS (
       |  SELECT ${r6("0.0 - 1.0 * g0 / n")} AS w0, ${r6("0.0 - 1.0 * g1 / n")} AS w1,
       |    ${r6("0.0 - 1.0 * g2 / n")} AS w2, ${r6("0.0 - 1.0 * g3 / n")} AS w3
       |  FROM g1),
       |s2 AS (
       |  SELECT f.*, ${r6(s"1.0 / (1.0 + exp(-($z2)))")} AS sg
       |  FROM f, w1),
       |g2t AS (
       |  SELECT COUNT(*) AS n, ${gsum("sg", "x0")} AS g0, ${gsum("sg", "x1")} AS g1,
       |    ${gsum("sg", "x2")} AS g2, ${gsum("sg", "x3")} AS g3
       |  FROM s2),
       |w2 AS (
       |  SELECT ${r6("w1.w0 - 1.0 * g2t.g0 / g2t.n")} AS w0,
       |    ${r6("w1.w1 - 1.0 * g2t.g1 / g2t.n")} AS w1,
       |    ${r6("w1.w2 - 1.0 * g2t.g2 / g2t.n")} AS w2,
       |    ${r6("w1.w3 - 1.0 * g2t.g3 / g2t.n")} AS w3
       |  FROM w1, g2t)""".stripMargin
  }

  /** Unrolled BPE training CTEs (3 merges): wf = corpus word frequencies;
    * wR = padded double-space symbol strings after merge R (replace is the
    * same greedy left-to-right non-overlapping pass as the Spark fold);
    * mR = round-R winner by (count desc, pair asc).
    */
  private lazy val bpeCtes: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH wf AS (
              |  SELECT word, COUNT(*) AS freq FROM (
              |    SELECT unnest($wordsSql) AS word FROM documents)
              |  WHERE length(word) > 0 GROUP BY word),
              |w0 AS (
              |  SELECT word, freq,
              |    ' ' || array_to_string(list_transform(range(1, length(word) + 1), i -> word[i:i]), '  ') || ' ' AS s
              |  FROM wf)""".stripMargin
    for (r <- 1 to 3) {
      sb ++= s""",
                |p$r AS (
                |  SELECT l[i + 1] AS a, l[i + 2] AS b, SUM(freq) AS c
                |  FROM (SELECT string_split(trim(s), '  ') AS l, freq FROM w${r - 1}),
                |    UNNEST(range(len(l) - 1)) AS t(i)
                |  GROUP BY 1, 2),
                |m$r AS (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
                |w$r AS (
                |  SELECT word, freq,
                |    replace(s, ' ' || (SELECT a FROM m$r) || '  ' || (SELECT b FROM m$r) || ' ',
                |      ' ' || (SELECT a FROM m$r) || (SELECT b FROM m$r) || ' ') AS s
                |  FROM w${r - 1})""".stripMargin
    }
    sb.toString
  }

  /** q147's LM-score CTEs verbatim, then the q163 histogram-quantile
    * algebra (256 bins over [min, max] of avg_logprob) for the two tercile
    * cutoffs — shared by the q173 partition and q183 curate oracles.
    */
  private lazy val ccnetLabeledCtes: String = {
    val bi2 = shinglesSql("w", 2)
    s"""WITH tr AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ${hex32Sql("'lm:' || CAST(doc_id AS VARCHAR)")} < ${math.round(0.25 * 4294967296.0)}),
       |trw AS (SELECT doc_id, $wordsSql AS w FROM tr),
       |trbi AS (SELECT unnest($bi2) AS g FROM trw),
       |big AS (SELECT g, COUNT(*) AS c2 FROM trbi GROUP BY g),
       |pre AS (SELECT string_split(g, ' ')[1] AS w1, COUNT(*) AS c1 FROM trbi GROUP BY 1),
       |voc AS (
       |  SELECT COUNT(DISTINCT t) AS v FROM (
       |    SELECT unnest($wordsSql) AS t FROM tr) WHERE length(t) > 0),
       |dw AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |db AS (SELECT doc_id, unnest($bi2) AS g FROM dw),
       |sc AS (
       |  SELECT d.doc_id,
       |    CAST(FLOOR(ln((COALESCE(b.c2, 0) + 1.0) /
       |      (COALESCE(p.c1, 0) + voc.v)) * 1e4 + 0.5) AS BIGINT) AS lp4
       |  FROM db d
       |  LEFT JOIN big b ON d.g = b.g
       |  LEFT JOIN pre p ON string_split(d.g, ' ')[1] = p.w1, voc),
       |scores AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(lp4) AS BIGINT) AS sum_lp4,
       |    FLOOR(CAST(SUM(lp4) AS DOUBLE) / (COUNT(*) * 1e4) * 1e6 + 0.5) / 1e6 AS avg_logprob
       |  FROM sc GROUP BY doc_id),
       |st AS (
       |  SELECT MIN(avg_logprob) AS lo, MAX(avg_logprob) AS hi,
       |         COUNT(avg_logprob) AS n
       |  FROM scores),
       |h AS (
       |  SELECT LEAST(CAST(FLOOR((s.avg_logprob - st.lo) /
       |           ((st.hi - st.lo) / 256)) AS BIGINT), 255) AS bin,
       |         COUNT(*) AS c
       |  FROM scores s, st GROUP BY 1),
       |cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum FROM h),
       |p AS (SELECT unnest([0.333333, 0.666667]) AS prob),
       |q AS (
       |  SELECT p.prob,
       |    FLOOR((st.lo + (MIN(cum.bin) + 1) * ((st.hi - st.lo) / 256)) * 1e6 + 0.5) / 1e6 AS est
       |  FROM p, st, cum
       |  WHERE cum.cum >= GREATEST(CAST(CEIL(p.prob * st.n) AS BIGINT), 1)
       |  GROUP BY p.prob, st.lo, st.hi),
       |cut AS (SELECT MIN(est) AS c1, MAX(est) AS c2 FROM q)""".stripMargin
  }

  private val ccnetLabeledSelect: String =
    """SELECT s.doc_id, s.n_bigrams, s.sum_lp4, s.avg_logprob,
      |  CASE WHEN s.avg_logprob > cut.c2 THEN 'head'
      |       WHEN s.avg_logprob > cut.c1 THEN 'middle'
      |       ELSE 'tail' END AS ccnet_bucket
      |FROM scores s, cut""".stripMargin

  // q367's at-rest span-gram index (stored = doc_id % 7 <> 2), memoized
  // per (JVM, sf dir) — reps time the streaming probe, not the build
  private def spanStreamIndex(s: SparkSession, d: String,
      stored: DataFrame): String =
    Scratch.memo("graft_span_q367", d) { dir =>
      val t = dir.getFileName.toString
      graft.pipeline.TextIndex.writeSpanIndex(stored, t,
        dir.resolve("idx").toString, k = 8)
      t
    }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // one-pass multi-column profiling over lineitem (ingest QA)
    "q198_profile_columns" -> ((s, d) => {
      Sketches.profileColumns(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy(col("column"))
    }),

    // per-group quantile sketch: event value quantiles per event_type,
    // range facts distributed (no driver lo/hi collect)
    "q185_grouped_quantiles" -> ((s, d) => {
      Sketches.groupedHistogramQuantiles(Tables.events(s, d), "event_type",
        "value", Seq(0.25, 0.5, 0.9), bins = 256)
        .orderBy(col("event_type"), col("prob"))
    }),

    // the composed CCNet mix: tier labels + per-tier deterministic draw
    "q183_ccnet_curate" -> ((s, d) => {
      TextAnalysis.ccnetCurate(Tables.documentsSpread(s, d))
        .select(col("doc_id"), col("n_bigrams"), col("sum_lp4"),
          col("avg_logprob"), col("ccnet_bucket"), col("keep_rate"))
        .orderBy(col("doc_id"))
    }),

    // per-domain cap: best 10 docs of each source by (n_chars desc, doc_id)
    "q137_domain_cap" -> ((s, d) => {
      Sampling.domainCap(Tables.documents(s, d), "source", "doc_id", "n_chars", 10)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("source"), col("doc_id"))
    }),

    // temperature-weighted mixture over lang (alpha flattens the en-heavy
    // head): per-kept-row listing with the domain rate
    "q138_temperature_mix" -> ((s, d) => {
      Sampling.temperatureSample(Tables.documents(s, d), "lang", "doc_id",
        alpha = 0.6, targetFraction = 0.4, salt = "q138")
        .select(col("doc_id"), col("lang"), col("rate"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-filter decontamination (constant-memory form of q103; same
    // benchmark derivation — every 50th doc)
    "q139_bloom_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 50 === 0)
      TextAnalysis.bloomContaminationFlags(docs, bench,
        k = 8, numHashes = 3, bits = 1 << 16)
        .orderBy(col("doc_id"))
    }),

    // SemDeDup: the corpus is unioned with a scaled copy of every 20th
    // vector (cosine(v, 1.001*v) rounds to 1) — those copies must be
    // dropped when they share their original's cell; everything else
    // survives (max organic within-cell cosine is ~0.48 on this fixture)
    "q140_semantic_dedup" -> ((s, d) => {
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      val dup = base.filter(col("vec_id") % 20 === 3)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * 1.001).as("embedding"))
      val emb = base.union(dup)
      val cent = base.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Dedup.semanticDedup(emb, cent, threshold = 0.95)
        .orderBy(col("vec_id"))
    }),

    // exact duplicated-substring spans (Lee et al.-style substring dedup):
    // per-doc rollup of maximal spans of corpus-repeated 8-token windows
    "q145_dup_spans" -> ((s, d) => {
      Dedup.duplicateSpanSignals(Tables.documentsSpread(s, d), k = 8)
        .orderBy(col("doc_id"))
    }),

    // STREAMING substring-dedup screening: the q366 batch arrives as 3
    // DETERMINISTIC micro-batches (doc_id % 3 slices — grams can
    // duplicate WITHIN a batch, so composition is semantic, the q365
    // discipline) and each screens as a unit against the at-rest gram
    // index ∪ itself. Oracle: per-sub-batch full-union duplicate spans,
    // unioned (a doc lives in exactly one sub-batch — no repeats).
    // Index memoized per (JVM, sf dir): reps time the streaming run.
    "q367_streaming_spans" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d)
      val batch = docs.filter(col("doc_id") % 7 === 2)
      val table = spanStreamIndex(s, d, docs.filter(col("doc_id") % 7 =!= 2))
      Scratch.run(s) { tmp =>
        val srcDir = tmp.resolve("src").toString
        (0 to 2).foreach { i =>
          batch.filter(col("doc_id") % 3 === i).coalesce(1)
            .write.mode("append").parquet(srcDir)
        }
        val outDir = tmp.resolve("out").toString
        val q = graft.streaming.DocStream.streamingSpanProbe(
          s, srcDir, "doc_id BIGINT, text STRING", table, outDir,
          maxFilesPerTrigger = Some(1))
        try assert(q.awaitTermination(180000),
          "q367: streaming span probe did not terminate within 180 s")
        finally q.stop()
        s.read.parquet(outDir)
          .select(col("doc_id"), col("span_start").cast("int").as("span_start"),
            col("span_tokens").cast("int").as("span_tokens"))
          .orderBy(col("doc_id"), col("span_start"))
      }
    }),

    // SUBSTRING-DEDUP AT REST (Lee et al. spans, the band-index pattern):
    // k-token gram index built on 4/5 of the stored corpus, APPENDED the
    // rest (per-doc-local rows: append ≡ rebuild), then a batch's
    // duplicate spans against stored ∪ batch — the index side's gram
    // counts aggregate bucket-locally, no corpus re-hash per batch. The
    // oracle recomputes full-union duplicate spans restricted to the
    // batch and never sees the index.
    "q366_span_index_at_rest" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d)
      val batch = docs.filter(col("doc_id") % 7 === 2)
      val stored = docs.filter(col("doc_id") % 7 =!= 2)
      val table = "graft_span_index_q366"
      Scratch.run(s, table) { tmp =>
        graft.pipeline.TextIndex.writeSpanIndex(
          stored.filter(col("doc_id") % 5 =!= 4), table,
          tmp.resolve("idx").toString, k = 8)
        graft.pipeline.TextIndex.appendToSpanIndex(
          stored.filter(col("doc_id") % 5 === 4), table)
        graft.pipeline.TextIndex.probeSpans(s, table, batch)
          .select(col("doc_id"), col("span_start").cast("int").as("span_start"),
            col("span_tokens").cast("int").as("span_tokens"))
          .orderBy(col("doc_id"), col("span_start"))
      }
    }),

    // CCNet-style bigram-LM quality scoring: add-one-smoothed counts from
    // the salt-"lm" quarter sample, every doc scored by average bigram
    // log-probability (1e-4 fixed-point log terms -> exact BIGINT sums)
    "q147_lm_score" -> ((s, d) => {
      TextAnalysis.lmScore(Tables.documents(s, d), trainFraction = 0.25)
        .orderBy(col("doc_id"))
    }),

    // interpolated Kneser-Ney bigram LM (d=0.75) trained on the salt-"kn"
    // quarter sample — the production n-gram smoothing (q147's add-one is
    // the teaching baseline); OOV bigrams counted, not averaged
    "q321_kneser_ney" -> ((s, d) => {
      TextAnalysis.knScore(Tables.documents(s, d), trainFraction = 0.25)
        .orderBy(col("doc_id"))
    }),

    // normalized mutual information of a deterministic 7-way partition
    // of the embedding rows against their ground-truth labels — the
    // external clustering-quality readout (Strehl/Ghosh sqrt form)
    "q347_nmi" -> ((s, d) => {
      Classifier.nmi(
        Tables.t(s, d, "embeddings")
          .select((col("vec_id") % 7).as("cluster"), col("label")),
        "cluster", "label")
    }),

    // adjusted Rand + Fowlkes-Mallows over the q347 fixture — the
    // chance-corrected pair-counting clustering scores (exact integer
    // pair algebra, two snapped divisions)
    "q351_ari" -> ((s, d) => {
      Classifier.pairwiseClusterAgreement(
        Tables.t(s, d, "embeddings")
          .select((col("vec_id") % 7).as("cluster"), col("label")),
        "cluster", "label")
    }),

    // class-balanced loss weights over document languages (effective
    // number of samples, beta = 0.999)
    "q340_class_weights" -> ((s, d) => {
      Classifier.classBalanceWeights(Tables.documents(s, d), "lang")
        .orderBy(col("lang"))
    }),

    // BLEU with reference clipping, both directions per doc: full text vs
    // its 30-word prefix (clipping active, BP=1) and prefix vs full text
    // (perfect precisions, BP = exp(1 - ref/cand) < 1)
    "q343_bleu" -> ((s, d) => {
      val w = filter(Dedup.words(col("text")), t => length(t) > 0)
      val prefix = concat_ws(" ", slice(w, 1, 30))
      val docs = Tables.documents(s, d)
      val pairs = docs.select((col("doc_id") * 2).as("pair_id"),
          col("text").as("cand"), prefix.as("ref"))
        .unionAll(docs.select((col("doc_id") * 2 + 1).as("pair_id"),
          prefix.as("cand"), col("text").as("ref")))
      TextAnalysis.bleuScore(pairs).orderBy(col("pair_id"))
    }),

    // ROUGE-1/2 recall+precision+F1 over the q343 pair construction:
    // both directions so recall AND precision each vary off 1.0
    "q348_rouge" -> ((s, d) => {
      val w = filter(Dedup.words(col("text")), t => length(t) > 0)
      val prefix = concat_ws(" ", slice(w, 1, 30))
      val docs = Tables.documents(s, d)
      val pairs = docs.select((col("doc_id") * 2).as("pair_id"),
          col("text").as("cand"), prefix.as("ref"))
        .unionAll(docs.select((col("doc_id") * 2 + 1).as("pair_id"),
          prefix.as("cand"), col("text").as("ref")))
      TextAnalysis.rougeN(pairs, maxN = 2)
        .orderBy(col("pair_id"), col("n"))
    }),

    // leave-one-out target encoding of lang against n_chars — the
    // leak-free categorical feature (a row never sees its own target);
    // singleton/NULL categories fall back to the global LOO mean
    "q326_target_encode" -> ((s, d) => {
      Classifier.targetEncodeLoo(
        Tables.documents(s, d).select(col("doc_id"), col("lang"), col("n_chars")),
        "lang", "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("te"))
        .orderBy(col("doc_id"))
    }),

    // DSIR importance resampling: every doc scored under a TARGET bigram
    // LM (English docs) and the corpus-background LM; likelihood-ratio
    // weight w = exp(lp_t - lp_c), kept iff hash < min(1, 0.5·w)·2^32 —
    // the data-selection step that shapes a crawl toward a target domain
    "q218_dsir_resample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val target = docs.filter(col("lang") === "en")
      TextAnalysis.dsirResample(docs, target, rate = 0.5)
        .orderBy(col("doc_id"))
    }),

    // normalization-invariant exact dedup: case/punctuation/whitespace-
    // insensitive content hash, smallest id survives
    "q148_norm_dedup" -> ((s, d) => {
      Dedup.normalizedExact(Tables.documents(s, d))
        .orderBy(col("keep_id"))
    }),

    // corpus-wide heavy-hitter 5-grams on the salt-"hh" half sample: the
    // boilerplate-mining list (TakeOrderedAndProject top-k, no full sort)
    "q149_heavy_hitters" -> ((s, d) => {
      TextAnalysis.heavyHitterGrams(Tables.documents(s, d), k = 5,
        topK = 20, sampleFraction = 0.5)
        .orderBy(col("rank"))
    }),

    // BPE merge training: 3 merges learned from the corpus word-frequency
    // table (exact integer counts; ties pair-ascending)
    "q151_bpe_train" -> ((s, d) => {
      TextAnalysis.bpeTrain(Tables.documents(s, d), numMerges = 3)
        .orderBy(col("rank"))
    }),

    // bottom-theta distinct sketch: per-lang vocabulary size estimated
    // from the 1/16 bottom-hash slice (the filter prunes 15/16 of token
    // rows BEFORE the shuffle — sub-linear where exact distinct is not)
    "q159_theta_distinct" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(Dedup.words(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      Sketches.thetaDistinct(tok, Seq("lang"), "token", thetaInverse = 16)
        .orderBy(col("lang"))
    }),

    // histogram-CDF percentile rank (score calibration, the inverse of
    // q163): per-event estimated CDF position from one 256-bin histogram
    // broadcast back onto the scan — no corpus-wide rank window
    "q231_percentile_rank" -> ((s, d) => {
      Sketches.percentileRank(
          Tables.events(s, d).select(col("event_id"), col("value")),
          "value", bins = 256)
        .select(col("event_id"), col("pct"))
        .orderBy(col("event_id"))
    }),

    // md5-derived HyperLogLog per-lang vocabulary estimate: 512 max-rank
    // registers per group no matter the token stream; harmonic sum stays
    // exact-integer (2^24-scaled shiftleft terms), one snapped division
    "q220_hll_distinct" -> ((s, d) => {
      val tok = Tables.documents(s, d)
        .select(col("lang"), explode(Dedup.words(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      Sketches.hllDistinct(tok, Seq("lang"), "token", p = 9)
        .orderBy(col("lang"))
    }),

    // Count-Min frequency estimates for the df>=50 vocabulary over a
    // 3 x 4096 grid: state bounded by the grid no matter the key stream
    "q160_cms_counts" -> ((s, d) => {
      val occ = Tables.documents(s, d)
        .select(explode(Dedup.words(col("text"))).as("token"))
        .filter(length(col("token")) > 0)
      val cms = Sketches.cmsBuild(occ, "token", depth = 3, width = 4096)
      val probe = TextAnalysis.documentFrequency(Tables.documents(s, d), minDf = 50)
        .select(col("token"))
      Sketches.cmsEstimate(cms, probe, "token", depth = 3, width = 4096)
        .orderBy(col("token"))
    }),

    // fixed-grid histogram quantile sketch over event values: engine-exact
    // quantile estimates (error <= one bin width) from one histogram
    // aggregation — the deterministic stand-in for t-digest/KLL
    "q163_quantile_sketch" -> ((s, d) => {
      Sketches.histogramQuantiles(Tables.events(s, d), "value",
        probs = Seq(0.1, 0.25, 0.5, 0.75, 0.9, 0.99), bins = 256)
        .orderBy(col("prob"))
    }),

    // winsorization: clamp event values to the [p05, p95] sketch cutoffs
    // (driver literals) — interior values pass through bit-identical,
    // outliers meet the snapped quantile edges
    "q245_winsorize" -> ((s, d) => {
      Sketches.winsorize(Tables.events(s, d), "value",
        pLo = 0.05, pHi = 0.95, bins = 256)
        .select(col("event_id"), col("value"), col("value_w"))
        .orderBy(col("event_id"))
    }),

    // the skew-safe two-phase top-k: must return q174's rows exactly —
    // the salt buckets change the plan, never the answer
    "q249_top_terms_salted" -> ((s, d) => {
      TextAnalysis.topTermsPerGroupSalted(Tables.documents(s, d), "lang",
        topK = 5, saltBuckets = 8)
        .orderBy(col("lang"), col("rank"))
    }),

    // calibration bins (the reliability diagram): synthetic snapped score
    // grid vs empirical positive rate, one keyed aggregation
    "q258_calibration" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.round6((col("doc_id") % 101) / 100.0).as("score"),
        (col("doc_id") % 3 === 0).cast("int").as("y"))
      Classifier.calibrationBins(scored, "score", "y", bins = 10)
        .orderBy(col("bin"))
    }),

    // threshold sweep: precision/recall/F1 at 5 operating points in ONE
    // pass (broadcast threshold list, partial-agg collapse)
    "q259_threshold_metrics" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.round6((col("doc_id") % 101) / 100.0).as("score"),
        (col("doc_id") % 3 === 0).cast("int").as("y"))
      Classifier.thresholdMetrics(scored, "score", "y",
        Seq(0.1, 0.3, 0.5, 0.7, 0.9))
        .orderBy(col("threshold"))
    }),

    // rank agreement between two length signals (chars vs tokens):
    // tie-aware Spearman over distinct-value average ranks
    "q264_spearman" -> ((s, d) => {
      val sig = Tables.documents(s, d).select(col("n_chars"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      Sketches.spearman(sig, "n_chars", "n_tok")
    }),

    // declarative expectations battery: one aggregation pass evaluates
    // the whole ingest contract (incl. a deliberately failing range check)
    "q270_expectations" -> ((s, d) => {
      import Sketches.Check._
      Sketches.expectations(Tables.documents(s, d), Seq(
        NotNull("text"),
        Unique("doc_id"),
        InRange("n_chars", 1, 400, minRate = 0.9), // fails: long tail past 400
        InSet("lang", Seq("en", "de", "es", "fr"), minRate = 0.95))) // fails: zh
        .orderBy(col("check"), col("column"))
    }),

    // MAD robust outliers per event type: both medians are the q185
    // sketch estimate, everything snapped — the heavy-tail-safe twin of
    // q186's z-score flags
    "q286_mad_outliers" -> ((s, d) => {
      Sketches.madOutliers(Tables.events(s, d), "event_type", "value")
        .select(col("event_id"), col("event_type"), col("med"),
          col("abs_dev"), col("robust_cut"), col("is_outlier"))
        .orderBy(col("event_id"))
    }),

    // Cramér's V association between lang and source — the log-free
    // confounder check (is one column a proxy for the other?)
    "q285_cramers_v" -> ((s, d) => {
      Sketches.cramersV(Tables.documents(s, d), "lang", "source")
    }),

    // quantile normalization: per-source n_chars percentile mapped onto
    // the global length distribution (64 bins both levels) — the oracle
    // re-derives both CDFs and does the interval lookup as a range join
    "q280_quantile_norm" -> ((s, d) => {
      Sketches.quantileNormalize(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          col("n_chars")),
        "source", "n_chars", bins = 64)
        .select(col("doc_id"), col("source"), col("pct"),
          col("n_chars_qn"))
        .orderBy(col("doc_id"))
    }),

    // chance-corrected agreement between the gold lang label and a
    // noisy labeler (every 7th doc mislabeled): one corpus agg, then
    // exact integer algebra on the confusion matrix
    "q271_kappa" -> ((s, d) => {
      val labeled = Tables.documents(s, d).select(
        col("lang").as("gold"),
        when(col("doc_id") % 7 === 0, lit("xx")).otherwise(col("lang"))
          .as("pred"))
      Classifier.cohensKappa(labeled, "gold", "pred")
    }),

    // per-source Gini-Simpson language diversity (log-free corpus-mix
    // health: P[two docs from the source differ in lang])
    "q272_diversity" -> ((s, d) => {
      Sketches.giniSimpson(Tables.documents(s, d), Seq("source"), "lang")
        .orderBy(col("source"))
    }),

    // conversion funnel summary view -> click -> purchase: strict-after
    // greedy-earliest witnesses folded to per-step counts + rates
    "q297_funnel_steps" -> ((s, d) => {
      Sketches.funnelSteps(Tables.eventsWithTs(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
        .orderBy(col("step"))
    }),

    // weekly retention curve: cohort = first-activity epoch week,
    // fraction of the cohort still active at each week offset
    "q298_retention_curve" -> ((s, d) => {
      Sketches.retentionCohorts(Tables.eventsWithTs(s, d), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // per-type OLS trend of value on a derived feature: one keyed
    // aggregation of exact-decimal moments, closed-form slope/R²
    "q316_lin_fit" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type"),
        (col("user_id") % 97).cast("double").as("xf"), col("value"))
      Sketches.groupedLinFit(ev, Seq("event_type"), "xf", "value")
        .orderBy(col("event_type"))
    }),

    // Wilson 95% confidence band on per-type high-value event rates —
    // the interval every rate readout should carry at small n
    "q312_wilson" -> ((s, d) => {
      val g = Tables.events(s, d).groupBy(col("event_type"))
        .agg(sum(when(col("value") > 500, 1L).otherwise(0L)).as("hits"),
          count(lit(1)).as("n"))
      Classifier.wilsonInterval(g, "hits", "n")
        .orderBy(col("event_type"))
    }),

    // theta-sketch set algebra: union/intersection/Jaccard estimates of
    // two overlapping doc-id sets from one keyed pass over survivors
    "q301_theta_setops" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Sketches.thetaSetOps(
        docs.filter(col("doc_id") % 3 === 0 || col("doc_id") % 3 === 1),
        docs.filter(col("doc_id") % 3 === 1 || col("doc_id") % 3 === 2),
        "doc_id", thetaInverse = 4, salt = "ts")
    }),

    // windowed funnel (ClickHouse windowFunnel semantics): every step-1
    // event anchors a 2-day window; chain = strictly-after mins inside it
    "q302_funnel_window" -> ((s, d) => {
      Sketches.funnelWindow(Tables.eventsWithTs(s, d), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"),
        window = 172800000000000L)
        .orderBy(col("step"))
    }),

    // per-language AUC (the grouped form: per-stratum ranking quality)
    "q267_auc_by_lang" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("lang"),
        TextAnalysis.round6((col("doc_id") % 101) / 100.0).as("score"),
        (col("doc_id") % 3 === 0).cast("int").as("y"))
      Classifier.aucRoc(scored, "score", "y", groupCols = Seq("lang"))
        .orderBy(col("lang"))
    }),

    // exact ROC AUC without a corpus rank window (distinct-score cum walk)
    "q261_auc" -> ((s, d) => {
      val scored = Tables.documents(s, d).select(col("doc_id"),
        TextAnalysis.round6((col("doc_id") % 101) / 100.0).as("score"),
        (col("doc_id") % 3 === 0).cast("int").as("y"))
      Classifier.aucRoc(scored, "score", "y")
    }),

    // Benford first-digit audit over integer cents (floor both sides —
    // double->long CAST truncates in Spark but rounds in DuckDB)
    "q295_benford" -> ((s, d) => {
      val cents = Tables.events(s, d)
        .select(floor(col("value") * 100).cast("long").as("cents"))
      Sketches.benfordAudit(cents, "cents").orderBy(col("digit"))
    }),

    // privacy audit: quasi-identifiers (event_type, value centile) vs the
    // sensitive user_id — exact k-anonymity / l-diversity counts
    "q294_privacy_audit" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .withColumn("vband", floor(col("value") / 100).cast("long"))
      Sketches.privacyAudit(ev, Seq("event_type", "vband"), "user_id",
        k = 5L, l = 3L)
    }),

    // Welch's t between event halves: did the mean move? (the mean-shift
    // companion to q260's distribution-shape drift)
    "q293_welch_t" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Sketches.welchT(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1), "value")
    }),

    // two-sample chi-square drift between event halves on a shared grid:
    // the logarithm-free distribution-shift monitor
    "q260_chisq_drift" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Sketches.chiSquareDrift(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "value", lo = 0.0, hi = 1000.0, bins = 64)
    }),

    // Kaplan-Meier survival: per-user observed lifetime (hour-bucketed
    // ts span), event = made a purchase, else right-censored; the
    // censoring-aware churn curve
    "q336_kaplan_meier" -> ((s, d) => {
      val subj = Tables.eventsWithTs(s, d).groupBy(col("user_id"))
        .agg(((max(col("ts")) - min(col("ts"))) / lit(3600000000000L))
            .cast("long").as("dur"),
          max((col("event_type") === "purchase").cast("int")).as("ev"))
      Sketches.kaplanMeier(subj, "dur", "ev").orderBy(col("t"))
    }),

    // log-rank test between the user-id halves' survival curves —
    // the hypothesis-test companion to q336's KM estimator
    "q339_log_rank" -> ((s, d) => {
      val subj = Tables.eventsWithTs(s, d).groupBy(col("user_id"))
        .agg(((max(col("ts")) - min(col("ts"))) / lit(3600000000000L))
            .cast("long").as("dur"),
          max((col("event_type") === "purchase").cast("int")).as("ev"))
      Sketches.logRankTest(
        subj.filter(col("user_id") % 2 === 0),
        subj.filter(col("user_id") % 2 === 1), "dur", "ev")
    }),

    // Kendall's tau-b between a fine and a coarse bucketing of the same
    // signal (strong positive, heavy ties) — contingency-table form,
    // never row pairs
    "q330_kendall_tau" -> ((s, d) => {
      Sketches.kendallTauB(
        Tables.events(s, d).filter(col("value").isNotNull).select(
          floor(col("value") / 100).cast("long").as("va"),
          floor(col("value") / 200).cast("long").as("vb")),
        "va", "vb")
    }),

    // population stability index between the q260 event halves: Laplace-
    // smoothed proportions over the dense 64-bin spine, snapped log terms
    "q327_psi_drift" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Sketches.psiDrift(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "value", lo = 0.0, hi = 1000.0, bins = 64)
    }),

    // Jensen-Shannon divergence between the same halves: bounded,
    // symmetric, smoothing-free (empty-on-one-side bins contribute the
    // finite p*ln2 term)
    "q338_js_divergence" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Sketches.jsDivergence(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "value", lo = 0.0, hi = 1000.0, bins = 64)
    }),

    // 1-D Wasserstein (EMD) between the same halves: |cdf gap| x bin
    // width summed over the dense spine — drift in VALUE units
    "q328_emd_drift" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Sketches.emdDrift(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 === 1),
        "value", lo = 0.0, hi = 1000.0, bins = 64)
    }),

    // distributed logistic-regression training (the fastText-style quality
    // classifier gate): 2 full-batch GD iterations over shape features,
    // label = is-English; exact fixed-point trace
    "q155_logistic_train" -> ((s, d) => {
      Classifier.logisticTrain(classifierFeatures(s, d),
        Seq("f_len", "punct_ratio", "mean_word_len"), "is_en",
        iters = 2, lr = 1.0)
        .orderBy(col("feature_idx"))
    }),

    // inference with the freshly-trained weights: per-doc snapped sigmoid
    "q156_logistic_score" -> ((s, d) => {
      val f = classifierFeatures(s, d)
      val wts = Classifier.logisticTrain(f,
        Seq("f_len", "punct_ratio", "mean_word_len"), "is_en",
        iters = 2, lr = 1.0)
        .orderBy(col("feature_idx")).collect()
        .map(r => (r.getString(1), r.getDouble(2))).toSeq
      Classifier.logisticScore(f, wts).orderBy(col("doc_id"))
    }),

    // substring-dedup REWRITE: strip every corpus-repeated 8-token window
    // except its globally-first occurrence, rebuild the text
    "q154_remove_dup_spans" -> ((s, d) => {
      Dedup.removeDuplicateSpans(Tables.documentsSpread(s, d), k = 8)
        .orderBy(col("doc_id"))
    }),

    // tokenize the corpus with the trained merges: per-doc word and piece
    // counts. The 3-row merge model is memoized per (JVM, sf dir) — a
    // tokenizer is trained once and segments forever, so reps 2+ (and the
    // bench min-of-3) time the SEGMENT operator, not the training loop
    // (q151 times bpeTrain itself). Round-11 note: the round-10 bench's
    // 7.4 s min was the segment operator ITSELF — the nested aggregate-fold
    // form was CodegenFallback (interpreted ~1.4 ms/doc); the old 0.4 s
    // "isolated" claim was Profile's .count() pruning the whole projection.
    // Both fixed: one StaticInvoke kernel (TextKernel.bpeSegmentDoc),
    // Profile now noop-writes like Bench.
    "q152_bpe_segment" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = Scratch.memo("bpe_merges_q152", d) { _ =>
        TextAnalysis.bpeTrain(docs, numMerges = 3)
          .orderBy(col("rank")).collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
      }
      TextAnalysis.bpeSegment(docs, merges).orderBy(col("doc_id"))
    }),

    // per-language top-5 tokens: keyed count then a vocab-bounded rank
    // window — the per-slice vocabulary audit
    "q174_top_terms_per_lang" -> ((s, d) => {
      TextAnalysis.topTermsPerGroup(Tables.documents(s, d), "lang", topK = 5)
        .orderBy(col("lang"), col("rank"))
    }),

    // CCNet-style perplexity partition: bigram-LM score + sketch-derived
    // tercile cutoffs -> head/middle/tail labels
    "q173_ccnet_partition" -> ((s, d) => {
      TextAnalysis.perplexityPartition(Tables.documentsSpread(s, d))
        .orderBy(col("doc_id"))
    }),

    // Gopher rule battery on marker-injected docs (bullets/ellipsis lines
    // on %13, # symbols on %17 exercise the line- and symbol-rules the
    // plain word-salad corpus never trips); minStopwordsPresent=1 because
    // the fixture vocabulary carries only 'the' from the Gopher list
    "q167_gopher_rules" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 17 === 0, lit(" ### #")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit("\n- bullet item\ntrailing thought...")).otherwise(lit(""))))
      TextAnalysis.gopherRules(docs, minStopwordsPresent = 1)
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          col("mean_word_len"),
          col("symbol_ratio"), col("bullet_ratio"), col("ellipsis_ratio"),
          col("alpha_word_frac"), col("n_stop_present").cast("long").as("n_stop_present"),
          col("pass_word_count").cast("int").as("pass_word_count"),
          col("pass_symbol").cast("int").as("pass_symbol"),
          col("pass_bullet").cast("int").as("pass_bullet"),
          col("pass_ellipsis").cast("int").as("pass_ellipsis"),
          col("gopher_pass").cast("int").as("gopher_pass"))
        .orderBy(col("doc_id"))
    })
  )

  override def oracleSql: Map[String, String] = Map(

    "q137_domain_cap" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY source, doc_id""".stripMargin,

    "q138_temperature_mix" ->
      s"""WITH c AS (
         |  SELECT lang, COUNT(*) AS n_docs,
         |    pow(CAST(COUNT(*) AS DOUBLE), 0.6) AS w
         |  FROM documents GROUP BY lang),
         |t AS (SELECT SUM(w) AS tw, SUM(n_docs) AS tn FROM c),
         |r AS (
         |  SELECT lang,
         |    FLOOR(LEAST(0.4 * CAST(tn AS DOUBLE) * w / (tw * CAST(n_docs AS DOUBLE)), 1.0)
         |      * 1e6 + 0.5) / 1e6 AS rate
         |  FROM c, t)
         |SELECT d.doc_id, d.lang, r.rate
         |FROM documents d JOIN r USING (lang)
         |WHERE ${hex32Sql("'q138:' || CAST(doc_id AS VARCHAR)")} <
         |  CAST(FLOOR(rate * 4294967296.0) AS BIGINT)
         |ORDER BY d.doc_id""".stripMargin,

    "q139_bloom_decontam" -> {
      val w8 = shinglesSql(wordsSql, 8)
      // position membership mirrors the bloom bitmap exactly: a gram hits
      // iff ALL numHashes of its positions were set by some benchmark gram
      s"""WITH bg AS (
         |  SELECT DISTINCT unnest($w8) AS g FROM documents WHERE doc_id % 50 = 0),
         |js AS (SELECT unnest(range(0, 3)) AS j),
         |bpos AS (
         |  SELECT DISTINCT (${hex32Sql("g")} + j * CAST('0x' || substr(md5(g), 9, 8) AS BIGINT)) % 65536 AS p
         |  FROM bg, js),
         |dg AS (
         |  SELECT DISTINCT doc_id, unnest($w8) AS g FROM documents),
         |dp AS (
         |  SELECT doc_id, g,
         |    (${hex32Sql("g")} + j * CAST('0x' || substr(md5(g), 9, 8) AS BIGINT)) % 65536 AS p
         |  FROM dg, js),
         |hitg AS (
         |  SELECT doc_id, g FROM dp
         |  WHERE p IN (SELECT p FROM bpos)
         |  GROUP BY doc_id, g HAVING COUNT(*) = 3),
         |h AS (SELECT doc_id, COUNT(*) AS n_hit_grams FROM hitg GROUP BY doc_id)
         |SELECT d.doc_id, CAST(COALESCE(h.n_hit_grams, 0) AS BIGINT) AS n_hit_grams,
         |  COALESCE(h.n_hit_grams, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN h USING (doc_id) ORDER BY d.doc_id""".stripMargin
    },

    "q140_semantic_dedup" ->
      """WITH base AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x * 1.001) AS v
        |  FROM base WHERE vec_id % 20 = 3),
        |c AS (SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id % 100 = 1),
        |s AS (
        |  SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(range(0, 64), i ->
        |      (e.v[i + 1] - c.cv[i + 1]) * (e.v[i + 1] - c.cv[i + 1]))) AS d2
        |  FROM e, c),
        |a AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |    FROM s) WHERE rn = 1),
        |p AS (
        |  SELECT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id),
        |sc AS (
        |  SELECT p.id_a, p.id_b,
        |    FLOOR(list_sum(list_transform(range(0, 64), i -> ea.v[i + 1] * eb.v[i + 1])) /
        |      (sqrt(list_sum(list_transform(range(0, 64), i -> ea.v[i + 1] * ea.v[i + 1]))) *
        |       sqrt(list_sum(list_transform(range(0, 64), i -> eb.v[i + 1] * eb.v[i + 1]))))
        |      * 1e6 + 0.5) / 1e6 AS cosine
        |  FROM p JOIN e ea ON ea.vec_id = p.id_a JOIN e eb ON eb.vec_id = p.id_b),
        |dropped AS (SELECT DISTINCT id_b FROM sc WHERE cosine >= 0.95)
        |SELECT a.vec_id, a.cid AS centroid_id FROM a
        |WHERE a.vec_id NOT IN (SELECT id_b FROM dropped)
        |ORDER BY a.vec_id""".stripMargin,

    "q147_lm_score" -> {
      val bi2 = shinglesSql("w", 2)
      s"""WITH tr AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ${hex32Sql("'lm:' || CAST(doc_id AS VARCHAR)")} < ${math.round(0.25 * 4294967296.0)}),
         |trw AS (SELECT doc_id, $wordsSql AS w FROM tr),
         |trbi AS (SELECT unnest($bi2) AS g FROM trw),
         |big AS (SELECT g, COUNT(*) AS c2 FROM trbi GROUP BY g),
         |pre AS (SELECT string_split(g, ' ')[1] AS w1, COUNT(*) AS c1 FROM trbi GROUP BY 1),
         |voc AS (
         |  SELECT COUNT(DISTINCT t) AS v FROM (
         |    SELECT unnest($wordsSql) AS t FROM tr) WHERE length(t) > 0),
         |dw AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |db AS (SELECT doc_id, unnest($bi2) AS g FROM dw),
         |sc AS (
         |  SELECT d.doc_id,
         |    CAST(FLOOR(ln((COALESCE(b.c2, 0) + 1.0) /
         |      (COALESCE(p.c1, 0) + voc.v)) * 1e4 + 0.5) AS BIGINT) AS lp4
         |  FROM db d
         |  LEFT JOIN big b ON d.g = b.g
         |  LEFT JOIN pre p ON string_split(d.g, ' ')[1] = p.w1, voc)
         |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(lp4) AS BIGINT) AS sum_lp4,
         |  FLOOR(CAST(SUM(lp4) AS DOUBLE) / (COUNT(*) * 1e4) * 1e6 + 0.5) / 1e6 AS avg_logprob
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // interpolated Kneser-Ney (d=0.75) from the salt-'kn' quarter sample:
    // continuation counts over DISTINCT train bigrams, prefix mass over
    // train bigram tokens; unseen-prefix backoff to Pcont; OOV (unseen
    // continuation) bigrams counted, excluded from the average
    "q321_kneser_ney" -> {
      val bi2 = shinglesSql("w", 2)
      s"""WITH tr AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ${hex32Sql("'kn:' || CAST(doc_id AS VARCHAR)")} < ${math.round(0.25 * 4294967296.0)}),
         |trw AS (SELECT doc_id, $wordsSql AS w FROM tr),
         |bi AS (
         |  SELECT string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
         |  FROM (SELECT unnest($bi2) AS g FROM trw)),
         |big AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c12 FROM bi GROUP BY 1, 2),
         |pre AS (SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1,
         |               CAST(COUNT(DISTINCT w2) AS DOUBLE) AS n1fw
         |        FROM bi GROUP BY 1),
         |cont AS (SELECT w2, CAST(COUNT(DISTINCT w1) AS DOUBLE) AS n1bw
         |         FROM bi GROUP BY 1),
         |btot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS b
         |         FROM (SELECT DISTINCT w1, w2 FROM bi)),
         |dw AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |db AS (
         |  SELECT doc_id, string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
         |  FROM (SELECT doc_id, unnest($bi2) AS g FROM dw)),
         |sc AS (
         |  SELECT d.doc_id,
         |    CASE WHEN cont.n1bw IS NULL THEN NULL
         |         WHEN pre.c1 IS NULL THEN cont.n1bw / btot.b
         |         ELSE (GREATEST(COALESCE(big.c12, 0.0) - 0.75, 0.0) +
         |               0.75 * pre.n1fw * (cont.n1bw / btot.b)) / pre.c1
         |    END AS p
         |  FROM db d
         |  LEFT JOIN big ON d.w1 = big.w1 AND d.w2 = big.w2
         |  LEFT JOIN pre ON d.w1 = pre.w1
         |  LEFT JOIN cont ON d.w2 = cont.w2, btot),
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams,
         |    CAST(SUM(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |    CAST(SUM(CAST(FLOOR(ln(p) * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS sum_lp4
         |  FROM sc GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, n_oov, sum_lp4,
         |  CASE WHEN n_bigrams > n_oov THEN
         |    FLOOR(CAST(sum_lp4 AS DOUBLE) / ((n_bigrams - n_oov) * 1e4) * 1e6 + 0.5) / 1e6
         |  END AS avg_logprob
         |FROM agg ORDER BY doc_id""".stripMargin
    },

    // BLEU recomputed from scratch: n-gram position unnest, clipped
    // counts via LEFT JOIN + LEAST, geometric mean + brevity penalty
    "q343_bleu" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter($wordsSql, t -> length(t) > 0) AS wd
         |  FROM documents),
         |pairs AS (
         |  SELECT doc_id * 2 AS pair_id, wd AS cw, wd[1:30] AS rw FROM w
         |  UNION ALL
         |  SELECT doc_id * 2 + 1, wd[1:30], wd FROM w),
         |nl AS (SELECT unnest([1, 2, 3, 4]) AS n),
         |cpos AS (
         |  SELECT pair_id, n, cw, unnest(range(1, len(cw) - n + 2)) AS i
         |  FROM pairs CROSS JOIN nl WHERE len(cw) >= n),
         |cc AS (
         |  SELECT pair_id, n, array_to_string(cw[i : i + n - 1], ' ') AS gram,
         |         COUNT(*) AS c
         |  FROM cpos GROUP BY 1, 2, 3),
         |rpos AS (
         |  SELECT pair_id, n, rw, unnest(range(1, len(rw) - n + 2)) AS i
         |  FROM pairs CROSS JOIN nl WHERE len(rw) >= n),
         |rc AS (
         |  SELECT pair_id, n, array_to_string(rw[i : i + n - 1], ' ') AS gram,
         |         COUNT(*) AS r
         |  FROM rpos GROUP BY 1, 2, 3),
         |pn AS (
         |  SELECT cc.pair_id, cc.n,
         |    SUM(LEAST(cc.c, COALESCE(rc.r, 0))) AS m, SUM(cc.c) AS t
         |  FROM cc LEFT JOIN rc
         |    ON rc.pair_id = cc.pair_id AND rc.n = cc.n AND rc.gram = cc.gram
         |  GROUP BY 1, 2),
         |piv AS (
         |  SELECT pair_id,
         |    MAX(CASE WHEN n = 1 THEN m END) AS m1, MAX(CASE WHEN n = 1 THEN t END) AS t1,
         |    MAX(CASE WHEN n = 2 THEN m END) AS m2, MAX(CASE WHEN n = 2 THEN t END) AS t2,
         |    MAX(CASE WHEN n = 3 THEN m END) AS m3, MAX(CASE WHEN n = 3 THEN t END) AS t3,
         |    MAX(CASE WHEN n = 4 THEN m END) AS m4, MAX(CASE WHEN n = 4 THEN t END) AS t4
         |  FROM pn GROUP BY 1),
         |lens AS (SELECT pair_id, CAST(len(cw) AS INT) AS cand_len,
         |                CAST(len(rw) AS INT) AS ref_len FROM pairs)
         |SELECT l.pair_id, cand_len, ref_len,
         |  CASE WHEN cand_len = 0 THEN 0.0
         |       WHEN m1 > 0 AND t1 > 0 AND m2 > 0 AND t2 > 0
         |        AND m3 > 0 AND t3 > 0 AND m4 > 0 AND t4 > 0 THEN
         |         FLOOR((CASE WHEN cand_len >= ref_len THEN 1.0
         |                ELSE EXP(1.0 - CAST(ref_len AS DOUBLE) / cand_len) END)
         |           * EXP((LN(CAST(m1 AS DOUBLE) / t1) + LN(CAST(m2 AS DOUBLE) / t2)
         |                + LN(CAST(m3 AS DOUBLE) / t3) + LN(CAST(m4 AS DOUBLE) / t4))
         |               / 4) * 1e6 + 0.5) / 1e6
         |       ELSE 0.0 END AS bleu
         |FROM lens l LEFT JOIN piv USING (pair_id)
         |ORDER BY pair_id""".stripMargin,

    // clipped n-gram overlap via FULL OUTER join (recall needs the
    // reference-only gram mass); F1 = 2m/(tc+tr) exactly
    "q348_rouge" ->
      s"""WITH w AS (
         |  SELECT doc_id,
         |    list_filter($wordsSql, t -> length(t) > 0) AS wd
         |  FROM documents),
         |pairs AS (
         |  SELECT doc_id * 2 AS pair_id, wd AS cw, wd[1:30] AS rw FROM w
         |  UNION ALL
         |  SELECT doc_id * 2 + 1, wd[1:30], wd FROM w),
         |nl AS (SELECT unnest([1, 2]) AS n),
         |cpos AS (
         |  SELECT pair_id, n, cw, unnest(range(1, len(cw) - n + 2)) AS i
         |  FROM pairs CROSS JOIN nl WHERE len(cw) >= n),
         |cc AS (
         |  SELECT pair_id, n, array_to_string(cw[i : i + n - 1], ' ') AS gram,
         |         COUNT(*) AS c
         |  FROM cpos GROUP BY 1, 2, 3),
         |rpos AS (
         |  SELECT pair_id, n, rw, unnest(range(1, len(rw) - n + 2)) AS i
         |  FROM pairs CROSS JOIN nl WHERE len(rw) >= n),
         |rc AS (
         |  SELECT pair_id, n, array_to_string(rw[i : i + n - 1], ' ') AS gram,
         |         COUNT(*) AS r
         |  FROM rpos GROUP BY 1, 2, 3),
         |pn AS (
         |  SELECT COALESCE(cc.pair_id, rc.pair_id) AS pair_id,
         |         COALESCE(cc.n, rc.n) AS n,
         |    SUM(LEAST(COALESCE(cc.c, 0), COALESCE(rc.r, 0))) AS m,
         |    SUM(COALESCE(cc.c, 0)) AS tc, SUM(COALESCE(rc.r, 0)) AS tr
         |  FROM cc FULL OUTER JOIN rc
         |    ON rc.pair_id = cc.pair_id AND rc.n = cc.n AND rc.gram = cc.gram
         |  GROUP BY 1, 2)
         |SELECT pair_id, n,
         |  CASE WHEN tr > 0 THEN FLOOR(CAST(m AS DOUBLE) / tr * 1e6 + 0.5) / 1e6 END
         |    AS rouge_recall,
         |  CASE WHEN tc > 0 THEN FLOOR(CAST(m AS DOUBLE) / tc * 1e6 + 0.5) / 1e6 END
         |    AS rouge_precision,
         |  CASE WHEN tr > 0 AND tc > 0
         |    THEN FLOOR(2.0 * m / (tr + tc) * 1e6 + 0.5) / 1e6 END AS rouge_f1
         |FROM pn ORDER BY pair_id, n""".stripMargin,

    // contingency-cell MI and margin entropies, each term snapped then
    // decimal-summed; the outer snaps normalize -0.0 like the engine
    "q347_nmi" ->
      """WITH cells AS (
        |  SELECT vec_id % 7 AS a, label AS b, COUNT(*) AS nij
        |  FROM embeddings GROUP BY 1, 2),
        |at AS (SELECT a, CAST(SUM(nij) AS BIGINT) AS ai FROM cells GROUP BY 1),
        |bt AS (SELECT b, CAST(SUM(nij) AS BIGINT) AS bj FROM cells GROUP BY 1),
        |nt AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM cells),
        |mi AS (
        |  SELECT CAST(SUM(CAST(FLOOR(
        |    (CAST(nij AS DOUBLE) / n) *
        |      LN(CAST(n AS DOUBLE) * nij / (CAST(ai AS DOUBLE) * bj))
        |    * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS mi
        |  FROM cells JOIN at USING (a) JOIN bt USING (b), nt),
        |ha AS (
        |  SELECT -CAST(SUM(CAST(FLOOR(
        |    (CAST(ai AS DOUBLE) / n) * LN(CAST(ai AS DOUBLE) / n)
        |    * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS h_a
        |  FROM at, nt),
        |hb AS (
        |  SELECT -CAST(SUM(CAST(FLOOR(
        |    (CAST(bj AS DOUBLE) / n) * LN(CAST(bj AS DOUBLE) / n)
        |    * 1e6 + 0.5) / 1e6 AS DECIMAL(38,6))) AS DOUBLE) AS h_b
        |  FROM bt, nt)
        |SELECT n,
        |  FLOOR(mi * 1e6 + 0.5) / 1e6 AS mi,
        |  FLOOR(h_a * 1e6 + 0.5) / 1e6 AS h_a,
        |  FLOOR(h_b * 1e6 + 0.5) / 1e6 AS h_b,
        |  CASE WHEN h_a > 0 AND h_b > 0
        |    THEN FLOOR(mi / SQRT(h_a * h_b) * 1e6 + 0.5) / 1e6 END AS nmi
        |FROM mi, ha, hb, nt""".stripMargin,

    // pair-confusion recompute: exact C(x,2) sums, the products in the
    // engine's fixed double order, two snapped divisions
    "q351_ari" ->
      """WITH cells AS (
        |  SELECT vec_id % 7 AS a, label AS b, COUNT(*) AS nij
        |  FROM embeddings GROUP BY 1, 2),
        |tpn AS (
        |  SELECT CAST(SUM(nij * (nij - 1) / 2) AS DECIMAL(38,0)) AS tp,
        |         CAST(SUM(nij) AS BIGINT) AS n
        |  FROM cells),
        |sa AS (
        |  SELECT CAST(SUM(ai * (ai - 1) / 2) AS DECIMAL(38,0)) AS sa
        |  FROM (SELECT SUM(nij) AS ai FROM cells GROUP BY a)),
        |sb AS (
        |  SELECT CAST(SUM(bj * (bj - 1) / 2) AS DECIMAL(38,0)) AS sb
        |  FROM (SELECT SUM(nij) AS bj FROM cells GROUP BY b)),
        |j AS (
        |  SELECT n, tp, sa - tp AS fp, sb - tp AS fn,
        |    CAST(n AS DECIMAL(38,0)) * (n - 1) / 2 - sa - sb + tp AS tn
        |  FROM tpn, sa, sb),
        |jd AS (
        |  SELECT n, tp, fp, fn, tn,
        |    CAST(tp AS DOUBLE) AS tpd, CAST(fp AS DOUBLE) AS fpd,
        |    CAST(fn AS DOUBLE) AS fnd, CAST(tn AS DOUBLE) AS tnd
        |  FROM j)
        |SELECT n, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
        |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
        |  CASE WHEN (tpd + fnd) * (fnd + tnd) + (tpd + fpd) * (fpd + tnd) > 0
        |    THEN FLOOR(2.0 * (tpd * tnd - fnd * fpd) /
        |      ((tpd + fnd) * (fnd + tnd) + (tpd + fpd) * (fpd + tnd))
        |      * 1e6 + 0.5) / 1e6
        |  WHEN fp = 0 AND fn = 0 THEN 1.0 END AS ari,
        |  CASE WHEN (tpd + fpd) * (tpd + fnd) > 0
        |    THEN FLOOR(tpd / SQRT((tpd + fpd) * (tpd + fnd)) * 1e6 + 0.5) / 1e6
        |  END AS fowlkes_mallows
        |FROM jd""".stripMargin,

    // effective-number weights: snapped pow, snapped inverse, exact
    // decimal normalizer, weights sum to the class count
    "q340_class_weights" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
        |i AS (
        |  -- (1.0 - 0.999) must subtract in DOUBLE space: DuckDB's decimal
        |  -- literals would give the exact 0.001 where Spark's double fold
        |  -- gives 0.0010000000000000009
        |  SELECT lang, n,
        |    FLOOR(((CAST(1.0 AS DOUBLE) - CAST(0.999 AS DOUBLE)) /
        |      (1.0 - FLOOR(POWER(0.999, n) * 1e6 + 0.5) / 1e6)) * 1e6 + 0.5) / 1e6 AS inv
        |  FROM c),
        |s AS (SELECT CAST(SUM(CAST(inv AS DECIMAL(28,6))) AS DOUBLE) AS s,
        |             COUNT(*) AS cc FROM i)
        |SELECT lang, n,
        |  FLOOR((inv * s.cc / s.s) * 1e6 + 0.5) / 1e6 AS weight
        |FROM i, s ORDER BY lang""".stripMargin,

    // LOO target encoding: per-category (Σ, n) minus the row's own
    // target; singleton/NULL categories -> global LOO mean
    "q326_target_encode" ->
      """WITH c AS (
        |  SELECT lang, SUM(CAST(n_chars AS DECIMAL(28,6))) AS s, COUNT(*) AS n
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |g AS (
        |  SELECT COALESCE(SUM(CAST(n_chars AS DECIMAL(28,6))),
        |           CAST(0 AS DECIMAL(28,6))) AS s, COUNT(*) AS n
        |  FROM documents)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  FLOOR((CASE WHEN d.lang IS NOT NULL AND c.n > 1
        |      THEN CAST(c.s - CAST(d.n_chars AS DECIMAL(28,6)) AS DOUBLE) / (c.n - 1)
        |    WHEN g.n > 1
        |      THEN CAST(g.s - CAST(d.n_chars AS DECIMAL(28,6)) AS DOUBLE) / (g.n - 1)
        |    END) * 1e6 + 0.5) / 1e6 AS te
        |FROM documents d LEFT JOIN c ON d.lang = c.lang, g
        |ORDER BY d.doc_id""".stripMargin,

    // two q147-algebra bigram LMs (prefix-disambiguated CTEs): target =
    // English docs, background = the salt-'dsir' quarter sample; weight =
    // r6(exp(r6(lp_t - lp_c))); keep iff hash('dsir:keep:' || id) <
    // floor(min(w·0.5, 1)·2^32) — the weightedHashSample cut verbatim
    "q218_dsir_resample" -> {
      def lmCtes(p: String, trainSel: String): String = {
        val bi2 = shinglesSql("w", 2)
        s"""${p}tr AS ($trainSel),
           |${p}trw AS (SELECT doc_id, $wordsSql AS w FROM ${p}tr),
           |${p}trbi AS (SELECT unnest($bi2) AS g FROM ${p}trw),
           |${p}big AS (SELECT g, COUNT(*) AS c2 FROM ${p}trbi GROUP BY g),
           |${p}pre AS (SELECT string_split(g, ' ')[1] AS w1, COUNT(*) AS c1
           |            FROM ${p}trbi GROUP BY 1),
           |${p}voc AS (
           |  SELECT COUNT(DISTINCT t) AS v FROM (
           |    SELECT unnest($wordsSql) AS t FROM ${p}tr) WHERE length(t) > 0),
           |${p}db AS (SELECT doc_id, unnest($bi2) AS g FROM
           |  (SELECT doc_id, $wordsSql AS w FROM documents)),
           |${p}sc AS (
           |  SELECT d.doc_id,
           |    CAST(FLOOR(ln((COALESCE(b.c2, 0) + 1.0) /
           |      (COALESCE(p2.c1, 0) + ${p}voc.v)) * 1e4 + 0.5) AS BIGINT) AS lp4
           |  FROM ${p}db d
           |  LEFT JOIN ${p}big b ON d.g = b.g
           |  LEFT JOIN ${p}pre p2 ON string_split(d.g, ' ')[1] = p2.w1, ${p}voc),
           |${p}res AS (
           |  SELECT doc_id,
           |    FLOOR(CAST(SUM(lp4) AS DOUBLE) / (COUNT(*) * 1e4) * 1e6 + 0.5) / 1e6 AS avg_logprob
           |  FROM ${p}sc GROUP BY doc_id)""".stripMargin
      }
      def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
      s"""WITH ${lmCtes("t_", "SELECT doc_id, text FROM documents WHERE lang = 'en'")},
         |${lmCtes("c_",
            s"""SELECT doc_id, text FROM documents
               |  WHERE ${hex32Sql("'dsir:' || CAST(doc_id AS VARCHAR)")} < ${math.round(0.25 * 4294967296.0)}""".stripMargin)},
         |wts AS (
         |  SELECT t.doc_id, ${r6(s"exp(${r6("t.avg_logprob - c.avg_logprob")})")} AS weight
         |  FROM t_res t JOIN c_res c USING (doc_id))
         |SELECT doc_id, weight FROM wts
         |WHERE ${hex32Sql("'dsir:keep:' || CAST(doc_id AS VARCHAR)")} <
         |  FLOOR(LEAST(weight * 0.5, 1.0) * 4294967296.0)
         |ORDER BY doc_id""".stripMargin
    },

    "q174_top_terms_per_lang" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest($wordsSql) AS token FROM documents),
         |c AS (
         |  SELECT lang, token, COUNT(*) AS n_occurrences
         |  FROM tok WHERE length(token) > 0 GROUP BY 1, 2),
         |r AS (
         |  SELECT lang, token, n_occurrences,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY n_occurrences DESC, token) AS rank
         |  FROM c)
         |SELECT lang, rank, token, n_occurrences
         |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "q173_ccnet_partition" -> s"$ccnetLabeledCtes\n$ccnetLabeledSelect\nORDER BY s.doc_id",

    "q258_calibration" ->
      """WITH s AS (
        |  SELECT doc_id, FLOOR((doc_id % 101) / 100.0 * 1e6 + 0.5) / 1e6 AS score,
        |    CASE WHEN doc_id % 3 = 0 THEN 1.0 ELSE 0.0 END AS y
        |  FROM documents)
        |SELECT LEAST(CAST(FLOOR(score * 10) AS BIGINT), 9) AS bin, COUNT(*) AS n,
        |  FLOOR(CAST(SUM(CAST(score AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS mean_score,
        |  FLOOR(CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) * 1e6 + 0.5) / 1e6 AS pos_rate
        |FROM s GROUP BY 1 ORDER BY bin""".stripMargin,

    "q259_threshold_metrics" ->
      """WITH s AS (
        |  SELECT FLOOR((doc_id % 101) / 100.0 * 1e6 + 0.5) / 1e6 AS score,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |t AS (SELECT unnest([0.1, 0.3, 0.5, 0.7, 0.9]) AS threshold),
        |m AS (
        |  SELECT threshold,
        |    CAST(SUM(CASE WHEN score >= threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(SUM(CASE WHEN score >= threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(SUM(CASE WHEN score < threshold AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(SUM(CASE WHEN score < threshold AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        |  FROM s, t GROUP BY 1),
        |mm AS (
        |  SELECT threshold, tp, fp, fn, tn,
        |    CASE WHEN tp + fp > 0 THEN FLOOR(CAST(tp AS DOUBLE) / (tp + fp) * 1e6 + 0.5) / 1e6 END AS precision,
        |    CASE WHEN tp + fn > 0 THEN FLOOR(CAST(tp AS DOUBLE) / (tp + fn) * 1e6 + 0.5) / 1e6 END AS recall
        |  FROM m)
        |SELECT threshold, tp, fp, fn, tn, precision, recall,
        |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL AND precision + recall > 0
        |       THEN FLOOR(2.0 * precision * recall / (precision + recall) * 1e6 + 0.5) / 1e6 END AS f1
        |FROM mm ORDER BY threshold""".stripMargin,

    "q264_spearman" ->
      s"""WITH base AS (
         |  SELECT CAST(n_chars AS DOUBLE) AS x,
         |    CAST(($nTokensSql) AS DOUBLE) AS y
         |  FROM documents
         |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         |gx AS (SELECT x, COUNT(*) AS cnt FROM base GROUP BY 1),
         |rx AS (
         |  SELECT x, COALESCE(SUM(cnt) OVER (ORDER BY x
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    + (cnt + 1) / 2.0 AS rxv
         |  FROM gx),
         |gy AS (SELECT y, COUNT(*) AS cnt FROM base GROUP BY 1),
         |ry AS (
         |  SELECT y, COALESCE(SUM(cnt) OVER (ORDER BY y
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    + (cnt + 1) / 2.0 AS ryv
         |  FROM gy),
         |r AS (SELECT rxv AS ra, ryv AS rb FROM base JOIN rx USING (x) JOIN ry USING (y)),
         |a AS (
         |  SELECT COUNT(*) AS n,
         |    CAST(SUM(CAST(ra AS DECIMAL(38,6))) AS DOUBLE) AS sa,
         |    CAST(SUM(CAST(rb AS DECIMAL(38,6))) AS DOUBLE) AS sb,
         |    CAST(SUM(CAST(ra * ra AS DECIMAL(38,6))) AS DOUBLE) AS saa,
         |    CAST(SUM(CAST(rb * rb AS DECIMAL(38,6))) AS DOUBLE) AS sbb,
         |    CAST(SUM(CAST(ra * rb AS DECIMAL(38,6))) AS DOUBLE) AS sab
         |  FROM r)
         |SELECT CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0
         |  THEN FLOOR((n * sab - sa * sb) /
         |    sqrt((n * saa - sa * sa) * (n * sbb - sb * sb)) * 1e6 + 0.5) / 1e6
         |  END AS spearman, n
         |FROM a""".stripMargin,

    // same exact counts + snapped rates as one UNION of scalar selects
    "q270_expectations" ->
      """WITH t AS (
        |  SELECT COUNT(*) AS total, COUNT(text) AS nn_text,
        |    COUNT(doc_id) AS n_id, COUNT(DISTINCT doc_id) AS d_id,
        |    COUNT(n_chars) AS n_nc,
        |    SUM(CASE WHEN CAST(n_chars AS DOUBLE) >= 1 AND CAST(n_chars AS DOUBLE) <= 400 THEN 1 ELSE 0 END) AS c_nc,
        |    COUNT(lang) AS n_lang,
        |    SUM(CASE WHEN lang IN ('en', 'de', 'es', 'fr') THEN 1 ELSE 0 END) AS c_lang
        |  FROM documents)
        |SELECT * FROM (
        |  SELECT 'not_null' AS "check", 'text' AS "column",
        |    FLOOR(CAST(nn_text AS DOUBLE) / total * 1e6 + 0.5) / 1e6 AS observed,
        |    1.0 AS threshold,
        |    FLOOR(CAST(nn_text AS DOUBLE) / total * 1e6 + 0.5) / 1e6 >= 1.0 AS pass
        |  FROM t
        |  UNION ALL
        |  SELECT 'unique', 'doc_id',
        |    FLOOR(CAST(d_id AS DOUBLE) / n_id * 1e6 + 0.5) / 1e6, 1.0,
        |    FLOOR(CAST(d_id AS DOUBLE) / n_id * 1e6 + 0.5) / 1e6 >= 1.0
        |  FROM t
        |  UNION ALL
        |  SELECT 'in_range', 'n_chars',
        |    FLOOR(CAST(c_nc AS DOUBLE) / n_nc * 1e6 + 0.5) / 1e6, 0.9,
        |    FLOOR(CAST(c_nc AS DOUBLE) / n_nc * 1e6 + 0.5) / 1e6 >= 0.9
        |  FROM t
        |  UNION ALL
        |  SELECT 'in_set', 'lang',
        |    FLOOR(CAST(c_lang AS DOUBLE) / n_lang * 1e6 + 0.5) / 1e6, 0.95,
        |    FLOOR(CAST(c_lang AS DOUBLE) / n_lang * 1e6 + 0.5) / 1e6 >= 0.95
        |  FROM t)
        |ORDER BY "check", "column"""".stripMargin,

    "q316_lin_fit" ->
      """WITH b AS (
        |  SELECT event_type,
        |    FLOOR(CAST(user_id % 97 AS DOUBLE) * 1e6 + 0.5) / 1e6 AS x,
        |    FLOOR(CAST(value AS DOUBLE) * 1e6 + 0.5) / 1e6 AS y
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy,
        |    CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy
        |  FROM b GROUP BY 1),
        |f AS (
        |  SELECT event_type, n,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS varxn,
        |    CAST(n AS DOUBLE) * syy - sy * sy AS varyn,
        |    sx, sy
        |  FROM m)
        |SELECT event_type, n,
        |  CASE WHEN varxn > 0 THEN
        |    FLOOR(covn / varxn * 1e6 + 0.5) / 1e6 END AS slope,
        |  CASE WHEN varxn > 0 THEN
        |    FLOOR((sy - (covn / varxn) * sx) / CAST(n AS DOUBLE) * 1e6 + 0.5)
        |      / 1e6 END AS intercept,
        |  CASE WHEN varxn > 0 AND varyn > 0 THEN
        |    FLOOR(covn * covn / (varxn * varyn) * 1e6 + 0.5) / 1e6
        |  END AS r2
        |FROM f ORDER BY event_type""".stripMargin,

    "q312_wilson" -> {
      val z = 1.959964
      val z2 = z * z
      s"""WITH g AS (
        |  SELECT event_type,
        |    CAST(SUM(CASE WHEN value > 500 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT event_type, hits, n,
        |    CAST(hits AS DOUBLE) / CAST(n AS DOUBLE) AS p,
        |    CAST(n AS DOUBLE) AS nd
        |  FROM g)
        |SELECT event_type, hits, n,
        |  FLOOR(p * 1e6 + 0.5) / 1e6 AS p_hat,
        |  FLOOR(GREATEST(0.0,
        |    (p + $z2 / (2.0 * nd)) / (1.0 + $z2 / nd)
        |    - $z * sqrt(p * (1.0 - p) / nd + $z2 / (4.0 * nd * nd))
        |      / (1.0 + $z2 / nd)) * 1e6 + 0.5) / 1e6 AS ci_lo,
        |  FLOOR(LEAST(1.0,
        |    (p + $z2 / (2.0 * nd)) / (1.0 + $z2 / nd)
        |    + $z * sqrt(p * (1.0 - p) / nd + $z2 / (4.0 * nd * nd))
        |      / (1.0 + $z2 / nd)) * 1e6 + 0.5) / 1e6 AS ci_hi
        |FROM w ORDER BY event_type""".stripMargin
    },

    "q301_theta_setops" ->
      s"""WITH sa AS (
        |  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k FROM documents
        |  WHERE doc_id % 3 IN (0, 1)
        |    AND ${hex32Sql("'ts:' || CAST(doc_id AS VARCHAR)")} < 1073741824),
        |sb AS (
        |  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS k FROM documents
        |  WHERE doc_id % 3 IN (1, 2)
        |    AND ${hex32Sql("'ts:' || CAST(doc_id AS VARCHAR)")} < 1073741824),
        |m AS (
        |  SELECT COALESCE(sa.k, sb.k) AS k,
        |    sa.k IS NOT NULL AS ia, sb.k IS NOT NULL AS ib
        |  FROM sa FULL OUTER JOIN sb ON sa.k = sb.k),
        |c AS (SELECT
        |  CAST(SUM(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT) AS sampled_a,
        |  CAST(SUM(CASE WHEN ib THEN 1 ELSE 0 END) AS BIGINT) AS sampled_b,
        |  CAST(SUM(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT)
        |    AS sampled_intersection,
        |  CAST(COUNT(*) AS BIGINT) AS sampled_union FROM m)
        |SELECT sampled_a, sampled_b, sampled_intersection, sampled_union,
        |  sampled_a * 4 AS est_a, sampled_b * 4 AS est_b,
        |  sampled_intersection * 4 AS est_intersection,
        |  sampled_union * 4 AS est_union,
        |  CASE WHEN sampled_union > 0 THEN
        |    FLOOR(CAST(sampled_intersection AS DOUBLE) / sampled_union
        |      * 1e6 + 0.5) / 1e6
        |  END AS jaccard_est
        |FROM c""".stripMargin,

    "q302_funnel_window" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_ns(ts) AS t, event_type FROM events),
        |a1 AS (SELECT DISTINCT user_id, t AS t1 FROM ev
        |  WHERE event_type = 'view'),
        |a2 AS (SELECT a1.user_id, a1.t1, MIN(e.t) AS t2 FROM a1
        |  LEFT JOIN ev e ON e.user_id = a1.user_id
        |    AND e.event_type = 'click'
        |    AND e.t > a1.t1 AND e.t <= a1.t1 + 172800000000000
        |  GROUP BY 1, 2),
        |a3 AS (SELECT a2.user_id, a2.t1, a2.t2, MIN(e.t) AS t3 FROM a2
        |  LEFT JOIN ev e ON e.user_id = a2.user_id
        |    AND e.event_type = 'purchase'
        |    AND e.t > a2.t2 AND e.t <= a2.t1 + 172800000000000
        |  GROUP BY 1, 2, 3),
        |n AS (SELECT
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n1,
        |  CAST(COUNT(DISTINCT CASE WHEN t2 IS NOT NULL THEN user_id END)
        |    AS BIGINT) AS n2,
        |  CAST(COUNT(DISTINCT CASE WHEN t3 IS NOT NULL THEN user_id END)
        |    AS BIGINT) AS n3
        |  FROM a3)
        |SELECT step, event_type, n_users,
        |  CASE WHEN n1 > 0 THEN
        |    FLOOR(CAST(n_users AS DOUBLE) / n1 * 1e6 + 0.5) / 1e6
        |  END AS conversion
        |FROM (
        |  SELECT 1 AS step, 'view' AS event_type, n1 AS n_users, n1 FROM n
        |  UNION ALL
        |  SELECT 2, 'click', n2, n1 FROM n
        |  UNION ALL
        |  SELECT 3, 'purchase', n3, n1 FROM n)
        |ORDER BY step""".stripMargin,

    "q297_funnel_steps" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
        |n AS (SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n1,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n3)
        |SELECT step, event_type, n_users,
        |  CASE WHEN n1 > 0 THEN
        |    FLOOR(CAST(n_users AS DOUBLE) / n1 * 1e6 + 0.5) / 1e6
        |  END AS conversion
        |FROM (
        |  SELECT 1 AS step, 'view' AS event_type, n1 AS n_users, n1 FROM n
        |  UNION ALL
        |  SELECT 2, 'click', n2, n1 FROM n
        |  UNION ALL
        |  SELECT 3, 'purchase', n3, n1 FROM n)
        |ORDER BY step""".stripMargin,

    "q298_retention_curve" ->
      """WITH w AS (
        |  SELECT DISTINCT user_id,
        |    (epoch_ns(ts) // 1000000000) // 604800 AS wk
        |  FROM events),
        |c AS (SELECT user_id, MIN(wk) AS cohort_week FROM w GROUP BY 1),
        |act AS (
        |  SELECT c.cohort_week, w.wk - c.cohort_week AS week_offset,
        |    CAST(COUNT(*) AS BIGINT) AS n_users
        |  FROM w JOIN c USING (user_id) GROUP BY 1, 2),
        |sz AS (SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM c GROUP BY 1)
        |SELECT act.cohort_week, act.week_offset, act.n_users,
        |  FLOOR(CAST(act.n_users AS DOUBLE) / sz.n * 1e6 + 0.5) / 1e6
        |    AS retention
        |FROM act JOIN sz USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q295_benford" ->
      """WITH src AS (
        |  SELECT CAST(FLOOR(value * 100) AS BIGINT) AS v FROM events),
        |obs AS (
        |  SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM src WHERE v > 0 GROUP BY 1),
        |exp AS (SELECT * FROM (VALUES
        |  (CAST(1 AS INT), CAST(0.301030 AS DOUBLE)),
        |  (2, CAST(0.176091 AS DOUBLE)), (3, CAST(0.124939 AS DOUBLE)),
        |  (4, CAST(0.096910 AS DOUBLE)), (5, CAST(0.079181 AS DOUBLE)),
        |  (6, CAST(0.066947 AS DOUBLE)), (7, CAST(0.057992 AS DOUBLE)),
        |  (8, CAST(0.051153 AS DOUBLE)), (9, CAST(0.045757 AS DOUBLE)))
        |  t(digit, p_expected)),
        |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs)
        |SELECT exp.digit, COALESCE(obs.n_obs, 0) AS n_obs,
        |  FLOOR(CAST(COALESCE(obs.n_obs, 0) AS DOUBLE) / n * 1e6 + 0.5) / 1e6
        |    AS p_obs,
        |  exp.p_expected,
        |  FLOOR((COALESCE(obs.n_obs, 0) - n * exp.p_expected)
        |    * (COALESCE(obs.n_obs, 0) - n * exp.p_expected)
        |    / (n * exp.p_expected) * 1e6 + 0.5) / 1e6 AS chi2_term
        |FROM exp LEFT JOIN obs USING (digit), tot
        |ORDER BY digit""".stripMargin,

    "q294_privacy_audit" ->
      """WITH g AS (
        |  SELECT event_type,
        |    CAST(FLOOR(value / 100) AS BIGINT) AS vband,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT user_id) AS BIGINT) AS l
        |  FROM events GROUP BY 1, 2)
        |SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_groups,
        |  MIN(n) AS min_group_size,
        |  CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_below_k,
        |  MIN(l) AS min_sensitive_diversity,
        |  CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT) AS rows_below_l
        |FROM g""".stripMargin,

    "q293_welch_t" ->
      """WITH av AS (
        |  SELECT FLOOR(CAST(value AS DOUBLE) * 1e6 + 0.5) / 1e6 AS x
        |  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
        |bv AS (
        |  SELECT FLOOR(CAST(value AS DOUBLE) * 1e6 + 0.5) / 1e6 AS x
        |  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_a,
        |  SUM(CAST(x AS DECIMAL(38,6))) AS sx_a,
        |  SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx_a FROM av),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_b,
        |  SUM(CAST(x AS DECIMAL(38,6))) AS sx_b,
        |  SUM(CAST(x * x AS DECIMAL(38,12))) AS sxx_b FROM bv),
        |j AS (
        |  SELECT n_a, n_b,
        |    FLOOR(CAST(sx_a AS DOUBLE) / n_a * 1e6 + 0.5) / 1e6 AS mean_a,
        |    FLOOR(CAST(sx_b AS DOUBLE) / n_b * 1e6 + 0.5) / 1e6 AS mean_b,
        |    (CAST(n_a AS DOUBLE) * CAST(sxx_a AS DOUBLE)
        |      - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) * (n_a - 1)) AS va,
        |    (CAST(n_b AS DOUBLE) * CAST(sxx_b AS DOUBLE)
        |      - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) * (n_b - 1)) AS vb
        |  FROM a, b)
        |SELECT
        |  CASE WHEN n_a >= 2 AND n_b >= 2 AND va / n_a + vb / n_b > 0 THEN
        |    FLOOR((mean_a - mean_b) / sqrt(va / n_a + vb / n_b) * 1e6 + 0.5) / 1e6
        |  END AS t,
        |  mean_a, mean_b, n_a, n_b
        |FROM j""".stripMargin,

    // the q185 sketch-median algebra applied twice (value, then |dev|)
    "q286_mad_outliers" ->
      """WITH st AS (
        |  SELECT event_type, MIN(CAST(value AS DOUBLE)) AS lo,
        |         MAX(CAST(value AS DOUBLE)) AS hi, COUNT(value) AS n
        |  FROM events GROUP BY 1),
        |hh AS (
        |  SELECT e.event_type,
        |    LEAST(CAST(FLOOR((CAST(e.value AS DOUBLE) - st.lo) /
        |      ((st.hi - st.lo) / 256)) AS BIGINT), 255) AS bin,
        |    st.lo, st.hi, st.n, COUNT(*) AS c
        |  FROM events e JOIN st USING (event_type)
        |  WHERE st.hi > st.lo GROUP BY 1, 2, 3, 4, 5),
        |cum AS (
        |  SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        |  FROM hh),
        |med AS (
        |  SELECT c.event_type,
        |    FLOOR((c.lo + (MIN(c.bin) + 1) * ((c.hi - c.lo) / 256)) * 1e6 + 0.5)
        |      / 1e6 AS med
        |  FROM cum c WHERE c.cum >= GREATEST(CAST(CEIL(0.5 * c.n) AS BIGINT), 1)
        |  GROUP BY c.event_type, c.lo, c.hi),
        |dev AS (
        |  SELECT e.event_id, e.event_type, m.med,
        |    FLOOR(ABS(CAST(e.value AS DOUBLE) - m.med) * 1e6 + 0.5) / 1e6 AS abs_dev
        |  FROM events e JOIN med m USING (event_type)),
        |st2 AS (
        |  SELECT event_type, MIN(abs_dev) AS lo, MAX(abs_dev) AS hi,
        |         COUNT(abs_dev) AS n
        |  FROM dev GROUP BY 1),
        |hh2 AS (
        |  SELECT d.event_type,
        |    LEAST(CAST(FLOOR((d.abs_dev - s2.lo) / ((s2.hi - s2.lo) / 256)) AS BIGINT),
        |      255) AS bin,
        |    s2.lo, s2.hi, s2.n, COUNT(*) AS c
        |  FROM dev d JOIN st2 s2 USING (event_type)
        |  WHERE s2.hi > s2.lo GROUP BY 1, 2, 3, 4, 5),
        |cum2 AS (
        |  SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        |  FROM hh2),
        |mad AS (
        |  SELECT c.event_type,
        |    FLOOR((c.lo + (MIN(c.bin) + 1) * ((c.hi - c.lo) / 256)) * 1e6 + 0.5)
        |      / 1e6 AS mad
        |  FROM cum2 c WHERE c.cum >= GREATEST(CAST(CEIL(0.5 * c.n) AS BIGINT), 1)
        |  GROUP BY c.event_type, c.lo, c.hi)
        |SELECT d.event_id, d.event_type, d.med, d.abs_dev,
        |  FLOOR((3.0 * 1.4826) * mad.mad * 1e6 + 0.5) / 1e6 AS robust_cut,
        |  d.abs_dev > FLOOR((3.0 * 1.4826) * mad.mad * 1e6 + 0.5) / 1e6 AS is_outlier
        |FROM dev d JOIN mad USING (event_type)
        |ORDER BY d.event_id""".stripMargin,

    "q285_cramers_v" ->
      """WITH cm AS (
        |  SELECT lang AS a, source AS b, COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT a, SUM(n) AS ra FROM cm GROUP BY 1),
        |ct AS (SELECT b, SUM(n) AS cb FROM cm GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
        |        CAST(COUNT(DISTINCT a) AS BIGINT) AS r,
        |        CAST(COUNT(DISTINCT b) AS BIGINT) AS c FROM cm),
        |grid AS (
        |  SELECT rt.a, ct.b, rt.ra, ct.cb, COALESCE(cm.n, 0) AS o
        |  FROM rt CROSS JOIN ct LEFT JOIN cm ON cm.a = rt.a AND cm.b = ct.b),
        |terms AS (
        |  SELECT t, r, c,
        |    FLOOR((o - CAST(CAST(ra * cb AS DECIMAL(38,0)) AS DOUBLE) / t)
        |      * (o - CAST(CAST(ra * cb AS DECIMAL(38,0)) AS DOUBLE) / t)
        |      / (CAST(CAST(ra * cb AS DECIMAL(38,0)) AS DOUBLE) / t)
        |      * 1e6 + 0.5) / 1e6 AS term
        |  FROM grid, tot),
        |agg AS (
        |  SELECT t, r, c,
        |    CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE) AS chi2
        |  FROM terms GROUP BY 1, 2, 3)
        |SELECT
        |  CASE WHEN LEAST(r, c) > 1 THEN
        |    FLOOR(sqrt(chi2 /
        |      CAST(CAST(t AS DECIMAL(38,0)) * (LEAST(r, c) - 1) AS DOUBLE))
        |      * 1e6 + 0.5) / 1e6
        |  END AS v,
        |  chi2, t AS n, r, c
        |FROM agg""".stripMargin,

    "q280_quantile_norm" ->
      """WITH base AS (
        |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL),
        |gst AS (SELECT source, MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n
        |        FROM base GROUP BY 1),
        |gb AS (
        |  SELECT b.doc_id, b.source, b.v, s.n,
        |    CASE WHEN s.hi > s.lo
        |      THEN LEAST(CAST(FLOOR((b.v - s.lo) / ((s.hi - s.lo) / 64)) AS BIGINT), 63)
        |      ELSE 0 END AS bin
        |  FROM base b JOIN gst s USING (source)),
        |gc AS (SELECT source, bin, COUNT(*) AS c FROM gb GROUP BY 1, 2),
        |gc2 AS (SELECT source, bin,
        |        SUM(c) OVER (PARTITION BY source ORDER BY bin) AS cum FROM gc),
        |pct AS (
        |  SELECT gb.doc_id, gb.source, FLOOR(g2.cum / gb.n * 1e6 + 0.5) / 1e6 AS pct
        |  FROM gb JOIN gc2 g2 ON gb.source = g2.source AND gb.bin = g2.bin),
        |gl AS (SELECT MIN(v) AS glo, MAX(v) AS ghi, COUNT(*) AS gn FROM base),
        |bb AS (
        |  SELECT v, CASE WHEN ghi > glo
        |    THEN LEAST(CAST(FLOOR((v - glo) / ((ghi - glo) / 64)) AS BIGINT), 63)
        |    ELSE 0 END AS gbin
        |  FROM base, gl),
        |bc AS (SELECT gbin, COUNT(*) AS c FROM bb GROUP BY 1),
        |bc2 AS (SELECT gbin, c, SUM(c) OVER (ORDER BY gbin) AS cum FROM bc),
        |lut AS (
        |  SELECT gbin,
        |    FLOOR((cum - c) / gn * 1e6 + 0.5) / 1e6 AS p,
        |    FLOOR(cum / gn * 1e6 + 0.5) / 1e6 AS cm,
        |    FLOOR((glo + (gbin + 1) * (ghi - glo) / 64) * 1e6 + 0.5) / 1e6 AS e
        |  FROM bc2, gl)
        |SELECT pct.doc_id, pct.source, pct.pct, l.e AS n_chars_qn
        |FROM pct JOIN lut l ON pct.pct > l.p AND pct.pct <= l.cm
        |ORDER BY doc_id""".stripMargin,

    // same exact-integer kappa algebra: one confusion agg, margins via
    // full outer join over the class universe, single snapped division
    "q271_kappa" ->
      """WITH cm AS (
        |  SELECT lang AS actual,
        |    CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS predicted,
        |    COUNT(*) AS n
        |  FROM documents GROUP BY 1, 2),
        |rt AS (SELECT actual AS clazz, SUM(n) AS rt FROM cm GROUP BY 1),
        |ct AS (SELECT predicted AS clazz, SUM(n) AS ct FROM cm GROUP BY 1),
        |s AS (
        |  SELECT SUM(CAST(COALESCE(rt, 0) * COALESCE(ct, 0) AS DECIMAL(38,0))) AS S
        |  FROM rt FULL OUTER JOIN ct USING (clazz)),
        |t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN actual = predicted THEN n ELSE 0 END) AS BIGINT) AS diag
        |  FROM cm)
        |SELECT
        |  CASE WHEN CAST(n AS DECIMAL(38,0)) * n <> S THEN
        |    FLOOR(CAST(CAST(n AS DECIMAL(38,0)) * diag - S AS DOUBLE) /
        |          CAST(CAST(n AS DECIMAL(38,0)) * n - S AS DOUBLE) * 1e6 + 0.5) / 1e6
        |  END AS kappa,
        |  FLOOR(CAST(diag AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS p_o,
        |  FLOOR(CAST(S AS DOUBLE) / CAST(CAST(n AS DECIMAL(38,0)) * n AS DOUBLE)
        |    * 1e6 + 0.5) / 1e6 AS p_e,
        |  n
        |FROM t, s""".stripMargin,

    "q272_diversity" ->
      """WITH c AS (
        |  SELECT source, lang AS cat, COUNT(*) AS ni
        |  FROM documents GROUP BY 1, 2)
        |SELECT source, CAST(SUM(ni) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_cats,
        |  FLOOR((1 - CAST(SUM(CAST(ni * ni AS DECIMAL(38,0))) AS DOUBLE) /
        |    CAST(CAST(SUM(ni) AS DECIMAL(38,0)) * CAST(SUM(ni) AS DECIMAL(38,0))
        |      AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS gini
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    "q267_auc_by_lang" ->
      """WITH s AS (
        |  SELECT lang, FLOOR((doc_id % 101) / 100.0 * 1e6 + 0.5) / 1e6 AS score,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (
        |  SELECT lang, score,
        |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM s GROUP BY 1, 2),
        |c AS (
        |  SELECT lang, pos, neg,
        |    CAST(COALESCE(SUM(neg) OVER (PARTITION BY lang ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumneg
        |  FROM g),
        |t AS (
        |  SELECT lang, CAST(SUM(pos * (2 * cumneg + neg)) AS DOUBLE) AS num2,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg
        |  FROM c GROUP BY 1)
        |SELECT lang, CASE WHEN n_pos > 0 AND n_neg > 0
        |  THEN FLOOR(num2 / (2.0 * n_pos * n_neg) * 1e6 + 0.5) / 1e6 END AS auc,
        |  n_pos, n_neg
        |FROM t ORDER BY lang""".stripMargin,

    // AUC = sum over distinct scores of pos*(2*cumNegBelow + neg) / (2PN)
    "q261_auc" ->
      """WITH s AS (
        |  SELECT FLOOR((doc_id % 101) / 100.0 * 1e6 + 0.5) / 1e6 AS score,
        |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |g AS (
        |  SELECT score,
        |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
        |    CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
        |  FROM s GROUP BY 1),
        |c AS (
        |  SELECT score, pos, neg,
        |    CAST(COALESCE(SUM(neg) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumneg
        |  FROM g),
        |t AS (
        |  SELECT CAST(SUM(pos * (2 * cumneg + neg)) AS DOUBLE) AS num2,
        |    CAST(SUM(pos) AS BIGINT) AS n_pos, CAST(SUM(neg) AS BIGINT) AS n_neg
        |  FROM c)
        |SELECT CASE WHEN n_pos > 0 AND n_neg > 0
        |  THEN FLOOR(num2 / (2.0 * n_pos * n_neg) * 1e6 + 0.5) / 1e6 END AS auc,
        |  n_pos, n_neg
        |FROM t""".stripMargin,

    "q260_chisq_drift" ->
      """WITH av AS (
        |  SELECT GREATEST(LEAST(CAST(value AS DOUBLE), 1000.0), 0.0) AS v
        |  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
        |bv AS (
        |  SELECT GREATEST(LEAST(CAST(value AS DOUBLE), 1000.0), 0.0) AS v
        |  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
        |ha AS (SELECT LEAST(CAST(FLOOR(v / (1000.0 / 64)) AS BIGINT), 63) AS bin,
        |       COUNT(*) AS ca FROM av GROUP BY 1),
        |hb AS (SELECT LEAST(CAST(FLOOR(v / (1000.0 / 64)) AS BIGINT), 63) AS bin,
        |       COUNT(*) AS cb FROM bv GROUP BY 1),
        |cells AS (
        |  SELECT bin, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ha FULL JOIN hb USING (bin)),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM cells),
        |terms AS (
        |  SELECT cells.bin, tot.na, tot.nb,
        |    CAST(ca + cb AS DOUBLE) / (tot.na + tot.nb) AS p, ca, cb
        |  FROM cells, tot),
        |snapped AS (
        |  SELECT na, nb,
        |    FLOOR((CASE WHEN na * p > 0 THEN (ca - na * p) * (ca - na * p) / (na * p) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS ta,
        |    FLOOR((CASE WHEN nb * p > 0 THEN (cb - nb * p) * (cb - nb * p) / (nb * p) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS tb
        |  FROM terms)
        |SELECT
        |  FLOOR(CAST(SUM(CAST(ta + tb AS DECIMAL(28,6))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS chi2,
        |  COUNT(*) - 1 AS dof, na AS n_a, nb AS n_b
        |FROM snapped GROUP BY na, nb""".stripMargin,

    // log-rank: pooled distinct-time spine, per-group at-risk walks,
    // hypergeometric E/V terms in the engine's fixed expression order
    "q339_log_rank" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    CAST(FLOOR((MAX(epoch_ns(ts)) - MIN(epoch_ns(ts))) / 3600000000000.0) AS BIGINT) AS t,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
        |  FROM events GROUP BY 1),
        |ga AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d1,
        |              CAST(SUM(1 - ev) AS BIGINT) AS c1
        |       FROM subj WHERE user_id % 2 = 0 GROUP BY 1),
        |gb AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d2,
        |              CAST(SUM(1 - ev) AS BIGINT) AS c2
        |       FROM subj WHERE user_id % 2 = 1 GROUP BY 1),
        |spine AS (
        |  SELECT t, COALESCE(d1, 0) AS d1, COALESCE(c1, 0) AS c1,
        |         COALESCE(d2, 0) AS d2, COALESCE(c2, 0) AS c2
        |  FROM ga FULL JOIN gb USING (t)),
        |tot AS (SELECT CAST(SUM(d1 + c1) AS BIGINT) AS ta,
        |               CAST(SUM(d2 + c2) AS BIGINT) AS tb FROM spine),
        |r AS (
        |  SELECT t, d1, d2,
        |    tot.ta - CAST(COALESCE(SUM(d1 + c1) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n1,
        |    tot.tb - CAST(COALESCE(SUM(d2 + c2) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n2,
        |    tot.ta, tot.tb
        |  FROM spine, tot),
        |terms AS (
        |  SELECT ta, tb,
        |    FLOOR((d1 - CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2)) * 1e6 + 0.5) / 1e6 AS ome,
        |    CASE WHEN n1 + n2 > 1 THEN
        |      FLOOR((CAST(d1 + d2 AS DOUBLE) * (CAST(n1 AS DOUBLE) / (n1 + n2)) *
        |        (CAST(n2 AS DOUBLE) / (n1 + n2)) *
        |        CAST(n1 + n2 - (d1 + d2) AS DOUBLE) / (n1 + n2 - 1)) * 1e6 + 0.5) / 1e6
        |    ELSE 0.0 END AS v
        |  FROM r WHERE d1 + d2 > 0),
        |agg AS (
        |  SELECT ta, tb,
        |    CAST(SUM(CAST(ome AS DECIMAL(28,6))) AS DOUBLE) AS o_minus_e,
        |    CAST(SUM(CAST(v AS DECIMAL(28,6))) AS DOUBLE) AS var_sum
        |  FROM terms GROUP BY ta, tb)
        |SELECT o_minus_e, var_sum,
        |  CASE WHEN var_sum > 0 THEN
        |    FLOOR(o_minus_e / sqrt(var_sum) * 1e6 + 0.5) / 1e6 END AS z,
        |  ta AS n_a, tb AS n_b
        |FROM agg""".stripMargin,

    // KM: at-risk counts from the cumulative walk over distinct
    // durations, snapped per-time log factors, exact decimal log-sum,
    // exp snapped; an exhausted time (d = n) zeroes the curve onward
    "q336_kaplan_meier" ->
      """WITH subj AS (
        |  SELECT user_id,
        |    CAST(FLOOR((MAX(epoch_ns(ts)) - MIN(epoch_ns(ts))) / 3600000000000.0) AS BIGINT) AS t,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS ev
        |  FROM events GROUP BY 1),
        |byt AS (SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
        |               CAST(SUM(1 - ev) AS BIGINT) AS c
        |        FROM subj GROUP BY 1),
        |tot AS (SELECT CAST(SUM(d + c) AS BIGINT) AS al FROM byt),
        |r AS (
        |  SELECT t, d, c,
        |    tot.al - CAST(COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n
        |  FROM byt, tot),
        |lf AS (
        |  SELECT t, d, c, n,
        |    CASE WHEN d = 0 THEN 0.0
        |         WHEN d < n THEN FLOOR(ln(1.0 - CAST(d AS DOUBLE) / n) * 1e6 + 0.5) / 1e6
        |    END AS lf,
        |    MAX(CASE WHEN d = n THEN 1 ELSE 0 END) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM r)
        |SELECT t, n AS n_risk, d AS n_events, c AS n_censored,
        |  CASE WHEN dead = 1 THEN 0.0
        |       ELSE FLOOR(exp(CAST(SUM(CAST(lf AS DECIMAL(28,6))) OVER (
        |         ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |  END AS survival
        |FROM lf ORDER BY t""".stripMargin,

    // tau-b from the joint contingency table: concordant/discordant cell
    // products, tie-corrected denominator in the engine's fixed cast-
    // then-multiply order
    "q330_kendall_tau" ->
      """WITH src AS (
        |  SELECT CAST(FLOOR(value / 100) AS BIGINT) AS a,
        |         CAST(FLOOR(value / 200) AS BIGINT) AS b
        |  FROM events WHERE value IS NOT NULL),
        |cells AS (SELECT a, b, COUNT(*) AS n FROM src GROUP BY 1, 2),
        |p AS (
        |  SELECT
        |    CAST(COALESCE(SUM(CASE WHEN l.b < r.b THEN l.n * r.n ELSE 0 END), 0) AS BIGINT) AS c,
        |    CAST(COALESCE(SUM(CASE WHEN l.b > r.b THEN l.n * r.n ELSE 0 END), 0) AS BIGINT) AS d
        |  FROM cells l JOIN cells r ON l.a < r.a),
        |ta AS (SELECT CAST(COALESCE(SUM(cn * (cn - 1)), 0) AS BIGINT) AS t
        |       FROM (SELECT SUM(n) AS cn FROM cells GROUP BY a)),
        |tb AS (SELECT CAST(COALESCE(SUM(cn * (cn - 1)), 0) AS BIGINT) AS t
        |       FROM (SELECT SUM(n) AS cn FROM cells GROUP BY b)),
        |nn AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells)
        |SELECT
        |  CASE WHEN CAST(nn.n * (nn.n - 1) - ta.t AS DOUBLE) / 2 > 0
        |        AND CAST(nn.n * (nn.n - 1) - tb.t AS DOUBLE) / 2 > 0
        |    THEN FLOOR((CAST(p.c - p.d AS DOUBLE) /
        |      sqrt((CAST(nn.n * (nn.n - 1) - ta.t AS DOUBLE) / 2) *
        |           (CAST(nn.n * (nn.n - 1) - tb.t AS DOUBLE) / 2))) * 1e6 + 0.5) / 1e6
        |  END AS tau_b,
        |  p.c AS n_conc, p.d AS n_disc, nn.n AS n
        |FROM p, ta, tb, nn""".stripMargin,

    // PSI over the q260 halves: dense 64-bin spine, Laplace-smoothed
    // p = (c + 0.5)/(n + 32), snapped (pa-pb)*ln(pa/pb) terms
    "q327_psi_drift" ->
      """WITH av AS (
        |  SELECT GREATEST(LEAST(CAST(value AS DOUBLE), 1000.0), 0.0) AS v
        |  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
        |bv AS (
        |  SELECT GREATEST(LEAST(CAST(value AS DOUBLE), 1000.0), 0.0) AS v
        |  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
        |ha AS (SELECT LEAST(CAST(FLOOR(v / (1000.0 / 64)) AS BIGINT), 63) AS bin,
        |       COUNT(*) AS ca FROM av GROUP BY 1),
        |hb AS (SELECT LEAST(CAST(FLOOR(v / (1000.0 / 64)) AS BIGINT), 63) AS bin,
        |       COUNT(*) AS cb FROM bv GROUP BY 1),
        |spine AS (SELECT unnest(range(0, 64)) AS bin),
        |cells AS (
        |  SELECT spine.bin, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM spine LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM cells),
        |p AS (
        |  SELECT tot.na, tot.nb,
        |    (ca + 0.5) / (tot.na + 32.0) AS pa,
        |    (cb + 0.5) / (tot.nb + 32.0) AS pb
        |  FROM cells, tot),
        |t AS (
        |  SELECT na, nb,
        |    FLOOR(((pa - pb) * ln(pa / pb)) * 1e6 + 0.5) / 1e6 AS t
        |  FROM p)
        |SELECT
        |  FLOOR(CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS psi,
        |  na AS n_a, nb AS n_b
        |FROM t GROUP BY na, nb""".stripMargin,

    // JSD: midpoint-mixture KL halves, explicit 0*ln0 = 0 CASEs, snapped
    // terms over the occupied-bin full join (empty-both bins are 0 terms
    // and need no spine)
    "q338_js_divergence" ->
      """WITH av AS (
        |  SELECT GREATEST(LEAST(CAST(value AS DOUBLE), 1000.0), 0.0) AS v
        |  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
        |bv AS (
        |  SELECT GREATEST(LEAST(CAST(value AS DOUBLE), 1000.0), 0.0) AS v
        |  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
        |ha AS (SELECT LEAST(CAST(FLOOR(v / (1000.0 / 64)) AS BIGINT), 63) AS bin,
        |       COUNT(*) AS ca FROM av GROUP BY 1),
        |hb AS (SELECT LEAST(CAST(FLOOR(v / (1000.0 / 64)) AS BIGINT), 63) AS bin,
        |       COUNT(*) AS cb FROM bv GROUP BY 1),
        |cells AS (
        |  SELECT COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM ha FULL JOIN hb USING (bin)),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM cells),
        |p AS (
        |  SELECT tot.na, tot.nb,
        |    CAST(ca AS DOUBLE) / tot.na AS pa,
        |    CAST(cb AS DOUBLE) / tot.nb AS pb
        |  FROM cells, tot),
        |t AS (
        |  SELECT na, nb,
        |    FLOOR((CASE WHEN pa > 0 THEN pa / 2 * ln(pa / ((pa + pb) / 2)) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS ta,
        |    FLOOR((CASE WHEN pb > 0 THEN pb / 2 * ln(pb / ((pa + pb) / 2)) ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS tb
        |  FROM p)
        |SELECT
        |  FLOOR(CAST(SUM(CAST(ta + tb AS DECIMAL(28,6))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS jsd,
        |  na AS n_a, nb AS n_b
        |FROM t GROUP BY na, nb""".stripMargin,

    // EMD: |cumA/na - cumB/nb| * binWidth summed over the dense spine
    "q328_emd_drift" ->
      """WITH av AS (
        |  SELECT GREATEST(LEAST(CAST(value AS DOUBLE), 1000.0), 0.0) AS v
        |  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
        |bv AS (
        |  SELECT GREATEST(LEAST(CAST(value AS DOUBLE), 1000.0), 0.0) AS v
        |  FROM events WHERE event_id % 2 = 1 AND value IS NOT NULL),
        |ha AS (SELECT LEAST(CAST(FLOOR(v / (1000.0 / 64)) AS BIGINT), 63) AS bin,
        |       COUNT(*) AS ca FROM av GROUP BY 1),
        |hb AS (SELECT LEAST(CAST(FLOOR(v / (1000.0 / 64)) AS BIGINT), 63) AS bin,
        |       COUNT(*) AS cb FROM bv GROUP BY 1),
        |spine AS (SELECT unnest(range(0, 64)) AS bin),
        |cells AS (
        |  SELECT spine.bin, COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        |  FROM spine LEFT JOIN ha USING (bin) LEFT JOIN hb USING (bin)),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb FROM cells),
        |cum AS (
        |  SELECT tot.na, tot.nb,
        |    CAST(SUM(ca) OVER (ORDER BY cells.bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / tot.na AS fa,
        |    CAST(SUM(cb) OVER (ORDER BY cells.bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / tot.nb AS fb
        |  FROM cells, tot),
        |t AS (
        |  SELECT na, nb,
        |    FLOOR((ABS(fa - fb) * (1000.0 / 64)) * 1e6 + 0.5) / 1e6 AS t
        |  FROM cum)
        |SELECT
        |  FLOOR(CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS emd,
        |  na AS n_a, nb AS n_b
        |FROM t GROUP BY na, nb""".stripMargin,

    // q163's bin/cum algebra at p05/p95 -> two scalar cutoffs -> clamp;
    // NULL values stay NULL (the engine side gates on non-null)
    "q245_winsorize" ->
      """WITH s AS (
        |  SELECT MIN(CAST(value AS DOUBLE)) AS lo, MAX(CAST(value AS DOUBLE)) AS hi,
        |         COUNT(value) AS n
        |  FROM events),
        |h AS (
        |  SELECT LEAST(CAST(FLOOR((CAST(e.value AS DOUBLE) - s.lo) /
        |           ((s.hi - s.lo) / 256)) AS BIGINT), 255) AS bin,
        |         COUNT(*) AS c
        |  FROM events e, s GROUP BY 1),
        |cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum FROM h),
        |p AS (SELECT unnest([0.05, 0.95]) AS prob),
        |cuts AS (
        |  SELECT p.prob,
        |    FLOOR((s.lo + (MIN(cum.bin) + 1) * ((s.hi - s.lo) / 256)) * 1e6 + 0.5) / 1e6 AS est
        |  FROM p, s, cum
        |  WHERE cum.cum >= GREATEST(CAST(CEIL(p.prob * s.n) AS BIGINT), 1)
        |  GROUP BY p.prob, s.lo, s.hi),
        |c2 AS (
        |  SELECT MIN(CASE WHEN prob = 0.05 THEN est END) AS lo_c,
        |         MIN(CASE WHEN prob = 0.95 THEN est END) AS hi_c
        |  FROM cuts)
        |SELECT event_id, value,
        |  CASE WHEN value IS NOT NULL
        |       THEN GREATEST(LEAST(CAST(value AS DOUBLE), c2.hi_c), c2.lo_c) END AS value_w
        |FROM events, c2 ORDER BY event_id""".stripMargin,

    // identical rows to q174 — the salted two-phase rank is a pure plan
    // change, so the oracle IS q174's
    "q249_top_terms_salted" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest($wordsSql) AS token FROM documents),
         |c AS (
         |  SELECT lang, token, COUNT(*) AS n_occurrences
         |  FROM tok WHERE length(token) > 0 GROUP BY 1, 2),
         |r AS (
         |  SELECT lang, token, n_occurrences,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY n_occurrences DESC, token) AS rank
         |  FROM c)
         |SELECT lang, rank, token, n_occurrences
         |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    "q198_profile_columns" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", COUNT($c) AS n,
           |  COUNT(*) - COUNT($c) AS n_null,
           |  MIN(CAST($c AS DOUBLE)) AS min, MAX(CAST($c AS DOUBLE)) AS max,
           |  FLOOR(CAST(SUM(CAST(CAST($c AS DOUBLE) AS DECIMAL(28,6))) AS DOUBLE)
           |    / COUNT($c) * 1e6 + 0.5) / 1e6 AS mean
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_extendedprice", "l_discount").map(one)
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY \"column\"")
    },

    "q185_grouped_quantiles" ->
      """WITH st AS (
        |  SELECT event_type, MIN(CAST(value AS DOUBLE)) AS lo,
        |         MAX(CAST(value AS DOUBLE)) AS hi, COUNT(value) AS n
        |  FROM events GROUP BY 1),
        |hh AS (
        |  SELECT e.event_type,
        |    LEAST(CAST(FLOOR((CAST(e.value AS DOUBLE) - st.lo) /
        |      ((st.hi - st.lo) / 256)) AS BIGINT), 255) AS bin,
        |    st.lo, st.hi, st.n, COUNT(*) AS c
        |  FROM events e JOIN st USING (event_type)
        |  WHERE st.hi > st.lo
        |  GROUP BY 1, 2, 3, 4, 5),
        |cum AS (
        |  SELECT *, SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
        |  FROM hh),
        |p AS (SELECT unnest([0.25, 0.5, 0.9]) AS prob)
        |SELECT c.event_type, p.prob,
        |  FLOOR((c.lo + (MIN(c.bin) + 1) * ((c.hi - c.lo) / 256)) * 1e6 + 0.5) / 1e6 AS est
        |FROM cum c JOIN p ON c.cum >= GREATEST(CAST(CEIL(p.prob * c.n) AS BIGINT), 1)
        |GROUP BY c.event_type, p.prob, c.lo, c.hi
        |ORDER BY event_type, prob""".stripMargin,

    // the composed curation mix: tier labels + per-tier hash draw
    "q183_ccnet_curate" ->
      s"""$ccnetLabeledCtes,
         |lab AS ($ccnetLabeledSelect),
         |rated AS (
         |  SELECT *,
         |    CASE ccnet_bucket WHEN 'head' THEN 1.0 WHEN 'middle' THEN 0.5
         |         ELSE 0.1 END AS keep_rate
         |  FROM lab)
         |SELECT doc_id, n_bigrams, sum_lp4, avg_logprob, ccnet_bucket, keep_rate
         |FROM rated
         |WHERE ${hex32Sql("'ccnet:' || CAST(doc_id AS VARCHAR)")} <
         |  CAST(FLOOR(keep_rate * 4294967296.0) AS BIGINT)
         |ORDER BY doc_id""".stripMargin,


    "q148_norm_dedup" ->
      s"""SELECT CASE WHEN array_to_string($wordsSql, ' ') = ''
         |    THEN md5('raw:' || text)
         |    ELSE md5(array_to_string($wordsSql, ' ')) END AS norm_hash,
         |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin,

    "q149_heavy_hitters" -> {
      val g5 = shinglesSql("w", 5)
      s"""WITH tr AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE ${hex32Sql("'hh:' || CAST(doc_id AS VARCHAR)")} < ${math.round(0.5 * 4294967296.0)}),
         |w AS (SELECT doc_id, $wordsSql AS w FROM tr),
         |g AS (SELECT unnest($g5) AS gram FROM w),
         |c AS (SELECT gram, COUNT(*) AS n_occurrences FROM g GROUP BY 1)
         |SELECT ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, gram) AS rank,
         |  gram, n_occurrences
         |FROM c ORDER BY n_occurrences DESC, gram LIMIT 20""".stripMargin
    },

    "q151_bpe_train" ->
      s"""$bpeCtes
         |SELECT * FROM (${(1 to 3).map(r =>
             s"SELECT CAST($r AS BIGINT) AS rank, a AS lhs, b AS rhs, CAST(c AS BIGINT) AS pair_count FROM m$r")
             .mkString(" UNION ALL ")})
         |ORDER BY rank""".stripMargin,

    "q152_bpe_segment" -> {
      // the full merge chain as one nested replace over the padded
      // double-space symbol string; merge literals come from the same
      // m1..m3 CTEs (one scalar row cross-joined in)
      val charsOf =
        "' ' || array_to_string(list_transform(range(1, length(word) + 1), i -> word[i:i]), '  ') || ' '"
      val chain = (1 to 3).foldLeft(charsOf) { (acc, r) =>
        s"replace($acc, ' ' || mm.a$r || '  ' || mm.b$r || ' ', ' ' || mm.a$r || mm.b$r || ' ')"
      }
      s"""$bpeCtes,
         |mm AS (SELECT ${(1 to 3).map(r =>
             s"(SELECT a FROM m$r) AS a$r, (SELECT b FROM m$r) AS b$r").mkString(", ")}),
         |sel AS (
         |  SELECT doc_id, list_filter($wordsSql, w -> length(w) > 0) AS wl
         |  FROM documents)
         |SELECT doc_id, CAST(len(wl) AS BIGINT) AS n_words,
         |  CAST(COALESCE(list_sum(list_transform(wl, word ->
         |    len(string_split(trim($chain), '  ')))), 0) AS BIGINT) AS n_pieces
         |FROM sel, mm ORDER BY doc_id""".stripMargin
    },

    "q160_cms_counts" -> {
      def w1(e: String) = s"CAST('0x' || substr(md5('cms:' || $e), 1, 8) AS BIGINT)"
      def w2(e: String) = s"CAST('0x' || substr(md5('cms:' || $e), 9, 8) AS BIGINT)"
      s"""WITH occ AS (
         |  SELECT unnest($wordsSql) AS token FROM documents),
         |occ2 AS (SELECT token FROM occ WHERE length(token) > 0),
         |js AS (SELECT unnest(range(0, 3)) AS j),
         |cms AS (
         |  SELECT j, (${w1("token")} + j * ${w2("token")}) % 4096 AS bucket, COUNT(*) AS c
         |  FROM occ2, js GROUP BY 1, 2),
         |probe AS (
         |  SELECT token FROM (
         |    SELECT DISTINCT doc_id, unnest($wordsSql) AS token FROM documents)
         |  WHERE length(token) > 0
         |  GROUP BY token HAVING COUNT(*) >= 50),
         |pj AS (
         |  SELECT p.token, js.j,
         |    (${w1("p.token")} + js.j * ${w2("p.token")}) % 4096 AS bucket
         |  FROM probe p, js)
         |SELECT pj.token, MIN(COALESCE(cms.c, 0)) AS est_count
         |FROM pj LEFT JOIN cms USING (j, bucket)
         |GROUP BY pj.token ORDER BY pj.token""".stripMargin
    },

    // identical bin/cum algebra to the q163 mirror, inverted: each event
    // joins its bin's cumulative count, pct = round6(cum/n)
    "q231_percentile_rank" ->
      """WITH s AS (
        |  SELECT MIN(CAST(value AS DOUBLE)) AS lo, MAX(CAST(value AS DOUBLE)) AS hi,
        |         COUNT(value) AS n
        |  FROM events),
        |b AS (
        |  SELECT e.event_id,
        |    CASE WHEN s.hi > s.lo
        |      THEN LEAST(CAST(FLOOR((CAST(e.value AS DOUBLE) - s.lo) /
        |             ((s.hi - s.lo) / 256)) AS BIGINT), 255)
        |      ELSE 0 END AS bin
        |  FROM events e, s WHERE e.value IS NOT NULL),
        |h AS (SELECT bin, COUNT(*) AS c FROM b GROUP BY 1),
        |cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM h)
        |SELECT b.event_id, FLOOR(CAST(cum AS DOUBLE) / n * 1e6 + 0.5) / 1e6 AS pct
        |FROM b JOIN cum USING (bin), s
        |ORDER BY event_id""".stripMargin,

    // p=9 HLL mirror: same md5 hash32, bucket = top 9 bits, rho from the
    // minimal bin() string, registers = MAX rho, exact-integer harmonic
    // sum; the numerator constant is the driver-computed alpha*m^2*2^24
    "q220_hll_distinct" -> {
      val num = 0.7213 / (1.0 + 1.079 / 512.0) * 512.0 * 512.0 * 16777216.0
      s"""WITH tok AS (
         |  SELECT lang, unnest($wordsSql) AS token FROM documents),
         |h AS (
         |  SELECT lang, ${hex32Sql("'hll:' || token")} AS h
         |  FROM tok WHERE length(token) > 0),
         |r AS (
         |  SELECT lang, h >> 23 AS bucket,
         |    MAX(CASE WHEN (h & 8388607) > 0
         |        THEN 24 - length(bin(h & 8388607)) ELSE 24 END) AS rho
         |  FROM h GROUP BY 1, 2),
         |agg AS (
         |  SELECT lang, COUNT(*) AS hit_buckets,
         |    CAST(SUM((1::BIGINT) << (24 - rho)) AS BIGINT) AS s_hit
         |  FROM r GROUP BY 1)
         |SELECT lang, hit_buckets, 512 - hit_buckets AS empty_buckets,
         |  s_hit + (512 - hit_buckets) * 16777216 AS harmonic_scaled,
         |  FLOOR($num / (s_hit + (512 - hit_buckets) * 16777216) * 1e6 + 0.5) / 1e6
         |    AS est_distinct
         |FROM agg ORDER BY lang""".stripMargin
    },

    "q159_theta_distinct" ->
      s"""WITH tok AS (
         |  SELECT lang, unnest($wordsSql) AS token FROM documents),
         |t2 AS (
         |  SELECT lang, token FROM tok
         |  WHERE length(token) > 0
         |    AND ${hex32Sql("'theta:' || token")} < ${math.round(4294967296.0 / 16)})
         |SELECT lang, COUNT(DISTINCT token) AS sampled_distinct,
         |  COUNT(DISTINCT token) * 16 AS estimated_distinct
         |FROM t2 GROUP BY lang ORDER BY lang""".stripMargin,

    // identical IEEE algebra: lo/hi/n from the data, width = (hi-lo)/256,
    // bin = least(floor((v-lo)/width), 255), est = upper edge of the first
    // bin whose cumulative count reaches max(ceil(p*n), 1), rounded 1e-6
    "q163_quantile_sketch" ->
      """WITH s AS (
        |  SELECT MIN(CAST(value AS DOUBLE)) AS lo, MAX(CAST(value AS DOUBLE)) AS hi,
        |         COUNT(value) AS n
        |  FROM events),
        |h AS (
        |  SELECT LEAST(CAST(FLOOR((CAST(e.value AS DOUBLE) - s.lo) /
        |           ((s.hi - s.lo) / 256)) AS BIGINT), 255) AS bin,
        |         COUNT(*) AS c
        |  FROM events e, s GROUP BY 1),
        |cum AS (SELECT bin, SUM(c) OVER (ORDER BY bin) AS cum FROM h),
        |p AS (SELECT unnest([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS prob)
        |SELECT p.prob,
        |  FLOOR((s.lo + (MIN(cum.bin) + 1) * ((s.hi - s.lo) / 256)) * 1e6 + 0.5) / 1e6 AS est
        |FROM p, s, cum
        |WHERE cum.cum >= GREATEST(CAST(CEIL(p.prob * s.n) AS BIGINT), 1)
        |GROUP BY p.prob, s.lo, s.hi
        |ORDER BY prob""".stripMargin,

    "q155_logistic_train" ->
      s"""$logisticCtes
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS feature_idx, 'f_len' AS feature, w0 AS weight FROM w2
         |  UNION ALL SELECT 1, 'punct_ratio', w1 FROM w2
         |  UNION ALL SELECT 2, 'mean_word_len', w2.w2 FROM w2
         |  UNION ALL SELECT 3, '__bias', w3 FROM w2)
         |ORDER BY feature_idx""".stripMargin,

    "q156_logistic_score" ->
      s"""$logisticCtes
         |SELECT f.doc_id,
         |  FLOOR((1.0 / (1.0 + exp(-(x0 * w2.w0 + x1 * w2.w1 + x2 * w2.w2 + x3 * w2.w3)))) * 1e6 + 0.5) / 1e6 AS score
         |FROM f, w2 ORDER BY f.doc_id""".stripMargin,

    "q154_remove_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |wins AS (
        |  SELECT doc_id, CAST(i AS INT) AS s, array_to_string(t[i+1:i+8], ' ') AS gram
        |  FROM toks, UNNEST(range(len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |mk AS (
        |  SELECT doc_id, s,
        |    ROW_NUMBER() OVER (PARTITION BY gram ORDER BY doc_id, s) AS rn,
        |    COUNT(*) OVER (PARTITION BY gram) AS n
        |  FROM wins),
        |marked AS (SELECT doc_id, s, rn = 1 AS keep FROM mk WHERE n > 1),
        |pos AS (
        |  SELECT doc_id, s + j AS p, keep
        |  FROM marked, UNNEST(range(8)) AS t2(j)),
        |rm AS (
        |  SELECT doc_id, p FROM pos GROUP BY doc_id, p
        |  HAVING MAX(CASE WHEN keep THEN 1 ELSE 0 END) = 0),
        |tok AS (
        |  SELECT doc_id, CAST(i AS INT) AS p, t[i + 1] AS w
        |  FROM toks, UNNEST(range(len(t))) AS u(i)),
        |kept AS (
        |  SELECT tok.doc_id, tok.p, tok.w FROM tok
        |  LEFT JOIN rm ON rm.doc_id = tok.doc_id AND rm.p = tok.p
        |  WHERE rm.p IS NULL),
        |reb AS (
        |  SELECT doc_id, array_to_string(list(w ORDER BY p), ' ') AS clean_text,
        |    COUNT(*) AS kept_n
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, len(t) AS total FROM toks)
        |SELECT d.doc_id, COALESCE(reb.clean_text, '') AS clean_text,
        |  CAST(COALESCE(tot.total, 0) - COALESCE(reb.kept_n, 0) AS BIGINT) AS n_removed_tokens
        |FROM documents d
        |LEFT JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // per-sub-batch union gates: sub-batch i's grams count against
    // stored ∪ b_i only (other sub-batches invisible — each micro-batch
    // screens as a unit); spans folded per sub-batch, unioned
    "q367_streaming_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |wins AS (
        |  SELECT doc_id, CAST(i AS INT) AS s, array_to_string(t[i+1:i+8], ' ') AS gram
        |  FROM toks, UNNEST(range(len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |stored AS (SELECT * FROM wins WHERE doc_id % 7 <> 2),
        |b0 AS (SELECT * FROM wins WHERE doc_id % 7 = 2 AND doc_id % 3 = 0),
        |b1 AS (SELECT * FROM wins WHERE doc_id % 7 = 2 AND doc_id % 3 = 1),
        |b2 AS (SELECT * FROM wins WHERE doc_id % 7 = 2 AND doc_id % 3 = 2),
        |d0 AS (SELECT gram FROM (SELECT * FROM stored UNION ALL SELECT * FROM b0)
        |       GROUP BY gram HAVING COUNT(*) > 1),
        |d1 AS (SELECT gram FROM (SELECT * FROM stored UNION ALL SELECT * FROM b1)
        |       GROUP BY gram HAVING COUNT(*) > 1),
        |d2 AS (SELECT gram FROM (SELECT * FROM stored UNION ALL SELECT * FROM b2)
        |       GROUP BY gram HAVING COUNT(*) > 1),
        |marked AS (
        |  SELECT doc_id, s FROM b0 JOIN d0 USING (gram)
        |  UNION ALL SELECT doc_id, s FROM b1 JOIN d1 USING (gram)
        |  UNION ALL SELECT doc_id, s FROM b2 JOIN d2 USING (gram)),
        |flagged AS (
        |  SELECT doc_id, s,
        |    CASE WHEN s > COALESCE(MAX(s + 8) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS nw
        |  FROM marked),
        |isl AS (
        |  SELECT doc_id, s,
        |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY s) AS island
        |  FROM flagged)
        |SELECT doc_id, CAST(MIN(s) AS INT) AS span_start,
        |  CAST(MAX(s) + 8 - MIN(s) AS INT) AS span_tokens
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    // full-union duplicate gate (dup counts over ALL docs = stored ∪
    // batch), spans folded over batch docs only — the probe's exact
    // semantics, derived without the index
    "q366_span_index_at_rest" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |wins AS (
        |  SELECT doc_id, CAST(i AS INT) AS s, array_to_string(t[i+1:i+8], ' ') AS gram
        |  FROM toks, UNNEST(range(len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING COUNT(*) > 1),
        |marked AS (SELECT doc_id, s FROM wins JOIN dup USING (gram)
        |           WHERE doc_id % 7 = 2),
        |flagged AS (
        |  SELECT doc_id, s,
        |    CASE WHEN s > COALESCE(MAX(s + 8) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS nw
        |  FROM marked),
        |isl AS (
        |  SELECT doc_id, s,
        |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY s) AS island
        |  FROM flagged)
        |SELECT doc_id, CAST(MIN(s) AS INT) AS span_start,
        |  CAST(MAX(s) + 8 - MIN(s) AS INT) AS span_tokens
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,

    "q145_dup_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        |  FROM documents WHERE length(trim(text)) > 0),
        |wins AS (
        |  SELECT doc_id, CAST(i AS INT) AS s, array_to_string(t[i+1:i+8], ' ') AS gram
        |  FROM toks, UNNEST(range(len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING COUNT(*) > 1),
        |marked AS (SELECT doc_id, s FROM wins JOIN dup USING (gram)),
        |flagged AS (
        |  SELECT doc_id, s,
        |    CASE WHEN s > COALESCE(MAX(s + 8) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS nw
        |  FROM marked),
        |isl AS (
        |  SELECT doc_id, s,
        |    SUM(nw) OVER (PARTITION BY doc_id ORDER BY s) AS island
        |  FROM flagged),
        |spans AS (
        |  SELECT doc_id, island, MAX(s) + 8 - MIN(s) AS span_tokens
        |  FROM isl GROUP BY 1, 2)
        |SELECT doc_id, COUNT(*) AS n_spans,
        |  CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens
        |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // same marker injection; every ratio snapped with the IEEE floor form
    // and every denominator guarded exactly like the Spark side
    "q167_gopher_rules" ->
      """WITH docs AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 17 = 0 THEN ' ### #' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN chr(10) || '- bullet item' || chr(10) || 'trailing thought...'
        |      ELSE '' END AS text
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN []
        |         ELSE string_split_regex(trim(text), '\s+') END AS w,
        |    string_split(text, chr(10)) AS l,
        |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS nw
        |  FROM docs),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    FLOOR(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) * 1.0
        |      / GREATEST(len(w), 1) * 1e6 + 0.5) / 1e6 AS mean_word_len,
        |    FLOOR((len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.'))) * 1.0
        |      / GREATEST(len(w), 1) * 1e6 + 0.5) / 1e6 AS symbol_ratio,
        |    FLOOR(len(list_filter(l, x -> regexp_matches(ltrim(x), '^[-*•]'))) * 1.0
        |      / GREATEST(len(l), 1) * 1e6 + 0.5) / 1e6 AS bullet_ratio,
        |    FLOOR(len(list_filter(l, x -> regexp_matches(rtrim(x), '(\.\.\.|…)$'))) * 1.0
        |      / GREATEST(len(l), 1) * 1e6 + 0.5) / 1e6 AS ellipsis_ratio,
        |    FLOOR(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) * 1.0
        |      / GREATEST(len(w), 1) * 1e6 + 0.5) / 1e6 AS alpha_word_frac,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(nw, s))) AS BIGINT) AS n_stop_present
        |  FROM f)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
        |  ellipsis_ratio, alpha_word_frac, n_stop_present,
        |  CAST(n_words BETWEEN 50 AND 100000 AS INT) AS pass_word_count,
        |  CAST(symbol_ratio <= 0.1 AS INT) AS pass_symbol,
        |  CAST(bullet_ratio <= 0.9 AS INT) AS pass_bullet,
        |  CAST(ellipsis_ratio <= 0.3 AS INT) AS pass_ellipsis,
        |  CAST(n_words BETWEEN 50 AND 100000
        |    AND mean_word_len BETWEEN 3 AND 10
        |    AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
        |    AND ellipsis_ratio <= 0.3 AND alpha_word_frac >= 0.8
        |    AND n_stop_present >= 1 AS INT) AS gopher_pass
        |FROM g ORDER BY doc_id""".stripMargin
  )
}
