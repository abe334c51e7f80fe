package graft.queries

import graft.{QueryPack, Tables}
import graft.pipeline.{Classifier, Dedup, GraphOps, Multimodal, Sampling, Similarity, TextAnalysis, TextIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline correctness-gate queries (dedup, similarity,
  * text analysis, multimodal plumbing) over `documents` / `embeddings`.
  *
  * Every hash primitive is md5-hex (identical in Spark and DuckDB), so even
  * MinHash-LSH banding, SimHash and winnowing verify hash-exactly against
  * the oracle. Cosines are rounded to 6 decimals on both engines (fold-order
  * differences live at 1e-15).
  */
object PipelinePack extends QueryPack {

  // shared SQL fragments mirroring Dedup.words / Dedup.shingles(k=3)
  private val wordsSql =
    "string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')"
  private def shinglesSql(w: String, k: Int) =
    s"""CASE WHEN len($w) >= $k
       |  THEN list_transform(range(1, len($w) - $k + 2),
       |         i -> array_to_string(list_slice($w, i, i + $k - 1), ' '))
       |  ELSE [] END""".stripMargin

  // signature SQL: 12 integer-min minhashes under the one-digest
  // double-hashing family — h_j(s) = (w1 + j*w2) mod 2^32 over the first
  // two 32-bit words of md5(s), mirroring TextKernel.minhashRow exactly
  private def sigSql(sh: String) =
    (0 until 12).map(j =>
      s"""list_min(list_transform($sh, s ->
         |  (CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) +
         |   $j * CAST('0x' || substr(md5(s), 9, 8) AS BIGINT)) % 4294967296))""".stripMargin)
      .mkString("[", ", ", "]")

  // parameterized band CTE chain over an arbitrary (doc_id, text) source —
  // mirrors lshBands + the per-side hot-bucket cap of crossCorpusCandidates
  private def cappedBandCtes(src: String, p: String, cap: Int) =
    s"""${p}w AS (SELECT doc_id, ${shinglesSql(wordsSql, 3)} AS sh FROM $src x),
       |${p}sig AS (SELECT doc_id, ${sigSql("sh")} AS sig FROM ${p}w WHERE len(sh) > 0),
       |${p}bands AS (
       |  SELECT doc_id, b.band,
       |    md5(array_to_string(list_slice(sig, b.band * 3 + 1, b.band * 3 + 3), '|')) AS band_key
       |  FROM ${p}sig, (SELECT unnest(range(0, 4)) AS band) b),
       |${p}ok AS (SELECT band, band_key FROM ${p}bands GROUP BY 1, 2 HAVING COUNT(*) <= $cap),
       |${p}cb AS (SELECT b.* FROM ${p}bands b JOIN ${p}ok USING (band, band_key))""".stripMargin

  private val bandsSqlCte =
    s"""WITH w AS (
       |  SELECT doc_id, ${shinglesSql(wordsSql, 3)} AS sh FROM documents),
       |sig AS (
       |  SELECT doc_id, ${sigSql("sh")} AS sig FROM w WHERE len(sh) > 0),
       |bands AS (
       |  SELECT doc_id, b.band,
       |    md5(array_to_string(list_slice(sig, b.band * 3 + 1, b.band * 3 + 3), '|')) AS band_key
       |  FROM sig, (SELECT unnest(range(0, 4)) AS band) b)""".stripMargin

  // q207/q212's at-rest indexes (BM25 postings table name + IVF-PQ
  // path), memoized per (JVM, sf dir) — see the q207 comment
  private def hybridIndexes(s: SparkSession, d: String, docs: DataFrame,
      emb: DataFrame, centroids: DataFrame, cb: DataFrame): (String, String) =
    Scratch.memo("graft_bm25_index_q207", d) { dir =>
      val t = dir.getFileName.toString
      TextIndex.writeBm25Index(docs, t, dir.resolve("bm25").toString)
      val ivf = dir.resolve("ivfpq").toString
      graft.pipeline.VectorIndex.writeIndex(emb, centroids, cb,
        m = 4, subDim = 16, ivf)
      (t, ivf)
    }

  // planted-copy corpus + its exact-content duplicate pairs (id_a < id_b,
  // keyed md5 self-join — no product): the shared fixture for the
  // cluster-aware split / keep-best-survivor gates (q247/q248)
  private def exactPairFixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val base = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val docs = base.unionByName(planted)
    val h = docs.select(col("doc_id"), md5(col("text")).as("__h"))
    val pairs = h.select(col("doc_id").as("id_a"), col("__h"))
      .join(h.select(col("doc_id").as("id_b"), col("__h")), Seq("__h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    (docs, pairs)
  }

  // q354/q360's shared brute-force levenshtein oracle (index- and
  // streaming-invisible)
  private val fastssOracleSql: String =
    """WITH terms AS (
      |  SELECT DISTINCT term FROM (
      |    SELECT substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS term
      |    FROM customer
      |    UNION ALL
      |    SELECT 'z' || substr(substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8), 2, 7)
      |    FROM customer WHERE c_custkey % 5 = 0
      |    UNION ALL
      |    SELECT substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8) || 'q'
      |    FROM customer WHERE c_custkey % 10 = 0)),
      |batch AS (SELECT term FROM terms WHERE substr(term, 3, 1) IN ('0', '7', 'e'))
      |SELECT b.term, c.term AS corpus_term,
      |  CAST(levenshtein(b.term, c.term) AS INTEGER) AS dist
      |FROM batch b JOIN terms c ON b.term <> c.term
      |WHERE levenshtein(b.term, c.term) <= 1
      |ORDER BY b.term, corpus_term""".stripMargin

  // q354/q360's derived entity-term fixture: md5-based 8-char keys plus
  // planted 1-edit variants (replaced first char / appended char)
  private def fastssTerms(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val base = substring(md5(concat(lit("e:"),
      col("c_custkey").cast("string"))), 1, 8)
    cust.select(base.as("term"))
      .unionByName(cust.filter(col("c_custkey") % 5 === 0)
        .select(concat(lit("z"), substring(base, 2, 7)).as("term")))
      .unionByName(cust.filter(col("c_custkey") % 10 === 0)
        .select(concat(base, lit("q")).as("term")))
      .distinct()
  }

  // q360's full-corpus FastSS index, memoized per (JVM, sf dir) — the
  // q171 precedent (q354 times build+append+probe; the streaming gate
  // times the micro-batch screening)
  private def fastssStreamIndex(s: SparkSession, d: String,
      terms: DataFrame): String =
    Scratch.memo("graft_fastss_q360", d) { dir =>
      val t = dir.getFileName.toString
      graft.pipeline.ErIndex.writeFastSSIndex(terms, t, dir.resolve("idx").toString)
      t
    }

  // q365's at-rest SNM layout (stored 9/10 of the record set), memoized
  // per (JVM, sf dir) — reps time the streaming probe, not the build
  private def snmStreamLayout(s: SparkSession, d: String,
      stored: DataFrame): String =
    Scratch.memo("graft_snm_q365", d) { dir =>
      val t = dir.getFileName.toString
      graft.pipeline.ErIndex.writeSnmLayout(stored, t,
        dir.resolve("layout").toString, "key", "id", numRanges = 8)
      t
    }

  // q287's forward + reversed-key SNM layouts at rest, memoized per
  // (JVM, sf dir): the layout build (the ONE corpus-wide range sort per
  // key order) is the amortized cost the at-rest form exists to pay once;
  // reps time the production pairing path
  private def snmErLayouts(s: SparkSession, d: String): (String, String) =
    Scratch.memo("graft_snm_q287", d) { dir =>
      val cust = Tables.customer(s, d)
      val base = substring(md5(concat(lit("e:"),
        col("c_custkey").cast("string"))), 1, 8)
      val terms = cust.select(base.as("term"))
        .unionByName(cust.filter(col("c_custkey") % 5 === 0)
          .select(concat(lit("z"), substring(base, 2, 7)).as("term")))
        .unionByName(cust.filter(col("c_custkey") % 10 === 0)
          .select(concat(base, lit("q")).as("term")))
        .distinct()
      val tFwd = s"${dir.getFileName}_fwd"
      val tRev = s"${dir.getFileName}_rev"
      graft.pipeline.ErIndex.writeSnmLayout(
        terms.select(col("term").as("tid"), col("term").as("key")),
        tFwd, dir.resolve("fwd").toString, "key", "tid")
      graft.pipeline.ErIndex.writeSnmLayout(
        terms.select(col("term").as("tid"), reverse(col("term")).as("key")),
        tRev, dir.resolve("rev").toString, "key", "tid")
      (tFwd, tRev)
    }

  // q255's ground-truth pairs (exact Jaccard >= 0.7 — the benchmark
  // labels, not the operator under test), memoized per (JVM, sf dir)
  private def blockingTruth(s: SparkSession, d: String, docs: DataFrame): String =
    Scratch.memo("blktruth_q255", d) { dir =>
      val p = dir.resolve("truth").toString
      Dedup.jaccardPrefixPairs(docs, threshold = 0.7)
        .select(col("id_a"), col("id_b")).write.parquet(p)
      p
    }

  // q309's BASE band rows (4/5-corpus minhash pass precomputed to parquet),
  // memoized per (JVM, sf dir) — see the q309 comment
  private def bandBaseRows(s: SparkSession, d: String, base: DataFrame): String =
    Scratch.memo("bandbase_q309", d) { dir =>
      val p = dir.resolve("rows").toString
      Dedup.lshBands(base, "text", "doc_id").write.parquet(p)
      p
    }

  // q171's corpus band index, memoized per (JVM, sf dir) — see the q171
  // comment
  private def streamProbeIndex(s: SparkSession, d: String,
      corpus: DataFrame): String =
    Scratch.memo("graft_band_index_q171", d) { dir =>
      val t = dir.getFileName.toString
      TextIndex.writeBandIndex(corpus, t, dir.resolve("idx").toString)
      t
    }

  // q50's language-ID prediction as a reusable chain ending at
  // h(doc_id, hits_*, lang_pred) — shared by q50/q262/q263
  private lazy val langPredCtes: String =
    s"""WITH h0 AS (
       |  SELECT doc_id,
       |    len(list_filter($wordsSql, t -> t IN ('der','die','und','das','ist','nicht','ein','mit','auf','zu'))) AS hits_de,
       |    len(list_filter($wordsSql, t -> t IN ('the','and','of','to','is','in','that','it','for','with'))) AS hits_en,
       |    len(list_filter($wordsSql, t -> t IN ('el','la','los','de','que','es','en','una','por','con'))) AS hits_es,
       |    len(list_filter($wordsSql, t -> t IN ('le','la','les','et','est','pas','pour','que','une','dans'))) AS hits_fr
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
       |    CASE WHEN GREATEST(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
       |         ELSE list_sort([
       |           {'nh': -hits_de, 'o': 1, 'l': 'de'}, {'nh': -hits_en, 'o': 2, 'l': 'en'},
       |           {'nh': -hits_es, 'o': 3, 'l': 'es'}, {'nh': -hits_fr, 'o': 4, 'l': 'fr'}])[1].l
       |    END AS lang_pred
       |  FROM h0)""".stripMargin

  // priority = w * 2^32 / (hash32+1); top-50 by (priority DESC, id);
  // tau = the 51st priority; est_w = max(w, tau) on kept rows. Shared by
  // q244 (one-shot) and q257 (merged shard states — must be invisible).
  private lazy val prioritySampleOracle: String =
    s"""WITH p AS (
       |  SELECT doc_id, n_chars,
       |    CAST(n_chars AS DOUBLE) * 4294967296.0 /
       |      (${hex32Sql("'pri:' || CAST(doc_id AS VARCHAR)")} + 1) AS priority
       |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
       |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS rn FROM p),
       |tau AS (SELECT MIN(priority) AS t FROM r WHERE rn = 51)
       |SELECT doc_id, n_chars, priority,
       |  GREATEST(CAST(n_chars AS DOUBLE), COALESCE(tau.t, 0.0)) AS est_w
       |FROM r, tau WHERE rn <= 50 ORDER BY doc_id""".stripMargin

  // BM25 CTE chain for query terms ('spark','join','vector'), k1=1.2
  // b=0.75: ends at `sc` (doc_id, score, n_terms_hit). Shared verbatim by
  // q204 (recompute), q206 (at-rest index — the index must be a pure
  // layout change), and q207 (hybrid fusion).
  private lazy val bm25Ctes: String = {
    def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
    val idf = r6("ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)")
    s"""w AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |stats AS (SELECT COUNT(*) AS n,
       |  CAST(SUM(CAST(len(w) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avgdl
       |  FROM w),
       |tf AS (
       |  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, unnest(w) AS term FROM w)
       |  WHERE term IN ('spark', 'join', 'vector')
       |  GROUP BY 1, 2, 3),
       |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |s AS (
       |  SELECT tf.doc_id,
       |    ${r6(s"($idf) * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))")} AS s
       |  FROM tf JOIN dfreq USING (term), stats),
       |sc AS (SELECT doc_id, CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS score,
       |       COUNT(*) AS n_terms_hit FROM s GROUP BY 1)""".stripMargin
  }

  // Dirichlet query-likelihood CTE chain for the q204 query terms,
  // mu=2000: ends at `fin` (doc_id, score, n_terms_hit). Shared verbatim
  // by q319 (recompute) and q320 (at-rest index — pure layout change).
  // Mirrors TextIndex.qlScoreMatched's snapped algebra term for term.
  private lazy val qlCtes: String = {
    def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
    s"""w AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |tot AS (SELECT CAST(SUM(CAST(len(w) AS DECIMAL(28,6))) AS DOUBLE) AS t FROM w),
       |qtf AS (
       |  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, unnest(w) AS term FROM w)
       |  WHERE term IN ('spark', 'join', 'vector')
       |  GROUP BY 1, 2, 3),
       |qcf AS (SELECT term, SUM(tf) AS cf FROM qtf GROUP BY 1),
       |lbg AS (SELECT term, cf, ${r6("ln(2000.0 * cf / tot.t)")} AS lbg
       |        FROM qcf, tot),
       |qc AS (SELECT CAST(SUM(CAST(lbg AS DECIMAL(28,6))) AS DOUBLE) AS sum_lbg,
       |              COUNT(*) AS nq FROM lbg),
       |qs AS (
       |  SELECT qtf.doc_id, qtf.dl,
       |    ${r6("ln(qtf.tf + 2000.0 * lbg.cf / tot.t)")} - lbg.lbg AS sm
       |  FROM qtf JOIN lbg USING (term), tot),
       |qsc AS (SELECT doc_id, dl,
       |          CAST(SUM(CAST(sm AS DECIMAL(28,6))) AS DOUBLE) AS mt,
       |          COUNT(*) AS n_terms_hit
       |        FROM qs GROUP BY 1, 2),
       |fin AS (
       |  SELECT doc_id,
       |    ${r6(s"mt + qc.sum_lbg - qc.nq * (${r6("ln(dl + 2000.0)")})")} AS score,
       |    n_terms_hit
       |  FROM qsc, qc)""".stripMargin
  }

  // single-query (vec 100) IVF+PQ chain — the q153/q146 oracle algebra
  // (CorpusPack.ivfPqOracle) restricted to one probe query; ends at
  // `pqscored` (query_id, vec_id, adist)
  private lazy val ivfPq1Ctes: String = ivfPqCtes("vec_id = 100")

  /** IVF-PQ search mirror CTEs, parameterized by the query-set predicate
    * (q207 probes one query; q356 a 100+-query batch). Ends at `pqscored`
    * (query_id, vec_id, adist).
    */
  private def ivfPqCtes(queryWhere: String): String = {
    def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
    def subD2(a: String, sub: String) = r6(
      s"""list_sum(list_transform(range(0, 16), i ->
         |  (CAST($a.embedding[$sub * 16 + i + 1] AS DOUBLE) - CAST(c.embedding[$sub * 16 + i + 1] AS DOUBLE)) *
         |  (CAST($a.embedding[$sub * 16 + i + 1] AS DOUBLE) - CAST(c.embedding[$sub * 16 + i + 1] AS DOUBLE))))""".stripMargin)
    def d2(l: String, r: String) =
      s"""list_sum(list_transform(range(0, 64), i ->
         |  (CAST($l.embedding[i + 1] AS DOUBLE) - CAST($r.embedding[i + 1] AS DOUBLE)) *
         |  (CAST($l.embedding[i + 1] AS DOUBLE) - CAST($r.embedding[i + 1] AS DOUBLE))))""".stripMargin
    s"""cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 100 = 1),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT e.vec_id, cc.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e", "cc")}, cc.centroid_id) AS rn
       |    FROM embeddings e, cent cc) WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE $queryWhere),
       |probes AS (
       |  SELECT query_id, centroid_id FROM (
       |    SELECT q.query_id, cc.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY ${d2("q", "cc")}, cc.centroid_id) AS rn
       |    FROM q, cent cc) WHERE rn <= 2),
       |cb AS (SELECT vec_id AS code_id, embedding FROM embeddings WHERE vec_id % 50 = 2),
       |subs AS (SELECT unnest(range(0, 4)) AS sub),
       |d AS (
       |  SELECT e.vec_id, s.sub, c.code_id, ${subD2("e", "s.sub")} AS d2
       |  FROM embeddings e, subs s, cb c),
       |codes AS (
       |  SELECT vec_id, sub, code_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, code_id) AS rn
       |    FROM d) WHERE rn = 1),
       |lut AS (
       |  SELECT q.query_id, s.sub, c.code_id, ${subD2("q", "s.sub")} AS dd
       |  FROM q, subs s, cb c),
       |cand AS (
       |  SELECT p.query_id, a.vec_id FROM probes p JOIN assign a USING (centroid_id)),
       |pqscored AS (
       |  SELECT ca.query_id, co.vec_id,
       |    CAST(SUM(CAST(l.dd AS DECIMAL(28,6))) AS DOUBLE) AS adist
       |  FROM cand ca
       |  JOIN codes co ON co.vec_id = ca.vec_id
       |  JOIN lut l ON l.query_id = ca.query_id AND l.sub = co.sub AND l.code_id = co.code_id
       |  GROUP BY 1, 2 HAVING COUNT(*) = 4)""".stripMargin
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: content-hash groupBy (keep min id, count copies)
    "q40_exact_dedup" -> ((s, d) => {
      Dedup.exact(Tables.documents(s, d)).orderBy(col("content_hash"))
    }),

    // token count + quality features + composite score
    "q41_text_quality" -> ((s, d) => {
      TextAnalysis.qualityScore(Tables.documentsSpread(s, d))
        .select("doc_id", "n_chars", "n_tokens", "alpha_ratio", "punct_ratio",
          "mean_word_len", "quality_score")
        .orderBy(col("doc_id"))
    }),

    // MinHash-LSH candidate pairs (shingle -> minhash -> band -> bucket
    // join) with the hot-bucket skew guard engaged (band keys shared by
    // > 50 docs are dropped before the self-join)
    "q42_lsh_candidates" -> ((s, d) => {
      Dedup.lshCandidatePairs(Tables.documents(s, d), maxBucketSize = Some(50),
        persistBands = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // exact n-gram Jaccard verification of the LSH candidates
    "q43_ngram_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshCandidatePairs(docs, persistBands = true)
        .select("id_a", "id_b")
      Dedup.ngramJaccard(docs, pairs)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // SimHash 16-bit fingerprints
    "q44_simhash" -> ((s, d) => {
      Dedup.simhash(Tables.documentsSpread(s, d), "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup pairs: nibble-band LSH + exact hamming verify. The
    // synthetic corpus has no exact duplicates, so the gate unions in a
    // lightly-perturbed copy of every 10th doc (one appended token flips
    // few fingerprint bits) — those pairs must surface at hamming <= 3.
    // BOUNDED input (doc_id < 2000, a no-op at sf<=0.01): the 16-bit form
    // is the small-n teaching path — simhashPairs itself now refuses
    // corpus-scale inputs and q129 gates the 64-bit scale path
    "q122_simhash_pairs" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
        .filter(col("doc_id") < 2000)
      val perturbed = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      Dedup.simhashPairs(base.unionAll(perturbed), maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // 64-bit SimHash fingerprints (production width)
    "q128_simhash64" -> ((s, d) => {
      Dedup.simhash64(Tables.documentsSpread(s, d)).orderBy(col("doc_id"))
    }),

    // 64-bit SimHash near-dup pairs over four 16-bit bands; exact copies
    // (id+1000000) guarantee hamming-0 pairs, lightly-edited copies
    // (id+2000000) exercise the 1..3 range
    "q129_simhash64_pairs" -> ((s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val copies = base.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val edited = base.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      Dedup.simhashPairs64(base.unionAll(copies).unionAll(edited))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // cross-corpus fuzzy decontamination: every 37th doc, lightly edited,
    // plays the leaked benchmark; LSH band join (per-side capped) counts
    // near-dup eval matches per corpus doc — every doc keeps a row
    // MinHash estimator quality: per candidate pair, signature-agreement
    // estimate vs exact shingle Jaccard + absolute error
    "q197_minhash_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshCandidatePairs(docs, persistBands = true)
        .select("id_a", "id_b")
      Dedup.minhashJaccardEval(docs, pairs)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // URL extraction + domain counts on marker-injected docs; domains
    // derived per doc_id so the explode is data-driven
    "q193_extract_urls" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 5 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.com/page?x=1 and http://cdn"),
            (col("doc_id") % 3).cast("string"),
            lit(".example.net:8080/a.js"))).otherwise(lit(""))))
      TextAnalysis.extractUrls(docs)
        .groupBy(col("domain")).agg(count(lit(1)).as("n_urls"),
          count_distinct(col("doc_id")).as("n_docs"))
        .orderBy(col("domain"))
    }),

    // domain PageRank over the URL co-citation graph: injected URLs →
    // extract → per-doc domain co-occurrence edges → 3 snapped
    // iterations; keyed joins only, N stays a broadcast 1-row frame
    "q215_domain_pagerank" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 11).cast("string"),
            lit(".example.com/a and http://cdn"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.net/b.js"))).otherwise(lit(""))))
      val urls = TextAnalysis.extractUrls(docs)
      val edges = GraphOps.coOccurrenceEdges(urls, "doc_id", "domain")
      GraphOps.pageRank(edges, iters = 3)
        .orderBy(col("node"))
    }),

    // HITS hubs & authorities over the same co-citation domain graph:
    // two normalized snapped rounds — the directional scores PageRank's
    // single rank cannot separate
    "q254_domain_hits" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 11).cast("string"),
            lit(".example.com/a and http://cdn"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.net/b.js"))).otherwise(lit(""))))
      val urls = TextAnalysis.extractUrls(docs)
      val edges = GraphOps.coOccurrenceEdges(urls, "doc_id", "domain")
      GraphOps.hits(edges, iters = 2)
        .orderBy(col("node"))
    }),

    // landmark-BFS harmonic centrality over the co-citation graph — the
    // Common Crawl host-ranking statistic; oracle = recursive-CTE BFS
    "q265_harmonic_centrality" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 11).cast("string"),
            lit(".example.com/a and http://cdn"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.net/b.js"))).otherwise(lit(""))))
      val urls = TextAnalysis.extractUrls(docs)
      val edges = GraphOps.coOccurrenceEdges(urls, "doc_id", "domain")
      GraphOps.harmonicCentrality(edges, landmarks = 4, maxHops = 4)
        .orderBy(col("node"))
    }),

    // multi-source BFS hop distances from two seed domains over the same
    // co-citation graph — crawl-depth tiers; oracle = recursive-CTE BFS
    "q344_bfs_distance" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 11).cast("string"),
            lit(".example.com/a and http://cdn"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.net/b.js"))).otherwise(lit(""))))
      val urls = TextAnalysis.extractUrls(docs)
      val edges = GraphOps.coOccurrenceEdges(urls, "doc_id", "domain")
      val src = Seq("site0.example.com", "cdn1.example.net").toDF("node")
      GraphOps.bfsDistances(edges, src, maxDepth = 6)
        .orderBy(col("node"))
    }),

    // WEIGHTED PageRank over co-citation counts: mass flows by edge
    // weight (share = round6(w/Σw) precomputed once), 3 snapped
    // iterations — multiplicity as signal, not just adjacency
    "q241_weighted_pagerank" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 11).cast("string"),
            lit(".example.com/a and http://cdn"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.net/b.js"))).otherwise(lit(""))))
      val urls = TextAnalysis.extractUrls(docs)
      val ew = GraphOps.coOccurrenceEdgesWeighted(urls, "doc_id", "domain")
      GraphOps.weightedPageRank(ew, iters = 3)
        .orderBy(col("node"))
    }),

    // TrustRank over the same co-citation graph: teleport restricted to
    // a vetted seed set — link-proximity to the seeds becomes the score,
    // unreachable domains decay to zero
    "q216_trust_rank" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 11).cast("string"),
            lit(".example.com/a and http://cdn"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.net/b.js"))).otherwise(lit(""))))
      val urls = TextAnalysis.extractUrls(docs)
      val edges = GraphOps.coOccurrenceEdges(urls, "doc_id", "domain")
      val seeds = Seq("site0.example.com", "site1.example.com",
        "cdn0.example.net").toDF("node")
      GraphOps.personalizedPageRank(edges, seeds, iters = 3)
        .orderBy(col("node"))
    }),

    // edit-distance pair mining (FastSS deletion blocking): customer
    // names differing in one digit meet in a deletion-key equi-join —
    // recall-exact by pigeonhole, refined by levenshtein; the oracle is
    // the brute-force all-pairs join (it never sees the blocking)
    "q226_edit_pairs" -> ((s, d) => {
      val terms = Tables.customer(s, d).select(col("c_name").as("term"))
      Dedup.editDistancePairs(terms, "term", maxDist = 1)
        .orderBy(col("a"), col("b"))
    }),

    // Jaro-Winkler as a codegen StaticInvoke (never a UDF) vs DuckDB's
    // NATIVE jaro_winkler_similarity — an independent implementation of
    // the same public definition; high-sim pairs exercise the prefix
    // boost, name-vs-segment pairs the unboosted (<= 0.7) branch
    "q275_jaro_winkler" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val near = c.as("x")
        .join(c.as("y"), col("y.c_custkey") === col("x.c_custkey") + 1)
        .select(col("x.c_custkey").as("id"), lit("near").as("kind"),
          TextAnalysis.round6(TextAnalysis.jaroWinklerCol(
            col("x.c_name"), col("y.c_name"))).as("jw"))
      val far = c.select(col("c_custkey").as("id"), lit("far").as("kind"),
        TextAnalysis.round6(TextAnalysis.jaroWinklerCol(
          col("c_name"), col("c_mktsegment"))).as("jw"))
      near.unionByName(far).orderBy(col("kind"), col("id"))
    }),

    // Monge-Elkan soft token matching: order-insensitive avg-of-best-JW,
    // both directions + symmetric mean, vs DuckDB's native JW kernel
    "q318_monge_elkan" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val pairs = c.as("x")
        .join(c.as("y"), col("y.c_custkey") === col("x.c_custkey") + 1)
        .select(col("x.c_custkey").as("id"),
          concat(col("x.c_name"), lit(" "), col("x.c_mktsegment")).as("a"),
          concat(col("y.c_mktsegment"), lit(" "), col("x.c_name")).as("b"))
      pairs.select(col("id"),
        TextAnalysis.round6(
          TextAnalysis.mongeElkanCol(col("a"), col("b"))).as("me_ab"),
        TextAnalysis.round6(
          TextAnalysis.mongeElkanCol(col("b"), col("a"))).as("me_ba"),
        TextAnalysis.round6(
          (TextAnalysis.mongeElkanCol(col("a"), col("b")) +
            TextAnalysis.mongeElkanCol(col("b"), col("a"))) / 2).as("me_sym"))
        .orderBy(col("id"))
    }),

    // 2-D skyline: the (length, score) Pareto frontier — per-x max
    // collapse + two-phase descending cummax; the oracle is brute-force
    // NOT EXISTS dominance, a completely different algorithm
    "q292_skyline" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
        TextAnalysis.round6((col("doc_id") % 101) / 100.0).as("score"))
      graft.ops.Ranking.skyline2D(docs, "n_chars", "score")
        .orderBy(col("doc_id"))
    }),

    // curriculum export: global length-order rank -> 3 contiguous phases
    // (the easy->hard schedule curriculum training wants); phase cut is
    // exact integer arithmetic over the q273 rank
    "q289_curriculum" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val n = docs.count()
      graft.ops.Ranking.globalRank(docs, Seq("n_chars", "doc_id"), "rank")
        .withColumn("phase",
          least(floor(col("rank") * 3 / n).cast("int"), lit(2)))
        .select(col("doc_id"), col("rank"), col("phase"))
        .orderBy(col("rank"))
    }),

    // global ordinal rank WITHOUT a corpus-wide window (range-partition +
    // per-range offsets; the oracle is the single-reducer ROW_NUMBER the
    // operator exists to avoid)
    "q273_global_rank" -> ((s, d) => {
      graft.ops.Ranking.globalRank(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        Seq("n_chars", "doc_id"), "rank")
        .orderBy(col("rank"))
    }),

    // sorted-neighborhood blocking over the length order: every doc pairs
    // with the 3 docs that follow it in (n_chars, doc_id) order — the
    // oracle re-derives the pairs from a ROW_NUMBER band self-join
    "q274_snm_pairs" -> ((s, d) => {
      Dedup.sortedNeighborPairs(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "n_chars", "doc_id", window = 4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // exact phrase occurrence counts (the query bag-of-words BM25 cannot
    // answer): sliding-window compare over each doc's token array — one
    // stateless codegen projection, mirrored as DuckDB list algebra
    "q243_phrase_count" -> ((s, d) => {
      TextIndex.phraseCount(Tables.documentsSpread(s, d), "part value")
        .orderBy(col("doc_id"))
    }),

    // EXACT-RECALL similarity join (AllPairs/PPJoin prefix filtering):
    // every pair with word-set Jaccard >= 0.95 — the oracle is brute-force
    // all-pairs (a DIFFERENT algorithm; the prefix machinery is invisible)
    "q252_prefix_jaccard" -> ((s, d) => {
      val base = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      val edited = base.filter(col("doc_id") % 33 === 0)
        .select((col("doc_id") + 20000).as("doc_id"),
          concat(col("text"), lit(" zz1 zz2 zz3")).as("text"))
      Dedup.jaccardPrefixPairs(base.unionByName(edited), threshold = 0.95)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // asymmetric containment JOIN (the quote detector as a join, not a
    // pair scorer): A-prefix x B-postings candidates, |A∩B|/|A| verify;
    // planted 200-char excerpts must surface inside their parents
    "q253_containment_join" -> ((s, d) => {
      val base = Tables.documentsSpread(s, d)
        .filter(col("doc_id") % 7 === 0).select(col("doc_id"), col("text"))
      val excerpts = base.select((col("doc_id") + 30000).as("doc_id"),
        substring(col("text"), 1, 200).as("text"))
      Dedup.containmentPrefixPairs(base.unionByName(excerpts),
        threshold = 0.9, minTokens = 10)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // cap AUDIT for the prefix-join family (born from the round-13
    // ScaleStress run, where q252's default hot-token cap crossed from
    // inert to active at 10x scale and silently dropped pairs): every
    // token whose prefix or full-postings occupancy exceeds the cap —
    // the pre-flight check before trusting the exact-recall guarantee
    "q369_prefix_cap_audit" -> ((s, d) => {
      Dedup.prefixCapAudit(
        Tables.documentsSpread(s, d).select(col("doc_id"), col("text")),
        threshold = 0.95, cap = 3)
        .orderBy(col("token"))
    }),

    // blocking-quality scorecard: the q42 LSH blocking evaluated against
    // brute-force word-set-Jaccard >= 0.7 ground truth — pair
    // completeness (recall kept) + reduction ratio (pair space pruned).
    // The TRUTH pairs are an eval-side benchmark fixture (q252 times the
    // exact join itself), memoized per (JVM, sf dir) like every other
    // once-built eval artifact: reps time blocking + scorecard.
    "q255_blocking_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val cand = Dedup.lshCandidatePairs(docs, maxBucketSize = Some(50))
        .select(col("id_a"), col("id_b"))
      val truth = s.read.parquet(blockingTruth(s, d, docs))
      Dedup.blockingEval(cand, truth, docs.count())
    }),

    // Unicode script profile over multi-script decorated text: literal
    // BMP-range character classes run identically on Java regex and RE2
    "q256_script_profile" -> ((s, d) => {
      val dec = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 4 === 0,
            lit(" привет мир"))
            .when(col("doc_id") % 4 === 1,
              lit(" αβγ δε"))
            .when(col("doc_id") % 4 === 2,
              lit(" 中文测试"))
            .otherwise(lit(""))))
      TextAnalysis.scriptProfile(dec).orderBy(col("doc_id"))
    }),

    // accent folding (NFD -> strip marks -> NFC) vs DuckDB's NATIVE
    // strip_accents — both follow utf8proc STRIPMARK semantics; the
    // sample set covers combining marks, pass-through letters (Æ ß Đ),
    // ligatures and CJK
    "q283_fold_accents" -> ((s, d) => {
      val samples = Seq("café au lait", "naïve approach", "Müller & Söhne",
        "François Ångström", "Škoda Octavia", "señor ñandú",
        "łódź ćma źrebię", "Ærøskøbing ß Đorđe 北京")
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(element_at(typedlit(samples), (col("doc_id") % 8 + 1).cast("int")),
          lit(" #"), col("doc_id").cast("string")).as("raw"))
      docs.select(col("doc_id"),
        TextAnalysis.foldAccents(col("raw")).as("folded"))
        .orderBy(col("doc_id"))
    }),

    // phrase matching over the AT-REST positional postings index — the
    // indexed twin of q243 (pure layout change for the hit set; the scan
    // reads only the phrase's terms). Index memoized per (JVM, sf dir)
    // so bench reps time the QUERY, not the build.
    "q266_phrase_indexed" -> ((s, d) => {
      val table = Scratch.memo("graft_pos_index_q266", d) { dir =>
        val t = dir.getFileName.toString
        TextIndex.writePositionalIndex(Tables.documents(s, d), t, dir.toString)
        t
      }
      TextIndex.phraseCountIndexed(s, table, "part value")
        .orderBy(col("doc_id"))
    }),

    // priority sampling (Duffield 2007): fixed-size weighted draw without
    // replacement + the max(w, tau) threshold estimator; priority =
    // w * 2^32 / (hash32+1) is one exact scaling + one correctly-rounded
    // IEEE division, so both engines rank bit-identical doubles
    "q244_priority_sample" -> ((s, d) => {
      Sampling.prioritySample(
        Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", n = 50)
        .select(col("doc_id"), col("n_chars"), col("priority"), col("est_w"))
        .orderBy(col("doc_id"))
    }),

    // the mergeable-sketch law under the oracle: per-shard top-(n+1)
    // states merged must equal the one-shot draw — q244's oracle verbatim
    "q257_priority_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      val states = Seq(0, 1).map(p =>
        Sampling.prioritySampleState(
          docs.filter(col("doc_id") % 2 === p), "doc_id", "n_chars", n = 50))
      Sampling.prioritySampleMerge(states, "doc_id", "n_chars", n = 50)
        .select(col("doc_id"), col("n_chars"), col("priority"), col("est_w"))
        .orderBy(col("doc_id"))
    }),

    // Unicode NFC canonicalization (codegen StaticInvoke, never a UDF) vs
    // DuckDB's nfc_normalize: decomposed e+U+0301 suffixes composed to é,
    // one char shorter, byte-identical md5 content keys
    "q246_nfc_normalize" -> ((s, d) => {
      // decomposed "e" + U+0301 COMBINING ACUTE — what NFC composes
      val decorated = concat(col("text"), lit(" caf"), lit("e" + 0x0301.toChar))
      Tables.documentsSpread(s, d)
        .select(col("doc_id"), length(decorated).as("raw_len"),
          length(TextAnalysis.nfcNormalize(decorated)).as("nfc_len"),
          md5(TextAnalysis.nfcNormalize(decorated)).as("nfc_hash"))
        .orderBy(col("doc_id"))
    }),

    // cluster-aware split: near-dup cluster members land on one side of
    // the train/eval boundary BY CONSTRUCTION (the hash cut keys on the
    // CC representative); planted same-text copies prove it
    "q247_cluster_split" -> ((s, d) => {
      val (docs, pairs) = exactPairFixture(s, d)
      Dedup.clusterAwareSplit(docs, pairs)
        .select(col("doc_id"), col("cluster_key"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // keep-best survivor policy over near-dup clusters: highest (score,
    // -id) member survives, not the min id
    "q248_keep_best_cluster" -> ((s, d) => {
      val (docs, pairs) = exactPairFixture(s, d)
      Dedup.keepBestPerCluster(
        docs.withColumn("score", (col("doc_id") % 7).cast("double")),
        pairs, "score")
        .orderBy(col("cluster_key"))
    }),

    // length-bucketed inference batching: similar-length docs chunk into
    // batches of 8 within 200-char buckets (padding waste bounded by the
    // bucket width); deterministic (len, key) order
    "q239_length_batches" -> ((s, d) => {
      Sampling.lengthBucketedBatches(
          Tables.documents(s, d).select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", bucketWidth = 200L, batchSize = 8)
        .orderBy(col("doc_id"))
    }),

    // k-core peeling over planted structure: arithmetic noise edges
    // cascade away under k=4 while the planted K6 clique survives — the
    // dense-subgraph (link-farm) detector; oracle unrolls 6 peel rounds
    "q240_kcore" -> ((s, d) => {
      import s.implicits._
      val ids = Tables.documents(s, d).select(col("doc_id"))
      val noise = ids.select(((col("doc_id") * 13) % 47).as("src"),
          ((col("doc_id") * col("doc_id") + col("doc_id")) % 47).as("dst"))
        .unionByName(ids.select(((col("doc_id") * 29) % 47).as("src"),
          ((col("doc_id") * col("doc_id") * col("doc_id") +
            col("doc_id") * 2) % 47).as("dst")))
      val clique = (for (a <- 100L to 105L; b <- 100L to 105L if a < b)
        yield (a, b)).toDF("src", "dst")
      GraphOps.kCore(noise.unionByName(clique), k = 4, maxRounds = 6)
        .orderBy(col("node"))
    }),

    // entity resolution end-to-end: deletion-blocked edit-distance pairs
    // -> connected components = typo/variant cluster ids (the
    // canonical-entity stage); oracle = brute-force pairs + recursive
    // reachability, neither the blocking nor the propagation mirrored
    "q238_entity_clusters" -> ((s, d) => {
      val cust = Tables.customer(s, d)
      val base = substring(md5(concat(lit("e:"),
        col("c_custkey").cast("string"))), 1, 8)
      val terms = cust.select(base.as("term"))
        .unionByName(cust.filter(col("c_custkey") % 5 === 0)
          .select(concat(lit("z"), substring(base, 2, 7)).as("term")))
        .unionByName(cust.filter(col("c_custkey") % 10 === 0)
          .select(concat(base, lit("q")).as("term")))
      val pairs = Dedup.editDistancePairs(terms, "term", maxDist = 1)
        .select(col("a").as("id_a"), col("b").as("id_b"))
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }),

    // entity resolution v2, the SNM composition: MULTI-PASS sorted-
    // neighborhood blocking (forward + REVERSED key — the classic fix for
    // prefix-typo'd variants that sort far from their base) -> snapped
    // Jaro-Winkler refine -> the same CC machinery as q238. An ORDER-based
    // blocking pipeline next to q238's similarity-structure one. The two
    // blocking passes run AT REST ([[ErIndex.snmPairsAtRest]]): the
    // corpus-wide range sorts happen once at layout-build time (memoized
    // per (JVM, sf dir), like q309's band rows) — reps time the
    // production path: rank-from-manifest pairing + JW refine + CC.
    "q287_er_snm_jw" -> ((s, d) => {
      val (tFwd, tRev) = snmErLayouts(s, d)
      def pass(table: String) =
        graft.pipeline.ErIndex.snmPairsAtRest(s, table, window = 4)
          .select(col("id_a").as("x"), col("id_b").as("y"))
      val cand = pass(tFwd).unionByName(pass(tRev))
        .select(least(col("x"), col("y")).as("id_a"),
          greatest(col("x"), col("y")).as("id_b"))
        .distinct()
      val matched = cand.filter(TextAnalysis.round6(
        TextAnalysis.jaroWinklerCol(col("id_a"), col("id_b"))) >= 0.85)
      Dedup.connectedComponents(matched).orderBy(col("doc_id"))
    }),

    // URL canonicalization: mixed-case hosts, default ports, tracking
    // params, fragments and trailing slashes all collapse to the dedup
    // key; the oracle builds raw AND canonical forms from doc_id
    // arithmetic — it never sees the regex chain
    "q223_canonical_urls" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 4 === 0, concat(lit(" see https://WWW.Site"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.com:443/p"), (col("doc_id") % 5).cast("string"),
            lit("/?utm_source=feed&id="), (col("doc_id") % 13).cast("string"),
            lit("#frag"))).otherwise(lit("")),
          when(col("doc_id") % 6 === 0, concat(lit(" and http://cdn"),
            (col("doc_id") % 3).cast("string"),
            lit(".example.net:80/lib/a.js?utm_campaign=x&b=2")))
            .otherwise(lit("")),
          when(col("doc_id") % 10 === 0,
            lit(" ref https://Www.Host.example.org/dir/")).otherwise(lit(""))))
      TextAnalysis.extractCanonicalUrls(docs)
        .select(col("doc_id"), col("url"), col("canonical_url"))
        .orderBy(col("doc_id"), col("url"))
    }),

    // label-propagation communities over the same co-citation graph:
    // 3 synchronous iterations, most-frequent-neighbor label with min-label
    // ties — deterministic community ids with no window over the graph
    "q221_lpa_communities" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 11).cast("string"),
            lit(".example.com/a and http://cdn"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.net/b.js"))).otherwise(lit(""))))
      val urls = TextAnalysis.extractUrls(docs)
      val edges = GraphOps.coOccurrenceEdges(urls, "doc_id", "domain")
      GraphOps.labelPropagation(edges, iters = 3)
        .orderBy(col("node"))
    }),

    // per-node triangle counts + clustering coefficient over the same
    // co-citation graph, via the degree-ordered wedge join (O(m^1.5)
    // wedge volume); the oracle uses the plain a<b<c closure — a
    // different algorithm entirely
    "q229_triangle_counts" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 3 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 11).cast("string"),
            lit(".example.com/a and http://cdn"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.net/b.js"))).otherwise(lit(""))))
      val urls = TextAnalysis.extractUrls(docs)
      val edges = GraphOps.coOccurrenceEdges(urls, "doc_id", "domain")
      GraphOps.triangleCounts(edges)
        .orderBy(col("node"))
    }),

    // blocklist routing table: docs whose URLs hit blocked domains flag
    "q194_domain_blocklist" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 5 === 0, concat(lit(" see https://www.site"),
            (col("doc_id") % 7).cast("string"),
            lit(".example.com/page?x=1 and http://cdn"),
            (col("doc_id") % 3).cast("string"),
            lit(".example.net:8080/a.js"))).otherwise(lit(""))))
      val blocklist = Seq("site3.example.com", "cdn1.example.net",
        "unused.example.org").toDF("domain")
      TextAnalysis.domainBlocklistFlags(docs, blocklist)
        .select(col("doc_id"), col("n_blocked_urls"),
          col("blocked").cast("int").as("blocked"))
        .orderBy(col("doc_id"))
    }),

    // HTML boilerplate strip on marker-injected docs: script/style blocks
    // die with their content, tags drop, entities unescape, whitespace
    // collapses — md5 of the cleaned text gates the whole chain
    "q191_strip_html" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit(" <b>bold</b> &amp; more")).otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" <script>var x = 1;</script><p class=\"a\">para</p>"))
            .otherwise(lit("")),
          when(col("doc_id") % 13 === 0,
            lit(" &lt;tag&gt; &quot;q&#39;")).otherwise(lit(""))))
      TextAnalysis.stripHtml(docs)
        .select(col("doc_id"), md5(col("text")).as("clean_hash"),
          length(col("text")).cast("long").as("clean_len"))
        .orderBy(col("doc_id"))
    }),

    // exact dedup with keep-best policy: planted copies share text but
    // carry different scores — the highest-scored copy must survive
    "q192_keep_best" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), (col("doc_id") % 97).as("score"))
      val copies = base.filter(col("doc_id") % 15 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"),
          ((col("doc_id") + 10000) % 97).as("score"))
      Dedup.exactKeepBest(base.unionByName(copies), "score")
        .orderBy(col("keep_id"))
    }),

    // asymmetric containment on planted prefix-excerpts: the excerpt's
    // shingles are a strict subset of its base's, so containment_b == 1.0
    // while Jaccard would stay low — the partial-copy detector
    "q190_containment" -> ((s, d) => {
      val base = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      val w = Dedup.words(col("text"))
      val excerpts = base.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          array_join(slice(w, lit(1),
            greatest(floor(size(w) / 2), lit(1)).cast("int")), " ").as("text"))
      val pairs = base.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 10000).as("id_b"))
      Dedup.ngramContainment(base.unionByName(excerpts), pairs)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // JSONL training-shard export round trip: write shard=N/ dirs of
    // newline-delimited JSON, read them back with spark.read.json, roll
    // up per shard — the counts/sums prove assignment AND payload
    // integrity through the text round trip
    "q188_jsonl_export" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Scratch.run(s) { tmp =>
        Sampling.writeJsonlShards(docs, "doc_id", numShards = 4,
          tmp.toString)
        s.read.schema("doc_id LONG, lang STRING, n_chars LONG")
          .json(tmp.toString)
          .groupBy(col("shard"))
          .agg(count(lit(1)).as("n"),
            sum(col("doc_id")).as("sum_ids"),
            sum(col("n_chars")).as("sum_chars"),
            count(col("lang")).as("n_lang"))
          .orderBy(col("shard"))
      }
    }),

    // sparse shingle TF-IDF cosine pairs (token-space near-dup scoring;
    // df-pruned vocabulary, keyed joins only)
    "q182_tfidf_pairs" -> ((s, d) => {
      val base = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      val planted = base.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" extra token")).as("text"))
      TextAnalysis.tfidfSimilarPairs(base.unionByName(planted), threshold = 0.3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // train/eval leakage audit: deterministic split + cross-boundary
    // near-dup pairs; planted copies (same text, id+10000) guarantee the
    // fixture has real leakage to surface
    "q181_split_leakage" -> ((s, d) => {
      val base = Tables.documentsSpread(s, d).select(col("doc_id"), col("text"))
      val planted = base.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"))
      Dedup.splitLeakage(base.unionByName(planted))
        .orderBy(col("doc_id"), col("eval_id"))
    }),

    "q124_fuzzy_decontam" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val bench = docs.filter(col("doc_id") % 37 === 5)
        .select(col("doc_id"), concat(col("text"), lit(" extra token")).as("text"))
      Dedup.fuzzyContaminationFlags(docs, bench).orderBy(col("doc_id"))
    }),

    // the LSH band index AT REST: build the corpus band table once
    // (bucketed+sorted parquet table), probe a new batch against it —
    // must match the recompute band algebra row-for-row (same oracle CTEs)
    // corpus-level source overlap: group minhash signature = keyed min
    // of per-doc signatures; est Jaccard = agreeing-component fraction
    "q317_source_similarity" -> ((s, d) => {
      Dedup.sourceSimilarity(Tables.documents(s, d))
        .orderBy(col("source_a"), col("source_b"))
    }),

    // incremental band-index maintenance: build on 4/5 of the corpus,
    // APPEND the rest, probe — must equal a full rebuild's probe (the
    // oracle recomputes over the whole corpus and never sees the index).
    // The BASE index's minhash pass (4/5 of the corpus — the cost q162
    // already times) is memoized per (JVM, sf dir), the q180/q207
    // precedent: production maintenance appends to an EXISTING index, so
    // reps 2+ (and the bench min-of-3) time append + probe. The append
    // mutates the table, so each rep restores a fresh table from the
    // memoized band ROWS (writeBandIndexRows — a tiny shuffle of
    // precomputed (id, band, band_key), no text touched) to stay
    // rep-independent.
    "q309_band_index_append" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = corpus.filter(col("doc_id") % 5 === 0)
      val baseRows = bandBaseRows(s, d, corpus.filter(col("doc_id") % 5 =!= 4))
      val table = "graft_band_index_q309"
      Scratch.run(s, table) { tmp =>
        TextIndex.writeBandIndexRows(s.read.parquet(baseRows),
          table, tmp.resolve("idx").toString)
        TextIndex.appendToBandIndex(corpus.filter(col("doc_id") % 5 === 4),
          table)
        TextIndex.probe(TextIndex.readBandIndex(s, table), batch)
          .filter(col("doc_id") =!= col("corpus_id"))
          .orderBy(col("doc_id"), col("corpus_id"))
      }
    }),

    // ER at rest #1 — FastSS deletion-key index: build on 4/5 of the term
    // set, APPEND the rest, probe a batch: must equal the brute-force
    // edit-distance truth over the WHOLE corpus (the oracle recomputes
    // with levenshtein and never sees the index; recall-exact by the
    // FastSS pigeonhole, so candidates == truth after the refine)
    "q354_fastss_at_rest" -> ((s, d) => {
      val terms = fastssTerms(s, d)
      val batch = terms.filter(substring(col("term"), 3, 1).isin("0", "7", "e"))
      val table = "graft_fastss_index_q354"
      Scratch.run(s, table) { tmp =>
        graft.pipeline.ErIndex.writeFastSSIndex(
          terms.filter(crc32(col("term")) % 5 =!= 4), table,
          tmp.resolve("idx").toString)
        graft.pipeline.ErIndex.appendToFastSSIndex(
          terms.filter(crc32(col("term")) % 5 === 4), table)
        graft.pipeline.ErIndex.probeFastSS(s, table, batch)
          .select(col("term"), col("corpus_term"), col("dist").cast("int").as("dist"))
          .orderBy(col("term"), col("corpus_term"))
      }
    }),

    // STREAMING ER screening: the q354 batch arrives as 3 parquet micro-
    // batches and probes the at-rest FastSS index per batch — union of
    // per-batch outputs equals the one-shot probe (terms are disjoint
    // across batches), so q354's brute-force oracle gates it unchanged.
    // Index memoized per (JVM, sf dir): reps time the streaming run.
    "q360_streaming_fastss" -> ((s, d) => {
      val terms = fastssTerms(s, d)
      val batch = terms.filter(substring(col("term"), 3, 1).isin("0", "7", "e"))
      val table = fastssStreamIndex(s, d, terms)
      Scratch.run(s) { tmp =>
        val srcDir = tmp.resolve("src").toString
        batch.repartition(3).write.parquet(srcDir)
        val outDir = tmp.resolve("out").toString
        val q = graft.streaming.DocStream.streamingFastSSProbe(
          s, srcDir, "term STRING", table, outDir,
          maxFilesPerTrigger = Some(1))
        try assert(q.awaitTermination(180000),
          "q360: streaming FastSS probe did not terminate within 180 s")
        finally q.stop()
        s.read.parquet(outDir)
          .select(col("term"), col("corpus_term"), col("dist").cast("int").as("dist"))
          .orderBy(col("term"), col("corpus_term"))
      }
    }),

    // STREAMING ER screening #2 — the SNM side: the q355 batch arrives
    // as 3 DETERMINISTIC micro-batches (id % 3 slices, one parquet file
    // each — SNM batch rows can window-pair with each other, so batch
    // COMPOSITION is semantic, unlike q360's row-independent FastSS) and
    // each probes the at-rest layout as a unit. Oracle: per-sub-batch
    // full-union rank windows, unioned. Layout memoized per (JVM, sf
    // dir): reps time the streaming path.
    "q365_streaming_snm" -> ((s, d) => {
      val recs = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        substring(md5(concat(lit("s:"),
          col("c_custkey").cast("string"))), 1, 8).as("key"))
      val batch = recs.filter(col("id") % 10 === 3)
      val table = snmStreamLayout(s, d, recs.filter(col("id") % 10 =!= 3))
      Scratch.run(s) { tmp =>
        val srcDir = tmp.resolve("src").toString
        (0 to 2).foreach { i =>
          batch.filter(col("id") % 3 === i).coalesce(1)
            .write.mode("append").parquet(srcDir)
        }
        val outDir = tmp.resolve("out").toString
        val q = graft.streaming.DocStream.streamingSnmProbe(
          s, srcDir, "id BIGINT, key STRING", table, outDir,
          "key", "id", window = 4, maxFilesPerTrigger = Some(1))
        try assert(q.awaitTermination(180000),
          "q365: streaming SNM probe did not terminate within 180 s")
        finally q.stop()
        s.read.parquet(outDir)
          .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
          .orderBy(col("id_a"), col("id_b"))
      }
    }),

    // ER at rest #2 — SNM rank layout: range-partitioned key-ordered
    // corpus + manifest, written on 4/5, appended 1/5 (routed by the
    // STORED bounds, no re-sort), then the window pairs INVOLVING a new
    // batch via a partition-pruned slice. Oracle: full-union recompute
    // (rank window over everything, filtered to batch membership).
    "q355_snm_at_rest" -> ((s, d) => {
      val recs = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        substring(md5(concat(lit("s:"),
          col("c_custkey").cast("string"))), 1, 8).as("key"))
      val batch = recs.filter(col("id") % 10 === 3)
      val stored = recs.filter(col("id") % 10 =!= 3)
      val table = "graft_snm_layout_q355"
      Scratch.run(s, table, s"${table}_manifest") { tmp =>
        graft.pipeline.ErIndex.writeSnmLayout(
          stored.filter(col("id") % 5 =!= 4), table,
          tmp.resolve("layout").toString, "key", "id", numRanges = 8)
        graft.pipeline.ErIndex.appendToSnmLayout(
          stored.filter(col("id") % 5 === 4), table, "key", "id")
        graft.pipeline.ErIndex.probeSnm(s, table, batch, "key", "id", window = 4)
          .orderBy(col("id_a"), col("id_b"))
      }
    }),

    // the production INCREMENTAL-ER compose over the at-rest SNM layout:
    // probe a new batch (partition-pruned slice pairing) then refine with
    // snapped Jaro-Winkler — "which KNOWN records does each arriving
    // record fuzzily match". The oracle recomputes the full-union window
    // + the same snapped JW, never seeing layout/manifest/routing.
    "q361_snm_probe_refined" -> ((s, d) => {
      // batch = last-char-perturbed copies of every 10th stored record:
      // they sort ADJACENT to their source (7-char shared prefix) so SNM
      // windows catch them, and JW(source, copy) = 0.95 clears the refine
      val stored = Tables.customer(s, d).select(
        col("c_custkey").as("id"),
        substring(md5(concat(lit("s:"),
          col("c_custkey").cast("string"))), 1, 8).as("key"))
      val batch = stored.filter(col("id") % 10 === 3)
        .select((col("id") + 1000000L).as("id"),
          concat(substring(col("key"), 1, 7), lit("z")).as("key"))
      val table = "graft_snm_layout_q361"
      Scratch.run(s, table, s"${table}_manifest") { tmp =>
        graft.pipeline.ErIndex.writeSnmLayout(stored, table,
          tmp.resolve("layout").toString, "key", "id", numRanges = 8)
        graft.pipeline.ErIndex.probeSnm(s, table, batch, "key", "id", window = 6)
          .filter(TextAnalysis.round6(
            TextAnalysis.jaroWinklerCol(col("key_a"), col("key_b"))) >= 0.9)
          .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
          .orderBy(col("id_a"), col("id_b"))
      }
    }),

    "q162_band_index_probe" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val batch = corpus.filter(col("doc_id") % 5 === 0)
      val table = "graft_band_index_q162"
      Scratch.run(s, table) { tmp =>
        TextIndex.writeBandIndex(corpus, table, tmp.resolve("idx").toString)
        TextIndex.probe(TextIndex.readBandIndex(s, table), batch)
          .filter(col("doc_id") =!= col("corpus_id"))
          .orderBy(col("doc_id"), col("corpus_id"))
      }
    }),

    // the STREAMING form of the at-rest probe: the same new-batch docs
    // arrive as 3 parquet files -> 3 micro-batches, each screened
    // independently against the band index via foreachBatch; with no
    // hot-bucket cap binding, the union of per-batch outputs equals the
    // one-shot probe, so the q162 oracle algebra gates a real
    // Structured Streaming run end-to-end.
    // The corpus band index is memoized per (JVM, sf dir) — the
    // q207/q180 precedent: the STREAMING probe is the subject under
    // test; the one-time corpus index build is q162's subject (which
    // still times build+probe). Reps 2+ (and the bench min-of-3) time
    // only the streaming run.
    "q171_streaming_probe" -> ((s, d) => {
      val corpus = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val newDocs = corpus.filter(col("doc_id") % 5 === 0)
      val table = streamProbeIndex(s, d, corpus)
      Scratch.run(s) { tmp =>
        val srcDir = tmp.resolve("src").toString
        newDocs.repartition(3).write.parquet(srcDir)
        val outDir = tmp.resolve("out").toString
        val q = graft.streaming.DocStream.streamingNearDupProbe(
          s, srcDir, "doc_id LONG, text STRING",
          TextIndex.readBandIndex(s, table), outDir,
          maxFilesPerTrigger = Some(1))
        // awaitTermination returns false on timeout — a silent partial
        // output would hash-mismatch confusingly, and Scratch.run
        // would delete the directory under the still-live query
        try assert(q.awaitTermination(180000),
          "q171: streaming probe did not terminate within 180 s")
        finally q.stop()
        s.read.parquet(outDir)
          .filter(col("doc_id") =!= col("corpus_id"))
          .select(col("doc_id"), col("corpus_id"), col("n_bands"))
          .orderBy(col("doc_id"), col("corpus_id"))
      }
    }),

    // embedding-cosine near-duplicate pairs on a deterministic sample,
    // candidate-gated by 2 bands of 2-plane LSH sign buckets (no all-pairs
    // product anywhere in the plan — see PlanShapeSpec)
    "q45_cosine_pairs" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0)
      Dedup.cosinePairs(emb, threshold = 0.2).orderBy(col("id_a"), col("id_b"))
    }),

    // wide-embedding (128-dim) cosine near-dup pairs: the fixture is
    // widened deterministically by appending the negated vector (dot and
    // both norms scale by exactly 2, so cosines are preserved). Pins the
    // >64-dim plane-matrix path: bucket bits at dims 64..127 come from
    // real projections — a too-narrow matrix would silently zero every
    // bit and turn the bucket join quadratic (see Similarity.lshBucket)
    "q117_cosine_pairs_wide" -> ((s, d) => {
      val v = col("embedding").cast("array<double>")
      val emb = Tables.embeddings(s, d).filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), concat(v, transform(v, x => -x)).as("embedding"))
      Dedup.cosinePairs(emb, threshold = 0.2).orderBy(col("id_a"), col("id_b"))
    }),

    // brute-force cosine top-k ANN baseline
    "q46_ann_topk" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(corpus, queries, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // hard-negative mining: brute-force top-10 per query, anti-join the
    // labeled positives (self + id+100), re-rank survivors, keep 5 — the
    // contrastive-training sampler over any retriever's output
    "q232_hard_negatives" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val ranked = Similarity.bruteForceTopK(corpus, queries, k = 10)
      val positives = queries.select(col("query_id"),
          col("query_id").as("vec_id"))
        .unionByName(queries.select(col("query_id"),
          (col("query_id") + 100).as("vec_id")))
      Similarity.hardNegatives(ranked, positives, k = 5)
        .orderBy(col("query_id"), col("neg_rank"))
    }),

    // Luhn-validated card PII signals: every doc carries a 13-digit
    // arithmetic run (valid ~1-in-10 by checksum chance), every 10th a
    // known-valid card number — the checksum separates them from ids
    "q290_card_signals" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("text",
        concat(col("text"), lit(" ref "),
          (col("doc_id") * 81728312L + 1234567890123L).cast("string"),
          when(col("doc_id") % 10 === 0, lit(" card 4111111111111111"))
            .otherwise(lit(""))))
      TextAnalysis.cardSignals(docs).orderBy(col("doc_id"))
    }),

    // Johnson-Lindenstrauss random projection to 8 dims: the q47 plane
    // matrix used as coordinates instead of sign bits — deterministic,
    // training-free dimensionality reduction, one codegen projection
    "q288_random_project" -> ((s, d) => {
      Similarity.randomProject(Tables.embeddings(s, d), outDims = 8)
        .orderBy(col("vec_id"), col("dim"))
    }),

    // LSH-bucketed ANN (random-hyperplane sign buckets)
    "q47_ann_lsh" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.lshTopK(corpus, queries, k = 5, numPlanes = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // hybrid-search fusion: RRF over two rankers (bucket-gated LSH +
    // exact brute force) — rank-only inputs, so incomparable scores fuse
    // without calibration; ties on id, terms on the 1e-6 grid
    // linear (convex-combination) fusion of the q47 LSH and q46
    // brute-force shortlists at alpha=0.5 — the score-calibrated twin of
    // q205's RRF; one-sided docs take 0 from the missing ranker
    "q284_linear_fuse" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val lsh = Similarity.lshTopK(corpus, queries, k = 10, numPlanes = 8)
      val bf = Similarity.bruteForceTopK(corpus, queries, k = 10)
      Similarity.linearFuse(lsh, bf, k = 5, alpha = 0.5, scoreCol = "cosine")
        .orderBy(col("query_id"), col("rank"))
    }),

    // rank-biased overlap between the exact and LSH top-10 rankings —
    // the top-weighted "how similar are two rankings" index-tuning stat
    "q308_rbo" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val bf = Similarity.bruteForceTopK(corpus, queries, k = 10)
      val lsh = Similarity.lshTopK(corpus, queries, k = 10, numPlanes = 8)
      Similarity.rboTruncated(bf, lsh, k = 10, p = 0.9)
        .orderBy(col("query_id"))
    }),

    "q205_hybrid_rrf" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val lsh = Similarity.lshTopK(corpus, queries, k = 5, numPlanes = 8)
      val bf = Similarity.bruteForceTopK(corpus, queries, k = 5)
      Similarity.rrfFuse(Seq(lsh, bf), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // BM25 AT REST: one corpus tokenization pass builds the postings
    // (bucketed+sorted by term) + 1-row stats tables; ranking then reads
    // only the query terms' postings (term IN pushed to the scan) — must
    // match q204's full-recompute algebra bit-for-bit (same oracle)
    "q206_bm25_at_rest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val table = "graft_bm25_index_q206"
      Scratch.run(s, table, s"${table}_stats") { tmp =>
        TextIndex.writeBm25Index(docs, table, tmp.resolve("idx").toString)
        val (postings, stats) = TextIndex.readBm25Index(s, table)
        TextIndex.bm25RankIndexed(postings, stats,
          Seq("spark", "join", "vector"), k = 10)
          .orderBy(col("score").desc, col("doc_id"))
      }
    }),

    // INCREMENTAL BM25 maintenance: build the index on 80% of the
    // corpus, APPEND the remaining 20% (postings append into the same
    // bucketed table + exact-decimal stats merge), rank — must equal the
    // full-corpus build bit-for-bit (q204's oracle verbatim)
    "q213_bm25_index_append" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val table = "graft_bm25_index_q213"
      Scratch.run(s, table, s"${table}_stats") { tmp =>
        TextIndex.writeBm25Index(docs.filter(col("doc_id") % 5 =!= 0),
          table, tmp.resolve("idx").toString)
        TextIndex.appendToBm25Index(docs.filter(col("doc_id") % 5 === 0), table)
        val (postings, stats) = TextIndex.readBm25Index(s, table)
        TextIndex.bm25RankIndexed(postings, stats,
          Seq("spark", "join", "vector"), k = 10)
          .orderBy(col("score").desc, col("doc_id"))
      }
    }),

    // the PRODUCTION hybrid-search shape, previously gated only as parts
    // (q204 lexical, q153 at-rest ANN, q205 fusion): BM25 over the
    // at-rest postings + IVF-PQ search over the at-rest cell-partitioned
    // index, fused per-query by reciprocal-rank — one composed gate
    // against a fully-mirrored oracle. documents.doc_id and
    // embeddings.vec_id share the id space in the test corpus, standing
    // in for text+embedding rows of one training table.
    // Both at-rest indexes are memoized per (JVM, sf dir) — the q180
    // precedent: production hybrid search queries EXISTING indexes, so
    // reps 2+ (and the bench min-of-3) time the two searches + fusion,
    // not the index builds (q206 and q153 time build+probe).
    "q207_hybrid_at_rest" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val centroids = emb.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val cb = emb.filter(col("vec_id") % 50 === 2)
        .select(col("vec_id").as("code_id"),
          posexplode(transform(sequence(lit(0), lit(3)),
            x => slice(col("embedding").cast("array<double>"), x * 16 + 1, lit(16))))
            .as(Seq("sub", "subvec")))
      val queries = emb.filter(col("vec_id") === 100)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val (table, ivfPath) = hybridIndexes(s, d, docs, emb, centroids, cb)
      val (postings, stats) = TextIndex.readBm25Index(s, table)
      val lex = TextIndex.bm25RankIndexed(postings, stats,
          Seq("spark", "join", "vector"), k = 10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id"))))
        .select(lit(100L).as("query_id"), col("doc_id").as("vec_id"),
          col("rank"))
      val vec = graft.pipeline.VectorIndex.searchIndex(
          graft.pipeline.VectorIndex.readIndex(s, ivfPath), centroids, cb,
          queries, k = 5, m = 4, subDim = 16, nprobe = 2)
        .select(col("query_id"), col("vec_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, vec), k = 10)
        .orderBy(col("rank"))
    }),

    // BATCHED hybrid search at rest — the q207 composition over 100+
    // queries in ONE pass: per-query BM25 over the at-rest postings
    // (bm25RankIndexedBatch — TopKPerGroup, no per-query loop), batched
    // IVF-PQ over the partitioned index (searchIndex is natively
    // batched), RRF-fused per query. Query text = each query doc's
    // distinct early-alphabet words (order-free, so both engines derive
    // identical term sets); query vector = the same id's embedding
    // (shared id space). Indexes memoized per (JVM, sf dir) — q207's
    // memo, shared: reps time the two batched searches + fusion.
    "q356_hybrid_batch_at_rest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val centroids = emb.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val cb = emb.filter(col("vec_id") % 50 === 2)
        .select(col("vec_id").as("code_id"),
          posexplode(transform(sequence(lit(0), lit(3)),
            x => slice(col("embedding").cast("array<double>"), x * 16 + 1, lit(16))))
            .as(Seq("sub", "subvec")))
      val qvec = emb.filter(col("vec_id") % 5 === 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      // 3 terms per query (the lexicographically-first early-alphabet
      // words — sort-then-slice is order-canonical on both engines):
      // realistic short queries, and it bounds the tf join against this
      // fixture's deliberately tiny vocabulary, where every term matches
      // most of the corpus
      val qterms = docs
        .join(qvec.select(col("query_id").as("doc_id")), Seq("doc_id"))
        .select(col("doc_id").as("query_id"),
          explode(slice(array_sort(array_distinct(filter(Dedup.words(col("text")),
            w => length(w) > 0 && substring(w, 1, 1) < "g"))), 1, 3)).as("term"))
      val (table, ivfPath) = hybridIndexes(s, d, docs, emb, centroids, cb)
      val (postings, stats) = TextIndex.readBm25Index(s, table)
      val lex = TextIndex.bm25RankIndexedBatch(postings, stats, qterms, k = 10)
        .select(col("query_id"), col("doc_id").as("vec_id"), col("rank"))
      val vec = graft.pipeline.VectorIndex.searchIndex(
          graft.pipeline.VectorIndex.readIndex(s, ivfPath), centroids, cb,
          qvec, k = 10, m = 4, subDim = 16, nprobe = 2)
        .select(col("query_id"), col("vec_id"), col("rank"))
      Similarity.rrfFuse(Seq(lex, vec), k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Dirichlet query-likelihood retrieval (Zhai & Lafferty 2001) — the
    // LM-based ranker over the same corpus and query terms as q204's
    // BM25; candidates are docs matching >= 1 term, score = smoothed
    // log-likelihood of the query under the doc LM
    "q319_ql_rank" -> ((s, d) => {
      TextIndex.qlRank(Tables.documents(s, d),
        Seq("spark", "join", "vector"), k = 10, mu = 2000.0)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // the same ranking against the AT-REST postings/stats tables — one
    // index layout serves both ranking families (BM25 q206, QL here);
    // stats.sum_dl IS the corpus token total, so no new table is built.
    // Index memoized per (JVM, sf dir) like q207: reps time the probe.
    "q320_ql_at_rest" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val centroids = emb.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val cb = emb.filter(col("vec_id") % 50 === 2)
        .select(col("vec_id").as("code_id"),
          posexplode(transform(sequence(lit(0), lit(3)),
            x => slice(col("embedding").cast("array<double>"), x * 16 + 1, lit(16))))
            .as(Seq("sub", "subvec")))
      val (table, _) = hybridIndexes(s, d, docs, emb, centroids, cb)
      val (postings, stats) = TextIndex.readBm25Index(s, table)
      TextIndex.qlRankIndexed(postings, stats,
        Seq("spark", "join", "vector"), k = 10, mu = 2000.0)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // TextRank keyword extraction (Mihalcea & Tarau 2004): window-2
    // co-occurrence graph over a corpus slice, 2 snapped PageRank
    // rounds, top-15 vocabulary terms by centrality
    "q322_textrank" -> ((s, d) => {
      TextAnalysis.textRankKeywords(
        Tables.documents(s, d).filter(col("doc_id") % 7 === 0),
        window = 2, iters = 2, topK = 15)
    }),

    // IVF query path: probe the 2 nearest cells per query, search only
    // their inverted lists (equi-join on cell id — no product)
    "q101_ivf_topk" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val centroids = corpus.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.ivfTopK(corpus, queries, centroids, k = 5, nprobe = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN evaluation harness: recall@5 of the IVF path vs the brute-force
    // exact top-5, per query — the metric that tunes nprobe/centroids
    // before a full index build
    "q164_ann_recall" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val centroids = corpus.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val approx = Similarity.ivfTopK(corpus, queries, centroids, k = 5, nprobe = 2)
      val exact = Similarity.bruteForceTopK(corpus, queries, k = 5)
      Similarity.recallAtK(approx, exact, k = 5).orderBy(col("query_id"))
    }),

    // semantically-INDEPENDENT ANN oracle: the same brute-force top-k
    // operator, but the DuckDB side ranks via list_sort over per-query
    // struct lists (array sort + slice) instead of mirroring the window
    // row_number — two genuinely different top-k machineries must agree
    "q200_topk_list_sorted" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.bruteForceTopK(corpus, queries, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF coarse quantization: nearest of 5 driver-held centroids per vector
    "q54_ivf_assign" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val centroids = corpus.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.ivfAssign(corpus, centroids)
        .select(col("vec_id"), col("centroid_id"), TextAnalysis.round6(col("dist2")).as("dist2"))
        .orderBy(col("vec_id"))
    }),

    // multi-probe LSH: the q47 frame with each query also probing its 8
    // Hamming-1 buckets — the recall knob without another hash table
    "q282_lsh_multiprobe" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val queries = corpus.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      Similarity.lshMultiProbeTopK(corpus, queries, k = 5, numPlanes = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // mutual-kNN pairs over a sampled universe: top-5-among-others both
    // ways — the symmetrized edge set SNN clustering rides
    "q281_mutual_knn" -> ((s, d) => {
      val sub = Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0)
      Similarity.mutualPairs(Similarity.selfTopK(sub, k = 5))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // MMR diversified re-rank over the q46 brute-force shortlist: 3
    // greedy rounds at lambda=0.5 (exactly representable — the mirror's
    // 0.5 literal is the same double), every sim/marginal snapped
    "q278_mmr_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val shortlist = Similarity.bruteForceTopK(emb, queries, k = 10)
      val cand = shortlist.join(emb, Seq("vec_id"))
        .select(col("query_id"), col("vec_id"), col("cosine").as("rel"),
          col("embedding"))
      Similarity.mmrSelect(cand, k = 3, lambda = 0.5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // clustering-quality audit: simplified silhouette against the q54
    // centroid set — centroids collapse to a driver literal, the whole
    // per-point score is one codegen projection (no corpus x k shuffle)
    "q276_silhouette" -> ((s, d) => {
      val corpus = Tables.embeddings(s, d)
      val cents = corpus.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      Similarity.simplifiedSilhouette(corpus, cents)
        .orderBy(col("cluster_id"))
    }),

    // multimodal: batch "decode" of binary payloads (stubbed codec,
    // real schema/batching)
    "q48_multimodal_decode" -> ((s, d) => {
      // REAL image decode: the fixture writes one PNG per doc
      // (ImageIO.write, dims + pixel pattern derived from doc_id),
      // decodeBatch parses it back with ImageIO.read; the oracle recomputes
      // dims and exact pixel sums from the pattern arithmetic
      val media = Multimodal.pngMediaTable(Tables.documents(s, d))
      Multimodal.decodeBatch(media)
        .select("media_id", "width", "height", "px_sum", "px_sumsq")
        .orderBy(col("media_id"))
    }),

    // metadata-only resize planning on REAL decoded dims (maxEdge below the
    // fixture dim range so scaling actually engages)
    "q49_resize_plan" -> ((s, d) => {
      val media = Multimodal.pngMediaTable(Tables.documents(s, d))
      Multimodal.resizePlan(Multimodal.decodeBatch(media), maxEdge = 32)
        .select("media_id", "width", "height", "target_w", "target_h")
        .orderBy(col("media_id"))
    }),

    // binned gray-channel histogram over the real decoded raster
    "q120_image_histogram" -> ((s, d) => {
      val media = Multimodal.pngMediaTable(Tables.documents(s, d))
      Multimodal.grayHistogram(media, bins = 8)
        .orderBy(col("media_id"), col("bucket"))
    }),

    // REAL audio decode: fixture WAVs (AudioSystem.write, PCM pattern
    // derived from doc_id), audioStats parses them back with javax.sound;
    // the oracle replays the integer sample pattern
    "q130_audio_decode" -> ((s, d) => {
      val media = Multimodal.wavMediaTable(Tables.documents(s, d))
      Multimodal.audioStats(media).orderBy(col("media_id"))
    }),

    // deterministic train/val/test assignment — membership is a pure
    // function of the salted key hash (auditable 100 TB holdouts)
    "q131_split_assign" -> ((s, d) => {
      Sampling.splitAssign(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // per-doc corpus-unique-bigram fraction (novelty/boilerplate signal)
    "q132_bigram_novelty" -> ((s, d) => {
      TextAnalysis.bigramNovelty(Tables.documents(s, d))
        .orderBy(col("doc_id"))
    }),

    // 64-bit perceptual hash over REAL ImageIO-decoded fixture PNGs; the
    // oracle replays the 8x8 NN-downsample + mean threshold from the
    // integer pixel pattern
    "q133_image_ahash" -> ((s, d) => {
      val media = Multimodal.pngMediaTable(Tables.documents(s, d))
      Multimodal.imageAHash(media)
        .select(col("media_id"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"),
          col("ahash").bitwiseAND(lit(4294967295L)).as("ahash_lo"),
          col("width"), col("height"))
        .orderBy(col("media_id"))
    }),

    // image near-dup pairs via banded Hamming over the perceptual hash of
    // the varied fixture (grouped duplicates + corner perturbation).
    // Uncapped here because the oracle replays exact pigeonhole recall
    // (every pair at hamming <= 3); the default capped path is pinned in
    // PipelineSpec
    "q134_image_neardup" -> ((s, d) => {
      val media = Multimodal.variedPngMediaTable(Tables.documents(s, d))
      Multimodal.imageNearDupPairs(media, maxBucketSize = None)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // language-ID heuristic (stopword argmax)
    // multi-class confusion of the stopword language-ID vs the labeled
    // lang column — the router-audit table
    "q262_lang_confusion" -> ((s, d) => {
      val pred = TextAnalysis.languageId(Tables.documentsSpread(s, d))
      Classifier.confusionMatrix(pred, "lang", "lang_pred")
        .orderBy(col("actual"), col("predicted"))
    }),

    // per-class precision/recall/F1 over the same confusion counts
    "q263_lang_class_metrics" -> ((s, d) => {
      val pred = TextAnalysis.languageId(Tables.documentsSpread(s, d))
      Classifier.classMetrics(pred, "lang", "lang_pred")
        .orderBy(col("clazz"))
    }),

    "q50_language_id" -> ((s, d) => {
      TextAnalysis.languageId(Tables.documentsSpread(s, d))
        .select("doc_id", "hits_de", "hits_en", "hits_es", "hits_fr", "lang_pred")
        .orderBy(col("doc_id"))
    }),

    // token + subword-estimate counting (the training-budget estimator)
    "q72_token_counts" -> ((s, d) => {
      Tables.documentsSpread(s, d).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.subwordCountEstimate(col("text")).cast("long").as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    // normalized-content fingerprint
    "q51_fingerprint" -> ((s, d) => {
      Tables.documentsSpread(s, d)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // winnowing sketch (k-gram rolling hash, per-window minimum)
    "q52_winnowing" -> ((s, d) => {
      TextAnalysis.winnowing(Tables.documentsSpread(s, d))
        .orderBy(col("doc_id"), col("h"))
    }),

    // video frame-sampling plan (explode over generated frame indices)
    "q53_frame_plan" -> ((s, d) => {
      val media = Multimodal.asMediaTable(
        Tables.documents(s, d).filter(col("doc_id") % 25 === 0), "doc_id", "text", "video")
      Multimodal.frameSamplePlan(media, nFrames = 4, stride = 3)
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    // Gopher-style repetition/duplication quality signals
    "q93_repetition_signals" -> ((s, d) => {
      TextAnalysis.repetitionSignals(Tables.documentsSpread(s, d)).orderBy(col("doc_id"))
    }),

    // deterministic md5 sample — reproducible uniform filter, no shuffle
    "q94_hash_sample" -> ((s, d) => {
      Sampling.hashSample(Tables.documents(s, d), "doc_id", 0.25)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // per-row weighted Bernoulli: keep rate scales with a quality-ish
    // weight ((doc_id % 100)/100 here), membership = one md5 compare on
    // the 2^32 grid — deterministic, shuffle-free, engine-exact
    "q203_weighted_sample" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("w", (col("doc_id") % 100) / 100.0)
      Sampling.weightedHashSample(docs, "doc_id", "w", rate = 0.8)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // BM25 lexical retrieval over the corpus for a 3-term query — the
    // hybrid-search twin of the ANN gates; corpus explodes to words but
    // filters to the query terms in-stage, so the shuffle carries only
    // query-term rows
    "q204_bm25" -> ((s, d) => {
      TextIndex.bm25Rank(Tables.documents(s, d),
        Seq("spark", "join", "vector"), k = 10)
        .orderBy(col("score").desc, col("doc_id"))
    }),

    // per-language deterministic quota (hash-ordered top-n per stratum)
    "q95_stratified_sample" -> ((s, d) => {
      Sampling.stratifiedQuota(Tables.documents(s, d), "lang", "doc_id", 20)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    }),

    // mixture-weight sampling: per-language rates (the data-mixing surface)
    "q96_mixture_sample" -> ((s, d) => {
      Sampling.mixtureSample(Tables.documents(s, d), "lang", "doc_id", MixRates)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    }),

    // temperature-scaled mixture (α = 1/2): per-language keep-rates
    // derived from √n_g group weights entirely in-plan (keyed count +
    // 1-row Σw broadcast + broadcast rate join + hash-cut filter)
    "q211_temperature_mix" -> ((s, d) => {
      Sampling.temperatureMixture(Tables.documents(s, d), "lang", "doc_id",
        budget = 150)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    }),

    // UniMax budget allocation (maxEpochs=1): waterfill over per-lang
    // capacities — small languages keep everything, large languages split
    // the remaining budget evenly; decimal-exact saturation test, snapped
    // level/rate, then the same hash cut as q96/q211
    "q222_unimax_sample" -> ((s, d) => {
      Sampling.unimaxSample(Tables.documents(s, d), "lang", "doc_id",
        budget = 150)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
    }),

    // rendezvous (HRW) shard routing: per-doc argmax of the per-shard
    // hash — the stable assignment rule (drop a shard, only its keys
    // move); the oracle re-derives the argmax with a rank window
    "q230_rendezvous_shards" -> ((s, d) => {
      Sampling.rendezvousAssign(Tables.documents(s, d), "doc_id",
          Seq("s0", "s1", "s2", "s3"))
        .select(col("doc_id"), col("shard"))
        .orderBy(col("doc_id"))
    }),

    // BATCH retrieval against the at-rest BM25 index: two queries at
    // once as (query_id, term) rows — broadcast query join instead of a
    // term IN literal, per-TERM df shared across queries, per-query
    // windowed top-k
    "q212_bm25_batch" -> ((s, d) => {
      import s.implicits._
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val centroids = emb.filter(col("vec_id") % 100 === 1)
        .select(col("vec_id").as("centroid_id"), col("embedding"))
      val cb = emb.filter(col("vec_id") % 50 === 2)
        .select(col("vec_id").as("code_id"),
          posexplode(transform(sequence(lit(0), lit(3)),
            x => slice(col("embedding").cast("array<double>"), x * 16 + 1, lit(16))))
            .as(Seq("sub", "subvec")))
      val (table, _) = hybridIndexes(s, d, docs, emb, centroids, cb)
      val (postings, stats) = TextIndex.readBm25Index(s, table)
      val qs = Seq((1L, "spark"), (1L, "join"),
        (2L, "vector"), (2L, "scan"), (2L, "filter"))
        .toDF("query_id", "term")
      TextIndex.bm25RankIndexedBatch(postings, stats, qs, k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // corpus bigram PMI (collocation/phrase statistic): adjacent-pair
    // zip_with assembly, two keyed counts, token-keyed joins, 1e-6 grid
    "q210_bigram_pmi" -> ((s, d) => {
      TextAnalysis.bigramPmi(Tables.documents(s, d), minCount = 3)
        .orderBy(col("t1"), col("t2"))
    }),

    // deterministic epoch shuffle into 8 ordered shards (training export
    // order: one keyed shuffle + per-shard sort, no global sort)
    "q125_shard_shuffle" -> ((s, d) => {
      Sampling.shardShuffle(Tables.documents(s, d)
          .select(col("doc_id"), col("lang")), "doc_id", 8)
        .orderBy(col("shard"), col("pos"))
    }),

    // next-fit-by-offset sequence packing to a 2000-char budget over the
    // epoch-shuffle order (context-window packing for training)
    "q126_pack_sequences" -> ((s, d) => {
      Sampling.packSequences(Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars")),
        "n_chars", budget = 2000L, numShards = 8, keyCol = "doc_id")
        .orderBy(col("shard"), col("seq_in_shard"), col("pos_in_seq"))
    }),

    // connected-component cluster ids over the LSH candidate-pair graph
    // (min-id label propagation; the canonical-doc-per-duplicate-group stage)
    "q97_dedup_clusters" -> ((s, d) => {
      val pairs = Dedup.lshCandidatePairs(Tables.documents(s, d),
        maxBucketSize = Some(50), persistBands = true).select("id_a", "id_b")
      Dedup.connectedComponents(pairs).orderBy(col("doc_id"))
    }),

    // cohesion audit over the q97 clusters: ALL member pairs re-scored
    // with exact jaccard — the chain-merge detector (CC's transitivity
    // can weld A~B~C with A and C sharing nothing)
    "q296_cluster_cohesion" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.lshCandidatePairs(docs,
        maxBucketSize = Some(50), persistBands = true).select("id_a", "id_b")
      val clusters = Dedup.connectedComponents(pairs)
      Dedup.clusterCohesion(docs, clusters, maxClusterSize = 50)
        .orderBy(col("cluster_id"))
    }),

    // corpus-wide paragraph dedup (C4/RefinedWeb-style boilerplate removal:
    // a paragraph survives only in the doc where it first occurs). The
    // synthetic corpus has no cross-doc duplicate paragraphs, so the gate
    // prepends a shared boilerplate header — only the first doc keeps it
    "q99_paragraph_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat(lit("SHARED BOILERPLATE HEADER\n"), col("text")).as("text"))
      Dedup.paragraphDedup(docs).orderBy(col("doc_id"))
    }),

    // per-domain boilerplate strip (frequency rule, vs q99's
    // first-occurrence rule): the injected per-source PROMO header (100%
    // of the domain) is stripped everywhere, the 50% FOOTER and unique
    // body paragraphs survive the 0.6 threshold
    "q277_boilerplate" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        concat(lit("PROMO "), col("source"), lit("\n"), col("text"),
          lit("\n"),
          when(col("doc_id") % 2 === 0,
            concat(lit("FOOTER "), col("source")))
            .otherwise(concat(lit("rare line "), col("doc_id").cast("string"))))
          .as("text"))
      Dedup.domainBoilerplateStrip(docs, threshold = 0.6)
        .orderBy(col("doc_id"))
    }),

    // fixed-size token chunking with overlap (context-window prep)
    "q102_chunk_documents" -> ((s, d) => {
      TextAnalysis.chunkDocuments(Tables.documentsSpread(s, d),
        maxTokens = 64, overlap = 8)
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .withColumn("chunk_idx", col("chunk_idx").cast("long"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // benchmark decontamination: docs sharing any word 8-gram with the
    // "eval set" (every 50th doc) get flagged
    "q103_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val bench = docs.filter(col("doc_id") % 50 === 0)
      TextAnalysis.contaminationFlags(docs, bench)
        .orderBy(col("doc_id"))
    }),

    // PII-pattern counts (email / phone / IP regex signals); the corpus is
    // PII-free, so the gate plants deterministic markers on id-derived rows
    "q100_pii_signals" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" from 10.1.2.3")).otherwise(lit(""))))
      TextAnalysis.piiSignals(docs)
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_phones").cast("long").as("n_phones"),
          col("n_ips").cast("long").as("n_ips"))
        .orderBy(col("doc_id"))
    }),

    // PII redaction (the rewrite half of q100): same planted markers,
    // every match replaced by a placeholder token — a stateless codegen
    // projection; compared by md5 of the redacted text + match count
    "q166_pii_redact" -> ((s, d) => {
      val docs = Tables.documentsSpread(s, d).withColumn("text", concat(col("text"),
        when(col("doc_id") % 7 === 0, concat(lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" from 10.1.2.3")).otherwise(lit(""))))
      TextAnalysis.redactPii(docs)
        .select(col("doc_id"), md5(col("text")).as("clean_hash"),
          col("n_redactions").cast("long").as("n_redactions"))
        .orderBy(col("doc_id"))
    })
  )

  /** Mixture rates for q96 — the oracle derives its cutoffs from the same map. */
  private val MixRates: Map[String, Double] =
    Map("en" -> 0.5, "es" -> 0.25, "zh" -> 0.1)

  /** uint32 from the first 8 md5 hex digits — mirrors [[Sampling.keyHash32]]. */
  private def hex32Sql(s: String) =
    s"CAST('0x' || substr(md5($s), 1, 8) AS BIGINT)"

  override def oracleSql: Map[String, String] = {
    // SimHash: 16 generated terms, bit j = parity of hex digit j of md5(word)
    val simhashTerms = (0 until 16).map { j =>
      s"""CASE WHEN list_sum(list_transform(w, t ->
         |  CASE WHEN (strpos('0123456789abcdef', substr(md5(t), ${j + 1}, 1)) - 1) % 2 = 1
         |       THEN 1 ELSE -1 END)) > 0 THEN ${1 << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")

    // SimHash64: 64 terms over pre-computed word digests `dm`; bit j =
    // bit (j mod 4) of hex digit (j div 4). Terms ascend so the negative
    // bit-63 addend lands last (positive partial sums stay inside BIGINT)
    val simhash64Terms = (0 until 64).map { j =>
      s"""CASE WHEN list_sum(list_transform(dm, m ->
         |  CASE WHEN ((strpos('0123456789abcdef', substr(m, ${(j >> 2) + 1}, 1)) - 1) // ${1 << (j & 3)}) % 2 = 1
         |       THEN 1 ELSE -1 END)) > 0 THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" + ")

    // plane projection SQL for plane p over a `dims`-dim embedding e
    def projSqlD(p: Int, e: String, dims: Int) =
      s"""list_sum(list_transform(range(0, $dims), i ->
         |  CAST($e[i + 1] AS DOUBLE) *
         |  ((CAST('0x' || substr(md5('plane$p:' || i), 1, 6) AS BIGINT) / 16777216.0) - 0.5)))""".stripMargin
    def projSql(p: Int, e: String) = projSqlD(p, e, 64)
    def bucketSql(e: String) = (0 until 8).map(p =>
      s"CASE WHEN ${projSql(p, e)} >= 0 THEN ${1 << p} ELSE 0 END").mkString(" + ")

    val dotSql =
      """list_sum(list_transform(range(0, 64), i ->
        |  CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE)))""".stripMargin
    val normSql = (t: String) =>
      s"sqrt(list_sum(list_transform(range(0, 64), i -> CAST($t.embedding[i + 1] AS DOUBLE) * CAST($t.embedding[i + 1] AS DOUBLE))))"

    Map(
      "q40_exact_dedup" ->
        """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, COUNT(*) AS n_copies
          |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,
      // FLOOR(x*1e6 + 0.5)/1e6, not ROUND: half-way cases must take the
      // same IEEE path both engines (mirrors TextAnalysis.round6)
      "q41_text_quality" ->
        """WITH f AS (
          |  SELECT doc_id, length(text) AS n_chars,
          |    CASE WHEN length(trim(text)) = 0 THEN 0
          |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
          |    FLOOR(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / length(text) * 1e6 + 0.5) / 1e6 AS alpha_ratio,
          |    FLOOR(CAST(length(regexp_replace(text, '[^.,;:!?''"()]', '', 'g')) AS DOUBLE) / length(text) * 1e6 + 0.5) / 1e6 AS punct_ratio,
          |    FLOOR(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE) /
          |      GREATEST(CASE WHEN length(trim(text)) = 0 THEN 0
          |                    ELSE len(string_split_regex(trim(text), '\s+')) END, 1) * 1e6 + 0.5) / 1e6 AS mean_word_len
          |  FROM documents)
          |SELECT doc_id, n_chars, n_tokens, alpha_ratio, punct_ratio, mean_word_len,
          |  FLOOR(LEAST(CAST(n_tokens AS DOUBLE) / 64.0, 1.0) *
          |        (1.0 - LEAST(punct_ratio * 4.0, 1.0) * 0.5) *
          |        LEAST(mean_word_len / 4.0, 1.5) / 1.5 * 1e6 + 0.5) / 1e6 AS quality_score
          |FROM f ORDER BY doc_id""".stripMargin,
      "q42_lsh_candidates" ->
        s"""$bandsSqlCte,
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 50),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key))
           |SELECT l.doc_id AS id_a, r.doc_id AS id_b, COUNT(DISTINCT l.band) AS n_bands
           |FROM capped l JOIN capped r ON l.band = r.band AND l.band_key = r.band_key
           |WHERE l.doc_id < r.doc_id
           |GROUP BY 1, 2 ORDER BY id_a, id_b""".stripMargin,
      // at-rest probe == recompute: corpus bands capped over the corpus,
      // probe bands capped over the batch alone (the batch's band table is
      // the corpus band table restricted to its ids — same text, same sig)
      "q317_source_similarity" -> {
        val minCols = (1 to 12).map(j => s"MIN(sig[$j])").mkString("[", ", ", "]")
        val agree = (1 to 12).map(j =>
          s"CASE WHEN a.gs[$j] = b.gs[$j] THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH w AS (
           |  SELECT source, ${shinglesSql(wordsSql, 3)} AS sh FROM documents),
           |sig AS (
           |  SELECT source, ${sigSql("sh")} AS sig FROM w WHERE len(sh) > 0),
           |g AS (SELECT source, $minCols AS gs FROM sig GROUP BY source)
           |SELECT a.source AS source_a, b.source AS source_b,
           |  CAST($agree AS INT) AS n_agree,
           |  FLOOR(CAST($agree AS DOUBLE) / 12 * 1e6 + 0.5) / 1e6
           |    AS jaccard_est
           |FROM g a JOIN g b ON a.source < b.source
           |ORDER BY source_a, source_b""".stripMargin
      },

      // the streamed micro-batches screen the SAME batch slice against the
      // SAME truth — union of disjoint per-batch probes == one-shot probe
      "q360_streaming_fastss" -> fastssOracleSql,

      // full brute-force recompute with true levenshtein — never sees the
      // index; FastSS recall-exactness makes probe == truth
      "q354_fastss_at_rest" -> fastssOracleSql,

      // full-union rank window + the same snapped JW — layout-invisible
      "q361_snm_probe_refined" ->
        """WITH stored AS (
          |  SELECT c_custkey AS id,
          |         substr(md5('s:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS k
          |  FROM customer),
          |b AS (
          |  SELECT id + 1000000 AS id, substr(k, 1, 7) || 'z' AS k
          |  FROM stored WHERE id % 10 = 3),
          |recs AS (SELECT * FROM stored UNION ALL SELECT * FROM b),
          |r AS (SELECT id, k, ROW_NUMBER() OVER (ORDER BY k, id) AS rk FROM recs)
          |SELECT a.id AS id_a, b2.id AS id_b, a.k AS key_a, b2.k AS key_b
          |FROM r a JOIN r b2 ON b2.rk - a.rk BETWEEN 1 AND 5
          |WHERE (a.id >= 1000000 OR b2.id >= 1000000)
          |  AND FLOOR(jaro_winkler_similarity(a.k, b2.k) * 1e6 + 0.5) / 1e6 >= 0.9
          |ORDER BY id_a, id_b""".stripMargin,

      // full-union rank-window recompute, filtered to batch membership —
      // never sees the layout, the manifest, or the routing
      // per-sub-batch full-union rank windows (batch composition is
      // semantic for SNM: each micro-batch screens against stored ∪
      // itself only), unioned; no cross-sub-batch pair can form, so the
      // union is duplicate-free
      "q365_streaming_snm" ->
        """WITH recs AS (
          |  SELECT c_custkey AS id,
          |         substr(md5('s:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS k
          |  FROM customer),
          |stored AS (SELECT * FROM recs WHERE id % 10 <> 3),
          |b0 AS (SELECT * FROM recs WHERE id % 10 = 3 AND id % 3 = 0),
          |b1 AS (SELECT * FROM recs WHERE id % 10 = 3 AND id % 3 = 1),
          |b2 AS (SELECT * FROM recs WHERE id % 10 = 3 AND id % 3 = 2),
          |r0 AS (SELECT id, k, ROW_NUMBER() OVER (ORDER BY k, id) AS rk
          |       FROM (SELECT * FROM stored UNION ALL SELECT * FROM b0)),
          |r1 AS (SELECT id, k, ROW_NUMBER() OVER (ORDER BY k, id) AS rk
          |       FROM (SELECT * FROM stored UNION ALL SELECT * FROM b1)),
          |r2 AS (SELECT id, k, ROW_NUMBER() OVER (ORDER BY k, id) AS rk
          |       FROM (SELECT * FROM stored UNION ALL SELECT * FROM b2)),
          |p0 AS (SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b
          |       FROM r0 a JOIN r0 b ON b.rk - a.rk BETWEEN 1 AND 3
          |       WHERE (a.id % 10 = 3 AND a.id % 3 = 0)
          |          OR (b.id % 10 = 3 AND b.id % 3 = 0)),
          |p1 AS (SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b
          |       FROM r1 a JOIN r1 b ON b.rk - a.rk BETWEEN 1 AND 3
          |       WHERE (a.id % 10 = 3 AND a.id % 3 = 1)
          |          OR (b.id % 10 = 3 AND b.id % 3 = 1)),
          |p2 AS (SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b
          |       FROM r2 a JOIN r2 b ON b.rk - a.rk BETWEEN 1 AND 3
          |       WHERE (a.id % 10 = 3 AND a.id % 3 = 2)
          |          OR (b.id % 10 = 3 AND b.id % 3 = 2))
          |SELECT * FROM p0 UNION ALL SELECT * FROM p1 UNION ALL SELECT * FROM p2
          |ORDER BY id_a, id_b""".stripMargin,

      "q355_snm_at_rest" ->
        """WITH recs AS (
          |  SELECT c_custkey AS id,
          |         substr(md5('s:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS k
          |  FROM customer),
          |r AS (SELECT id, k, ROW_NUMBER() OVER (ORDER BY k, id) AS rk FROM recs)
          |SELECT a.id AS id_a, b.id AS id_b, a.k AS key_a, b.k AS key_b
          |FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 3
          |WHERE a.id % 10 = 3 OR b.id % 10 = 3
          |ORDER BY id_a, id_b""".stripMargin,

      // identical algebra to q162: append must not change the candidate set
      "q309_band_index_append" ->
        s"""$bandsSqlCte,
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key)),
           |pb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
           |pok AS (SELECT band, band_key FROM pb GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |pcapped AS (SELECT p.* FROM pb p JOIN pok USING (band, band_key))
           |SELECT p.doc_id AS doc_id, c.doc_id AS corpus_id,
           |  COUNT(DISTINCT p.band) AS n_bands
           |FROM pcapped p JOIN capped c
           |  ON p.band = c.band AND p.band_key = c.band_key
           |WHERE p.doc_id <> c.doc_id
           |GROUP BY 1, 2 ORDER BY doc_id, corpus_id""".stripMargin,

      "q162_band_index_probe" ->
        s"""$bandsSqlCte,
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key)),
           |pb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
           |pok AS (SELECT band, band_key FROM pb GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |pcapped AS (SELECT p.* FROM pb p JOIN pok USING (band, band_key))
           |SELECT p.doc_id AS doc_id, c.doc_id AS corpus_id,
           |  COUNT(DISTINCT p.band) AS n_bands
           |FROM pcapped p JOIN capped c
           |  ON p.band = c.band AND p.band_key = c.band_key
           |WHERE p.doc_id <> c.doc_id
           |GROUP BY 1, 2 ORDER BY doc_id, corpus_id""".stripMargin,
      // identical algebra to q162 — the streaming run must not change the
      // candidate set (per-batch screening, caps not binding)
      "q171_streaming_probe" ->
        s"""$bandsSqlCte,
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key)),
           |pb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
           |pok AS (SELECT band, band_key FROM pb GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |pcapped AS (SELECT p.* FROM pb p JOIN pok USING (band, band_key))
           |SELECT p.doc_id AS doc_id, c.doc_id AS corpus_id,
           |  COUNT(DISTINCT p.band) AS n_bands
           |FROM pcapped p JOIN capped c
           |  ON p.band = c.band AND p.band_key = c.band_key
           |WHERE p.doc_id <> c.doc_id
           |GROUP BY 1, 2 ORDER BY doc_id, corpus_id""".stripMargin,
      "q43_ngram_jaccard" ->
        s"""$bandsSqlCte,
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key)),
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |  FROM capped l JOIN capped r ON l.band = r.band AND l.band_key = r.band_key
           |  WHERE l.doc_id < r.doc_id),
           |sh AS (
           |  SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM w),
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT p.id_a, p.id_b, COUNT(*) AS i
           |  FROM pairs p JOIN sh a ON a.doc_id = p.id_a
           |               JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           |  GROUP BY 1, 2)
           |SELECT p.id_a AS id_a, p.id_b AS id_b,
           |  CAST(COALESCE(i.i, 0) AS DOUBLE) / (ca.n + cb.n - COALESCE(i.i, 0)) AS jaccard
           |FROM pairs p
           |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
           |JOIN cnt ca ON ca.doc_id = p.id_a
           |JOIN cnt cb ON cb.doc_id = p.id_b
           |ORDER BY p.id_a, p.id_b""".stripMargin,
      "q44_simhash" ->
        s"""SELECT doc_id, $simhashTerms AS simhash
           |FROM (SELECT doc_id, $wordsSql AS w FROM documents)
           |ORDER BY doc_id""".stripMargin,
      "q128_simhash64" ->
        s"""SELECT doc_id, CAST($simhash64Terms AS BIGINT) AS simhash
           |FROM (SELECT doc_id, list_transform($wordsSql, t -> md5(t)) AS dm FROM documents)
           |ORDER BY doc_id""".stripMargin,
      "q129_simhash64_pairs" ->
        s"""WITH docs2 AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
           |  UNION ALL
           |  SELECT doc_id + 2000000 AS doc_id, text || ' extra token' AS text
           |  FROM documents WHERE doc_id % 10 = 5),
           |fp AS (SELECT doc_id, CAST($simhash64Terms AS BIGINT) AS simhash
           |       FROM (SELECT doc_id, list_transform($wordsSql, t -> md5(t)) AS dm FROM docs2)),
           |bands AS (
           |  SELECT doc_id, simhash, b.band, (simhash >> (16 * b.band)) & 65535 AS key
           |  FROM fp, (SELECT unnest(range(0, 4)) AS band) b),
           |ok AS (SELECT band, key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |capped AS (SELECT bd.* FROM bands bd JOIN ok USING (band, key)),
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
           |    l.simhash AS fa, r.simhash AS fb
           |  FROM capped l JOIN capped r ON l.band = r.band AND l.key = r.key
           |  WHERE l.doc_id < r.doc_id)
           |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
           |FROM pairs WHERE bit_count(xor(fa, fb)) <= 3
           |ORDER BY id_a, id_b""".stripMargin,
      "q122_simhash_pairs" ->
        s"""WITH docs2 AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id < 2000
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, text || ' extra token' AS text
           |  FROM documents WHERE doc_id % 10 = 0 AND doc_id < 2000),
           |fp AS (SELECT doc_id, $simhashTerms AS simhash
           |       FROM (SELECT doc_id, $wordsSql AS w FROM docs2)),
           |bands AS (
           |  SELECT doc_id, simhash, b.band, (simhash >> (4 * b.band)) & 15 AS key
           |  FROM fp, (SELECT unnest(range(0, 4)) AS band) b),
           |ok AS (SELECT band, key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |capped AS (SELECT bd.* FROM bands bd JOIN ok USING (band, key)),
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
           |    l.simhash AS fa, r.simhash AS fb
           |  FROM capped l JOIN capped r ON l.band = r.band AND l.key = r.key
           |  WHERE l.doc_id < r.doc_id)
           |SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS INT) AS hamming
           |FROM pairs WHERE bit_count(xor(fa, fb)) <= 3
           |ORDER BY id_a, id_b""".stripMargin,
      "q197_minhash_eval" ->
        s"""$bandsSqlCte,
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 1000),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key)),
           |pairs AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |  FROM capped l JOIN capped r ON l.band = r.band AND l.band_key = r.band_key
           |  WHERE l.doc_id < r.doc_id),
           |ag AS (
           |  SELECT p.id_a, p.id_b,
           |    (${(1 to 12).map(j =>
                 s"CASE WHEN sa.sig[$j] = sb.sig[$j] THEN 1 ELSE 0 END")
                 .mkString(" + ")}) AS n_agree
           |  FROM pairs p
           |  JOIN sig sa ON sa.doc_id = p.id_a
           |  JOIN sig sb ON sb.doc_id = p.id_b),
           |sh2 AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM w),
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh2 GROUP BY doc_id),
           |inter AS (
           |  SELECT p.id_a, p.id_b, COUNT(*) AS i
           |  FROM pairs p JOIN sh2 a ON a.doc_id = p.id_a
           |               JOIN sh2 b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           |  GROUP BY 1, 2),
           |j AS (
           |  SELECT ag.id_a, ag.id_b, ag.n_agree,
           |    FLOOR((CAST(ag.n_agree AS DOUBLE) / 12) * 1e6 + 0.5) / 1e6 AS est,
           |    FLOOR((CAST(COALESCE(i.i, 0) AS DOUBLE) /
           |      (ca.n + cb.n - COALESCE(i.i, 0))) * 1e6 + 0.5) / 1e6 AS jc
           |  FROM ag
           |  LEFT JOIN inter i ON i.id_a = ag.id_a AND i.id_b = ag.id_b
           |  JOIN cnt ca ON ca.doc_id = ag.id_a
           |  JOIN cnt cb ON cb.doc_id = ag.id_b)
           |SELECT id_a, id_b, CAST(n_agree AS BIGINT) AS n_agree,
           |  est AS jaccard_est, jc AS jaccard,
           |  FLOOR(abs(est - jc) * 1e6 + 0.5) / 1e6 AS abs_err
           |FROM j ORDER BY id_a, id_b""".stripMargin,
      // independent ground-truth oracle: the injected domains are derived
      // straight from doc_id arithmetic, never from the regex pipeline
      "q193_extract_urls" ->
        """WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
          |d1 AS (
          |  SELECT doc_id,
          |    'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS domain
          |  FROM m
          |  UNION ALL
          |  SELECT doc_id,
          |    'cdn' || CAST(doc_id % 3 AS VARCHAR) || '.example.net'
          |  FROM m)
          |SELECT domain, COUNT(*) AS n_urls, COUNT(DISTINCT doc_id) AS n_docs
          |FROM d1 GROUP BY 1 ORDER BY domain""".stripMargin,
      // edges re-derived arithmetically from the injection rule (the
      // q193 pattern), then 3 PageRank iterations unrolled: snapped
      // per-edge contributions, exact DECIMAL sums, (1.0 - 0.85) kept
      // as the engine's exact IEEE expression
      "q215_domain_pagerank" -> {
        def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
        def iter(prev: String, cN: String, prN: String) =
          s"""$cN AS (
             |  SELECT e.dst AS node,
             |    CAST(SUM(CAST(${r6(s"$prev.pr / od.outdeg")} AS DECIMAL(28,6))) AS DOUBLE) AS s
             |  FROM $prev JOIN e ON e.src = $prev.node JOIN od ON od.src = e.src
             |  GROUP BY 1),
             |$prN AS (
             |  SELECT nodes.node,
             |    ${r6(s"(1.0 - 0.85) / n.n + 0.85 * COALESCE($cN.s, 0.0)")} AS pr
             |  FROM nodes LEFT JOIN $cN USING (node), n)""".stripMargin
        s"""WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
           |dom AS (
           |  SELECT doc_id,
           |    'site' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS domain
           |  FROM m
           |  UNION ALL
           |  SELECT doc_id,
           |    'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           |  FROM m),
           |e AS (SELECT DISTINCT a.domain AS src, b.domain AS dst
           |      FROM dom a JOIN dom b ON a.doc_id = b.doc_id AND a.domain <> b.domain),
           |nodes AS (SELECT DISTINCT src AS node FROM e
           |          UNION SELECT DISTINCT dst FROM e),
           |n AS (SELECT COUNT(*) AS n FROM nodes),
           |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
           |pr0 AS (SELECT node, ${r6("1.0 / n.n")} AS pr FROM nodes, n),
           |${iter("pr0", "c1", "pr1")},
           |${iter("pr1", "c2", "pr2")},
           |${iter("pr2", "c3", "pr3")}
           |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin
      },
      // q243's list algebra restricted to hits — the index is invisible
      "q266_phrase_indexed" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents),
          |c AS (
          |  SELECT doc_id,
          |    CAST(CASE WHEN len(w) >= 2 THEN
          |      len(list_filter(range(1, len(w)),
          |        i -> w[i] = 'part' AND w[i + 1] = 'value'))
          |    ELSE 0 END AS BIGINT) AS n_occurrences
          |  FROM t)
          |SELECT doc_id, n_occurrences FROM c
          |WHERE n_occurrences > 0 ORDER BY doc_id""".stripMargin,

      // recursive-CTE BFS (bounded depth) -> min dist per (landmark, node)
      // -> snapped 1/d terms, exact DECIMAL sum — a DIFFERENT shortest-
      // path algorithm than the engine's frontier/anti-join BFS
      "q265_harmonic_centrality" ->
        s"""WITH RECURSIVE m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
           |dom AS (
           |  SELECT doc_id,
           |    'site' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS domain
           |  FROM m
           |  UNION ALL
           |  SELECT doc_id,
           |    'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           |  FROM m),
           |e AS (SELECT DISTINCT a.domain AS src, b.domain AS dst
           |      FROM dom a JOIN dom b ON a.doc_id = b.doc_id AND a.domain <> b.domain),
           |-- DISTINCT-over-UNION-ALL, not UNION: DuckDB 1.0's WITH
           |-- RECURSIVE mishandles bare-UNION dedup in non-recursive CTEs
           |nodes AS (SELECT DISTINCT node FROM
           |          (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
           |lmr AS (SELECT node FROM nodes
           |        ORDER BY ${hex32Sql("'hc:' || node")}, node LIMIT 4),
           |bfs AS (
           |  SELECT node AS lm, node, 0 AS d FROM lmr
           |  UNION
           |  SELECT b.lm, e.dst AS node, b.d + 1 AS d
           |  FROM bfs b JOIN e ON e.src = b.node WHERE b.d < 4),
           |md AS (SELECT lm, node, MIN(d) AS d FROM bfs GROUP BY 1, 2)
           |SELECT node,
           |  FLOOR(CAST(SUM(CAST(CASE WHEN d >= 1
           |    THEN FLOOR(1.0 / d * 1e6 + 0.5) / 1e6 ELSE 0.0 END
           |    AS DECIMAL(28,6))) AS DOUBLE) * 1e6 + 0.5) / 1e6 AS h_sum,
           |  CAST(SUM(CASE WHEN d >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached
           |FROM md GROUP BY node ORDER BY node""".stripMargin,

      // recursive-CTE multi-source BFS over the q215 graph CTEs; UNION
      // (not ALL) bounds row growth at V*maxDepth on the cyclic graph
      "q344_bfs_distance" ->
        s"""WITH RECURSIVE m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
           |dom AS (
           |  SELECT doc_id,
           |    'site' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS domain
           |  FROM m
           |  UNION ALL
           |  SELECT doc_id,
           |    'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           |  FROM m),
           |e AS (SELECT DISTINCT a.domain AS src, b.domain AS dst
           |      FROM dom a JOIN dom b ON a.doc_id = b.doc_id AND a.domain <> b.domain),
           |srcs AS (SELECT 'site0.example.com' AS node
           |         UNION ALL SELECT 'cdn1.example.net'),
           |bfs AS (
           |  SELECT node, 0 AS d FROM srcs
           |  UNION
           |  SELECT e.dst AS node, b.d + 1 AS d
           |  FROM bfs b JOIN e ON e.src = b.node WHERE b.d < 6)
           |SELECT node, CAST(MIN(d) AS BIGINT) AS dist
           |FROM bfs GROUP BY node ORDER BY node""".stripMargin,

      // two unrolled HITS rounds over the q215 graph CTEs: exact DECIMAL
      // raw sums of snapped scores, snapped-square LONG norms, one sqrt
      "q254_domain_hits" -> {
        def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
        def round(hPrev: String, k: Int) =
          s"""a${k}r AS (
             |  SELECT nodes.node, COALESCE(s.s, 0.0) AS raw
             |  FROM nodes LEFT JOIN (
             |    SELECT e.dst AS node,
             |      CAST(SUM(CAST($hPrev.hub AS DECIMAL(28,6))) AS DOUBLE) AS s
             |    FROM $hPrev JOIN e ON e.src = $hPrev.node GROUP BY 1) s USING (node)),
             |an$k AS (
             |  SELECT sqrt(CAST(SUM(CAST(FLOOR(raw * raw * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) AS nm
             |  FROM a${k}r),
             |a$k AS (
             |  SELECT node, CASE WHEN nm > 0 THEN ${r6("raw / nm")} ELSE 0.0 END AS auth
             |  FROM a${k}r, an$k),
             |h${k}r AS (
             |  SELECT nodes.node, COALESCE(s.s, 0.0) AS raw
             |  FROM nodes LEFT JOIN (
             |    SELECT e.src AS node,
             |      CAST(SUM(CAST(a$k.auth AS DECIMAL(28,6))) AS DOUBLE) AS s
             |    FROM a$k JOIN e ON e.dst = a$k.node GROUP BY 1) s USING (node)),
             |hn$k AS (
             |  SELECT sqrt(CAST(SUM(CAST(FLOOR(raw * raw * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) AS nm
             |  FROM h${k}r),
             |h$k AS (
             |  SELECT node, CASE WHEN nm > 0 THEN ${r6("raw / nm")} ELSE 0.0 END AS hub
             |  FROM h${k}r, hn$k)""".stripMargin
        s"""WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
           |dom AS (
           |  SELECT doc_id,
           |    'site' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS domain
           |  FROM m
           |  UNION ALL
           |  SELECT doc_id,
           |    'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           |  FROM m),
           |e AS (SELECT DISTINCT a.domain AS src, b.domain AS dst
           |      FROM dom a JOIN dom b ON a.doc_id = b.doc_id AND a.domain <> b.domain),
           |nodes AS (SELECT DISTINCT src AS node FROM e
           |          UNION SELECT DISTINCT dst FROM e),
           |h0 AS (SELECT node, 1.0 AS hub FROM nodes),
           |${round("h0", 1)},
           |${round("h1", 2)}
           |SELECT nodes.node, h2.hub, a2.auth
           |FROM nodes JOIN h2 USING (node) JOIN a2 USING (node)
           |ORDER BY node""".stripMargin
      },

      // the same sliding window as list algebra: starts i (1-based) with
      // w[i]='part' and w[i+1]='value'
      "q243_phrase_count" ->
        """WITH t AS (
          |  SELECT doc_id,
          |    string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS w
          |  FROM documents)
          |SELECT doc_id,
          |  CAST(CASE WHEN len(w) >= 2 THEN
          |    len(list_filter(range(1, len(w)),
          |      i -> w[i] = 'part' AND w[i + 1] = 'value'))
          |  ELSE 0 END AS BIGINT) AS n_occurrences,
          |  CASE WHEN len(w) >= 2 THEN
          |    len(list_filter(range(1, len(w)),
          |      i -> w[i] = 'part' AND w[i + 1] = 'value')) > 0
          |  ELSE FALSE END AS has_phrase
          |FROM t ORDER BY doc_id""".stripMargin,

      // same ranges via chr()-built RE2 classes; length diffs count chars
      "q256_script_profile" -> {
        def cnt(cls: String) =
          s"CAST(length(x) - length(regexp_replace(x, '$cls', '', 'g')) AS BIGINT)"
        val cyrCls = "[' || chr(1024) || '-' || chr(1279) || ']"
        val grkCls = "[' || chr(880) || '-' || chr(1023) || ']"
        val cjkCls = "[' || chr(19968) || '-' || chr(40959) || ']"
        s"""WITH t AS (
           |  SELECT doc_id, text ||
           |    CASE WHEN doc_id % 4 = 0 THEN ' ' || chr(1087) || chr(1088) || chr(1080) || chr(1074) || chr(1077) || chr(1090) || ' ' || chr(1084) || chr(1080) || chr(1088)
           |         WHEN doc_id % 4 = 1 THEN ' ' || chr(945) || chr(946) || chr(947) || ' ' || chr(948) || chr(949)
           |         WHEN doc_id % 4 = 2 THEN ' ' || chr(20013) || chr(25991) || chr(27979) || chr(35797)
           |         ELSE '' END AS x
           |  FROM documents),
           |c AS (
           |  SELECT doc_id,
           |    ${cnt("[A-Za-z]")} AS n_latin,
           |    ${cnt("[0-9]")} AS n_digit,
           |    ${cnt(cyrCls)} AS n_cyrillic,
           |    ${cnt(grkCls)} AS n_greek,
           |    ${cnt(cjkCls)} AS n_cjk
           |  FROM t)
           |SELECT doc_id, n_latin, n_digit, n_cyrillic, n_greek, n_cjk,
           |  CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_greek = 0 AND n_cjk = 0 AND n_digit = 0 THEN 'none'
           |       WHEN n_latin >= n_cyrillic AND n_latin >= n_greek AND n_latin >= n_cjk AND n_latin >= n_digit THEN 'latin'
           |       WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_cjk AND n_cyrillic >= n_digit THEN 'cyrillic'
           |       WHEN n_greek >= n_cjk AND n_greek >= n_digit THEN 'greek'
           |       WHEN n_cjk >= n_digit THEN 'cjk'
           |       ELSE 'digit' END AS dominant_script
           |FROM c ORDER BY doc_id""".stripMargin
      },

      // LSH candidates from the q42 band algebra, truth from brute-force
      // all-pairs Jaccard — the eval joins the two and counts
      "q255_blocking_eval" ->
        s"""$bandsSqlCte,
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 50),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key)),
           |cand AS (
           |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |  FROM capped l JOIN capped r
           |    ON l.band = r.band AND l.band_key = r.band_key
           |  WHERE l.doc_id < r.doc_id),
           |tk AS (
           |  SELECT doc_id,
           |    list_distinct(list_filter($wordsSql, w -> length(w) > 0)) AS toks
           |  FROM documents),
           |tk2 AS (SELECT doc_id, toks FROM tk WHERE len(toks) > 0),
           |truth AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM tk2 a JOIN tk2 b ON a.doc_id < b.doc_id
           |  WHERE FLOOR(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |    len(list_distinct(list_concat(a.toks, b.toks))) * 1e6 + 0.5) / 1e6 >= 0.7),
           |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
           |m AS (
           |  SELECT
           |    (SELECT COUNT(*) FROM cand) AS n_candidates,
           |    (SELECT COUNT(*) FROM truth) AS n_truth,
           |    (SELECT COUNT(*) FROM cand JOIN truth USING (id_a, id_b)) AS n_hit,
           |    nd.n AS n
           |  FROM nd)
           |SELECT n_candidates, n_truth, n_hit,
           |  FLOOR(CAST(n_hit AS DOUBLE) / n_truth * 1e6 + 0.5) / 1e6 AS pair_completeness,
           |  FLOOR((1.0 - CAST(n_candidates AS DOUBLE) / (n * (n - 1) / 2)) * 1e6 + 0.5) / 1e6 AS reduction_ratio
           |FROM m""".stripMargin,

      // brute-force ordered-pairs containment — prefix/postings machinery
      // invisible to the oracle
      "q253_containment_join" ->
        s"""WITH docs AS (
           |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
           |  UNION ALL
           |  SELECT doc_id + 30000, substr(text, 1, 200)
           |  FROM documents WHERE doc_id % 7 = 0),
           |t AS (
           |  SELECT doc_id,
           |    list_distinct(list_filter($wordsSql, w -> length(w) > 0)) AS toks
           |  FROM docs),
           |t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) >= 10),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    FLOOR(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |      len(a.toks) * 1e6 + 0.5) / 1e6 AS containment
           |  FROM t2 a JOIN t2 b ON a.doc_id <> b.doc_id)
           |SELECT id_a, id_b, containment FROM p
           |WHERE containment >= 0.9 ORDER BY id_a, id_b""".stripMargin,

      // the same rarest-first (df, token) order + prefix-length arithmetic,
      // via a per-doc window (a DIFFERENT mechanism than the engine's
      // struct sort_array); both occupancy counts recomputed from scratch
      "q369_prefix_cap_audit" ->
        s"""WITH t AS (
           |  SELECT doc_id,
           |    list_distinct(list_filter($wordsSql, w -> length(w) > 0)) AS toks
           |  FROM documents),
           |t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
           |tok AS (SELECT doc_id, unnest(toks) AS token, len(toks) AS n FROM t2),
           |dfq AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY 1),
           |ord AS (
           |  SELECT tok.doc_id, tok.token, tok.n, dfq.df,
           |    row_number() OVER (PARTITION BY tok.doc_id
           |      ORDER BY dfq.df, tok.token) AS p
           |  FROM tok JOIN dfq USING (token)),
           |pc AS (
           |  SELECT token, COUNT(*) AS prefix_count FROM ord
           |  WHERE p <= n - CEIL(0.95 * n) + 1 GROUP BY 1)
           |SELECT dfq.token, dfq.df,
           |  COALESCE(pc.prefix_count, 0) AS prefix_count
           |FROM dfq LEFT JOIN pc USING (token)
           |WHERE dfq.df > 3 OR COALESCE(pc.prefix_count, 0) > 3
           |ORDER BY token""".stripMargin,

      // brute-force all-pairs word-set Jaccard — an INDEPENDENT algorithm
      // (no prefix/df machinery); exact rational intersection/union sizes
      "q252_prefix_jaccard" ->
        s"""WITH docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 20000, text || ' zz1 zz2 zz3'
           |  FROM documents WHERE doc_id % 33 = 0),
           |t AS (
           |  SELECT doc_id,
           |    list_distinct(list_filter($wordsSql, w -> length(w) > 0)) AS toks
           |  FROM docs),
           |t2 AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
           |p AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    FLOOR(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
           |      len(list_distinct(list_concat(a.toks, b.toks))) * 1e6 + 0.5) / 1e6 AS jaccard
           |  FROM t2 a JOIN t2 b ON a.doc_id < b.doc_id)
           |SELECT id_a, id_b, jaccard FROM p
           |WHERE jaccard >= 0.95 ORDER BY id_a, id_b""".stripMargin,

      // priority = w * 2^32 / (hash32+1); top-50 by (priority DESC, id);
      // tau = the 51st priority; est_w = max(w, tau) on kept rows
      // merged shard states must be INVISIBLE: same oracle as q244
      "q257_priority_merge" -> prioritySampleOracle,
      "q244_priority_sample" -> prioritySampleOracle,

      // the engine-independent NFC: DuckDB nfc_normalize over the same
      // decomposed e + chr(769) suffix; md5 sees identical bytes
      "q246_nfc_normalize" ->
        """WITH t AS (
          |  SELECT doc_id, text || ' caf' || chr(101) || chr(769) AS raw
          |  FROM documents)
          |SELECT doc_id, length(raw) AS raw_len,
          |  length(nfc_normalize(raw)) AS nfc_len,
          |  md5(nfc_normalize(raw)) AS nfc_hash
          |FROM t ORDER BY doc_id""".stripMargin,

      // exact-content clusters are md5(text) groups; the representative is
      // the group MIN id; the split hashes the representative
      "q247_cluster_split" -> {
        val c1 = math.round(0.8 * 4294967296.0)
        val c2 = math.round(0.9 * 4294967296.0)
        s"""WITH docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 25 = 0),
           |rep AS (
           |  SELECT doc_id,
           |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster_key
           |  FROM docs)
           |SELECT doc_id, cluster_key,
           |  CASE WHEN ${hex32Sql("'split:' || CAST(cluster_key AS VARCHAR)")} < $c1 THEN 'train'
           |       WHEN ${hex32Sql("'split:' || CAST(cluster_key AS VARCHAR)")} < $c2 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM rep ORDER BY doc_id""".stripMargin
      },

      // keep-best = first row per cluster under (score DESC, id ASC) —
      // the max-struct (s, -id) order
      "q248_keep_best_cluster" ->
        """WITH docs AS (
          |  SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 25 = 0),
          |rep AS (
          |  SELECT doc_id, CAST(doc_id % 7 AS DOUBLE) AS score,
          |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS cluster_key
          |  FROM docs),
          |rk AS (
          |  SELECT cluster_key, doc_id, score,
          |    ROW_NUMBER() OVER (PARTITION BY cluster_key
          |      ORDER BY score DESC, doc_id) AS rn,
          |    COUNT(*) OVER (PARTITION BY cluster_key) AS nm
          |  FROM rep)
          |SELECT cluster_key, doc_id AS keep_id, score AS best_score,
          |  nm AS n_members
          |FROM rk WHERE rn = 1 ORDER BY cluster_key""".stripMargin,

      // buckets + rank windows mirror of the batching rule
      "q239_length_batches" ->
        """SELECT doc_id, n_chars,
          |  CAST(FLOOR(n_chars / 200.0) AS BIGINT) AS bucket,
          |  CAST(FLOOR((rn - 1) / 8.0) AS BIGINT) AS batch_in_bucket,
          |  CAST((rn - 1) % 8 AS INT) AS batch_rank
          |FROM (
          |  SELECT doc_id, n_chars,
          |    ROW_NUMBER() OVER (PARTITION BY FLOOR(n_chars / 200.0)
          |      ORDER BY n_chars, doc_id) AS rn
          |  FROM documents)
          |ORDER BY doc_id""".stripMargin,

      // 6 unrolled peel rounds over the same edge construction
      "q240_kcore" -> {
        val clique = (for (a <- 100 to 105; b <- 100 to 105 if a < b)
          yield s"($a, $b)").mkString(", ")
        def round(i: Int) =
          s"""d$i AS (SELECT src, COUNT(*) AS d FROM e$i GROUP BY 1),
             |k$i AS (SELECT src AS node FROM d$i WHERE d >= 4),
             |e${i + 1} AS (
             |  SELECT s.src, s.dst FROM e$i s
             |  JOIN k$i x ON s.src = x.node JOIN k$i y ON s.dst = y.node)""".stripMargin
        s"""WITH e0raw AS (
           |  SELECT (doc_id * 13) % 47 AS a,
           |    (doc_id * doc_id + doc_id) % 47 AS b FROM documents
           |  UNION ALL
           |  SELECT (doc_id * 29) % 47,
           |    (doc_id * doc_id * doc_id + doc_id * 2) % 47 FROM documents
           |  UNION ALL
           |  SELECT CAST(a AS BIGINT), CAST(b AS BIGINT)
           |  FROM (VALUES $clique) t(a, b)),
           |e0 AS (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT a AS src, b AS dst FROM e0raw
           |    UNION ALL SELECT b, a FROM e0raw)
           |  WHERE src <> dst),
           |${round(0)},
           |${round(1)},
           |${round(2)},
           |${round(3)},
           |${round(4)},
           |${round(5)}
           |SELECT src AS node, COUNT(*) AS degree FROM e6 GROUP BY 1
           |ORDER BY node""".stripMargin
      },

      // brute-force pairs + recursive reachability ground truth
      "q238_entity_clusters" ->
        """WITH RECURSIVE raw AS (
          |  SELECT substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS term
          |  FROM customer
          |  UNION ALL
          |  SELECT 'z' || substr(substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8), 2, 7)
          |  FROM customer WHERE c_custkey % 5 = 0
          |  UNION ALL
          |  SELECT substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8) || 'q'
          |  FROM customer WHERE c_custkey % 10 = 0),
          |t AS (SELECT DISTINCT term FROM raw),
          |p AS (SELECT a.term AS id_a, b.term AS id_b FROM t a JOIN t b
          |      ON a.term < b.term AND levenshtein(a.term, b.term) <= 1),
          |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
          |nodes AS (SELECT DISTINCT a AS id FROM e),
          |reach(id, lbl) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.b, reach.lbl FROM reach JOIN e ON e.a = reach.id)
          |SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
          |ORDER BY doc_id""".stripMargin,
      // both SNM passes as ROW_NUMBER band self-joins, DuckDB's native
      // jaro_winkler refines, recursive reachability clusters
      "q287_er_snm_jw" ->
        """WITH RECURSIVE raw AS (
          |  SELECT substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8) AS term
          |  FROM customer
          |  UNION ALL
          |  SELECT 'z' || substr(substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8), 2, 7)
          |  FROM customer WHERE c_custkey % 5 = 0
          |  UNION ALL
          |  SELECT substr(md5('e:' || CAST(c_custkey AS VARCHAR)), 1, 8) || 'q'
          |  FROM customer WHERE c_custkey % 10 = 0),
          |t AS (SELECT DISTINCT term FROM raw),
          |r1 AS (SELECT term, ROW_NUMBER() OVER (ORDER BY term) - 1 AS rk FROM t),
          |p1 AS (SELECT a.term AS x, b.term AS y
          |       FROM r1 a JOIN r1 b ON b.rk - a.rk BETWEEN 1 AND 3),
          |r2 AS (SELECT term,
          |       ROW_NUMBER() OVER (ORDER BY reverse(term), term) - 1 AS rk FROM t),
          |p2 AS (SELECT a.term AS x, b.term AS y
          |       FROM r2 a JOIN r2 b ON b.rk - a.rk BETWEEN 1 AND 3),
          |cand AS (
          |  SELECT DISTINCT LEAST(x, y) AS id_a, GREATEST(x, y) AS id_b
          |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)),
          |p AS (SELECT id_a, id_b FROM cand
          |      WHERE FLOOR(jaro_winkler_similarity(id_a, id_b) * 1e6 + 0.5) / 1e6 >= 0.85),
          |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
          |nodes AS (SELECT DISTINCT a AS id FROM e),
          |reach(id, lbl) AS (
          |  SELECT id, id FROM nodes
          |  UNION
          |  SELECT e.b, reach.lbl FROM reach JOIN e ON e.a = reach.id)
          |SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
          |ORDER BY doc_id""".stripMargin,

      // brute-force levenshtein ground truth over the distinct name set
      "q226_edit_pairs" ->
        """WITH t AS (SELECT DISTINCT c_name AS term FROM customer)
          |SELECT a.term AS a, b.term AS b,
          |  CAST(levenshtein(a.term, b.term) AS INT) AS dist
          |FROM t a JOIN t b
          |  ON a.term < b.term AND levenshtein(a.term, b.term) <= 1
          |ORDER BY a, b""".stripMargin,

      // DuckDB's native implementation is the ground truth
      "q318_monge_elkan" -> {
        def w(e: String) =
          s"string_split(trim(regexp_replace(lower($e), '[^a-z0-9]+', ' ', 'g')), ' ')"
        // per-token best snapped, per-row sum in exact DECIMAL — mirrors
        // mongeElkanCol's order-independent arithmetic
        def me(wa: String, wb: String) =
          s"""CAST(list_sum(list_transform($wa, t ->
             |  CAST(FLOOR(list_max(list_transform($wb, u ->
             |    jaro_winkler_similarity(t, u))) * 1e6 + 0.5) / 1e6
             |    AS DECIMAL(28,6)))) AS DOUBLE) / len($wa)""".stripMargin
        s"""WITH p AS (
           |  SELECT x.c_custkey AS id,
           |    x.c_name || ' ' || x.c_mktsegment AS a,
           |    y.c_mktsegment || ' ' || x.c_name AS b
           |  FROM customer x JOIN customer y
           |    ON y.c_custkey = x.c_custkey + 1),
           |t AS (SELECT id, ${w("a")} AS wa, ${w("b")} AS wb FROM p),
           |m AS (SELECT id,
           |    ${me("wa", "wb")} AS ab,
           |    ${me("wb", "wa")} AS ba
           |  FROM t)
           |SELECT id,
           |  FLOOR(ab * 1e6 + 0.5) / 1e6 AS me_ab,
           |  FLOOR(ba * 1e6 + 0.5) / 1e6 AS me_ba,
           |  FLOOR((ab + ba) / 2 * 1e6 + 0.5) / 1e6 AS me_sym
           |FROM m ORDER BY id""".stripMargin
      },

      "q275_jaro_winkler" ->
        """WITH near AS (
          |  SELECT x.c_custkey AS id, 'near' AS kind,
          |    FLOOR(jaro_winkler_similarity(x.c_name, y.c_name) * 1e6 + 0.5)
          |      / 1e6 AS jw
          |  FROM customer x JOIN customer y ON y.c_custkey = x.c_custkey + 1),
          |far AS (
          |  SELECT c_custkey AS id, 'far' AS kind,
          |    FLOOR(jaro_winkler_similarity(c_name, c_mktsegment) * 1e6 + 0.5)
          |      / 1e6 AS jw
          |  FROM customer)
          |SELECT * FROM near UNION ALL SELECT * FROM far
          |ORDER BY kind, id""".stripMargin,

      "q292_skyline" ->
        """WITH t AS (
          |  SELECT doc_id, n_chars,
          |    FLOOR((doc_id % 101) / 100.0 * 1e6 + 0.5) / 1e6 AS score
          |  FROM documents)
          |SELECT doc_id, n_chars, score FROM t a
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM t b
          |  WHERE CAST(b.n_chars AS DOUBLE) >= CAST(a.n_chars AS DOUBLE)
          |    AND b.score >= a.score
          |    AND (CAST(b.n_chars AS DOUBLE) > CAST(a.n_chars AS DOUBLE)
          |         OR b.score > a.score))
          |ORDER BY doc_id""".stripMargin,

      "q289_curriculum" ->
        """WITH r AS (
          |  SELECT doc_id,
          |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT)
          |      AS rank,
          |    COUNT(*) OVER () AS n
          |  FROM documents)
          |SELECT doc_id, rank,
          |  LEAST(CAST(FLOOR(rank * 3 / n) AS INT), 2) AS phase
          |FROM r ORDER BY rank""".stripMargin,

      // the single-reducer window the operator avoids IS the ground truth
      "q273_global_rank" ->
        """SELECT doc_id, n_chars,
          |  CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS BIGINT)
          |    AS rank
          |FROM documents ORDER BY rank""".stripMargin,

      // pairs at rank distance 1..3 under the (n_chars, doc_id) order
      "q274_snm_pairs" ->
        """WITH r AS (
          |  SELECT doc_id, n_chars,
          |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS rk
          |  FROM documents)
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  a.n_chars AS key_a, b.n_chars AS key_b
          |FROM r a JOIN r b ON b.rk - a.rk BETWEEN 1 AND 3
          |ORDER BY id_a, id_b""".stripMargin,

      // raw + canonical URL pairs rebuilt from doc_id arithmetic — the
      // independent ground truth for the whole canonicalization chain
      "q223_canonical_urls" ->
        """WITH a AS (
          |  SELECT doc_id,
          |    'https://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
          |      '.example.com:443/p' || CAST(doc_id % 5 AS VARCHAR) ||
          |      '/?utm_source=feed&id=' || CAST(doc_id % 13 AS VARCHAR) ||
          |      '#frag' AS url,
          |    'https://site' || CAST(doc_id % 7 AS VARCHAR) ||
          |      '.example.com/p' || CAST(doc_id % 5 AS VARCHAR) ||
          |      '/?id=' || CAST(doc_id % 13 AS VARCHAR) AS canonical_url
          |  FROM documents WHERE doc_id % 4 = 0
          |  UNION ALL
          |  SELECT doc_id,
          |    'http://cdn' || CAST(doc_id % 3 AS VARCHAR) ||
          |      '.example.net:80/lib/a.js?utm_campaign=x&b=2',
          |    'http://cdn' || CAST(doc_id % 3 AS VARCHAR) ||
          |      '.example.net/lib/a.js?b=2'
          |  FROM documents WHERE doc_id % 6 = 0
          |  UNION ALL
          |  SELECT doc_id, 'https://Www.Host.example.org/dir/',
          |    'https://host.example.org/dir'
          |  FROM documents WHERE doc_id % 10 = 0)
          |SELECT doc_id, url, canonical_url FROM a
          |ORDER BY doc_id, url""".stripMargin,

      // q215's graph through 3 unrolled label-propagation iterations:
      // per-node neighbor-label counts, ROW_NUMBER (c DESC, label) pick —
      // the mirror of the struct-min argmax
      "q221_lpa_communities" -> {
        def iter(prev: String, i: Int) =
          s"""c$i AS (
             |  SELECT e.dst AS node, l.label, COUNT(*) AS c
             |  FROM $prev l JOIN e ON e.src = l.node GROUP BY 1, 2),
             |b$i AS (
             |  SELECT node, label FROM (
             |    SELECT node, label,
             |      ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
             |    FROM c$i) WHERE rn = 1),
             |lbl$i AS (
             |  SELECT nodes.node, COALESCE(b$i.label, nodes.node) AS label
             |  FROM nodes LEFT JOIN b$i USING (node))""".stripMargin
        s"""WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
           |dom AS (
           |  SELECT doc_id,
           |    'site' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS domain
           |  FROM m
           |  UNION ALL
           |  SELECT doc_id,
           |    'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           |  FROM m),
           |e AS (SELECT DISTINCT a.domain AS src, b.domain AS dst
           |      FROM dom a JOIN dom b ON a.doc_id = b.doc_id AND a.domain <> b.domain),
           |nodes AS (SELECT DISTINCT src AS node FROM e
           |          UNION SELECT DISTINCT dst FROM e),
           |lbl0 AS (SELECT node, node AS label FROM nodes),
           |${iter("lbl0", 1)},
           |${iter("lbl1", 2)},
           |${iter("lbl2", 3)}
           |SELECT node, label FROM lbl3 ORDER BY node""".stripMargin
      },
      // q215's graph with doc-count weights: per-edge share snapped once,
      // then 3 unrolled iterations of r6((1-d)/N + d·Σ r6(pr·share))
      "q241_weighted_pagerank" -> {
        def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
        def iter(prev: String, cN: String, prN: String) =
          s"""$cN AS (
             |  SELECT sh.dst AS node,
             |    CAST(SUM(CAST(${r6(s"$prev.pr * sh.share")} AS DECIMAL(28,6))) AS DOUBLE) AS s
             |  FROM $prev JOIN sh ON sh.src = $prev.node
             |  GROUP BY 1),
             |$prN AS (
             |  SELECT nodes.node,
             |    ${r6(s"(1.0 - 0.85) / n.n + 0.85 * COALESCE($cN.s, 0.0)")} AS pr
             |  FROM nodes LEFT JOIN $cN USING (node), n)""".stripMargin
        s"""WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
           |dom AS (
           |  SELECT doc_id,
           |    'site' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS domain
           |  FROM m
           |  UNION ALL
           |  SELECT doc_id,
           |    'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           |  FROM m),
           |ew AS (SELECT a.domain AS src, b.domain AS dst, COUNT(*) AS w
           |       FROM dom a JOIN dom b ON a.doc_id = b.doc_id AND a.domain <> b.domain
           |       GROUP BY 1, 2),
           |ow AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM ew GROUP BY 1),
           |sh AS (SELECT ew.src, ew.dst,
           |         ${r6("CAST(w AS DOUBLE) / CAST(ow AS DOUBLE)")} AS share
           |       FROM ew JOIN ow USING (src)),
           |nodes AS (SELECT DISTINCT src AS node FROM ew
           |          UNION SELECT DISTINCT dst FROM ew),
           |n AS (SELECT COUNT(*) AS n FROM nodes),
           |pr0 AS (SELECT node, ${r6("1.0 / n.n")} AS pr FROM nodes, n),
           |${iter("pr0", "c1", "pr1")},
           |${iter("pr1", "c2", "pr2")},
           |${iter("pr2", "c3", "pr3")}
           |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin
      },

      // q215's graph, triangles by the PLAIN a<b<c wedge closure (the
      // degree ordering is the engine's concern, not the contract)
      "q229_triangle_counts" ->
        """WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
          |dom AS (
          |  SELECT doc_id,
          |    'site' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS domain
          |  FROM m
          |  UNION ALL
          |  SELECT doc_id,
          |    'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
          |  FROM m),
          |e AS (SELECT DISTINCT a.domain AS src, b.domain AS dst
          |      FROM dom a JOIN dom b ON a.doc_id = b.doc_id AND a.domain <> b.domain),
          |canon AS (SELECT src AS a, dst AS b FROM e WHERE src < dst),
          |tri AS (
          |  SELECT t1.a AS x, t1.b AS y, t2.b AS z
          |  FROM canon t1
          |  JOIN canon t2 ON t2.a = t1.b
          |  JOIN canon t3 ON t3.a = t1.a AND t3.b = t2.b),
          |pern AS (
          |  SELECT node, COUNT(*) AS triangles FROM (
          |    SELECT x AS node FROM tri
          |    UNION ALL SELECT y FROM tri
          |    UNION ALL SELECT z FROM tri) GROUP BY 1),
          |deg AS (SELECT src AS node, COUNT(*) AS degree FROM e GROUP BY 1)
          |SELECT d.node, d.degree,
          |  CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles,
          |  CASE WHEN d.degree >= 2
          |    THEN FLOOR(2.0 * COALESCE(p.triangles, 0) /
          |      (d.degree * (d.degree - 1)) * 1e6 + 0.5) / 1e6
          |    ELSE 0.0 END AS clustering
          |FROM deg d LEFT JOIN pern p USING (node) ORDER BY d.node""".stripMargin,

      // q215's graph with the teleport restricted to the 3-domain seed
      // set: t = round6(1/|S|) on seeds, 0 elsewhere; 3 unrolled
      // iterations of r6((1-d)·t + d·Σ)
      "q216_trust_rank" -> {
        def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
        def iter(prev: String, cN: String, prN: String) =
          s"""$cN AS (
             |  SELECT e.dst AS node,
             |    CAST(SUM(CAST(${r6(s"$prev.pr / od.outdeg")} AS DECIMAL(28,6))) AS DOUBLE) AS s
             |  FROM $prev JOIN e ON e.src = $prev.node JOIN od ON od.src = e.src
             |  GROUP BY 1),
             |$prN AS (
             |  SELECT nt.node,
             |    ${r6(s"(1.0 - 0.85) * nt.t + 0.85 * COALESCE($cN.s, 0.0)")} AS pr
             |  FROM nt LEFT JOIN $cN USING (node))""".stripMargin
        s"""WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
           |dom AS (
           |  SELECT doc_id,
           |    'site' || CAST(doc_id % 11 AS VARCHAR) || '.example.com' AS domain
           |  FROM m
           |  UNION ALL
           |  SELECT doc_id,
           |    'cdn' || CAST(doc_id % 7 AS VARCHAR) || '.example.net'
           |  FROM m),
           |e AS (SELECT DISTINCT a.domain AS src, b.domain AS dst
           |      FROM dom a JOIN dom b ON a.doc_id = b.doc_id AND a.domain <> b.domain),
           |seeds AS (SELECT unnest(['site0.example.com', 'site1.example.com',
           |  'cdn0.example.net']) AS node),
           |ns AS (SELECT COUNT(*) AS s FROM seeds),
           |nodes AS (SELECT DISTINCT src AS node FROM e
           |          UNION SELECT DISTINCT dst FROM e
           |          UNION SELECT node FROM seeds),
           |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
           |nt AS (SELECT nodes.node,
           |         CASE WHEN sd.node IS NOT NULL THEN ${r6("1.0 / ns.s")}
           |              ELSE 0.0 END AS t
           |       FROM nodes LEFT JOIN seeds sd USING (node), ns),
           |pr0 AS (SELECT node, t AS pr FROM nt),
           |${iter("pr0", "c1", "pr1")},
           |${iter("pr1", "c2", "pr2")},
           |${iter("pr2", "c3", "pr3")}
           |SELECT node, pr FROM pr3 ORDER BY node""".stripMargin
      },
      "q194_domain_blocklist" ->
        """WITH m AS (SELECT doc_id FROM documents WHERE doc_id % 5 = 0),
          |hits AS (
          |  SELECT doc_id,
          |    CAST(doc_id % 7 = 3 AS INT) + CAST(doc_id % 3 = 1 AS INT) AS n
          |  FROM m)
          |SELECT d.doc_id,
          |  CAST(COALESCE(h.n, 0) AS BIGINT) AS n_blocked_urls,
          |  CAST(COALESCE(h.n, 0) > 0 AS INT) AS blocked
          |FROM documents d LEFT JOIN hits h USING (doc_id)
          |ORDER BY d.doc_id""".stripMargin,
      "q191_strip_html" ->
        """WITH docs AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 7 = 0 THEN ' <b>bold</b> &amp; more' ELSE '' END ||
          |    CASE WHEN doc_id % 11 = 0 THEN ' <script>var x = 1;</script><p class="a">para</p>' ELSE '' END ||
          |    CASE WHEN doc_id % 13 = 0 THEN ' &lt;tag&gt; &quot;q&#39;' ELSE '' END AS text
          |  FROM documents),
          |cleaned AS (
          |  SELECT doc_id,
          |    trim(regexp_replace(
          |      replace(replace(replace(replace(replace(
          |        regexp_replace(
          |          regexp_replace(text, '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
          |          '<[^>]+>', ' ', 'g'),
          |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
          |      '\s+', ' ', 'g')) AS text
          |  FROM docs)
          |SELECT doc_id, md5(text) AS clean_hash,
          |  CAST(length(text) AS BIGINT) AS clean_len
          |FROM cleaned ORDER BY doc_id""".stripMargin,
      "q192_keep_best" ->
        """WITH base AS (
          |  SELECT doc_id, text, doc_id % 97 AS score FROM documents),
          |copies AS (
          |  SELECT doc_id + 10000 AS doc_id, text, (doc_id + 10000) % 97 AS score
          |  FROM documents WHERE doc_id % 15 = 0),
          |docs AS (SELECT * FROM base UNION ALL SELECT * FROM copies),
          |r AS (
          |  SELECT md5(text) AS content_hash, doc_id, score,
          |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY score DESC, doc_id) AS rn,
          |    COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
          |  FROM docs)
          |SELECT content_hash, doc_id AS keep_id, score AS keep_score, n_copies
          |FROM r WHERE rn = 1 ORDER BY keep_id""".stripMargin,
      "q190_containment" -> {
        def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
        s"""WITH w0 AS (SELECT doc_id, $wordsSql AS ws FROM documents),
           |ex AS (
           |  SELECT doc_id + 10000 AS doc_id,
           |    array_to_string(list_slice(ws, 1, GREATEST(len(ws) // 2, 1)), ' ') AS text
           |  FROM w0 WHERE doc_id % 20 = 0),
           |docs AS (SELECT doc_id, text FROM documents UNION ALL SELECT doc_id, text FROM ex),
           |pairs AS (
           |  SELECT doc_id AS id_a, doc_id + 10000 AS id_b
           |  FROM documents WHERE doc_id % 20 = 0),
           |sh AS (
           |  SELECT DISTINCT doc_id, unnest(${shinglesSql(wordsSql, 3)}) AS shingle
           |  FROM docs),
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
           |inter AS (
           |  SELECT p.id_a, p.id_b, COUNT(*) AS i
           |  FROM pairs p
           |  JOIN sh a ON a.doc_id = p.id_a
           |  JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           |  GROUP BY 1, 2)
           |SELECT p.id_a, p.id_b,
           |  ${r6("CAST(COALESCE(i.i, 0) AS DOUBLE) / ca.n")} AS containment_a,
           |  ${r6("CAST(COALESCE(i.i, 0) AS DOUBLE) / cb.n")} AS containment_b,
           |  GREATEST(${r6("CAST(COALESCE(i.i, 0) AS DOUBLE) / ca.n")},
           |           ${r6("CAST(COALESCE(i.i, 0) AS DOUBLE) / cb.n")}) AS containment
           |FROM pairs p
           |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
           |JOIN cnt ca ON ca.doc_id = p.id_a
           |JOIN cnt cb ON cb.doc_id = p.id_b
           |ORDER BY p.id_a, p.id_b""".stripMargin
      },
      "q188_jsonl_export" ->
        s"""WITH h AS (
           |  SELECT doc_id, n_chars,
           |    ${hex32Sql("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS hv
           |  FROM documents)
           |SELECT CAST(hv % 4 AS INT) AS shard, COUNT(*) AS n,
           |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
           |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           |  COUNT(*) AS n_lang
           |FROM h GROUP BY 1 ORDER BY shard""".stripMargin,
      "q182_tfidf_pairs" ->
        s"""WITH docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000, text || ' extra token'
           |  FROM documents WHERE doc_id % 40 = 0),
           |sh AS (
           |  SELECT doc_id, unnest(${shinglesSql(wordsSql, 3)}) AS shingle FROM docs),
           |tf AS (SELECT doc_id, shingle, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
           |dfq AS (
           |  SELECT shingle, COUNT(*) AS df FROM tf
           |  GROUP BY 1 HAVING COUNT(*) BETWEEN 2 AND 50),
           |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM docs),
           |w AS (
           |  SELECT tf.doc_id, tf.shingle,
           |    FLOOR(CAST(tf.tf AS DOUBLE) * ln(n.n / CAST(dfq.df AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS w
           |  FROM tf JOIN dfq USING (shingle), n),
           |norms AS (
           |  SELECT doc_id,
           |    sqrt(CAST(SUM(CAST(FLOOR(w * w * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)) AS nrm
           |  FROM w GROUP BY 1),
           |dots AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CAST(SUM(CAST(FLOOR(a.w * b.w * 1e6 + 0.5) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS dot
           |  FROM w a JOIN w b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |cosd AS (
           |  SELECT id_a, id_b,
           |    FLOOR(dot / (na.nrm * nb.nrm) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM dots
           |  JOIN norms na ON na.doc_id = id_a
           |  JOIN norms nb ON nb.doc_id = id_b)
           |SELECT id_a, id_b, cosine FROM cosd
           |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin,
      "q181_split_leakage" ->
        s"""WITH docs AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 10000, text FROM documents WHERE doc_id % 25 = 0),
           |sp AS (
           |  SELECT doc_id,
           |    CASE WHEN ${hex32Sql("'split:' || CAST(doc_id AS VARCHAR)")} < ${math.round(0.8 * 4294967296.0)} THEN 'train'
           |         WHEN ${hex32Sql("'split:' || CAST(doc_id AS VARCHAR)")} < ${math.round(0.9 * 4294967296.0)} THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM docs),
           |${cappedBandCtes(
             "(SELECT d.doc_id, d.text FROM docs d JOIN sp USING (doc_id) WHERE sp.split = 'train')",
             "t", 1000)},
           |${cappedBandCtes(
             "(SELECT d.doc_id, d.text FROM docs d JOIN sp USING (doc_id) WHERE sp.split <> 'train')",
             "e", 1000)}
           |SELECT t.doc_id, e.doc_id AS eval_id, COUNT(DISTINCT t.band) AS n_bands
           |FROM tcb t JOIN ecb e ON t.band = e.band AND t.band_key = e.band_key
           |GROUP BY 1, 2 ORDER BY t.doc_id, eval_id""".stripMargin,
      "q124_fuzzy_decontam" ->
        s"""WITH ${cappedBandCtes("documents", "l", 1000)},
           |${cappedBandCtes(
             "(SELECT doc_id, text || ' extra token' AS text FROM documents WHERE doc_id % 37 = 5)",
             "r", 1000)},
           |m AS (
           |  SELECT DISTINCT l.doc_id, r.doc_id AS eval_id
           |  FROM lcb l JOIN rcb r ON l.band = r.band AND l.band_key = r.band_key),
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM m GROUP BY 1)
           |SELECT d.doc_id, COALESCE(cnt.n, 0) AS n_eval_matches,
           |  COALESCE(cnt.n, 0) > 0 AS contaminated
           |FROM documents d LEFT JOIN cnt USING (doc_id)
           |ORDER BY doc_id""".stripMargin,
      "q45_cosine_pairs" -> {
        // band b = 2 planes at global indices (2b, 2b+1) — mirrors
        // Dedup.cosinePairs(numPlanes = 2, bands = 2)
        def bandSql(band: Int, e: String) = (0 until 2).map(p =>
          s"CASE WHEN ${projSql(band * 2 + p, e)} >= 0 THEN ${1 << p} ELSE 0 END")
          .mkString(" + ")
        s"""WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0),
           |bk AS (SELECT vec_id, embedding, ${bandSql(0, "embedding")} AS b0,
           |  ${bandSql(1, "embedding")} AS b1 FROM e),
           |ok0 AS (SELECT b0 FROM bk GROUP BY b0 HAVING COUNT(*) <= 1000),
           |ok1 AS (SELECT b1 FROM bk GROUP BY b1 HAVING COUNT(*) <= 1000),
           |scored AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    FLOOR(($dotSql) / (${normSql("a")} * ${normSql("b")}) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND
           |    ((a.b0 = b.b0 AND a.b0 IN (SELECT b0 FROM ok0)) OR
           |     (a.b1 = b.b1 AND a.b1 IN (SELECT b1 FROM ok1))))
           |SELECT DISTINCT id_a, id_b, cosine FROM scored
           |WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin
      },
      "q117_cosine_pairs_wide" -> {
        // same banding as q45 but over the 128-dim widened embedding
        // (v || -v); elements are already DOUBLE after the widening CTE
        def bandSql(band: Int, e: String) = (0 until 2).map(p =>
          s"CASE WHEN ${projSqlD(band * 2 + p, e, 128)} >= 0 THEN ${1 << p} ELSE 0 END")
          .mkString(" + ")
        val dot128 =
          """list_sum(list_transform(range(0, 128), i ->
            |  a.embedding[i + 1] * b.embedding[i + 1]))""".stripMargin
        def norm128(t: String) =
          s"sqrt(list_sum(list_transform(range(0, 128), i -> $t.embedding[i + 1] * $t.embedding[i + 1])))"
        s"""WITH e0 AS (
           |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           |  FROM embeddings WHERE vec_id % 5 = 0),
           |e AS (SELECT vec_id, v || list_transform(v, x -> -x) AS embedding FROM e0),
           |bk AS (SELECT vec_id, embedding, ${bandSql(0, "embedding")} AS b0,
           |  ${bandSql(1, "embedding")} AS b1 FROM e),
           |ok0 AS (SELECT b0 FROM bk GROUP BY b0 HAVING COUNT(*) <= 1000),
           |ok1 AS (SELECT b1 FROM bk GROUP BY b1 HAVING COUNT(*) <= 1000),
           |scored AS (
           |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           |    FLOOR(($dot128) / (${norm128("a")} * ${norm128("b")}) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM bk a JOIN bk b ON a.vec_id < b.vec_id AND
           |    ((a.b0 = b.b0 AND a.b0 IN (SELECT b0 FROM ok0)) OR
           |     (a.b1 = b.b1 AND a.b1 IN (SELECT b1 FROM ok1))))
           |SELECT DISTINCT id_a, id_b, cosine FROM scored
           |WHERE cosine >= 0.2 ORDER BY id_a, id_b""".stripMargin
      },
      "q46_ann_topk" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q, embeddings c)
           |SELECT query_id, vec_id, cosine, rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // the q46 scoring CTE at k=10, positives anti-filtered, survivors
      // re-ranked by their original rank
      "q232_hard_negatives" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q, embeddings c),
           |topk AS (
           |  SELECT query_id, vec_id, cosine, rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |    FROM scored)
           |  WHERE rank <= 10),
           |neg AS (
           |  SELECT * FROM topk
           |  WHERE vec_id <> query_id AND vec_id <> query_id + 100)
           |SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank,
           |  CAST(nr AS INT) AS neg_rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank) AS nr
           |  FROM neg)
           |WHERE nr <= 5 ORDER BY query_id, neg_rank""".stripMargin,
      // the Luhn fold written as right-indexed list arithmetic
      "q290_card_signals" ->
        """WITH docs AS (
          |  SELECT doc_id,
          |    text || ' ref ' || CAST(doc_id * 81728312 + 1234567890123 AS VARCHAR) ||
          |    CASE WHEN doc_id % 10 = 0 THEN ' card 4111111111111111' ELSE '' END AS text
          |  FROM documents),
          |c AS (
          |  SELECT doc_id,
          |    list_filter(regexp_extract_all(text, '[0-9]+'),
          |      x -> length(x) BETWEEN 13 AND 19) AS cs
          |  FROM docs),
          |v AS (
          |  SELECT doc_id, CAST(len(cs) AS BIGINT) AS n_candidates,
          |    CAST(len(list_filter(cs, s ->
          |      list_sum(list_transform(range(1, length(s) + 1), i ->
          |        CASE WHEN i % 2 = 0 THEN
          |          CASE WHEN 2 * CAST(substr(s, CAST(length(s) - i + 1 AS INT), 1) AS INT) > 9
          |               THEN 2 * CAST(substr(s, CAST(length(s) - i + 1 AS INT), 1) AS INT) - 9
          |               ELSE 2 * CAST(substr(s, CAST(length(s) - i + 1 AS INT), 1) AS INT) END
          |        ELSE CAST(substr(s, CAST(length(s) - i + 1 AS INT), 1) AS INT) END))
          |        % 10 = 0)) AS BIGINT) AS n_luhn_valid
          |  FROM c)
          |SELECT doc_id, n_candidates, n_luhn_valid, n_luhn_valid > 0 AS has_card
          |FROM v ORDER BY doc_id""".stripMargin,

      // each output coordinate is the same md5-seeded plane fold the
      // bucket mirror signs — here kept as a snapped value
      "q288_random_project" -> ((0 until 8).map(p =>
        s"""SELECT vec_id, $p AS dim,
           |  FLOOR((${projSql(p, "embedding")}) * 1e6 + 0.5) / 1e6 AS value
           |FROM embeddings""".stripMargin)
        .mkString("\nUNION ALL\n") + "\nORDER BY vec_id, dim"),

      "q47_ann_lsh" ->
        s"""WITH c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding, bucket FROM c WHERE vec_id % 100 = 0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q JOIN c ON q.bucket = c.bucket)
           |SELECT query_id, vec_id, cosine, rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // DuckDB's native strip_accents is the ground truth
      "q283_fold_accents" ->
        """WITH s AS (
          |  SELECT ['café au lait', 'naïve approach', 'Müller & Söhne',
          |          'François Ångström', 'Škoda Octavia', 'señor ñandú',
          |          'łódź ćma źrebię', 'Ærøskøbing ß Đorđe 北京'] AS l),
          |d AS (
          |  SELECT doc_id,
          |    l[CAST(doc_id % 8 + 1 AS INT)] || ' #' || CAST(doc_id AS VARCHAR) AS raw
          |  FROM documents, s)
          |SELECT doc_id, strip_accents(raw) AS folded FROM d
          |ORDER BY doc_id""".stripMargin,

      // q47's frame with the query side exploded to its 8 Hamming-1
      // probe buckets (xor one plane bit) + its own
      "q282_lsh_multiprobe" ->
        s"""WITH c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q0 AS (SELECT vec_id AS query_id, embedding, bucket FROM c WHERE vec_id % 100 = 0),
           |q AS (
           |  SELECT query_id, embedding,
           |    unnest(list_append(list_transform(range(0, 8),
           |      i -> xor(CAST(bucket AS BIGINT), CAST(1 << CAST(i AS INT) AS BIGINT))),
           |      CAST(bucket AS BIGINT))) AS bucket
           |  FROM q0),
           |scored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q JOIN c ON q.bucket = CAST(c.bucket AS BIGINT))
           |SELECT query_id, vec_id, cosine, rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      // RRF fusion of the q47 LSH ranking and the q46 brute-force ranking:
      // per-ranker term 1/(rank+60) snapped to 1e-6, exact-decimal sum,
      // re-rank by fused score with id ties
      // q205's two shortlists at k=10, min-max normalized per query per
      // ranker, convex-fused, re-ranked
      "q284_linear_fuse" ->
        s"""WITH c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding, bucket FROM c WHERE vec_id % 100 = 0),
           |lscored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q JOIN c ON q.bucket = c.bucket),
           |lt AS (SELECT query_id, vec_id, cosine FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
           |  FROM lscored) WHERE rnk <= 10),
           |bscored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q, c),
           |bt AS (SELECT query_id, vec_id, cosine FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rnk
           |  FROM bscored) WHERE rnk <= 10),
           |ln AS (SELECT query_id, MIN(cosine) AS lo, MAX(cosine) AS hi FROM lt GROUP BY 1),
           |lnorm AS (
           |  SELECT t.query_id, t.vec_id,
           |    CASE WHEN n.hi > n.lo
           |      THEN FLOOR((t.cosine - n.lo) / (n.hi - n.lo) * 1e6 + 0.5) / 1e6
           |      ELSE 1.0 END AS na
           |  FROM lt t JOIN ln n USING (query_id)),
           |bn AS (SELECT query_id, MIN(cosine) AS lo, MAX(cosine) AS hi FROM bt GROUP BY 1),
           |bnorm AS (
           |  SELECT t.query_id, t.vec_id,
           |    CASE WHEN n.hi > n.lo
           |      THEN FLOOR((t.cosine - n.lo) / (n.hi - n.lo) * 1e6 + 0.5) / 1e6
           |      ELSE 1.0 END AS nb
           |  FROM bt t JOIN bn n USING (query_id)),
           |f AS (
           |  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
           |    COALESCE(a.vec_id, b.vec_id) AS vec_id,
           |    FLOOR((0.5 * COALESCE(a.na, 0.0) + 0.5 * COALESCE(b.nb, 0.0))
           |      * 1e6 + 0.5) / 1e6 AS fused
           |  FROM lnorm a FULL OUTER JOIN bnorm b
           |    ON a.query_id = b.query_id AND a.vec_id = b.vec_id)
           |SELECT query_id, vec_id, fused, CAST(rank AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY fused DESC, vec_id) AS rank
           |  FROM f) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

      "q308_rbo" -> {
        // independent recomputation of the suffix weights S(m) =
        // sum_{i=m..10} 0.9^(i-1)/i, snapped; exact doubles interpolated
        // so both engines multiply identical literals
        def r6d(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        val suf = (1 to 10).scanRight(0.0) { (i, acc) =>
          acc + math.pow(0.9, i - 1) / i
        }.map(r6d)
        val caseW = (1 to 10).map(m =>
          s"WHEN ${m} THEN ${suf(m - 1)}").mkString(" ")
        s"""WITH c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding, bucket FROM c WHERE vec_id % 100 = 0),
           |lscored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q JOIN c ON q.bucket = c.bucket),
           |lsh AS (
           |  SELECT query_id, vec_id, rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |    FROM lscored) WHERE rank <= 10),
           |bscored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q, c),
           |bf AS (
           |  SELECT query_id, vec_id, rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |    FROM bscored) WHERE rank <= 10),
           |j AS (
           |  SELECT bf.query_id, CASE GREATEST(bf.rank, lsh.rank) $caseW END AS w
           |  FROM bf JOIN lsh ON bf.query_id = lsh.query_id AND bf.vec_id = lsh.vec_id),
           |g AS (
           |  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_common,
           |    CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS sw
           |  FROM j GROUP BY query_id)
           |SELECT q.query_id, COALESCE(g.n_common, 0) AS n_common,
           |  FLOOR(${1.0 - 0.9} * COALESCE(g.sw, 0.0) * 1e6 + 0.5) / 1e6 AS rbo
           |FROM q LEFT JOIN g ON q.query_id = g.query_id
           |ORDER BY q.query_id""".stripMargin
      },

      "q205_hybrid_rrf" ->
        s"""WITH c AS (SELECT vec_id, embedding, ${bucketSql("embedding")} AS bucket FROM embeddings),
           |q AS (SELECT vec_id AS query_id, embedding, bucket FROM c WHERE vec_id % 100 = 0),
           |lscored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q JOIN c ON q.bucket = c.bucket),
           |lsh AS (
           |  SELECT query_id, vec_id, rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |    FROM lscored) WHERE rank <= 5),
           |bscored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q, c),
           |bf AS (
           |  SELECT query_id, vec_id, rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |    FROM bscored) WHERE rank <= 5),
           |terms AS (
           |  SELECT query_id, vec_id, FLOOR(1.0 / (rank + 60) * 1e6 + 0.5) / 1e6 AS t FROM lsh
           |  UNION ALL
           |  SELECT query_id, vec_id, FLOOR(1.0 / (rank + 60) * 1e6 + 0.5) / 1e6 AS t FROM bf),
           |sc AS (
           |  SELECT query_id, vec_id,
           |    CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE) AS rrf_score,
           |    COUNT(*) AS n_rankers
           |  FROM terms GROUP BY 1, 2)
           |SELECT query_id, vec_id, rrf_score, n_rankers, CAST(rank AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, vec_id) AS rank
           |  FROM sc) WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
      // IVF top-5 (q101's CTEs) intersected with brute-force top-5 (q46's
      // scoring) — recall@5 per query; both rankings deterministic
      // (1e-6-rounded cosine, id-ascending ties) so the intersection is too
      // top-k via DuckDB's list machinery, NOT a mirrored window: cosines
      // snap to the 1e-6 integer grid, each query's candidates collect
      // into one list of {-cosine_int, vec_id} structs, list_sort ranks
      // them (struct order = field order: score desc, id asc), and a
      // range join slices ranks 1..5. Integer negation avoids the -0.0
      // sort hazard a float key would have.
      "q200_topk_list_sorted" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
           |s AS (
           |  SELECT a.query_id, b.vec_id,
           |    CAST(FLOOR(($dotSql) / (${normSql("a")} * ${normSql("b")}) * 1e6 + 0.5) AS BIGINT) AS ci
           |  FROM q a, embeddings b),
           |l AS (
           |  SELECT query_id, list_sort(list({'nk': -ci, 'v': vec_id})) AS srt
           |  FROM s GROUP BY query_id)
           |SELECT l.query_id, srt[r.r].v AS vec_id,
           |  CAST(-srt[r.r].nk AS DOUBLE) / 1e6 AS cosine, CAST(r.r AS INT) AS rank
           |FROM l, (SELECT unnest(range(1, 6)) AS r) r
           |ORDER BY query_id, rank""".stripMargin,
      "q164_ann_recall" -> {
        def d2(l: String, r: String) =
          s"""list_sum(list_transform(range(0, 64), i ->
             |  (CAST($l.embedding[i + 1] AS DOUBLE) - CAST($r.embedding[i + 1] AS DOUBLE)) *
             |  (CAST($l.embedding[i + 1] AS DOUBLE) - CAST($r.embedding[i + 1] AS DOUBLE))))""".stripMargin
        s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 100 = 1),
           |assign AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT e.vec_id, c.centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e", "c")}, c.centroid_id) AS rn
           |    FROM embeddings e, cent c) WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
           |probes AS (
           |  SELECT query_id, centroid_id FROM (
           |    SELECT q.query_id, c.centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY ${d2("q", "c")}, c.centroid_id) AS rn
           |    FROM q, cent c) WHERE rn <= 2),
           |iscored AS (
           |  SELECT p.query_id, a2.vec_id,
           |    FLOOR(($dotSql) / (${normSql("a")} * ${normSql("b")}) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM probes p
           |  JOIN assign a2 USING (centroid_id)
           |  JOIN embeddings b ON b.vec_id = a2.vec_id
           |  JOIN q a ON a.query_id = p.query_id),
           |ivf AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |    FROM iscored) WHERE rank <= 5),
           |bscored AS (
           |  SELECT q.query_id, c.vec_id,
           |    FLOOR((list_sum(list_transform(range(0, 64), i ->
           |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
           |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
           |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM q, embeddings c),
           |bf AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |    FROM bscored) WHERE rank <= 5),
           |hits AS (
           |  SELECT b.query_id, COUNT(*) AS n_hits
           |  FROM bf b JOIN ivf i ON i.query_id = b.query_id AND i.vec_id = b.vec_id
           |  GROUP BY 1)
           |SELECT qq.query_id, COALESCE(h.n_hits, 0) AS n_hits,
           |  FLOOR(COALESCE(h.n_hits, 0) / 5.0 * 1e6 + 0.5) / 1e6 AS recall
           |FROM (SELECT DISTINCT query_id FROM bf) qq
           |LEFT JOIN hits h USING (query_id)
           |ORDER BY query_id""".stripMargin
      },
      "q101_ivf_topk" -> {
        def d2(l: String, r: String) =
          s"""list_sum(list_transform(range(0, 64), i ->
             |  (CAST($l.embedding[i + 1] AS DOUBLE) - CAST($r.embedding[i + 1] AS DOUBLE)) *
             |  (CAST($l.embedding[i + 1] AS DOUBLE) - CAST($r.embedding[i + 1] AS DOUBLE))))""".stripMargin
        s"""WITH cent AS (SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 100 = 1),
           |assign AS (
           |  SELECT vec_id, centroid_id FROM (
           |    SELECT e.vec_id, c.centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY ${d2("e", "c")}, c.centroid_id) AS rn
           |    FROM embeddings e, cent c) WHERE rn = 1),
           |q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
           |probes AS (
           |  SELECT query_id, centroid_id FROM (
           |    SELECT q.query_id, c.centroid_id,
           |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY ${d2("q", "c")}, c.centroid_id) AS rn
           |    FROM q, cent c) WHERE rn <= 2),
           |scored AS (
           |  SELECT p.query_id, a2.vec_id,
           |    FLOOR(($dotSql) / (${normSql("a")} * ${normSql("b")}) * 1e6 + 0.5) / 1e6 AS cosine
           |  FROM probes p
           |  JOIN assign a2 USING (centroid_id)
           |  JOIN embeddings b ON b.vec_id = a2.vec_id
           |  JOIN q a ON a.query_id = p.query_id)
           |SELECT query_id, vec_id, cosine, rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
           |  FROM scored)
           |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
      },
      "q54_ivf_assign" ->
        """WITH cent AS (
          |  SELECT vec_id AS centroid_id, embedding FROM embeddings WHERE vec_id % 100 = 1),
          |scored AS (
          |  SELECT e.vec_id, c.centroid_id,
          |    list_sum(list_transform(range(0, 64), i ->
          |      (CAST(e.embedding[i + 1] AS DOUBLE) - CAST(c.embedding[i + 1] AS DOUBLE)) *
          |      (CAST(e.embedding[i + 1] AS DOUBLE) - CAST(c.embedding[i + 1] AS DOUBLE)))) AS d2
          |  FROM embeddings e, cent c)
          |SELECT vec_id, centroid_id, FLOOR(d2 * 1e6 + 0.5) / 1e6 AS dist2 FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS rn
          |  FROM scored)
          |WHERE rn = 1 ORDER BY vec_id""".stripMargin,
      // both directions re-ranked independently, mutual = swapped self-join
      "q281_mutual_knn" ->
        """WITH u AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
          |scored AS (
          |  SELECT a.vec_id AS qid, b.vec_id AS nid,
          |    FLOOR((list_sum(list_transform(range(0, 64), i ->
          |      CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE)))) /
          |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE)))) *
          |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS cosine
          |  FROM u a JOIN u b ON a.vec_id <> b.vec_id),
          |r AS (
          |  SELECT qid, nid,
          |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rnk
          |  FROM scored),
          |t AS (SELECT qid, nid, rnk FROM r WHERE rnk <= 5)
          |SELECT a.qid AS id_a, a.nid AS id_b,
          |  CAST(a.rnk AS INT) AS rank_ab, CAST(b.rnk AS INT) AS rank_ba
          |FROM t a JOIN t b ON a.qid = b.nid AND a.nid = b.qid
          |WHERE a.qid < a.nid ORDER BY id_a, id_b""".stripMargin,

      // the 3 greedy MMR rounds unrolled as CTE levels: all pairwise
      // candidate sims once, per-round snapped marginal + rank-1 pick
      "q278_mmr_rerank" ->
        """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id % 100 = 0),
          |scored AS (
          |  SELECT q.query_id, c.vec_id,
          |    FLOOR((list_sum(list_transform(range(0, 64), i ->
          |      CAST(q.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)))) /
          |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(q.embedding[i + 1] AS DOUBLE) * CAST(q.embedding[i + 1] AS DOUBLE)))) *
          |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS rel
          |  FROM q, embeddings c),
          |cand AS (
          |  SELECT query_id, vec_id, rel FROM (
          |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rnk
          |    FROM scored) WHERE rnk <= 10),
          |cv AS (SELECT cand.query_id, cand.vec_id, cand.rel, e.embedding
          |       FROM cand JOIN embeddings e USING (vec_id)),
          |sims AS (
          |  SELECT a.query_id, a.vec_id AS ca, b.vec_id AS cb,
          |    FLOOR((list_sum(list_transform(range(0, 64), i ->
          |      CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE)))) /
          |      (sqrt(list_sum(list_transform(range(0, 64), i -> CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE)))) *
          |       sqrt(list_sum(list_transform(range(0, 64), i -> CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE))))) * 1e6 + 0.5) / 1e6 AS s
          |  FROM cv a JOIN cv b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
          |m1 AS (SELECT query_id, vec_id, FLOOR((0.5 * rel) * 1e6 + 0.5) / 1e6 AS m FROM cv),
          |p1 AS (SELECT query_id, vec_id, m FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY m DESC, vec_id) AS rn
          |  FROM m1) WHERE rn = 1),
          |m2 AS (
          |  SELECT c.query_id, c.vec_id, FLOOR((0.5 * c.rel - 0.5 * s.s) * 1e6 + 0.5) / 1e6 AS m
          |  FROM cv c
          |  JOIN p1 ON c.query_id = p1.query_id AND c.vec_id <> p1.vec_id
          |  JOIN sims s ON s.query_id = c.query_id AND s.ca = c.vec_id AND s.cb = p1.vec_id),
          |p2 AS (SELECT query_id, vec_id, m FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY m DESC, vec_id) AS rn
          |  FROM m2) WHERE rn = 1),
          |pk AS (SELECT query_id, vec_id FROM p1 UNION ALL SELECT query_id, vec_id FROM p2),
          |ms3 AS (
          |  SELECT s.query_id, s.ca AS vec_id, MAX(s.s) AS ms
          |  FROM sims s JOIN pk ON s.query_id = pk.query_id AND s.cb = pk.vec_id
          |  GROUP BY 1, 2),
          |m3 AS (
          |  SELECT c.query_id, c.vec_id, FLOOR((0.5 * c.rel - 0.5 * ms3.ms) * 1e6 + 0.5) / 1e6 AS m
          |  FROM cv c JOIN ms3 ON c.query_id = ms3.query_id AND c.vec_id = ms3.vec_id
          |  WHERE NOT EXISTS (SELECT 1 FROM pk
          |                    WHERE pk.query_id = c.query_id AND pk.vec_id = c.vec_id)),
          |p3 AS (SELECT query_id, vec_id, m FROM (
          |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY m DESC, vec_id) AS rn
          |  FROM m3) WHERE rn = 1)
          |SELECT query_id, vec_id, CAST(1 AS INT) AS rank, m AS score FROM p1
          |UNION ALL SELECT query_id, vec_id, CAST(2 AS INT), m FROM p2
          |UNION ALL SELECT query_id, vec_id, CAST(3 AS INT), m FROM p3
          |ORDER BY query_id, rank""".stripMargin,

      // full two-nearest-centroid algebra re-derived via a rank self-join
      "q276_silhouette" ->
        """WITH cent AS (
          |  SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id % 100 = 1),
          |scored AS (
          |  SELECT e.vec_id, c.cid,
          |    sqrt(list_sum(list_transform(range(0, 64), i ->
          |      (CAST(e.embedding[i + 1] AS DOUBLE) - CAST(c.embedding[i + 1] AS DOUBLE)) *
          |      (CAST(e.embedding[i + 1] AS DOUBLE) - CAST(c.embedding[i + 1] AS DOUBLE))))) AS d
          |  FROM embeddings e, cent c),
          |r AS (
          |  SELECT vec_id, cid, d,
          |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
          |  FROM scored),
          |pt AS (
          |  SELECT a.vec_id, a.cid, a.d AS da, b.d AS db
          |  FROM r a JOIN r b ON a.vec_id = b.vec_id AND b.rn = 2
          |  WHERE a.rn = 1),
          |sil AS (
          |  SELECT cid, CASE WHEN GREATEST(da, db) > 0
          |    THEN FLOOR((db - da) / GREATEST(da, db) * 1e6 + 0.5) / 1e6
          |    ELSE 0.0 END AS s
          |  FROM pt)
          |SELECT cid AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n,
          |  FLOOR(CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
          |    * 1e6 + 0.5) / 1e6 AS mean_sil
          |FROM sil GROUP BY 1 ORDER BY 1""".stripMargin,

      // the fixture pattern: gray(x, y) = (x + 3y) % 256 over a
      // width x height grid with width = id % 48 + 16, height = (id/7) % 48
      // + 16 (see Multimodal.fixtureDims/syntheticPng) — the oracle
      // recomputes the decoded stats from the arithmetic, so a decode that
      // returned anything but the true raster would hash-mismatch
      "q48_multimodal_decode" ->
        """WITH d AS (
          |  SELECT doc_id AS media_id, CAST(doc_id % 48 + 16 AS INT) AS width,
          |    CAST((doc_id // 7) % 48 + 16 AS INT) AS height
          |  FROM documents)
          |SELECT media_id, width, height,
          |  CAST(list_sum(list_transform(range(0, width * height), i ->
          |    (i % width + 3 * (i // width)) % 256)) AS BIGINT) AS px_sum,
          |  CAST(list_sum(list_transform(range(0, width * height), i ->
          |    ((i % width + 3 * (i // width)) % 256) * ((i % width + 3 * (i // width)) % 256))) AS BIGINT) AS px_sumsq
          |FROM d ORDER BY media_id""".stripMargin,
      "q49_resize_plan" ->
        """WITH d AS (
          |  SELECT doc_id AS media_id, CAST(doc_id % 48 + 16 AS INT) AS width,
          |    CAST((doc_id // 7) % 48 + 16 AS INT) AS height
          |  FROM documents)
          |SELECT media_id, width, height,
          |  CAST(CEIL(width * LEAST(32.0 / width, 32.0 / height, 1.0)) AS INT) AS target_w,
          |  CAST(CEIL(height * LEAST(32.0 / width, 32.0 / height, 1.0)) AS INT) AS target_h
          |FROM d ORDER BY media_id""".stripMargin,
      "q131_split_assign" ->
        s"""WITH h AS (
           |  SELECT doc_id, ${hex32Sql("'split:' || CAST(doc_id AS VARCHAR)")} AS hv
           |  FROM documents)
           |SELECT doc_id,
           |  CASE WHEN hv < ${math.round(0.8 * 4294967296.0)} THEN 'train'
           |       WHEN hv < ${math.round(0.9 * 4294967296.0)} THEN 'val'
           |       ELSE 'test' END AS split
           |FROM h ORDER BY doc_id""".stripMargin,
      "q132_bigram_novelty" ->
        s"""WITH bi AS (
           |  SELECT DISTINCT doc_id, unnest(${shinglesSql(wordsSql, 2)}) AS sh
           |  FROM documents),
           |bdf AS (SELECT sh, COUNT(*) AS bdf FROM bi GROUP BY 1),
           |j AS (SELECT bi.doc_id, bdf.bdf FROM bi JOIN bdf USING (sh)),
           |agg AS (
           |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           |    CAST(SUM(CASE WHEN bdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
           |  FROM j GROUP BY 1)
           |SELECT doc_id, n_bigrams, n_novel,
           |  FLOOR((CAST(n_novel AS DOUBLE) / n_bigrams) * 1e6 + 0.5) / 1e6 AS novelty
           |FROM agg ORDER BY doc_id""".stripMargin,
      "q133_image_ahash" ->
        """WITH d AS (
          |  SELECT doc_id AS media_id, CAST(doc_id % 48 + 16 AS INT) AS width,
          |    CAST((doc_id // 7) % 48 + 16 AS INT) AS height FROM documents),
          |g AS (SELECT media_id, width, height, unnest(range(0, 64)) AS b FROM d),
          |p AS (SELECT media_id, width, height, b,
          |    ((((b % 8) * width) // 8) + 3 * (((b // 8) * height) // 8)) % 256 AS px
          |  FROM g),
          |s AS (SELECT media_id, SUM(px) AS tot FROM p GROUP BY 1),
          |bits AS (
          |  SELECT p.media_id, p.width, p.height, p.b,
          |    CASE WHEN 64 * p.px > s.tot THEN 1 ELSE 0 END AS bit
          |  FROM p JOIN s USING (media_id))
          |SELECT media_id,
          |  CAST(SUM(CASE WHEN b >= 32 THEN bit * (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS ahash_hi,
          |  CAST(SUM(CASE WHEN b < 32 THEN bit * (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS ahash_lo,
          |  ANY_VALUE(width) AS width, ANY_VALUE(height) AS height
          |FROM bits GROUP BY media_id ORDER BY media_id""".stripMargin,
      "q134_image_neardup" ->
        """WITH d AS (
          |  SELECT doc_id AS media_id, doc_id // 8 AS grp, doc_id % 8 AS v,
          |    (doc_id // 8) % 48 + 16 AS width,
          |    ((doc_id // 8) // 7) % 48 + 16 AS height FROM documents),
          |g AS (SELECT media_id, grp, v, width, height,
          |    unnest(range(0, 64)) AS b FROM d),
          |c AS (SELECT media_id, grp, v, b,
          |    ((b % 8) * width) // 8 AS xi, ((b // 8) * height) // 8 AS yj
          |  FROM g),
          |p AS (SELECT media_id, b,
          |    (7 * xi + 13 * yj + 31 * grp +
          |     CASE WHEN xi < 2 AND yj < 2 THEN 96 * v ELSE 0 END) % 256 AS px
          |  FROM c),
          |s AS (SELECT media_id, SUM(px) AS tot FROM p GROUP BY 1),
          |hu AS (
          |  SELECT p.media_id,
          |    SUM(CASE WHEN 64 * p.px > s.tot
          |        THEN CAST(1 AS HUGEINT) << CAST(b AS INT) ELSE 0 END) AS h
          |  FROM p JOIN s USING (media_id) GROUP BY p.media_id),
          |hs AS (
          |  SELECT media_id, CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
          |    THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END AS BIGINT) AS h
          |  FROM hu)
          |SELECT a.media_id AS id_a, b.media_id AS id_b,
          |  CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
          |FROM hs a JOIN hs b ON a.media_id < b.media_id
          |WHERE bit_count(xor(a.h, b.h)) <= 3
          |ORDER BY id_a, id_b""".stripMargin,
      "q130_audio_decode" ->
        """WITH d AS (
          |  SELECT doc_id AS media_id, doc_id % 400 + 100 AS n FROM documents),
          |s AS (SELECT media_id, n, unnest(range(0, n)) AS i FROM d),
          |v AS (SELECT media_id, n, ((i * 37 + media_id * 11) % 4001) - 2000 AS smp FROM s)
          |SELECT media_id, CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
          |  CAST(n AS BIGINT) AS n_frames, CAST(SUM(smp) AS BIGINT) AS pcm_sum,
          |  CAST(SUM(ABS(smp)) AS BIGINT) AS pcm_abs_sum, 'javasound' AS decoder
          |FROM v GROUP BY media_id, n ORDER BY media_id""".stripMargin,
      "q120_image_histogram" ->
        """WITH d AS (
          |  SELECT doc_id AS media_id, CAST(doc_id % 48 + 16 AS INT) AS width,
          |    CAST((doc_id // 7) % 48 + 16 AS INT) AS height
          |  FROM documents),
          |g AS (
          |  SELECT media_id, unnest(list_transform(range(0, width * height), i ->
          |    ((i % width + 3 * (i // width)) % 256) // 32)) AS bucket
          |  FROM d)
          |SELECT media_id, bucket, COUNT(*) AS n_px FROM g
          |GROUP BY 1, 2 ORDER BY media_id, bucket""".stripMargin,
      // q50's prediction CTE -> joint counts with the labeled lang
      "q262_lang_confusion" ->
        s"""$langPredCtes
           |SELECT d.lang AS actual, h.lang_pred AS predicted,
           |  COUNT(*) AS n
           |FROM h JOIN documents d USING (doc_id)
           |GROUP BY 1, 2 ORDER BY actual, predicted""".stripMargin,

      "q263_lang_class_metrics" ->
        s"""$langPredCtes,
           |cm AS (
           |  SELECT d.lang AS actual, h.lang_pred AS predicted, COUNT(*) AS n
           |  FROM h JOIN documents d USING (doc_id) GROUP BY 1, 2),
           |cls AS (SELECT DISTINCT actual AS clazz FROM cm
           |        UNION SELECT DISTINCT predicted FROM cm),
           |sup AS (SELECT actual AS clazz, CAST(SUM(n) AS BIGINT) AS support FROM cm GROUP BY 1),
           |pt AS (SELECT predicted AS clazz, CAST(SUM(n) AS BIGINT) AS n_predicted FROM cm GROUP BY 1),
           |tp AS (SELECT actual AS clazz, CAST(n AS BIGINT) AS tp FROM cm WHERE actual = predicted),
           |b AS (
           |  SELECT cls.clazz, COALESCE(sup.support, 0) AS support,
           |    COALESCE(pt.n_predicted, 0) AS n_predicted, COALESCE(tp.tp, 0) AS tp
           |  FROM cls LEFT JOIN sup USING (clazz) LEFT JOIN pt USING (clazz)
           |    LEFT JOIN tp USING (clazz)),
           |m AS (
           |  SELECT clazz, support, n_predicted, tp,
           |    CASE WHEN n_predicted > 0 THEN FLOOR(CAST(tp AS DOUBLE) / n_predicted * 1e6 + 0.5) / 1e6 END AS precision,
           |    CASE WHEN support > 0 THEN FLOOR(CAST(tp AS DOUBLE) / support * 1e6 + 0.5) / 1e6 END AS recall
           |  FROM b)
           |SELECT clazz, support, n_predicted, tp, precision, recall,
           |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL AND precision + recall > 0
           |       THEN FLOOR(2.0 * precision * recall / (precision + recall) * 1e6 + 0.5) / 1e6 END AS f1
           |FROM m ORDER BY clazz""".stripMargin,

      "q50_language_id" ->
        s"""$langPredCtes
           |SELECT doc_id, hits_de, hits_en, hits_es, hits_fr, lang_pred
           |FROM h ORDER BY doc_id""".stripMargin,
      "q72_token_counts" ->
        """SELECT doc_id,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
          |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
          |       ELSE len(string_split_regex(trim(text), '\s+'))
          |          + len(regexp_extract_all(text, '[a-z][A-Z]'))
          |          + len(regexp_extract_all(text, '[a-zA-Z][0-9]'))
          |          + len(regexp_extract_all(text, '[0-9][a-zA-Z]')) END AS BIGINT) AS n_subwords
          |FROM documents ORDER BY doc_id""".stripMargin,
      "q51_fingerprint" ->
        s"""SELECT doc_id, md5(array_to_string($wordsSql, ' ')) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin,
      "q52_winnowing" ->
        s"""WITH n AS (
           |  SELECT doc_id, array_to_string($wordsSql, ' ') AS norm FROM documents),
           |g AS (
           |  SELECT doc_id, list_transform(range(1, GREATEST(length(norm) - 7, 1) + 1),
           |    i -> md5(substr(norm, i, 8))) AS gh FROM n)
           |SELECT DISTINCT doc_id,
           |  unnest(list_distinct(list_transform(range(0, GREATEST(len(gh) - 4, 0) + 1),
           |    w -> list_min(list_slice(gh, w + 1, w + 4))))) AS h
           |FROM g ORDER BY doc_id, h""".stripMargin,
      "q53_frame_plan" ->
        """SELECT doc_id AS media_id, f.i AS frame_idx
          |FROM documents, (SELECT unnest([0, 3, 6, 9]) AS i) f
          |WHERE doc_id % 25 = 0 ORDER BY media_id, frame_idx""".stripMargin,
      "q93_repetition_signals" ->
        s"""WITH lines AS (
           |  SELECT doc_id, unnest(list_filter(
           |    list_transform(string_split(text, chr(10)), x -> trim(x)),
           |    x -> length(x) > 0)) AS line
           |  FROM documents),
           |lc AS (SELECT doc_id, line, COUNT(*) AS c FROM lines GROUP BY 1, 2),
           |la AS (SELECT doc_id,
           |  CAST(SUM(c) - COUNT(*) AS DOUBLE) / SUM(c) AS dup_line_frac,
           |  CAST(SUM((c - 1) * length(line)) AS DOUBLE) / SUM(c * length(line)) AS dup_line_char_frac
           |  FROM lc GROUP BY 1),
           |g2c AS (SELECT doc_id, sh, COUNT(*) AS c FROM (
           |  SELECT doc_id, unnest(${shinglesSql(wordsSql, 2)}) AS sh FROM documents) GROUP BY 1, 2),
           |top2 AS (SELECT doc_id, c * length(sh) AS top_chars FROM (
           |  SELECT doc_id, sh, c,
           |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, sh DESC) AS rn
           |  FROM g2c) WHERE rn = 1),
           |g5c AS (SELECT doc_id, sh, COUNT(*) AS c FROM (
           |  SELECT doc_id, unnest(${shinglesSql(wordsSql, 5)}) AS sh FROM documents) GROUP BY 1, 2),
           |d5 AS (SELECT doc_id,
           |  CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS dup_5gram_frac
           |  FROM g5c GROUP BY 1),
           |base AS (SELECT doc_id, length(array_to_string($wordsSql, ' ')) AS norm_len FROM documents)
           |SELECT b.doc_id AS doc_id,
           |  FLOOR(COALESCE(dup_line_frac, 0.0) * 1e6 + 0.5) / 1e6 AS dup_line_frac,
           |  FLOOR(COALESCE(dup_line_char_frac, 0.0) * 1e6 + 0.5) / 1e6 AS dup_line_char_frac,
           |  FLOOR(COALESCE(CAST(top_chars AS DOUBLE) / GREATEST(norm_len, 1), 0.0) * 1e6 + 0.5) / 1e6 AS top_2gram_char_frac,
           |  FLOOR(COALESCE(dup_5gram_frac, 0.0) * 1e6 + 0.5) / 1e6 AS dup_5gram_frac
           |FROM base b
           |LEFT JOIN la USING (doc_id) LEFT JOIN top2 USING (doc_id)
           |LEFT JOIN d5 USING (doc_id)
           |ORDER BY doc_id""".stripMargin,
      "q94_hash_sample" ->
        s"""SELECT doc_id, lang, n_chars FROM documents
           |WHERE ${hex32Sql("'s:' || CAST(doc_id AS VARCHAR)")} < ${math.round(0.25 * 4294967296.0)}
           |ORDER BY doc_id""".stripMargin,
      "q204_bm25" ->
        s"""WITH $bm25Ctes
           |SELECT doc_id, score, n_terms_hit FROM sc
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      // same algebra through the at-rest postings/stats tables: the index
      // must be a pure layout change, so the oracle is q204's verbatim
      "q206_bm25_at_rest" ->
        s"""WITH $bm25Ctes
           |SELECT doc_id, score, n_terms_hit FROM sc
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      // Dirichlet QL: same candidates as BM25 (docs matching >= 1 query
      // term), LM-smoothed score; ties on doc_id
      "q319_ql_rank" ->
        s"""WITH $qlCtes
           |SELECT doc_id, score, n_terms_hit FROM fin
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      // at-rest QL must be a pure layout change over the same algebra
      "q320_ql_at_rest" ->
        s"""WITH $qlCtes
           |SELECT doc_id, score, n_terms_hit FROM fin
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      // TextRank: window-2 co-occurrence edges (gap 1 + gap 2 lead pairs,
      // both directions, distinct) over the doc_id % 7 slice, then the
      // q215-algebra snapped PageRank unrolled 2 rounds; top-15
      "q322_textrank" -> {
        def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
        def iter(prev: String, cN: String, prN: String) =
          s"""$cN AS (
             |  SELECT e.dst AS node,
             |    CAST(SUM(CAST(${r6(s"$prev.pr / od.outdeg")} AS DECIMAL(28,6))) AS DOUBLE) AS s
             |  FROM $prev JOIN e ON e.src = $prev.node JOIN od ON od.src = e.src
             |  GROUP BY 1),
             |$prN AS (
             |  SELECT nodes.node,
             |    ${r6(s"(1.0 - 0.85) / n.n + 0.85 * COALESCE($cN.s, 0.0)")} AS pr
             |  FROM nodes LEFT JOIN $cN USING (node), n)""".stripMargin
        s"""WITH w AS (
           |  SELECT doc_id, $wordsSql AS w FROM documents WHERE doc_id % 7 = 0),
           |p1 AS (
           |  SELECT unnest(list_transform(range(1, len(w)),
           |    i -> {'a': w[i], 'b': w[i + 1]})) AS p
           |  FROM w WHERE len(w) >= 2),
           |p2 AS (
           |  SELECT unnest(list_transform(range(1, len(w) - 1),
           |    i -> {'a': w[i], 'b': w[i + 2]})) AS p
           |  FROM w WHERE len(w) >= 3),
           |pr_pairs AS (
           |  SELECT p.a AS src, p.b AS dst FROM p1
           |  UNION ALL SELECT p.a, p.b FROM p2),
           |e AS (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM pr_pairs
           |    UNION ALL SELECT dst, src FROM pr_pairs)
           |  WHERE src <> dst AND length(src) > 0 AND length(dst) > 0),
           |nodes AS (SELECT DISTINCT src AS node FROM e
           |          UNION SELECT DISTINCT dst FROM e),
           |n AS (SELECT COUNT(*) AS n FROM nodes),
           |od AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY 1),
           |pr0 AS (SELECT node, ${r6("1.0 / n.n")} AS pr FROM nodes, n),
           |${iter("pr0", "c1", "pr1")},
           |${iter("pr1", "c2", "pr2")}
           |SELECT ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS rank,
           |  node AS term, pr
           |FROM pr2 ORDER BY pr DESC, node LIMIT 15""".stripMargin
      },
      // build-on-80% + append-20% must equal the full-corpus build, so
      // the oracle is again q204's verbatim
      "q213_bm25_index_append" ->
        s"""WITH $bm25Ctes
           |SELECT doc_id, score, n_terms_hit FROM sc
           |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin,
      // hybrid search: the q204 BM25 top-10 (ranked) fused with the q153
      // IVF-PQ top-5 for query vec 100 by RRF (1/(rank+60) on the 1e-6
      // grid, exact-decimal sum, id ties)
      "q207_hybrid_at_rest" -> {
        s"""WITH $bm25Ctes,
           |bmr AS (
           |  SELECT doc_id AS vec_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT 10)),
           |$ivfPq1Ctes,
           |vr AS (
           |  SELECT vec_id, CAST(rank AS INT) AS rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS rank
           |    FROM pqscored) WHERE rank <= 5),
           |rterms AS (
           |  SELECT vec_id, FLOOR(1.0 / (rank + 60) * 1e6 + 0.5) / 1e6 AS t FROM bmr
           |  UNION ALL
           |  SELECT vec_id, FLOOR(1.0 / (rank + 60) * 1e6 + 0.5) / 1e6 AS t FROM vr),
           |fused AS (
           |  SELECT vec_id,
           |    CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE) AS rrf_score,
           |    COUNT(*) AS n_rankers
           |  FROM rterms GROUP BY 1)
           |SELECT CAST(100 AS BIGINT) AS query_id, vec_id, rrf_score, n_rankers,
           |  CAST(rank AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (ORDER BY rrf_score DESC, vec_id) AS rank
           |  FROM fused) WHERE rank <= 10 ORDER BY rank""".stripMargin
      },
      // the q207 mirror generalized to a 100+-query batch: per-query BM25
      // (terms = each query doc's distinct early-alphabet words), batched
      // IVF-PQ, per-query RRF — every stage recomputed from the raw tables
      "q356_hybrid_batch_at_rest" -> {
        def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
        val idf = r6("ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)")
        s"""WITH ${ivfPqCtes("vec_id % 5 = 2")},
           |w AS (SELECT doc_id, $wordsSql AS w FROM documents),
           |stats AS (SELECT COUNT(*) AS n,
           |  CAST(SUM(CAST(len(w) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avgdl
           |  FROM w),
           |qt AS (
           |  SELECT w.doc_id AS query_id, t.term
           |  FROM w, UNNEST(list_slice(list_sort(list_distinct(list_filter(w.w,
           |    x -> length(x) > 0 AND substr(x, 1, 1) < 'g'))), 1, 3)) AS t(term)
           |  WHERE w.doc_id IN (SELECT query_id FROM q)),
           |tf AS (
           |  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
           |  FROM (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, unnest(w) AS term FROM w)
           |  WHERE term IN (SELECT DISTINCT term FROM qt)
           |  GROUP BY 1, 2, 3),
           |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
           |s AS (
           |  SELECT qt.query_id, tf.doc_id,
           |    ${r6(s"($idf) * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))")} AS s
           |  FROM qt JOIN tf USING (term) JOIN dfreq ON dfreq.term = qt.term, stats),
           |sc AS (SELECT query_id, doc_id,
           |         CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS score
           |       FROM s GROUP BY 1, 2),
           |bmr AS (
           |  SELECT query_id, doc_id AS vec_id, CAST(rank AS INT) AS rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY score DESC, doc_id) AS rank
           |    FROM sc) WHERE rank <= 10),
           |vr AS (
           |  SELECT query_id, vec_id, CAST(rank AS INT) AS rank FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY adist, vec_id) AS rank
           |    FROM pqscored) WHERE rank <= 10),
           |rterms AS (
           |  SELECT query_id, vec_id, FLOOR(1.0 / (rank + 60) * 1e6 + 0.5) / 1e6 AS t FROM bmr
           |  UNION ALL
           |  SELECT query_id, vec_id, FLOOR(1.0 / (rank + 60) * 1e6 + 0.5) / 1e6 AS t FROM vr),
           |fused AS (
           |  SELECT query_id, vec_id,
           |    CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE) AS rrf_score,
           |    COUNT(*) AS n_rankers
           |  FROM rterms GROUP BY 1, 2)
           |SELECT query_id, vec_id, rrf_score, n_rankers, CAST(rank AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY rrf_score DESC, vec_id) AS rank
           |  FROM fused) WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
      },
      "q203_weighted_sample" ->
        s"""SELECT doc_id, lang, n_chars FROM documents
           |WHERE ${hex32Sql("'wq:' || CAST(doc_id AS VARCHAR)")} <
           |  FLOOR(LEAST(((doc_id % 100) / 100.0) * 0.8, 1.0) * 4294967296.0)
           |ORDER BY doc_id""".stripMargin,
      "q95_stratified_sample" ->
        s"""SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
           |    ORDER BY ${hex32Sql("'s:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
           |  FROM documents)
           |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
      "q96_mixture_sample" -> {
        val cases = MixRates.toSeq.sortBy(_._1).map { case (l, f) =>
          s"WHEN lang = '$l' THEN ${math.round(f * 4294967296.0)}"
        }.mkString(" ")
        s"""SELECT doc_id, lang FROM documents
           |WHERE ${hex32Sql("'s:' || CAST(doc_id AS VARCHAR)")} <
           |  CASE $cases ELSE -1 END
           |ORDER BY doc_id""".stripMargin
      },
      // per-(key, shard) hash grid -> rank-window argmax (h DESC, shard
      // DESC ties = the struct-greatest order)
      "q230_rendezvous_shards" ->
        s"""WITH s AS (SELECT unnest(['s0', 's1', 's2', 's3']) AS shard),
           |h AS (
           |  SELECT doc_id, shard,
           |    ${hex32Sql("'rv:' || shard || ':' || CAST(doc_id AS VARCHAR)")} AS h
           |  FROM documents, s)
           |SELECT doc_id, shard FROM (
           |  SELECT doc_id, shard,
           |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, shard DESC) AS rn
           |  FROM h)
           |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

      // waterfill mirror: capacities sorted asc with decimal prefix sums,
      // saturation test in pure decimal, level + rate snapped round6,
      // then the q96 hash cut
      "q222_unimax_sample" ->
        s"""WITH counts AS (
           |  SELECT lang, COUNT(*) AS n,
           |    FLOOR(COUNT(*) * 1.0 * 1e6 + 0.5) / 1e6 AS cap
           |  FROM documents GROUP BY 1),
           |g AS (SELECT COUNT(*) AS g FROM counts),
           |ann AS (
           |  SELECT lang, n, cap,
           |    ROW_NUMBER() OVER (ORDER BY cap, lang) AS i,
           |    SUM(CAST(cap AS DECIMAL(28,6))) OVER (ORDER BY cap, lang
           |      ROWS UNBOUNDED PRECEDING) AS s
           |  FROM counts),
           |sat AS (
           |  SELECT i, s FROM ann, g
           |  WHERE CAST(cap AS DECIMAL(28,6)) * (g.g - i + 1)
           |      + (s - CAST(cap AS DECIMAL(28,6))) <= 150),
           |k AS (SELECT COALESCE(MAX(i), 0) AS k,
           |        CAST(COALESCE(MAX(s), 0) AS DOUBLE) AS sk FROM sat),
           |rates AS (
           |  SELECT lang,
           |    FLOOR((CASE WHEN g.g = k.k THEN cap
           |      ELSE LEAST(cap,
           |        FLOOR((150.0 - sk) / (g.g - k.k) * 1e6 + 0.5) / 1e6)
           |      END) / n * 1e6 + 0.5) / 1e6 AS rate
           |  FROM ann, g, k)
           |SELECT doc_id, lang FROM documents JOIN rates USING (lang)
           |WHERE ${hex32Sql("'s:' || CAST(doc_id AS VARCHAR)")} <
           |  FLOOR(LEAST(rate, 1.0) * 4294967296.0)
           |ORDER BY doc_id""".stripMargin,
      // √n_g weights on the 1e-6 grid, exact-decimal Σw, per-group rate
      // re-derived and re-snapped — then the same hash cut as q96
      "q211_temperature_mix" ->
        s"""WITH counts AS (
           |  SELECT lang, COUNT(*) AS n,
           |    FLOOR(sqrt(COUNT(*)) * 1e6 + 0.5) / 1e6 AS w
           |  FROM documents GROUP BY 1),
           |sw AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS sw FROM counts),
           |rates AS (
           |  SELECT lang,
           |    FLOOR(LEAST(1.0, 150.0 * w / (sw * n)) * 1e6 + 0.5) / 1e6 AS rate
           |  FROM counts, sw)
           |SELECT doc_id, lang FROM documents JOIN rates USING (lang)
           |WHERE ${hex32Sql("'s:' || CAST(doc_id AS VARCHAR)")} <
           |  FLOOR(rate * 4294967296.0)
           |ORDER BY doc_id""".stripMargin,
      // the q204 algebra per (query, term) row: shared per-term df, the
      // same grid-snapped scoring, per-query ranked top-5
      "q212_bm25_batch" -> {
        def r6(x: String) = s"FLOOR(($x) * 1e6 + 0.5) / 1e6"
        val idf = r6("ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)")
        s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
           |stats AS (SELECT COUNT(*) AS n,
           |  CAST(SUM(CAST(len(w) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS avgdl
           |  FROM w),
           |q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term FROM (VALUES
           |  (1, 'spark'), (1, 'join'), (2, 'vector'), (2, 'scan'), (2, 'filter'))
           |  AS t(query_id, term)),
           |tf AS (
           |  SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
           |  FROM (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl, unnest(w) AS term FROM w)
           |  WHERE term IN (SELECT term FROM q)
           |  GROUP BY 1, 2, 3),
           |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
           |s AS (
           |  SELECT q.query_id, tf.doc_id,
           |    ${r6(s"($idf) * (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl))")} AS s
           |  FROM q JOIN tf USING (term) JOIN dfreq ON dfreq.term = q.term, stats),
           |sc AS (SELECT query_id, doc_id,
           |         CAST(SUM(CAST(s AS DECIMAL(28,6))) AS DOUBLE) AS score,
           |         COUNT(*) AS n_terms_hit
           |       FROM s GROUP BY 1, 2)
           |SELECT query_id, doc_id, score, n_terms_hit, CAST(rank AS INT) AS rank FROM (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
           |  FROM sc) WHERE rank <= 5
           |ORDER BY query_id, rank""".stripMargin
      },
      // independent recomputation over unnested word lists; division
      // order fixed to the engine's (c_ab/M) / ((c_a/N)*(c_b/N))
      "q210_bigram_pmi" ->
        s"""WITH w0 AS (SELECT $wordsSql AS w FROM documents),
           |bg0 AS (
           |  SELECT unnest(list_transform(range(1, len(w)),
           |    i -> struct_pack(t1 := w[i], t2 := w[i + 1]))) AS bg
           |  FROM w0 WHERE len(w) >= 2),
           |bg AS (SELECT bg.t1 AS t1, bg.t2 AS t2, COUNT(*) AS c_ab
           |       FROM bg0 GROUP BY 1, 2),
           |uc AS (SELECT t, COUNT(*) AS c
           |       FROM (SELECT unnest(w) AS t FROM w0) GROUP BY 1),
           |tot AS (SELECT (SELECT SUM(c) FROM uc) AS n_tokens,
           |               (SELECT SUM(c_ab) FROM bg) AS n_bigrams)
           |SELECT t1, t2, c_ab,
           |  FLOOR(ln((CAST(c_ab AS DOUBLE) / n_bigrams) /
           |    ((CAST(u1.c AS DOUBLE) / n_tokens) * (CAST(u2.c AS DOUBLE) / n_tokens)))
           |    * 1e6 + 0.5) / 1e6 AS pmi
           |FROM bg JOIN uc u1 ON u1.t = bg.t1
           |        JOIN uc u2 ON u2.t = bg.t2, tot
           |WHERE c_ab >= 3
           |ORDER BY t1, t2""".stripMargin,
      "q125_shard_shuffle" ->
        s"""WITH h AS (
           |  SELECT doc_id, lang,
           |    ${hex32Sql("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS hv
           |  FROM documents)
           |SELECT doc_id, lang, CAST(hv % 8 AS INT) AS shard,
           |  ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) - 1 AS pos
           |FROM h ORDER BY shard, pos""".stripMargin,
      "q126_pack_sequences" ->
        s"""WITH h AS (
           |  SELECT doc_id, n_chars,
           |    ${hex32Sql("'epoch0:' || CAST(doc_id AS VARCHAR)")} AS hv
           |  FROM documents),
           |o AS (
           |  SELECT doc_id, n_chars, hv, CAST(hv % 8 AS INT) AS shard,
           |    CAST(COALESCE(SUM(n_chars) OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
           |  FROM h),
           |q AS (
           |  SELECT doc_id, n_chars, hv, shard,
           |    CAST(FLOOR(CAST(start AS DOUBLE) / 2000) AS BIGINT) AS seq_in_shard
           |  FROM o)
           |SELECT doc_id, n_chars, shard, seq_in_shard,
           |  ROW_NUMBER() OVER (PARTITION BY shard, seq_in_shard ORDER BY hv, doc_id) - 1 AS pos_in_seq
           |FROM q ORDER BY shard, seq_in_shard, pos_in_seq""".stripMargin,
      "q99_paragraph_dedup" ->
        """WITH docs AS (
          |  SELECT doc_id, 'SHARED BOILERPLATE HEADER' || chr(10) || text AS text
          |  FROM documents),
          |p0 AS (
          |  SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
          |    (x, i) -> struct_pack(pos := i, p := trim(x)))) AS s
          |  FROM docs),
          |q AS (SELECT doc_id, s.pos AS pos, s.p AS p FROM p0 WHERE length(s.p) > 0),
          |k AS (SELECT doc_id, pos, p,
          |  ROW_NUMBER() OVER (PARTITION BY md5(p) ORDER BY doc_id, pos) AS rn FROM q),
          |r AS (SELECT doc_id, string_agg(p, chr(10) ORDER BY pos) AS clean_text
          |      FROM k WHERE rn = 1 GROUP BY 1)
          |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text
          |FROM docs d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,
      // same integer threshold algebra; DISTINCT doc counts on raw
      // paragraph text (the md5 key is invisible to the oracle)
      "q277_boilerplate" ->
        """WITH docs AS (
          |  SELECT doc_id, source,
          |    'PROMO ' || source || chr(10) || text || chr(10) ||
          |    CASE WHEN doc_id % 2 = 0 THEN 'FOOTER ' || source
          |         ELSE 'rare line ' || CAST(doc_id AS VARCHAR) END AS text
          |  FROM documents),
          |p0 AS (
          |  SELECT doc_id, source, unnest(list_transform(string_split(text, chr(10)),
          |    (x, i) -> struct_pack(pos := i, p := trim(x)))) AS s
          |  FROM docs),
          |q AS (SELECT doc_id, source, s.pos AS pos, s.p AS p
          |      FROM p0 WHERE length(s.p) > 0),
          |tot AS (SELECT source, COUNT(*) AS total FROM docs GROUP BY 1),
          |nd AS (SELECT source, p, COUNT(DISTINCT doc_id) AS n FROM q GROUP BY 1, 2),
          |boiler AS (
          |  SELECT source, p FROM nd JOIN tot USING (source)
          |  WHERE total >= 2 AND n * 1000000 >= 600000 * total),
          |kept AS (SELECT doc_id, pos, p FROM q ANTI JOIN boiler USING (source, p)),
          |r AS (SELECT doc_id, string_agg(p, chr(10) ORDER BY pos) AS clean_text
          |      FROM kept GROUP BY 1)
          |SELECT d.doc_id, COALESCE(r.clean_text, '') AS clean_text
          |FROM docs d LEFT JOIN r USING (doc_id) ORDER BY doc_id""".stripMargin,

      "q102_chunk_documents" ->
        """WITH t AS (
          |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
          |  FROM documents WHERE length(trim(text)) > 0),
          |c AS (
          |  SELECT doc_id, toks, unnest(range(0, len(toks), 56)) AS start
          |  FROM t)
          |SELECT doc_id, start // 56 AS chunk_idx,
          |  array_to_string(list_slice(toks, start + 1, start + 64), ' ') AS chunk_text,
          |  LEAST(64, len(toks) - start) AS n_tokens
          |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
      "q103_contamination" -> {
        val w8 = shinglesSql(wordsSql, 8)
        s"""WITH bg AS (
           |  SELECT DISTINCT unnest($w8) AS shingle FROM documents WHERE doc_id % 50 = 0),
           |dg AS (
           |  SELECT DISTINCT doc_id, unnest($w8) AS shingle FROM documents),
           |h AS (
           |  SELECT doc_id, COUNT(*) AS n_hit_grams
           |  FROM dg JOIN bg USING (shingle) GROUP BY 1)
           |SELECT d.doc_id, COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
           |  COALESCE(h.n_hit_grams, 0) > 0 AS contaminated
           |FROM documents d LEFT JOIN h USING (doc_id) ORDER BY d.doc_id""".stripMargin
      },
      "q100_pii_signals" ->
        """WITH docs AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
          |    CASE WHEN doc_id % 11 = 0 THEN ' from 10.1.2.3' ELSE '' END AS text
          |  FROM documents)
          |SELECT doc_id,
          |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
          |  len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS n_phones,
          |  len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_ips
          |FROM docs ORDER BY doc_id""".stripMargin,
      "q166_pii_redact" ->
        """WITH docs AS (
          |  SELECT doc_id, text ||
          |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
          |    CASE WHEN doc_id % 11 = 0 THEN ' from 10.1.2.3' ELSE '' END AS text
          |  FROM documents)
          |SELECT doc_id,
          |  md5(regexp_replace(regexp_replace(regexp_replace(text,
          |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |    '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g'),
          |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS clean_hash,
          |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
          |  len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,}[0-9]')) +
          |  len(regexp_extract_all(text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS n_redactions
          |FROM docs ORDER BY doc_id""".stripMargin,
      // q97's clusters + q43's exact-jaccard algebra over ALL member pairs
      "q296_cluster_cohesion" ->
        s"""${bandsSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 50),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key)),
           |p0 AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |       FROM capped l JOIN capped r ON l.band = r.band AND l.band_key = r.band_key
           |       WHERE l.doc_id < r.doc_id),
           |e AS (SELECT id_a AS a, id_b AS b FROM p0 UNION SELECT id_b, id_a FROM p0),
           |nodes AS (SELECT DISTINCT a AS id FROM e),
           |reach(id, lbl) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.b, reach.lbl FROM reach JOIN e ON e.a = reach.id),
           |cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id),
           |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS size FROM cl GROUP BY 1),
           |mem AS (SELECT cl.* FROM cl JOIN sz USING (cluster_id)
           |        WHERE size BETWEEN 2 AND 50),
           |pp AS (SELECT a.cluster_id, a.doc_id AS id_a, b.doc_id AS id_b
           |       FROM mem a JOIN mem b
           |       ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id),
           |sh AS (SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM w),
           |cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
           |inter AS (
           |  SELECT p.id_a, p.id_b, COUNT(*) AS i
           |  FROM pp p JOIN sh a ON a.doc_id = p.id_a
           |            JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
           |  GROUP BY 1, 2),
           |jac AS (
           |  SELECT p.cluster_id,
           |    FLOOR(CAST(COALESCE(i.i, 0) AS DOUBLE)
           |      / (ca.n + cb.n - COALESCE(i.i, 0)) * 1e6 + 0.5) / 1e6 AS j
           |  FROM pp p
           |  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
           |  JOIN cnt ca ON ca.doc_id = p.id_a
           |  JOIN cnt cb ON cb.doc_id = p.id_b),
           |agg AS (
           |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           |    MIN(j) AS min_jaccard,
           |    FLOOR(CAST(SUM(CAST(j AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
           |      * 1e6 + 0.5) / 1e6 AS avg_jaccard
           |  FROM jac GROUP BY 1)
           |SELECT sz.cluster_id, sz.size, agg.n_pairs, agg.min_jaccard,
           |  agg.avg_jaccard, sz.size BETWEEN 2 AND 50 AS audited
           |FROM sz LEFT JOIN agg USING (cluster_id)
           |ORDER BY cluster_id""".stripMargin,

      "q97_dedup_clusters" ->
        s"""${bandsSqlCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
           |ok AS (SELECT band, band_key FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= 50),
           |capped AS (SELECT b.* FROM bands b JOIN ok USING (band, band_key)),
           |p AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
           |      FROM capped l JOIN capped r ON l.band = r.band AND l.band_key = r.band_key
           |      WHERE l.doc_id < r.doc_id),
           |e AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p),
           |nodes AS (SELECT DISTINCT a AS id FROM e),
           |reach(id, lbl) AS (
           |  SELECT id, id FROM nodes
           |  UNION
           |  SELECT e.b, reach.lbl FROM reach JOIN e ON e.a = reach.id)
           |SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY id
           |ORDER BY doc_id""".stripMargin
    )
  }
}
