package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The MinHash-LSH band index AT REST — the text twin of [[VectorIndex]]:
  * [[Dedup.crossCorpusCandidates]] recomputes BOTH sides' shingle→minhash
  * →band pipelines per call, but a production corpus is deduplicated
  * incrementally — every new batch probes the SAME existing corpus. At
  * 100 TB the corpus-side minhash pass (a full-text scan + per-doc digest
  * work, the dominant cost of the operator) must happen ONCE, at build
  * time, not once per arriving batch.
  *
  * Layout is deliberately plain Spark: the corpus band table
  * (id, band, band_key) persisted as a parquet table BUCKETED AND SORTED
  * on the join key (band, band_key). Probing then plans with NO exchange
  * on the index side (the classic pre-shuffled-on-disk layout,
  * [[graft.ops.ScaleJoins.writeBucketed]]): only the new batch — typically
  * orders of magnitude smaller — is shuffled (or broadcast, AQE's choice).
  * The hot-bucket cap aggregation on the index side is likewise
  * bucket-local: grouped on exactly the bucketing keys, no shuffle.
  *
  * Same candidate algebra as [[Dedup.crossCorpusCandidates]] (per-side
  * capped buckets, band equi-join, countDistinct band), so the at-rest
  * probe matches the recompute path row-for-row — the q162 gate pins that
  * against the DuckDB oracle.
  */
object TextIndex {

  /** Build + persist the corpus band index: one minhash pass over the
    * corpus, written bucketed+sorted by (band, band_key). Overwrites both
    * the table entry and the data path.
    */
  def writeBandIndex(docs: DataFrame, table: String, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3, numHashes: Int = 12, bands: Int = 4,
      buckets: Int = 16): Unit =
    writeBandIndexRows(
      Dedup.lshBands(docs, textCol, idCol, k, numHashes, bands),
      table, path, buckets)

  def readBandIndex(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Register PRECOMPUTED band rows ([[Dedup.lshBands]] output schema) as
    * the at-rest index table under the same bucket spec as
    * [[writeBandIndex]] — the restore path when the corpus minhash pass
    * already ran (re-laying out an index copy, compaction, or the bench's
    * memoized base). Costs one tiny shuffle of (id, band, band_key) rows;
    * never touches document text.
    */
  def writeBandIndexRows(rows: DataFrame, table: String, path: String,
      buckets: Int = 16): Unit = {
    rows.sparkSession.sql(s"DROP TABLE IF EXISTS `$table`")
    rows.write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, "band", "band_key")
      .sortBy("band", "band_key")
      .format("parquet")
      .saveAsTable(table)
  }

  /** INCREMENTAL band-index maintenance — the dedup twin of
    * [[appendToBm25Index]]: minhash ONLY the new batch and append its
    * band rows under the SAME bucket spec, preserving the no-exchange
    * probe property. Band rows are per-doc-local (no cross-doc state in
    * the index), so `write(old); append(new)` is row-identical to
    * `write(old ∪ new)` — a probe after appends matches a probe against
    * a full rebuild (the q309 gate pins this with q162's full-corpus
    * oracle). This is how a 100 TB dedup corpus absorbs a daily crawl
    * batch without re-minhashing what's at rest; only the hot-bucket cap
    * is corpus-global, and it re-aggregates bucket-locally at probe time.
    */
  def appendToBandIndex(newDocs: DataFrame, table: String,
      textCol: String = "text", idCol: String = "doc_id",
      k: Int = 3, numHashes: Int = 12, bands: Int = 4,
      buckets: Int = 16): Unit =
    Dedup.lshBands(newDocs, textCol, idCol, k, numHashes, bands)
      .write.mode(SaveMode.Append)
      .bucketBy(buckets, "band", "band_key")
      .sortBy("band", "band_key")
      .format("parquet")
      .saveAsTable(table)

  /** Probe a NEW batch against the stored corpus bands: band the batch
    * (its own minhash pass — it is the small side), cap hot buckets on
    * EACH side independently (same policy and same oracle-mirrorable
    * HAVING as [[Dedup.crossCorpusCandidates]]), and equi-join on
    * (band, band_key). Output: (idCol, corpusOutCol, n_bands) — one row
    * per (batch doc, corpus doc) candidate near-duplicate pair.
    *
    * `index` is the frame from [[readBandIndex]]; its id column must be
    * named `idCol` (it is renamed to `corpusOutCol` in the output).
    */
  def probe(index: DataFrame, newDocs: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      corpusOutCol: String = "corpus_id",
      k: Int = 3, numHashes: Int = 12, bands: Int = 4,
      maxBucketSize: Option[Int] = Some(Dedup.DefaultMaxBucketSize)): DataFrame = {
    require(corpusOutCol != idCol,
      s"probe: corpusOutCol must differ from idCol ($idCol)")
    def capped(b: DataFrame): DataFrame = maxBucketSize match {
      case Some(cap) =>
        val small = b.groupBy(col("band"), col("band_key"))
          .agg(count(lit(1)).as("__n")).filter(col("__n") <= lit(cap.toLong))
          .select(col("band"), col("band_key"))
        b.join(small, Seq("band", "band_key"))
      case None => b
    }
    val l = capped(Dedup.lshBands(newDocs, textCol, idCol, k, numHashes, bands))
      .select(col(idCol), col("band"), col("band_key"))
    val r = capped(index)
      .select(col(idCol).as(corpusOutCol), col("band"), col("band_key"))
    l.join(r, Seq("band", "band_key"))
      .groupBy(col(idCol), col(corpusOutCol))
      .agg(countDistinct(col("band")).as("n_bands"))
  }

  /** Build + persist the BM25 index AT REST: ONE corpus pass producing
    * (a) the postings table `table` — one row per (term, doc):
    * (term, idCol, tf, dl) — bucketed+sorted by term, and (b) the 1-row
    * corpus stats table `table`_stats (n_docs, avgdl). [[bm25Rank]]
    * re-aggregates (N, avgdl) and per-term df from the full corpus on
    * EVERY query — fine for one-shot batch scoring, wrong for repeated
    * retrieval: at 100 TB the corpus tokenization pass must happen once,
    * at build time (the lexical twin of [[writeBandIndex]] /
    * [[VectorIndex.writeIndex]]).
    *
    * dl is denormalized onto every posting row so the probe touches
    * nothing but the postings for ITS OWN terms plus the broadcast stats
    * row: term `IN` pushes to the parquet scan and prunes buckets, df is
    * a count over those same pruned rows, and no doc-length side table
    * needs joining. The vocabulary-wide explode+shuffle happens here,
    * once — exactly what an index build is for.
    */
  def writeBm25Index(docs: DataFrame, table: String, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"DROP TABLE IF EXISTS `${table}_stats`")
    val base = docs.select(col(idCol), Dedup.words(col(textCol)).as("__w"))
      .withColumn("dl", size(col("__w")).cast("double"))
    base.select(col(idCol), col("dl"), explode(col("__w")).as("term"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$path/postings")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .format("parquet")
      .saveAsTable(table)
    // stats over ALL docs (empty docs count toward N and avgdl even
    // though they have no postings) — identical algebra to bm25Rank's.
    // sum_dl rides along as an EXACT decimal so stats stay mergeable:
    // an append adds (n, sum_dl) and re-derives avgdl — decimal addition
    // is associative, so append == rebuild bit-for-bit (the q213 gate).
    base.agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("dl").cast("decimal(28,6)")),
          lit(0).cast("decimal(28,6)")).as("sum_dl"))
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"),
        col("sum_dl"))
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$path/stats")
      .format("parquet")
      .saveAsTable(s"${table}_stats")
  }

  /** INCREMENTAL BM25 index maintenance — the lexical twin of
    * [[VectorIndex.appendToIndex]]: tokenize ONLY the new batch, append
    * its (term, doc, tf, dl) rows into the bucketed postings table (the
    * same bucket spec, so the no-exchange probe property is preserved),
    * and merge the stats row arithmetically — n adds, the exact DECIMAL
    * sum_dl adds, avgdl re-derives. Because postings are per-doc-local
    * and the decimal sum is associative, `write(old); append(new)` is
    * row-identical to `write(old ∪ new)` — ranking after an append
    * matches a full rebuild bit-for-bit (the q213 gate pins this against
    * the full-corpus oracle). This is how a production lexical index
    * absorbs a daily crawl batch without re-tokenizing the corpus.
    *
    * The batch's (n, Σdl) are observed metrics of the postings write; the
    * old stats row is collected (a 1-row O(model) handoff) so the
    * overwrite never reads the table it replaces.
    */
  def appendToBm25Index(newDocs: DataFrame, table: String,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 16): Unit = {
    val spark = newDocs.sparkSession
    // the batch's (n, Σdl) ride the postings write as observed metrics, so
    // the batch is tokenized once and the stats need no job of their own
    val batchStats = new org.apache.spark.sql.Observation()
    val base = newDocs.select(col(idCol), Dedup.words(col(textCol)).as("__w"))
      .withColumn("dl", size(col("__w")).cast("double"))
      .observe(batchStats, count(lit(1)).as("n"),
        coalesce(sum(col("dl").cast("decimal(28,6)")),
          lit(0).cast("decimal(28,6)")).as("s"))
    base.select(col(idCol), col("dl"), explode(col("__w")).as("term"))
      .groupBy(col("term"), col(idCol), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .select(col("term"), col(idCol), col("dl"), col("tf"))
      .write.mode(SaveMode.Append)
      .bucketBy(buckets, "term")
      .sortBy("term")
      .format("parquet")
      .saveAsTable(table)
    val old = spark.table(s"${table}_stats")
      .select(col("n_docs"), col("sum_dl")).head()
    val batch = batchStats.get
    val n = old.getLong(0) + batch("n").asInstanceOf[Long]
    val sumDl = old.getDecimal(1).add(batch("s").asInstanceOf[java.math.BigDecimal])
    spark.sql(
      s"""SELECT CAST($n AS BIGINT) AS n_docs,
         |  CAST(CAST('${sumDl.toPlainString}' AS DECIMAL(28,6)) AS DOUBLE)
         |    / $n AS avgdl,
         |  CAST('${sumDl.toPlainString}' AS DECIMAL(28,6)) AS sum_dl
         |""".stripMargin)
      .write.mode(SaveMode.Overwrite).insertInto(s"${table}_stats")
  }

  /** (postings, stats) frames of a stored BM25 index. */
  def readBm25Index(spark: SparkSession, table: String): (DataFrame, DataFrame) =
    (spark.table(table), spark.table(s"${table}_stats"))

  /** BM25 top-k against the AT-REST index: identical arithmetic (and so
    * identical doubles) to [[bm25Rank]], but the corpus is never scanned —
    * the term `IN` filter pushes into the postings scan (bucket + row-
    * group pruning on the sorted term column), df re-counts only those
    * pruned rows, and the 1-row stats table broadcasts. Per query the
    * work is O(postings of the query's terms), independent of corpus
    * size. Output: (idCol, score, n_terms_hit), the k best documents.
    */
  def bm25RankIndexed(postings: DataFrame, stats: DataFrame,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25RankIndexed: need at least one query term")
    require(k >= 1, s"bm25RankIndexed: k must be >= 1, got $k")
    val tf = postings.filter(col("term").isin(queryTerms: _*))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf", TextAnalysis.round6(log(
        (col("n_docs") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)))
      .withColumn("__s", TextAnalysis.round6(
        col("__idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + (lit(1.0 - b) + col("dl") * b / col("avgdl")) * k1)))
      .groupBy(col(idCol))
      .agg(sum(col("__s").cast("decimal(28,6)")).cast("double").as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** BATCH BM25 against the at-rest index: many queries at once, given as
    * (queryIdCol, termCol) rows — the production retrieval shape (a batch
    * of user queries, an eval set, hard-negative mining). The queries
    * frame BROADCASTS onto the postings (its size is queries x terms,
    * never corpus-scale); df stays per-TERM (corpus statistic, shared by
    * every query, one aggregation over the pruned postings); scoring is
    * the same grid-snapped arithmetic as [[bm25Rank]]; top-k is a
    * per-query window over candidates (≤ postings of that query's
    * terms). Distinct (query, term) pairs are deduplicated first so a
    * repeated term contributes once, matching `bm25Rank(terms.distinct)`
    * semantics per query. Output: (queryIdCol, idCol, score,
    * n_terms_hit, rank ≤ k).
    */
  def bm25RankIndexedBatch(postings: DataFrame, stats: DataFrame,
      queries: DataFrame, k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", queryIdCol: String = "query_id",
      termCol: String = "term"): DataFrame = {
    require(k >= 1, s"bm25RankIndexedBatch: k must be >= 1, got $k")
    val q = queries.select(col(queryIdCol), col(termCol)).distinct()
    val tf = postings.join(broadcast(q), Seq(termCol))
    // df is a per-term corpus statistic: count each doc once per term,
    // not once per (query, term)
    val dfreq = tf.select(col(termCol), col(idCol)).distinct()
      .groupBy(col(termCol)).agg(count(lit(1)).as("__df"))
    val scored = tf.join(broadcast(dfreq), Seq(termCol))
      .crossJoin(broadcast(stats))
      .withColumn("__idf", TextAnalysis.round6(log(
        (col("n_docs") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)))
      .withColumn("__s", TextAnalysis.round6(
        col("__idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + (lit(1.0 - b) + col("dl") * b / col("avgdl")) * k1)))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__s").cast("decimal(28,6)")).cast("double").as("score"),
        count(lit(1)).as("n_terms_hit"))
    // per-query top-k via TopKPerGroup instead of a rank window: the window
    // re-shuffled every (query, doc) score and sorted whole result lists; a
    // hot query (a term hitting half the corpus) paid its full posting-list
    // size in sort memory. Map-side heaps emit <= k docs per (query,
    // partition); ranks are assigned over the <= k survivors per query on
    // the exchange's partitioning.
    graft.ops.TopK.perGroup(scored, Seq(queryIdCol),
      Seq(("score", false), (idCol, true)), k)
      .groupBy(col(queryIdCol))
      .agg(array_sort(collect_list(struct((-col("score")).as("__neg"),
        col(idCol), col("score").as("__sc"), col("n_terms_hit").as("__h"))))
        .as("__top"))
      .select(col(queryIdCol), posexplode(col("__top")).as(Seq("__pos", "__r")))
      .select(col(queryIdCol), col(s"__r.$idCol").as(idCol),
        col("__r.__sc").as("score"), col("__r.__h").as("n_terms_hit"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /** BM25 ranking of the corpus against a bag of query terms (Robertson/
    * Sparck Jones idf with the Lucene +1 floor; k1/b the standard knobs) —
    * the lexical-retrieval scorer that pairs with the ANN path for hybrid
    * search over a training corpus.
    *
    * Scale shape: the corpus explodes to words but is FILTERED TO THE
    * QUERY TERMS inside the same stage, so the (id, term) aggregation
    * shuffles |query| terms' worth of rows, not the corpus vocabulary;
    * document frequencies (|query| rows) and the 1-row (N, avgdl) stats
    * broadcast back. Top-k plans as TakeOrderedAndProject — no global
    * sort. Determinism: idf and per-term scores snap to the 1e-6 grid,
    * the doc score sums them in exact decimal, ties break on id.
    * Output: (idCol, score, n_terms_hit), the k best documents.
    */
  def bm25Rank(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Rank: need at least one query term")
    require(k >= 1, s"bm25Rank: k must be >= 1, got $k")
    val base = docs.select(col(idCol), Dedup.words(col(textCol)).as("__w"))
      .withColumn("__dl", size(col("__w")).cast("double"))
    // 1-row corpus stats (N, avgdl) — the usual broadcast planning fact;
    // avgdl goes exact-decimal-sum -> one double division
    val stats = base.agg(count(lit(1)).as("__n"),
      (sum(col("__dl").cast("decimal(28,6)")).cast("double") /
        count(lit(1))).as("__avgdl"))
    val tf = base.select(col(idCol), col("__dl"), explode(col("__w")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("__dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("__df"))
    tf.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf", TextAnalysis.round6(log(
        (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5) + 1.0)))
      .withColumn("__s", TextAnalysis.round6(
        col("__idf") * (col("__tf") * (k1 + 1.0)) /
          (col("__tf") + (lit(1.0 - b) + col("__dl") * b / col("__avgdl")) * k1)))
      .groupBy(col(idCol))
      .agg(sum(col("__s").cast("decimal(28,6)")).cast("double").as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** POSITIONAL postings index AT REST — the indexed twin [[phraseCount]]
    * names: one corpus tokenization pass into (term, doc, positions[])
    * rows bucketed+sorted by term, so a phrase QUERY reads only its own
    * terms' postings (term IN pushed to the bucketed scan — work O(query
    * postings), independent of corpus size) instead of re-scanning every
    * document. Positions are 0-based indices into the SAME `words()`
    * array [[phraseCount]] slides over (empty-string tokens keep their
    * slot so positions stay aligned; no query term is ever empty, so
    * those rows are dead weight, not wrong answers).
    */
  def writePositionalIndex(docs: DataFrame, table: String, path: String,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 16): Unit = {
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    docs.select(col(idCol),
        posexplode(Dedup.words(col(textCol))).as(Seq("pos", "term")))
      .groupBy(col("term"), col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
      .write.mode(SaveMode.Overwrite)
      .option("path", s"$path/postings")
      .bucketBy(buckets, "term")
      .sortBy("term")
      .format("parquet")
      .saveAsTable(table)
  }

  /** Exact phrase matching OVER the positional index — [[phraseCount]]'s
    * retrieval form: docs where the phrase occurs, with occurrence
    * counts, computed from postings alone. Classic positional
    * intersection: a start position p works iff term_j sits at p + j for
    * every j, i.e. ∩_j (positions(term_j) − j). The scan reads ONLY the
    * phrase's terms (IN-pushed on the bucketed table); per doc the
    * term→positions map assembles in one keyed aggregation and the
    * intersection chain is a codegen array fold. A duplicated phrase term
    * contributes its (shifted) position list once per slot — the
    * intersection handles repeats naturally. Returns HITS ONLY (a search
    * index returns matches, not the corpus — [[phraseCount]] is the
    * per-every-document audit form). Output: (idCol, n_occurrences).
    */
  def phraseCountIndexed(spark: SparkSession, table: String, phrase: String,
      idCol: String = "doc_id"): DataFrame = {
    val terms = phrase.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split("\\s+").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, s"phraseCountIndexed: phrase '$phrase' has no tokens")
    val postings = spark.table(table)
      .filter(col("term").isin(terms.distinct: _*))
    val byDoc = postings.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
        .as("__m"))
    // try_element_at: a doc missing a term yields NULL -> NULL intersect
    // -> zero occurrences (ANSI element_at would throw on a missing key)
    val starts = terms.zipWithIndex.map { case (t, j) =>
      transform(try_element_at(col("__m"), lit(t)), p => p - j)
    }.reduceLeft((acc, next) => array_intersect(acc, next))
    byDoc
      .select(col(idCol),
        when(starts.isNull, lit(0L))
          .otherwise(size(starts).cast("long")).as("n_occurrences"))
      .filter(col("n_occurrences") > 0)
  }

  /** Exact PHRASE occurrence counts per document — the query form bag-of-
    * words BM25 cannot answer ("new york" is not new ∧ york) and the
    * boilerplate-phrase / quote detector curation runs. The scan form:
    * one stateless codegen projection over each doc's token array — a
    * sliding window of |phrase| tokens compared per start position, no
    * shuffle, no UDF, oracle-mirrorable as list algebra. (The indexed
    * twin — positional postings — buys repeated phrase QUERIES; the scan
    * form is the one-shot batch filter and the semantics gate for it.)
    * Phrase terms normalize through the same tokenizer as the corpus.
    * Output: (id, n_occurrences, has_phrase).
    */
  def phraseCount(docs: DataFrame, phrase: String, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val terms = phrase.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split("\\s+").toSeq.filter(_.nonEmpty)
    require(terms.nonEmpty, s"phraseCount: phrase '$phrase' has no tokens")
    val k = terms.length
    val w = Dedup.words(col(textCol))
    // starts: 0-based positions i with words[i+j] == terms(j) for all j;
    // element_at is 1-based, hence the +1
    val matchAt = (i: org.apache.spark.sql.Column) =>
      terms.zipWithIndex.map { case (t, j) =>
        element_at(col("__w"), (i + lit(j + 1)).cast("int")) === lit(t)
      }.reduce(_ && _)
    docs.select(col(idCol), w.as("__w"))
      .select(col(idCol),
        when(size(col("__w")) >= k,
          size(filter(sequence(lit(0), size(col("__w")) - k),
            i => matchAt(i)))).otherwise(lit(0)).cast("long")
          .as("n_occurrences"))
      .withColumn("has_phrase", col("n_occurrences") > 0)
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001,
    * "A Study of Smoothing Methods for Language Models Applied to Ad Hoc
    * Information Retrieval") — the LM-based ranker that complements
    * [[bm25Rank]]'s tf-idf family. Candidates are documents containing at
    * least one query term (the standard postings-driven evaluation set;
    * a doc matching nothing scores only background mass and never enters
    * a top-k in practice). With p_q = cf(q)/T the corpus unigram model:
    *
    *   score(D) = Σ_q log((c(q,D) + μ·p_q) / (dl(D) + μ))
    *            = Σ_matched [log(c + μ·p_q) − log(μ·p_q)]
    *              + Σ_q log(μ·p_q) − |Q|·log(dl(D) + μ)
    *
    * so only MATCHED (doc, term) rows carry per-pair work; the Σ_q term
    * is a 1-row broadcast constant. Query terms absent from the corpus
    * (cf = 0) are dropped — they contribute −∞ to every candidate
    * equally and carry no ranking signal.
    *
    * Scale shape: identical to [[bm25Rank]] — the corpus explode is
    * filtered to the query's terms in-stage (the shuffle carries |query|
    * terms' rows, not the vocabulary), cf (|Q| rows) and (T, Σ_q) (1 row)
    * broadcast back, top-k plans as TakeOrderedAndProject. Determinism:
    * every log snaps to the 1e-6 grid, per-doc sums run in exact decimal,
    * ties break on id. Output: (idCol, score, n_terms_hit).
    */
  def qlRank(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      mu: Double = 2000.0, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "qlRank: need at least one query term")
    require(k >= 1 && mu > 0, s"qlRank: bad k=$k / mu=$mu")
    val base = docs.select(col(idCol), Dedup.words(col(textCol)).as("__w"))
      .withColumn("__dl", size(col("__w")).cast("double"))
    val toks = base.select(col(idCol), col("__dl"),
      explode(col("__w")).as("term"))
    // T = total corpus tokens (exact decimal sum -> one double)
    val total = base.agg(
      sum(col("__dl").cast("decimal(28,6)")).cast("double").as("__t"))
    // corpus frequency per query term; cf = 0 terms never join (inner)
    val cf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).cast("double").as("__cf"))
    qlScoreMatched(
      toks.filter(col("term").isin(queryTerms: _*))
        .groupBy(col(idCol), col("__dl"), col("term"))
        .agg(count(lit(1)).cast("double").as("__tf")),
      cf, total, mu, k, idCol, dlCol = "__dl", tfCol = "__tf")
  }

  /** Shared Dirichlet-QL scoring tail: matched (id, dl, term, tf) rows +
    * per-term cf + 1-row total-token frame -> top-k. Factored so the scan
    * form and the at-rest form are the SAME arithmetic (and so the same
    * doubles) by construction.
    */
  private def qlScoreMatched(tf: DataFrame, cf: DataFrame, total: DataFrame,
      mu: Double, k: Int, idCol: String, dlCol: String,
      tfCol: String): DataFrame = {
    import TextAnalysis.round6
    // per-term background mass log(mu * cf / T), snapped; and the 1-row
    // query constant Σ_q of those (exact decimal sum over |Q| rows)
    val bg = cf.crossJoin(broadcast(total))
      .withColumn("__lbg", round6(log(lit(mu) * col("__cf") / col("__t"))))
    val qConst = bg.agg(
      sum(col("__lbg").cast("decimal(28,6)")).cast("double").as("__sum_lbg"),
      count(lit(1)).as("__nq"))
    tf.join(broadcast(bg.select(col("term"), col("__cf"), col("__t"), col("__lbg"))),
        Seq("term"))
      .withColumn("__lm", round6(log(
        col(tfCol) + lit(mu) * col("__cf") / col("__t"))))
      .groupBy(col(idCol), col(dlCol))
      .agg(sum((col("__lm") - col("__lbg")).cast("decimal(28,6)"))
          .cast("double").as("__match"),
        count(lit(1)).as("n_terms_hit"))
      .crossJoin(broadcast(qConst))
      .withColumn("score", round6(col("__match") + col("__sum_lbg") -
        col("__nq") * round6(log(col(dlCol) + mu))))
      .select(col(idCol), col("score"), col("n_terms_hit"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Dirichlet query likelihood against the AT-REST BM25 index — the same
    * postings/stats layout serves both ranking families, which is the
    * point of building it once: (term, id, tf, dl) rows give matched
    * counts and doc lengths; the stats row's exact-decimal `sum_dl` IS
    * the corpus token total T (so appends keep T consistent the same way
    * they keep avgdl consistent); cf(q) re-aggregates over the pruned
    * postings of the query's own terms (term IN pushes into the bucketed
    * scan). Identical arithmetic to [[qlRank]] by shared code — the gate
    * pins rank equality against the scan form's independent oracle.
    * Per query the work is O(postings of the query's terms).
    */
  def qlRankIndexed(postings: DataFrame, stats: DataFrame,
      queryTerms: Seq[String], k: Int = 10, mu: Double = 2000.0,
      idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "qlRankIndexed: need at least one query term")
    require(k >= 1 && mu > 0, s"qlRankIndexed: bad k=$k / mu=$mu")
    val matched = postings.filter(col("term").isin(queryTerms: _*))
    val cf = matched.groupBy(col("term"))
      .agg(sum(col("tf").cast("decimal(28,6)")).cast("double").as("__cf"))
    val total = stats.select(col("sum_dl").cast("double").as("__t"))
    qlScoreMatched(matched, cf, total, mu, k, idCol,
      dlCol = "dl", tfCol = "tf")
  }

  // ---- substring-dedup (Lee et al. 2022) k-token gram index at rest ----

  /** Table property recording the window width the span index was built
    * at — probing at a different k is meaningless (the grams are k-token
    * hashes), so probes read it back instead of guessing.
    */
  private val SpanKProp = "graft.spanindex.k"

  /** Build + persist the k-token window table of
    * [[Dedup.duplicateSpans]]: one (doc_id, pos, gram) row per k-token
    * window (gram = xxhash64 of the window text — 8 bytes shuffled, never
    * gram text), bucketed+sorted on `gram`, so the probe's duplicate gate
    * aggregates and joins with NO exchange on the index side. Window rows
    * are per-doc-local, so `write(old); append(new)` is row-identical to
    * `write(old ∪ new)` — probe-after-append ≡ probe-after-rebuild (the
    * q366 gate pins this against a full-union oracle). This is how
    * Lee-et-al span dedup absorbs a crawl batch at 100 TB without
    * re-hashing the at-rest corpus per batch.
    */
  def writeSpanIndex(docs: DataFrame, table: String, path: String,
      k: Int = 8, textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 16): Unit = {
    require(k >= 2, s"writeSpanIndex: window must be at least 2 tokens, got $k")
    val spark = docs.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spanRows(docs, k, textCol, idCol)
      .write.mode(SaveMode.Overwrite)
      .option("path", path)
      .bucketBy(buckets, "gram")
      .sortBy("gram")
      .format("parquet")
      .saveAsTable(table)
    spark.sql(
      s"ALTER TABLE `$table` SET TBLPROPERTIES ('$SpanKProp' = '$k')")
  }

  /** The k a stored span index was built at (from table properties). */
  def spanIndexK(spark: SparkSession, table: String): Int = {
    val rows = spark.sql(s"SHOW TBLPROPERTIES `$table` ('$SpanKProp')").collect()
    rows.headOption.map(_.getString(1))
      .filterNot(_.contains("does not have property"))
      .map(_.toInt).getOrElse(sys.error(
        s"span index '$table' records no window width " +
          s"(missing table property $SpanKProp) — rebuild with writeSpanIndex"))
  }

  /** Incremental maintenance: window ONLY the new batch (at the STORED
    * k) and append under the same bucket spec — per-doc-local rows, so
    * the result is row-identical to a full rebuild.
    */
  def appendToSpanIndex(newDocs: DataFrame, table: String,
      textCol: String = "text", idCol: String = "doc_id",
      buckets: Int = 16): Unit = {
    val k = spanIndexK(newDocs.sparkSession, table)
    spanRows(newDocs, k, textCol, idCol)
      .write.mode(SaveMode.Append)
      .bucketBy(buckets, "gram")
      .sortBy("gram")
      .format("parquet")
      .saveAsTable(table)
  }

  private def spanRows(docs: DataFrame, k: Int, textCol: String,
      idCol: String): DataFrame =
    Dedup.windowRows(docs, k, textCol, idCol)
      .select(col(idCol), col("__s").as("pos"), col("__gh").as("gram"))

  /** Duplicate spans of a NEW batch against the stored corpus ∪ the
    * batch itself — [[Dedup.duplicateSpans]] over (stored ∪ batch),
    * restricted to batch documents, with the corpus-side work at rest:
    * the batch windows its own (small) text, the index side's gram
    * counts aggregate BUCKET-LOCALLY (grouped on exactly the bucketing
    * key — no exchange), and a batch gram is duplicated when its total
    * count across index + batch exceeds 1. The per-doc islands fold runs
    * on batch docs only. Output: (idCol, span_start, span_tokens).
    */
  def probeSpans(spark: SparkSession, table: String, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val k = spanIndexK(spark, table)
    val bw = Dedup.windowRows(batch, k, textCol, idCol)
    val idxCounts = spark.table(table).groupBy(col("gram"))
      .agg(count(lit(1)).as("__ni"))
      .withColumnRenamed("gram", "__gh")
    val batchCounts = bw.groupBy(col("__gh")).agg(count(lit(1)).as("__nb"))
    val dupGrams = batchCounts
      .join(idxCounts, Seq("__gh"), "left")
      .filter(coalesce(col("__ni"), lit(0L)) + col("__nb") > 1)
      .select("__gh")
    val marked = bw.join(dupGrams, Seq("__gh")).select(col(idCol), col("__s"))
    Dedup.spansFromMarked(marked, k, idCol)
  }
}
