package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; the join is
  * queries x corpus, fine when queries are a small batch). Scale path:
  * random-hyperplane LSH — bucket by sign bits, search only same-bucket
  * (plus optional multi-probe) candidates; the hyperplanes are
  * md5-seeded so the index is deterministic and rebuildable anywhere.
  */
object Similarity {

  private def norm2(v: Column) =
    sqrt(dot(v, v))

  /** Norm that RAISES on zero-norm vectors. A zero embedding makes
    * cosine 0/0 = NaN, and NaN orders differently between the TopK
    * heap's SortOrder (NaN sorts as the LARGEST double, so the heap
    * keeps it) and the array_sort rank tail (-NaN is still NaN, so it
    * sorts LAST) — the two stages of [[rankTopPerGroup]] would silently
    * disagree on rank positions. Same loud-refusal stance as
    * [[sameWidth]]: a zero-norm vector is an upstream data bug the
    * caller should see by name, not a quiet rank shuffle.
    */
  private def checkedNorm(v: Column, op: String): Column = {
    val n = norm2(v)
    when(n === 0d, raise_error(lit(
      s"$op: zero-norm embedding vector — cosine is 0/0 (NaN); " +
        "filter zero vectors upstream")))
      .otherwise(n)
  }

  /** Cosine similarity of two equal-width double-array columns (width
    * checked loudly via [[sameWidth]]); also the `graft_cosine(a, b)` SQL
    * function. NaN when either vector is all-zero.
    */
  def cosineCol(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    when(sameWidth(ad, bd, "cosineCol"),
      dot(ad, bd) / (norm2(ad) * norm2(bd)))
  }

  // native doGenCode expressions (graft.functions.VecFold): the
  // aggregate(zip_with(..)) folds they replace were CodegenFallback and
  // allocated a per-row intermediate array; accumulation order and
  // per-element arithmetic are identical, so every gate hash is unchanged
  private[pipeline] def dot(a: Column, b: Column) =
    Bridge.column(graft.functions.VecDot(Bridge.expression(a), Bridge.expression(b)))

  private[pipeline] def dist2Fold(a: Column, b: Column) =
    Bridge.column(graft.functions.VecDist2(Bridge.expression(a), Bridge.expression(b)))

  /** Always-true predicate that RAISES on mismatched vector widths.
    * `zip_with` silently null-pads the shorter array, so a wrong-width
    * query/centroid table would turn scores/distances NULL — and a
    * struct-min argmin orders NULL first, silently electing garbage. Same
    * loud-refusal stance as [[lshBucket]]'s plane-matrix check; one
    * integer compare per row, noise next to the O(dims) fold it guards.
    *
    * NULL vectors get their own dedicated message (instead of the
    * misleading "null vs N dims" that `size(NULL)` would format): a null
    * embedding in a similarity pipeline is a data-quality bug the caller
    * should see by name and filter upstream, not a width mismatch.
    */
  private[pipeline] def sameWidth(a: Column, b: Column, op: String): Column =
    when(a.isNull || b.isNull, raise_error(lit(
      s"$op: null embedding vector — filter null embeddings upstream")))
      .when(size(a) === size(b), lit(true))
      .otherwise(raise_error(format_string(
        s"$op: vector width mismatch (%d vs %d dims)", size(a), size(b))))

  /** Exact top-k by cosine for each query vector. Ties break on corpus id
    * (deterministic). Output: (query_id, vec_id, cosine, rank).
    *
    * The scoring pass is inherently |Q| x |C| (that IS brute force — the
    * scale path is the IVF-PQ index); the RANKING, though, goes through
    * [[graft.plans.TopKPerGroupLogical]], so the exchange after scoring
    * carries <= k rows per (query, partition) instead of every scored
    * pair — at eval scale (1000 queries x 10M corpus) the window form
    * shuffled and sorted 10^10 rows, this ships ~k x partitions per query.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", checkedNorm(col("__cv"), "bruteForceTopK"))
    val q = queries.select(col(queryIdCol), col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", checkedNorm(col("__qv"), "bruteForceTopK"))
    val scored = q.crossJoin(c)
      .filter(sameWidth(col("__qv"), col("__cv"), "bruteForceTopK"))
      .withColumn("cosine", TextAnalysis.round6(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
      .select(col(queryIdCol), col(idCol), col("cosine"))
    rankTopPerGroup(scored, queryIdCol, idCol, "cosine", k)
  }

  /** Shared tail for the brute-force scorers: per-group top-k through
    * TopKPerGroup (map-side heaps, <= k rows per group per partition on
    * the exchange), then rank 1..k assigned by a sorted-slice over the
    * <= k survivors (reuses the exchange's group partitioning; no
    * Window). Order: scoreCol desc, idCol asc — a total order because
    * ids are unique within a group.
    */
  private def rankTopPerGroup(scored: DataFrame, queryIdCol: String,
      idCol: String, scoreCol: String, k: Int): DataFrame =
    graft.ops.TopK.perGroup(scored, Seq(queryIdCol),
      Seq((scoreCol, false), (idCol, true)), k)
      .groupBy(col(queryIdCol))
      .agg(array_sort(collect_list(struct((-col(scoreCol)).as("__neg"),
        col(idCol), col(scoreCol).as("__s")))).as("__top"))
      .select(col(queryIdCol), posexplode(col("__top")).as(Seq("__pos", "__r")))
      .select(col(queryIdCol), col(s"__r.$idCol").as(idCol),
        col("__r.__s").as(scoreCol), (col("__pos") + 1).cast("int").as("rank"))

  /** Every vector's top-k neighbors among the OTHERS — the kNN-GRAPH
    * builder (self-retrieval without the trivial self-hit). Brute-force
    * like [[bruteForceTopK]]: the exact eval-side form; at corpus scale
    * build the ranked frame from the at-rest index ([[VectorIndex]]) and
    * feed it to [[mutualPairs]] instead.
    * Output: (query_id, idCol, cosine, rank ∈ 1..k).
    */
  def selfTopK(corpus: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", checkedNorm(col("__cv"), "selfTopK"))
    val q = corpus.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", checkedNorm(col("__qv"), "selfTopK"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col(idCol))
      .filter(sameWidth(col("__qv"), col("__cv"), "selfTopK"))
      .withColumn("cosine", TextAnalysis.round6(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
      .select(col("query_id"), col(idCol), col("cosine"))
    // same TopKPerGroup tail as bruteForceTopK — the kNN graph over N
    // vectors scores N^2 pairs, but ships only k x partitions per vector
    rankTopPerGroup(scored, "query_id", idCol, "cosine", k)
  }

  /** MUTUAL-kNN pairs from ANY ranked neighbor frame — the symmetrized
    * edge set SNN clustering and high-precision semantic dedup are built
    * on: (a, b) survives only if b is in a's top-k AND a is in b's (the
    * asymmetric hub problem — one popular vector in everyone's list —
    * disappears, because the hub's own list is still only k long).
    * Ranking-agnostic: feed [[selfTopK]], [[ivfPqSearch]],
    * [[VectorIndex.searchIndex]] or BM25 output. One keyed self-join on
    * the swapped pair, ≤ n·k rows a side, orientation deduped to a < b.
    * Output: (id_a, id_b, rank_ab, rank_ba) with id_a < id_b.
    */
  def mutualPairs(ranked: DataFrame, queryIdCol: String = "query_id",
      idCol: String = "vec_id", rankCol: String = "rank"): DataFrame = {
    val a = ranked.select(col(queryIdCol).as("id_a"), col(idCol).as("id_b"),
        col(rankCol).as("rank_ab"))
      .filter(col("id_a") =!= col("id_b"))
    val b = ranked.select(col(idCol).as("id_a"), col(queryIdCol).as("id_b"),
        col(rankCol).as("rank_ba"))
      .filter(col("id_a") =!= col("id_b"))
    a.join(b, Seq("id_a", "id_b"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("rank_ab"), col("rank_ba"))
  }

  /** HARD-NEGATIVE selection from any ranking frame — the contrastive /
    * retrieval-training sampler: the top results a retriever scored HIGH
    * but that are NOT labeled positives make the best training negatives.
    * Works over any (query, id, rank) frame ([[bruteForceTopK]],
    * [[ivfPqSearch]], BM25, RRF-fused) — anti-join the positives, then
    * re-rank the survivors per query and keep the top k. Both inputs are
    * <= |queries|·k' rows, so the anti-join and the per-query window cost
    * O(queries·k') — the corpus is never touched here; run the retriever
    * with k' >= k + max positives per query so the pool survives the
    * anti-join.
    */
  def hardNegatives(ranked: DataFrame, positives: DataFrame, k: Int,
      queryIdCol: String = "query_id", idCol: String = "vec_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"hardNegatives: k must be >= 1, got $k")
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col(rankCol))
    ranked.join(positives.select(col(queryIdCol), col(idCol)),
        Seq(queryIdCol, idCol), "left_anti")
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
  }

  /** recall@k — the standard ANN quality metric, as a first-class
    * distributed evaluation: for each query, the fraction of the EXACT
    * top-k (e.g. [[bruteForceTopK]] on a held-out slice) that the
    * approximate index ([[ivfTopK]], [[lshTopK]], [[VectorIndex]]) also
    * returned. This is how an index's (nprobe, numPlanes, centroids)
    * knobs get tuned before committing a 100 TB build.
    *
    * Scale shape: one (query, id)-keyed semi-join + one keyed count — no
    * product, no window; both inputs are already <= |queries| x k rows.
    * Deterministic as long as both rankings are (they are: cosine rounded
    * to 6 decimals, ties on ascending id). Output:
    * (queryIdCol, n_hits, recall), one row per query present in `exact`
    * (recall 0 when the approximate path returned nothing for a query).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int,
      queryIdCol: String = "query_id", idCol: String = "vec_id"): DataFrame = {
    require(k >= 1, s"recallAtK: k must be >= 1, got $k")
    val a = approx.select(col(queryIdCol), col(idCol))
    val e = exact.select(col(queryIdCol), col(idCol))
    val hits = e.join(a, Seq(queryIdCol, idCol), "left_semi")
      .groupBy(col(queryIdCol)).agg(count(lit(1)).as("n_hits"))
    e.select(col(queryIdCol)).distinct()
      .join(hits, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        TextAnalysis.round6(
          coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble)).as("recall"))
  }

  /** nDCG@k — GRADED ranking quality (Järvelin/Kekäläinen 2002), the
    * retrieval-eval companion to [[recallAtK]]'s set overlap: position r
    * contributes gain (2^rel − 1)/log2(r + 1), normalized by the IDEAL
    * ordering's DCG so 1.0 = perfect. Engine-exact like [[rrfFuse]]:
    * each position's term snaps to the 1e-6 grid and the per-query sums
    * run in exact decimal, so partial-agg order can't move the result.
    *
    * Scale shape: the ranked frame is already ≤ queries × k rows; the
    * relevance join is (query, id)-keyed; the ideal DCG ranks each
    * query's RELEVANT set with a keyed window (cost = relevant rows per
    * query, never the corpus). Missing relevance = gain 0. Output:
    * (queryIdCol, dcg, idcg, ndcg) per query in `ranked`; ndcg NULL when
    * the query has no relevant documents (idcg 0).
    */
  def ndcgAtK(ranked: DataFrame, relevance: DataFrame, k: Int,
      queryIdCol: String = "query_id", idCol: String = "vec_id",
      rankCol: String = "rank", relCol: String = "rel"): DataFrame = {
    require(k >= 1, s"ndcgAtK: k must be >= 1, got $k")
    def gainTerm(rel: Column, pos: Column) =
      TextAnalysis.round6(
        (pow(lit(2.0), rel) - 1.0) / log2(pos.cast("double") + 1.0))
    val rel = relevance.select(col(queryIdCol), col(idCol),
      col(relCol).cast("double").as("__rel"))
    val dcg = ranked.filter(col(rankCol) <= k)
      .select(col(queryIdCol), col(idCol), col(rankCol))
      .join(rel, Seq(queryIdCol, idCol), "left")
      .groupBy(col(queryIdCol))
      .agg(sum(gainTerm(coalesce(col("__rel"), lit(0.0)), col(rankCol))
        .cast("decimal(28,6)")).cast("double").as("dcg"))
    val wI = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__rel").desc, col(idCol))
    val idcg = rel.filter(col("__rel") > 0)
      .withColumn("__ir", row_number().over(wI))
      .filter(col("__ir") <= k)
      .groupBy(col(queryIdCol))
      .agg(sum(gainTerm(col("__rel"), col("__ir"))
        .cast("decimal(28,6)")).cast("double").as("idcg"))
    dcg.join(idcg, Seq(queryIdCol), "left")
      .select(col(queryIdCol), col("dcg"),
        coalesce(col("idcg"), lit(0.0)).as("idcg"),
        when(coalesce(col("idcg"), lit(0.0)) > 0,
          TextAnalysis.round6(col("dcg") / col("idcg"))).as("ndcg"))
  }

  /** MRR@k — mean-reciprocal-rank's per-query half: 1/rank of the FIRST
    * relevant result inside the top k, 0 when none is. The navigational
    * retrieval metric ([[ndcgAtK]] grades the whole list; this grades
    * time-to-first-hit). One (query, id)-keyed join + one keyed min —
    * both inputs ≤ queries × k rows. Output: (queryIdCol,
    * first_rel_rank nullable, rr 6-dec snapped) per query in `ranked`.
    */
  def mrrAtK(ranked: DataFrame, relevance: DataFrame, k: Int,
      queryIdCol: String = "query_id", idCol: String = "vec_id",
      rankCol: String = "rank", relCol: String = "rel"): DataFrame = {
    require(k >= 1, s"mrrAtK: k must be >= 1, got $k")
    val rel = relevance.filter(col(relCol) > 0)
      .select(col(queryIdCol), col(idCol))
    val first = ranked.filter(col(rankCol) <= k)
      .select(col(queryIdCol), col(idCol), col(rankCol))
      .join(rel, Seq(queryIdCol, idCol), "left_semi")
      .groupBy(col(queryIdCol))
      .agg(min(col(rankCol)).as("first_rel_rank"))
    ranked.select(col(queryIdCol)).distinct()
      .join(first, Seq(queryIdCol), "left")
      .select(col(queryIdCol), col("first_rel_rank"),
        coalesce(TextAnalysis.round6(
          lit(1.0) / col("first_rel_rank")), lit(0.0)).as("rr"))
  }

  /** AVERAGE PRECISION @k per query (the area-under-PR summary the MAP
    * of "mean average precision" averages; trec_eval lineage) — the
    * missing member of the eval battery next to [[recallAtK]] (set
    * overlap), [[ndcgAtK]] (graded positions) and [[mrrAtK]] (first
    * hit): AP rewards packing ALL relevant documents early,
    *
    *   AP@k = (Σ_{r ≤ k, doc_r relevant} cumRel(r) / r) / min(R, k)
    *
    * with R the query's total relevant count (min(R, k) so a perfect
    * top-k scores 1.0 even when R > k). Binary relevance (`relCol` > 0).
    * Precision terms snap to the 1e-6 grid and sum in exact decimal.
    *
    * Scale shape: one (query, id)-keyed semi-join of the ≤ queries×k
    * ranked frame against the relevance set, one keyed window over the
    * HITS (≤ k rows per query), two keyed aggregations. Queries with no
    * relevant documents report NULL ap (undefined, matching
    * [[ndcgAtK]]'s idcg-0 convention); R > 0 with zero hits reports 0.
    * Output: (queryIdCol, n_rel, ap) for every query in `ranked`.
    */
  def mapAtK(ranked: DataFrame, relevance: DataFrame, k: Int,
      queryIdCol: String = "query_id", idCol: String = "vec_id",
      rankCol: String = "rank", relCol: String = "rel"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"mapAtK: k must be >= 1, got $k")
    val rel = relevance.filter(col(relCol) > 0)
      .select(col(queryIdCol), col(idCol))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col(rankCol))
    val terms = ranked.filter(col(rankCol) <= k)
      .select(col(queryIdCol), col(idCol), col(rankCol))
      .join(rel, Seq(queryIdCol, idCol), "left_semi")
      .withColumn("__cum", row_number().over(w))
      .select(col(queryIdCol), TextAnalysis.round6(
        col("__cum").cast("double") / col(rankCol)).as("__t"))
      .groupBy(col(queryIdCol))
      .agg(sum(col("__t").cast("decimal(28,6)")).cast("double").as("__s"))
    val nRel = rel.groupBy(col(queryIdCol)).agg(count(lit(1)).as("n_rel"))
    ranked.select(col(queryIdCol)).distinct()
      .join(nRel, Seq(queryIdCol), "left")
      .join(terms, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        when(coalesce(col("n_rel"), lit(0L)) > 0, TextAnalysis.round6(
          coalesce(col("__s"), lit(0.0)) /
            least(col("n_rel"), lit(k.toLong)))).as("ap"))
  }

  /** Truncated RANK-BIASED OVERLAP (Webber/Moffat/Zobel 2010) — "how
    * similar are two rankings", top-weighted: RBO@k = (1-p) Σ_{i≤k}
    * p^(i-1) · |A_i ∩ B_i| / i, where A_i/B_i are the depth-i prefixes.
    * The index-tuning companion to [[recallAtK]]: recall ignores order
    * inside the top-k; RBO pays more for agreeing early. p sets how
    * top-heavy (0.9 ≈ the canonical "first ~10 ranks carry the weight").
    *
    * The depth sum collapses to ONE term per COMMON document: a doc at
    * ranks (ra, rb) is inside both prefixes for every depth i ≥
    * max(ra,rb), so its total weight is S(max(ra,rb)) with S(m) =
    * Σ_{i=m..k} p^(i-1)/i — k literals PRECOMPUTED on the driver (this
    * is O(k) arithmetic on constants, not data work), each snapped to
    * the 1e-6 grid; the data-side cost is one (query, id)-keyed join of
    * two ≤ queries×k frames and one exact-decimal keyed sum. Queries in
    * `a` with no common documents score 0. Output: (queryIdCol,
    * n_common, rbo 6-dec snapped ∈ [0, ~1)).
    */
  def rboTruncated(a: DataFrame, b: DataFrame, k: Int, p: Double = 0.9,
      queryIdCol: String = "query_id", idCol: String = "vec_id",
      rankCol: String = "rank"): DataFrame = {
    require(k >= 1, s"rboTruncated: k must be >= 1, got $k")
    require(p > 0 && p < 1, s"rboTruncated: p must be in (0,1), got $p")
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // S(m) = sum_{i=m..k} p^(i-1)/i, snapped; S(k+1) = 0
    val suffix = (1 to k).scanRight(0.0) { (i, acc) =>
      acc + math.pow(p, i - 1) / i
    }.map(r6)
    val weight = (1 to k).foldLeft(lit(0.0)) { (acc, m) =>
      when(greatest(col("__ra"), col("__rb")) === m, lit(suffix(m - 1)))
        .otherwise(acc)
    }
    val ra = a.filter(col(rankCol) <= k)
      .select(col(queryIdCol), col(idCol), col(rankCol).as("__ra"))
    val rb = b.filter(col(rankCol) <= k)
      .select(col(queryIdCol), col(idCol), col(rankCol).as("__rb"))
    val common = ra.join(rb, Seq(queryIdCol, idCol))
      .groupBy(col(queryIdCol))
      .agg(count(lit(1)).as("n_common"),
        sum(weight.cast("decimal(28,6)")).cast("double").as("__w"))
    a.select(col(queryIdCol)).distinct()
      .join(common, Seq(queryIdCol), "left")
      .select(col(queryIdCol),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        TextAnalysis.round6(
          lit(1.0 - p) * coalesce(col("__w"), lit(0.0))).as("rbo"))
  }

  /** Reciprocal-rank FUSION (Cormack/Clarke/Buettcher 2009): fuse any
    * number of per-query rankings into one — fused(d) = Σ_r 1/(k0 +
    * rank_r(d)) — the standard way hybrid search combines a lexical
    * ranking ([[graft.pipeline.TextIndex.bm25Rank]]) with a vector one
    * ([[ivfTopK]]/[[lshTopK]]/[[bruteForceTopK]]) without calibrating
    * their incomparable scores. Rank-based, so it needs only each
    * ranker's (query, id, rank) rows — at most |queries| x k per ranker:
    * a union + one keyed aggregation + a per-query top-k window over
    * <= rankers x k rows per query. Terms snap to the 1e-6 grid and sum
    * in exact decimal; ties break on id. Output: (queryIdCol, idCol,
    * rrf_score, n_rankers, rank <= k).
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, k0: Int = 60,
      queryIdCol: String = "query_id", idCol: String = "vec_id",
      rankCol: String = "rank"): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k >= 1 && k0 >= 0, s"rrfFuse: bad k=$k / k0=$k0")
    val terms = rankings.map(_.select(col(queryIdCol), col(idCol),
      TextAnalysis.round6(lit(1.0) / (col(rankCol) + k0)).as("__t")))
    val scored = terms.reduce(_.unionAll(_))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__t").cast("decimal(28,6)")).cast("double").as("rrf_score"),
        count(lit(1)).as("n_rankers"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("rrf_score").desc, col(idCol))
    scored.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
  }

  /** MAXIMAL MARGINAL RELEVANCE diversified re-rank (Carbonell/Goldstein
    * 1998) — the selection stage that keeps a retrieved context set from
    * being k copies of the same passage: greedily pick, per query,
    * argmax over remaining candidates of
    * `λ·rel − (1−λ)·max_{p ∈ picked} sim(c, p)`. λ=1 is plain relevance
    * ranking; λ→0 maximizes diversity. Runs over any bounded per-query
    * SHORTLIST ([[bruteForceTopK]], [[ivfPqSearch]], BM25, RRF-fused —
    * the two-stage q233 pattern: cheap recall first, this re-ranks).
    *
    * Scale shape: k driver-side rounds, each ONE keyed join + per-query
    * struct-min argmax (the Lloyd-iteration cadence — each round is
    * materialized so lineage stays linear, not 2^k; internal caches are
    * CacheScope-released after the caller's first action). Per round a
    * query costs |shortlist|·|picked| snapped cosines — never the corpus.
    * Determinism: rel is snapped on entry; each pairwise sim snaps before
    * the max; the marginal snaps before the argmax; ties break on id.
    * Output: (queryCol, idCol, rank ∈ 1..k, score = the winning marginal);
    * a query with fewer than k candidates yields fewer rows.
    */
  def mmrSelect(candidates: DataFrame, k: Int, lambda: Double,
      queryCol: String = "query_id", idCol: String = "vec_id",
      relCol: String = "rel", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"mmrSelect: k must be >= 1, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"mmrSelect: lambda must be in [0, 1], got $lambda")
    val cand = candidates.select(col(queryCol), col(idCol),
        TextAnalysis.round6(col(relCol).cast("double")).as("__rel"),
        col(vecCol).cast("array<double>").as("__v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame](cand)
    var picked: DataFrame = null // (queryCol, idCol, __v, rank, score)
    for (step <- 1 to k) {
      val rem =
        if (picked == null) cand
        else cand.join(picked.select(col(queryCol), col(idCol)),
          Seq(queryCol, idCol), "left_anti")
      val scored =
        if (picked == null) rem.withColumn("__ms", lit(0.0))
        else {
          val p = picked.select(col(queryCol), col("__v").as("__pv"))
          val ms = rem.select(col(queryCol), col(idCol), col("__v"))
            .join(p, Seq(queryCol))
            .select(col(queryCol), col(idCol),
              TextAnalysis.round6(cosineCol(col("__v"), col("__pv"))).as("__s"))
            .groupBy(col(queryCol), col(idCol))
            .agg(max(col("__s")).as("__ms"))
          rem.join(ms, Seq(queryCol, idCol))
        }
      val pick = scored
        .withColumn("__m", TextAnalysis.round6(
          lit(lambda) * col("__rel") - lit(1.0 - lambda) * col("__ms")))
        .groupBy(col(queryCol))
        .agg(min(struct((-col("__m")).as("nm"), col(idCol).as("id"),
          col("__v").as("v"), col("__m").as("m"))).as("__best"))
        .select(col(queryCol), col("__best")("id").as(idCol),
          col("__best")("v").as("__v"), lit(step).as("rank"),
          col("__best")("m").as("score"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pick.count() // materialize the round: linear lineage, like kmeansTrain
      cached += pick
      picked = if (picked == null) pick else picked.unionByName(pick)
    }
    val out = picked.select(col(queryCol), col(idCol), col("rank"), col("score"))
    CacheScope.releaseAfterFirstUse(out, cached.toSeq)
    out
  }

  /** Deterministic pseudo-random hyperplane component: md5-seeded value in
    * [-0.5, 0.5) for (plane, dimension). Computed ON THE DRIVER — the weights
    * are row-independent constants, so hashing them per input row (the naive
    * expression form) would cost planes x dims md5 calls per row for values
    * that never change. All steps are IEEE-exact and identical to the SQL
    * `CAST('0x'||substr(md5(...),1,6) AS BIGINT)/16777216.0 - 0.5`: a 24-bit
    * integer and a power-of-two divisor have exact double representations.
    */
  private[pipeline] def planeWeight(plane: Int, dim: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"plane$plane:$dim".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 6), 16).toDouble / 16777216.0 - 0.5
  }

  /** Widest plane matrix [[lshBucket]] will generate — covers real corpus
    * embedding widths (256-1024). Wider vectors need a wider matrix, so the
    * bucketer REFUSES them loudly instead of degenerating.
    */
  private[graft] val MaxDims = 1024

  /** Sign-bit bucket id from `numPlanes` hyperplanes, plane indices starting
    * at `planeOffset` (for banded amplification). The plane matrix is baked
    * into the plan as array literals of width `dims`; the projection is a
    * pure zip_with-sum inside whole-stage codegen (weights are sliced to the
    * row's length, so mixed-length inputs up to `dims` work).
    *
    * A vector WIDER than `dims` raises at run time. Silently accepting it
    * would null-pad the weight side of the zip_with, null the projection,
    * zero every sign bit, and put ALL wide vectors in one bucket — correct
    * output, quadratic bucket join: the worst possible failure mode at
    * scale. Narrow `dims` below the [[MaxDims]] default only to slim the
    * plan for known-narrow embeddings.
    */
  def lshBucket(vecCol: Column, numPlanes: Int,
      planeOffset: Int = 0, dims: Int = MaxDims): Column = {
    require(dims >= 1 && dims <= MaxDims,
      s"lshBucket: dims must be in [1, $MaxDims], got $dims")
    require(numPlanes >= 1 && numPlanes <= 30,
      s"lshBucket: numPlanes must be in [1, 30], got $numPlanes")
    val v0 = vecCol.cast("array<double>")
    val v = when(size(v0) <= lit(dims), v0).otherwise(raise_error(format_string(
      s"lshBucket: vector has %d dims but the plane matrix is $dims wide; " +
        s"pass dims= explicitly (max $MaxDims)", size(v0))))
    val bits = (0 until numPlanes).map { p =>
      val w = typedlit((0 until dims).map(i => planeWeight(planeOffset + p, i)))
      val proj = dot(v, slice(w, lit(1), size(v)))
      when(proj >= 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }

  /** RANDOM PROJECTION (Johnson-Lindenstrauss) dimensionality reduction —
    * the cheap pre-step before clustering / LSH / brute-force eval when
    * the embedding width itself is the cost: k pseudo-random hyperplane
    * projections preserve pairwise distances within (1±ε) for
    * k = O(ln n / ε²), and unlike PCA need no training pass. Reuses
    * [[planeWeight]]'s md5-seeded deterministic plane matrix (driver-
    * computed literals — the same engine-exact [-0.5, 0.5) weights the
    * LSH buckets sign), so any engine reproduces the projection
    * bit-for-bit; each output coordinate is one index-order fold, snapped.
    * A stateless codegen projection — no shuffle, no model state.
    * Output: (idCol, dim ∈ 0..outDims-1, value) long-form — the shape
    * the oracle compare and downstream pivots both want.
    */
  def randomProject(corpus: DataFrame, outDims: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      planeOffset: Int = 0, dims: Int = MaxDims): DataFrame = {
    require(outDims >= 1 && outDims <= 256,
      s"randomProject: outDims must be in [1, 256], got $outDims")
    val v0 = col(vecCol).cast("array<double>")
    val v = when(size(v0) <= lit(dims), v0).otherwise(raise_error(format_string(
      s"randomProject: vector has %d dims but the plane matrix is $dims " +
        s"wide; pass dims= explicitly (max $MaxDims)", size(v0))))
    val coords = (0 until outDims).map { p =>
      val w = typedlit((0 until dims).map(i => planeWeight(planeOffset + p, i)))
      struct(lit(p).as("dim"),
        TextAnalysis.round6(dot(v, slice(w, lit(1), size(v)))).as("value"))
    }
    corpus.select(col(idCol), explode(array(coords: _*)).as("__c"))
      .select(col(idCol), col("__c")("dim").as("dim"),
        col("__c")("value").as("value"))
  }

  /** LSH-bucketed ANN: candidates = same bucket; exact cosine + top-k inside
    * the bucket. Trades recall for a bucket-local join — the 100 TB path
    * (the corpus shuffle is by bucket id, queries broadcast per bucket).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, numPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", dims: Int = MaxDims): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__bucket", lshBucket(col("__cv"), numPlanes, dims = dims))
      .withColumn("__cn", norm2(col("__cv")))
    val q = queries.select(col(queryIdCol), col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__bucket", lshBucket(col("__qv"), numPlanes, dims = dims))
      .withColumn("__qn", norm2(col("__qv")))
    val scored = q.join(c, Seq("__bucket"))
      .filter(sameWidth(col("__qv"), col("__cv"), "lshTopK"))
      .withColumn("cosine", TextAnalysis.round6(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("cosine").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("cosine"), col("rank"))
  }

  /** LINEAR (convex-combination) score fusion — the calibrated twin of
    * [[rrfFuse]]: per query, min-max normalize each ranker's scores over
    * its OWN shortlist, then fuse `α·normA + (1−α)·normB` and re-rank.
    * Use when the two score scales are trustworthy enough to interpolate
    * (RRF ignores scores entirely; linear fusion preserves "how much
    * better" #1 was). Docs present in only one shortlist take 0 from the
    * missing side; a constant-score shortlist normalizes to 1.0 (its only
    * information is membership). All normalized and fused values snap to
    * the 1e-6 grid; ties break on id.
    * Shape: two per-query min/max aggs + one keyed full-outer join +
    * a per-query top-k window over ≤ |shortlistA|+|shortlistB| rows.
    * Output: (queryIdCol, idCol, fused, rank ∈ 1..k).
    */
  def linearFuse(a: DataFrame, b: DataFrame, k: Int, alpha: Double = 0.5,
      queryIdCol: String = "query_id", idCol: String = "vec_id",
      scoreCol: String = "score"): DataFrame = {
    require(k >= 1, s"linearFuse: k must be >= 1, got $k")
    require(alpha >= 0.0 && alpha <= 1.0,
      s"linearFuse: alpha must be in [0, 1], got $alpha")
    def normalize(r: DataFrame, out: String): DataFrame = {
      val s = col(scoreCol).cast("double")
      val st = r.groupBy(col(queryIdCol))
        .agg(min(s).as("__lo"), max(s).as("__hi"))
      r.join(st, Seq(queryIdCol))
        .select(col(queryIdCol), col(idCol),
          when(col("__hi") > col("__lo"),
            TextAnalysis.round6((s - col("__lo")) / (col("__hi") - col("__lo"))))
            .otherwise(lit(1.0)).as(out))
    }
    val na = normalize(a, "__na")
    val nb = normalize(b, "__nb")
    val fused = na.join(nb, Seq(queryIdCol, idCol), "full_outer")
      .select(col(queryIdCol), col(idCol),
        TextAnalysis.round6(lit(alpha) * coalesce(col("__na"), lit(0.0)) +
          lit(1.0 - alpha) * coalesce(col("__nb"), lit(0.0))).as("fused"))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("fused").desc, col(idCol))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** MULTI-PROBE LSH ANN (Lv et al. 2007): like [[lshTopK]] but each query
    * also probes the `numPlanes` buckets at Hamming distance 1 from its
    * own — the recall knob that does NOT cost another hash table or a
    * bigger corpus shuffle. A vector near a hyperplane lands on either
    * side with a coin-flip; flipping one sign bit reaches exactly those
    * near-miss buckets. Only the QUERY side fans out (×(numPlanes+1) —
    * queries are the small side by construction); the corpus keeps one
    * bucket per row and the candidate gate stays a plain equi-join. The
    * probe buckets are all distinct, so a (query, candidate) pair meets
    * at most once — no post-join dedup.
    * Output: (query_id, idCol, cosine, rank ∈ 1..k).
    */
  def lshMultiProbeTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      numPlanes: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      dims: Int = MaxDims): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__bucket", lshBucket(col("__cv"), numPlanes, dims = dims))
      .withColumn("__cn", norm2(col("__cv")))
    val q = queries.select(col(queryIdCol),
        col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__b0", lshBucket(col("__qv"), numPlanes, dims = dims))
      .withColumn("__qn", norm2(col("__qv")))
      .withColumn("__bucket", explode(array(
        (0 until numPlanes).map(i => col("__b0").bitwiseXOR(lit(1 << i))) :+
          col("__b0"): _*)))
    val scored = q.join(c, Seq("__bucket"))
      .filter(sameWidth(col("__qv"), col("__cv"), "lshMultiProbeTopK"))
      .withColumn("cosine", TextAnalysis.round6(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("cosine"), col("rank"))
  }

  /** IVF-style coarse quantization: assign each vector to the nearest of
    * `centroids` (a small (centroid_id, embedding) table, collected on the
    * driver) in one [[IvfKernel]] projection, ties to the lower id; ANN
    * probes only the closest cells. Output: (idCol, centroidIdCol, dist2),
    * one row per corpus row, with the raw squared distance.
    */
  def ivfAssign(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val t = IvfKernel.idType(centroids, centroidIdCol, "ivfAssign")
    IvfKernel.project(corpus, Seq(col(idCol)), "assign", IvfKernel.AssignType, vecCol,
        IvfKernel.centroids(centroids, centroidIdCol, vecCol))
      .select(col(idCol), col("__k.cell").cast(t).as(centroidIdCol),
        col("__k.dist2").as("dist2"))
  }

  /** SIMPLIFIED SILHOUETTE (Hruschka et al. 2004) — the clustering-quality
    * score for a centroid model ([[kmeansTrain]], [[ivfAssign]]'s cells):
    * per point, a = distance to its nearest centroid, b = to the
    * second-nearest, s = (b − a) / max(a, b) ∈ [0, 1]; near-0 means a cell
    * boundary (bad k), near-1 tight cells. The centroid-model estimator of
    * the full (quadratic) silhouette.
    *
    * Scale shape: centroids are collected to a driver literal (k × dims
    * doubles), so the per-point computation is ONE stateless projection
    * (no join, no corpus × k shuffle), then one keyed per-cluster
    * aggregation. Distances fold left to right, per-point s snaps to the
    * 1e-6 grid, cluster means are exact DECIMAL sums with one final
    * snapped division.
    * Output: (cluster_id, n, mean_sil), one row per non-empty cell.
    */
  def simplifiedSilhouette(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val cents = centroids
      .select(col(centroidIdCol).cast("long"), col(vecCol).cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    require(cents.size >= 2,
      s"simplifiedSilhouette: need >= 2 centroids, got ${cents.size}")
    val dim = cents.head._2.size
    require(cents.forall(_._2.size == dim),
      "simplifiedSilhouette: centroid width mismatch")
    val centArr = array(cents.map { case (cid, v) =>
      struct(typedLit(v).as("vec"), lit(cid).as("cid"))
    }: _*)
    // (d, cid) struct sort = the (dist, id) tiebreak every ranked mirror uses
    val ds = sort_array(transform(centArr, c =>
      struct(sqrt(dist2Fold(col("__v"), c("vec"))).as("d"), c("cid").as("cid"))))
    val perPoint = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .filter(sameWidth(col("__v"), typedLit(cents.head._2), "simplifiedSilhouette"))
      .withColumn("__ds", ds)
      .select(col(idCol),
        col("__ds")(0)("cid").as("cluster_id"),
        col("__ds")(0)("d").as("__a"),
        col("__ds")(1)("d").as("__b"))
    val sil = perPoint.withColumn("__s",
      when(greatest(col("__a"), col("__b")) > 0,
        TextAnalysis.round6(
          (col("__b") - col("__a")) / greatest(col("__a"), col("__b"))))
        .otherwise(lit(0.0)))
    sil.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"),
        TextAnalysis.round6(
          sum(col("__s").cast("decimal(28,6)")).cast("double") / count(lit(1)))
          .as("mean_sil"))
  }

  /** Lloyd's k-means over the embedding column — trains the coarse
    * quantizer [[ivfAssign]]/[[ivfTopK]] probe (the reference's ANN story
    * stops at brute force; a 100 TB corpus needs a trained IVF index).
    *
    * Scale design: the k x dims centroids are driver-resident; the corpus
    * never leaves executors. Each iteration is one broadcast nearest-cell
    * assign (struct-min aggregate, no window) plus one per-dimension mean
    * (partial-aggregating groupBy). Deterministic on any engine: distances
    * and centroid components are rounded to 6 decimals at every step and
    * all cross-row sums run in exact DECIMAL(28,6).
    *
    * Returns the final assignment summary `(centroid_id, n_members,
    * inertia)` where inertia = exact sum of the rounded member distances.
    * Clusters that lose all members drop out (both their mean and their
    * output row), mirroring the standard Lloyd behavior.
    */
  def kmeansTrain(corpus: DataFrame, initCentroids: DataFrame, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    require(iters >= 1, s"kmeansTrain: iters must be >= 1, got $iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    // nearest-centroid assignment against the CURRENT centroid table:
    // (vec_id, centroid_id, d2) with d2 pre-rounded so the argmin tiebreak
    // (centroid_id) is engine-independent even at near-ties
    def assign(cent: DataFrame): DataFrame = {
      val dist2 = dist2Fold(col("__v"), col("__c"))
      c.crossJoin(broadcast(cent))
        .filter(sameWidth(col("__v"), col("__c"), "kmeansTrain"))
        .withColumn("__d", TextAnalysis.round6(dist2))
        .groupBy(col(idCol))
        .agg(min(struct(col("__d"), col(centroidIdCol))).as("__best"))
        .select(col(idCol), col("__best")(centroidIdCol).as(centroidIdCol),
          col("__best")("__d").as("__d"))
    }

    var cent = initCentroids
      .select(col(centroidIdCol).cast("long").as(centroidIdCol),
        transform(col(vecCol).cast("array<double>"), x => TextAnalysis.round6(x)).as("__c"))
    var lastAssign: DataFrame = null
    for (it <- 0 until iters) {
      lastAssign = assign(cent)
      if (it < iters - 1)
        cent = collectMeans(lastAssign, c, idCol, centroidIdCol)
          .toDF(centroidIdCol, "__c")
    }
    lastAssign.groupBy(col(centroidIdCol))
      .agg(count(lit(1)).as("n_members"),
        sum(col("__d").cast("decimal(28,6)")).cast("double").as("inertia"))
  }

  /** Per-dimension cluster means in exact decimal arithmetic, re-rounded
    * to the 6-decimal grid, collected to the driver (k x dims rows — the
    * one legitimate collect; centroids ARE the model).
    */
  private def collectMeans(assign: DataFrame, c: DataFrame, idCol: String,
      centroidIdCol: String): Seq[(Long, Seq[Double])] =
    assign.select(col(idCol), col(centroidIdCol))
      .join(c, idCol)
      .select(col(centroidIdCol), posexplode(col("__v")).as(Seq("__i", "__x")))
      .groupBy(col(centroidIdCol), col("__i"))
      .agg((sum(TextAnalysis.round6(col("__x")).cast("decimal(28,6)"))
        .cast("double") / count(lit(1))).as("__m"))
      .select(col(centroidIdCol), col("__i"), TextAnalysis.round6(col("__m")).as("__m"))
      .collect()
      .groupBy(_.getLong(0)).map { case (cid, rows) =>
        (cid, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }.toSeq.sortBy(_._1)

  /** Product-quantization ENCODE: each vector's m `subDim`-wide subvectors
    * to their nearest codebook entries — the compression step of PQ-based
    * ANN (a 64-dim float vector becomes m bytes). `codebooks` is the small
    * trained table (sub, code_id, subvec), collected on the driver; a
    * vector's m codes are one [[IvfKernel]] call. Distances are
    * 6-decimal-rounded before the argmin, ties to the lower code_id; a
    * codebook without entries for a sub in `0 until m` is refused.
    * Output: (id, sub, code_id, dist2), one row per subspace.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, m: Int, subDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val t = IvfKernel.idType(codebooks, "code_id", "pqEncode")
    IvfKernel.project(corpus, Seq(col(idCol)), "encode", IvfKernel.EncodeType, vecCol,
        IvfKernel.codebook(codebooks, m, subDim))
      // _outer: the array is never empty, and posexplode would infer a
      // `size(__k) > 0` filter that runs the kernel twice
      .select(col(idCol), posexplode_outer(col("__k")).as(Seq("sub", "__e")))
      .select(col(idCol), col("sub"), col("__e.code_id").cast(t).as("code_id"),
        col("__e.dist2").as("dist2"))
  }

  /** Product-quantization TRAIN: Lloyd over every subspace AT ONCE.
    * Returns the codebook table [[pqEncode]] consumes:
    * (sub, code_id, subvec), m * k rows of final-assignment cluster means
    * on the 6-decimal grid. ONE PLAN PER LLOYD ITERATION, independent of
    * m: the corpus explodes once to (id, sub, subvec) rows; each iteration
    * is one broadcast nearest-code assign (struct-min aggregate keyed by
    * (id, sub)) feeding one per-(sub, code, dim) mean aggregation, whose
    * means collect to the driver and rebroadcast. `sampleFraction` < 1
    * trains on a deterministic [[Sampling.hashSample]] draw (salted md5 of
    * `idCol`). The training set is persisted for the run, so the source is
    * scanned once. Arithmetic follows [[kmeansTrain]]'s determinism
    * contract, ties on code_id.
    */
  def pqTrain(corpus: DataFrame, initCodebooks: DataFrame, m: Int, subDim: Int,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding", sampleFraction: Double = 1.0,
      sampleSalt: String = "pq"): DataFrame = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"pqTrain: sampleFraction must be in (0, 1], got $sampleFraction")
    require(iters >= 1, s"pqTrain: iters must be >= 1, got $iters")
    val spark = corpus.sparkSession
    import spark.implicits._
    val base0 = corpus.select(col(idCol), col(vecCol).cast("array<double>").as(vecCol))
    val base =
      (if (sampleFraction < 1.0) Sampling.hashSample(base0, idCol, sampleFraction, sampleSalt)
       else base0).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one explode: every subspace of every sampled vector as a row
      val slices = transform(sequence(lit(0), lit(m - 1)),
        s => slice(col(vecCol), s * subDim + 1, lit(subDim)))
      val subRows = base.select(col(idCol), posexplode(slices).as(Seq("sub", "__sv")))

      // (id, sub) -> nearest code of the CURRENT codebooks, carrying the
      // row's own subvector for the means step (constant per group, so it
      // rides the struct-min without affecting the (d, code_id) order)
      def assign(cent: DataFrame): DataFrame = {
        val dist2 = dist2Fold(col("__sv"), col("__cv"))
        subRows.join(broadcast(cent), Seq("sub"))
          .filter(sameWidth(col("__sv"), col("__cv"), "pqTrain"))
          .withColumn("__d", TextAnalysis.round6(dist2))
          .groupBy(col(idCol), col("sub"))
          .agg(min(struct(col("__d"), col("code_id"), col("__sv"))).as("__best"))
          .select(col("sub"), col("__best")("code_id").as("code_id"),
            col("__best")("__sv").as("__sv"))
      }
      // exact-decimal per-dimension member means on the 6-decimal grid;
      // clusters that lose all members drop out (standard Lloyd)
      def meansOf(a: DataFrame): DataFrame =
        a.select(col("sub"), col("code_id"), posexplode(col("__sv")).as(Seq("__i", "__x")))
          .groupBy(col("sub"), col("code_id"), col("__i"))
          .agg((sum(TextAnalysis.round6(col("__x")).cast("decimal(28,6)"))
            .cast("double") / count(lit(1))).as("__m"))
          .select(col("sub"), col("code_id"), col("__i"),
            TextAnalysis.round6(col("__m")).as("__m"))
      // m*k*subDim mean rows -> driver-side codebook rows
      def collectCodebooks(means: DataFrame): Seq[(Int, Long, Seq[Double])] =
        means.collect()
          .groupBy(r => (r.getInt(0), r.getLong(1))).map { case ((s, cid), rows) =>
            (s, cid, rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
          }.toSeq.sortBy(t => (t._1, t._2))

      var cent = initCodebooks.select(col("sub").cast("int").as("sub"),
        col("code_id").cast("long").as("code_id"),
        transform(col("subvec").cast("array<double>"),
          x => TextAnalysis.round6(x)).as("__cv"))
      var out: Seq[(Int, Long, Seq[Double])] = null
      for (it <- 0 until iters) {
        out = collectCodebooks(meansOf(assign(cent)))
        if (it < iters - 1)
          cent = out.toDF("sub", "code_id", "__cv")
      }
      out.toDF("sub", "code_id", "subvec")
    } finally base.unpersist(blocking = false)
  }

  /** Product-quantization SEARCH via ADC (asymmetric distance
    * computation), after [[pqTrain]] and [[pqEncode]]: every vector is
    * scored through its m-code rows, never its raw vector ([[adcTopK]]).
    * Subspace distances are 6-decimal-rounded and summed in exact DECIMAL,
    * ties on corpus id. Output: (query_id, vec_id, adist, rank <= k).
    */
  def pqSearch(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      k: Int, m: Int, subDim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame =
    adcTopK(codes.select(col(idCol), col("sub"), col("code_id")), Seq("sub"),
      codebooks, queries, k, m, subDim, idCol, vecCol, queryIdCol, "pqSearch")

  /** The ADC scoring tail of [[pqSearch]] and [[ivfPqSearch]]: `rows`
    * (idCol, sub, code_id, plus queryIdCol when `qsubKeys` names it) are
    * joined to the query subvectors on `qsubKeys` and to the codebook on
    * (sub, code_id), scored, summed per (query, vector) and ranked.
    */
  private def adcTopK(rows: DataFrame, qsubKeys: Seq[String],
      codebooks: DataFrame, queries: DataFrame, k: Int, m: Int, subDim: Int,
      idCol: String, vecCol: String, queryIdCol: String, what: String): DataFrame = {
    val slices = transform(sequence(lit(0), lit(m - 1)),
      s => slice(col(vecCol).cast("array<double>"), s * subDim + 1, lit(subDim)))
    val qsub = queries.select(col(queryIdCol), posexplode(slices).as(Seq("sub", "__qv")))
    val cb = codebooks.select(col("sub"), col("code_id"),
      col("subvec").cast("array<double>").as("__cv"))
    val dist2 = dist2Fold(col("__qv"), col("__cv"))
    // INLINE ADC: broadcast the two small model sides (query subvectors:
    // queries x m rows; codebook: m x k rows) and evaluate round6(dist2)
    // per scored row, instead of a queries x m x k lookup table whose
    // broadcast grows with the query batch
    val scored = rows
      .join(broadcast(qsub), qsubKeys)
      .join(broadcast(cb), Seq("sub", "code_id"))
      .filter(sameWidth(col("__qv"), col("__cv"), what))
      .withColumn("__d", TextAnalysis.round6(dist2))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__d").cast("decimal(28,6)")).cast("double").as("adist"),
        count(lit(1)).as("__n"))
      // a vector with missing subspace codes must not win on a partial sum
      .filter(col("__n") === m).drop("__n")
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("adist"), col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("adist"), col("rank"))
  }

  /** The composed IVF + PQ query path, recomputed per query batch:
    * [[VectorIndex.buildIndex]] encodes every vector, a query probes its
    * `nprobe` nearest cells ([[probeCells]]) and scores only their members
    * with [[pqSearch]]'s join+aggregate ADC (independent of the at-rest
    * [[AdcKernel]]; VectorIndexSpec checks one against the other).
    * Output: (query_id, vec_id, adist, rank <= k).
    */
  def ivfPqSearch(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, k: Int, m: Int, subDim: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", centroidIdCol: String = "centroid_id"): DataFrame = {
    val cand = probeCells(queries, centroids, nprobe, "ivfPqSearch", vecCol,
        queryIdCol, centroidIdCol)
      .join(VectorIndex.buildIndex(corpus, centroids, codebooks, m, subDim,
        idCol, vecCol, centroidIdCol), Seq(centroidIdCol))
      // _outer: see pqEncode
      .select(col(queryIdCol), col(idCol),
        posexplode_outer(col("codes")).as(Seq("sub", "code_id")))
    adcTopK(cand, Seq(queryIdCol, "sub"), codebooks, queries, k, m, subDim,
      idCol, vecCol, queryIdCol, "ivfPqSearch")
  }

  /** (queryIdCol, __qv, centroidIdCol): each query's `nprobe` nearest cells,
    * queries x the broadcast centroids with each query's K-entry (distance,
    * id) list sorted in an aggregate; ties to the lower id.
    */
  private[pipeline] def probeCells(queries: DataFrame, centroids: DataFrame,
      nprobe: Int, op: String, vecCol: String, queryIdCol: String,
      centroidIdCol: String): DataFrame = {
    val cent = centroids.select(col(centroidIdCol), col(vecCol).cast("array<double>").as("__c"))
    queries.select(col(queryIdCol), col(vecCol).cast("array<double>").as("__qv"))
      .crossJoin(broadcast(cent))
      .filter(sameWidth(col("__qv"), col("__c"), op))
      .withColumn("__d", dist2Fold(col("__qv"), col("__c")))
      .groupBy(col(queryIdCol))
      .agg(first(col("__qv")).as("__qv"),
        slice(array_sort(collect_list(struct(col("__d"), col(centroidIdCol)))),
          1, nprobe).as("__cells"))
      .select(col(queryIdCol), col("__qv"), explode(col("__cells")).as("__cell"))
      .select(col(queryIdCol), col("__qv"), col(s"__cell.$centroidIdCol").as(centroidIdCol))
  }

  /** Distance-to-assigned-centroid outlier pruning — the embedding-space
    * quality gate a curation pipeline runs after clustering (vectors far
    * from every cluster center are junk/noise candidates): [[ivfAssign]],
    * then a threshold on the rounded squared distance. Output: every
    * vector with its cell, rounded dist2 and `is_outlier`.
    */
  def outlierFlags(corpus: DataFrame, centroids: DataFrame, maxDist2: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame =
    ivfAssign(corpus, centroids, idCol, vecCol, centroidIdCol)
      .select(col(idCol), col(centroidIdCol),
        TextAnalysis.round6(col("dist2")).as("dist2"))
      .withColumn("is_outlier", col("dist2") > maxDist2)

  /** Symmetric int8 scalar quantization of the embedding column — the
    * storage/bandwidth side of ANN at 100 TB (4x smaller vectors, exact
    * integer arithmetic downstream). One global (min, max) pass, then a
    * stateless per-row map: q = floor((v - min) * 255/(max - min) + 0.5) - 128.
    * The range row stays IN the plan (single-row broadcast join — no
    * driver round trip), so the op composes lazily like everything else.
    * Output: (id, qvec: array<int>, q_min_v, q_max_v) with the range
    * columns carried for dequantization.
    */
  def quantizeInt8(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
    val range = v.agg(min(array_min(col("__v"))).as("__mn"),
      max(array_max(col("__v"))).as("__mx"))
    v.crossJoin(broadcast(range))
      .select(col(idCol),
        transform(col("__v"), x =>
          // degenerate range (constant-valued corpus) maps to 0, not NaN
          when(col("__mx") === col("__mn"), lit(0))
            .otherwise((floor((x - col("__mn")) * (lit(255.0) / (col("__mx") - col("__mn"))) + 0.5))
              .cast("int") - 128)).as("qvec"),
        col("__mn").as("q_min_v"), col("__mx").as("q_max_v"))
  }

  /** SIGN-BIT BINARY QUANTIZATION — the memory-bound end of the ANN
    * storage ladder (int8 is 4x, this is ~32x: one bit per component).
    * Bit = (component > 0), folded MSB-first into integer WORDS of 32
    * bits each (not 64: a 64-bit fold's top bit would overflow checked
    * BIGINT arithmetic — Spark ANSI and the SQL oracle both — so the
    * portable form packs 32 bits/word; a production sink could repack
    * pairs into longs at write time). Trailing partial word folds its
    * own (shorter) slice. Stateless codegen'd per-row map — no corpus
    * pass, unlike [[quantizeInt8]]'s global range scan.
    * Output: input id + `bits` (array<long> of ceil(d/32) words).
    */
  def binarize(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", outCol: String = "bits"): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val nWords = Bridge.integralDivide(size(v) + 31, lit(32L))
    val words = transform(sequence(lit(0L), nWords - 1L), w =>
      aggregate(slice(v, (w * 32L + 1L).cast("int"), lit(32)),
        lit(0L), (a, x) => a * 2L + when(x > 0d, 1L).otherwise(0L)))
    corpus.withColumn(outCol, words)
  }

  /** HAMMING-DISTANCE ANN over [[binarize]]d vectors with exact-cosine
    * rerank — the two-stage shape memory-bound retrieval actually runs:
    * the corpus SCAN touches only the bit words (popcount of XOR per
    * word, ~32x less I/O than float vectors), the top-`candidates` per
    * query by (hamming, id) survive, and only those few rows JOIN BACK
    * to the full-precision vectors for the exact cosine top-k. The
    * query batch broadcasts onto the bits scan; the candidate set is
    * ≤ queries x candidates rows, so the rerank join broadcasts too —
    * the float vectors are never shuffled or scanned wholesale.
    * Output: (query_id, vec_id, hamming, cosine, rank ∈ 1..k), rank by
    * (cosine desc, id), cosine 6-dec snapped.
    */
  def hammingTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      candidates: Int = 20, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame = {
    require(candidates >= k,
      s"hammingTopK: candidates ($candidates) must be >= k ($k)")
    val cb = binarize(corpus, idCol, vecCol).select(col(idCol), col("bits"))
    val qb = binarize(queries, queryIdCol, vecCol)
      .select(col(queryIdCol), col("bits").as("__qb"))
    val ham = aggregate(
      zip_with(col("__qb"), col("bits"),
        (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
      lit(0L), (a, h) => a + h)
    val wH = Window.partitionBy(col(queryIdCol))
      .orderBy(col("hamming"), col(idCol))
    val cand = cb.join(broadcast(qb),
        sameWidth(col("__qb"), col("bits"), "hammingTopK"))
      .withColumn("hamming", ham)
      .withColumn("__r", row_number().over(wH))
      .filter(col("__r") <= candidates)
      .select(col(queryIdCol), col(idCol), col("hamming"))
    val cv = corpus.select(col(idCol),
      col(vecCol).cast("array<double>").as("__cv"))
      .withColumn("__cn", norm2(col("__cv")))
    val qv = queries.select(col(queryIdCol),
      col(vecCol).cast("array<double>").as("__qv"))
      .withColumn("__qn", norm2(col("__qv")))
    val wC = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col(idCol))
    cand.join(cv, Seq(idCol)).join(qv, Seq(queryIdCol))
      .filter(sameWidth(col("__qv"), col("__cv"), "hammingTopK"))
      .withColumn("cosine", TextAnalysis.round6(
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
      .withColumn("rank", row_number().over(wC))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("hamming"), col("cosine"),
        col("rank"))
  }

  /** The IVF QUERY path: each query probes its `nprobe` nearest cells
    * ([[probeCells]]) and searches only the corpus vectors [[ivfAssign]]
    * put there — the classic inverted-file ANN: ONE equi-join on cell id
    * against the corpus lists, exact cosine + top-k inside the probed
    * union, so each query touches nprobe/|cells| of the data.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      k: Int, nprobe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val lists = ivfAssign(corpus, centroids, idCol, vecCol, centroidIdCol)
      .select(col(idCol), col(centroidIdCol))
      .join(corpus.select(col(idCol), col(vecCol).cast("array<double>").as("__cv")), idCol)
      .withColumn("__cn", norm2(col("__cv")))
    val probes = probeCells(queries, centroids, nprobe, "ivfTopK", vecCol,
        queryIdCol, centroidIdCol)
      .withColumn("__qn", norm2(col("__qv")))
    val scored = probes.join(lists, Seq(centroidIdCol))
      .filter(sameWidth(col("__qv"), col("__cv"), "ivfTopK"))
      .withColumn("cosine", TextAnalysis.round6(dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn"))))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("cosine").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("cosine"), col("rank"))
  }

  /** Distributed covariance matrix of an embedding column — the PCA /
    * whitening / ZCA preparation step every embedding-pipeline runs before
    * dimensionality reduction. Output: one row per upper-triangle entry
    * `(i, j, cov)` with `cov = (E[x_i x_j] - E[x_i] E[x_j])`, 6-dec
    * snapped.
    *
    * Scale shape — the d^2-wide outer-product accumulation: exploding to
    * `(vec_id, i, x_i)` and self-joining on vec_id would shuffle
    * `corpus x d` rows (the naive SQL form, quadratic in d per row); the
    * distributed-correct form accumulates the d(d+1)/2 partial products
    * PER PARTITION and ships only `partitions x d^2/2` tiny rows into one
    * keyed sum — mapPartitions is warranted here because no built-in
    * aggregate can hold a d^2-wide buffer without per-row explosion (the
    * same judgment call as a TypedImperativeAggregate, minus the
    * boilerplate). Determinism: every per-row term is snapped to 1e-6
    * fixed-point and accumulated in LONGs, so partial sums are exact and
    * order-free — bit-identical across partitionings and engines
    * (the q147/q155 fixed-point discipline).
    */
  def covarianceMatrix(emb: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col(vecCol).cast("array<float>")).as[Array[Float]]
    val d = vecs.head().length // 1-row planning probe, like extent lookups
    val parts: org.apache.spark.sql.Dataset[(Int, Int, Long)] =
      vecs.mapPartitions { it =>
        val nPairs = d * (d + 1) / 2
        val accXY = new Array[Long](nPairs)
        val accX = new Array[Long](d)
        var n = 0L
        it.foreach { v =>
          require(v.length == d,
            s"covarianceMatrix: vector width ${v.length} != $d")
          var k = 0
          var i = 0
          while (i < d) {
            val xi = v(i).toDouble
            accX(i) += math.floor(xi * 1e6 + 0.5).toLong
            var j = i
            while (j < d) {
              accXY(k) += math.floor(xi * v(j) * 1e6 + 0.5).toLong
              k += 1; j += 1
            }
            i += 1
          }
          n += 1
        }
        if (n == 0) Iterator.empty
        else {
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Long)]
          var k = 0
          var i = 0
          while (i < d) {
            out += ((i, -1, accX(i)))
            var j = i
            while (j < d) { out += ((i, j, accXY(k))); k += 1; j += 1 }
            i += 1
          }
          out += ((-1, -1, n))
          out.iterator
        }
      }
    val sums = parts.toDF("i", "j", "v")
      .groupBy(col("i"), col("j")).agg(sum(col("v")).as("v"))
    val m2 = sums.filter(col("j") >= 0)
      .select(col("i"), col("j"), col("v").as("sxy"))
    val m1 = sums.filter(col("j") === -1 && col("i") >= 0)
      .select(col("i"), col("v").as("sx"))
    val nTot = sums.filter(col("i") === -1)
      .select(col("v").cast("double").as("__n"))
    m2.join(m1.select(col("i"), col("sx").as("__sxi")), Seq("i"))
      .join(m1.select(col("i").as("j"), col("sx").as("__sxj")), Seq("j"))
      .crossJoin(broadcast(nTot)) // 1-row total, same pattern as corpus stats
      .select(col("i"), col("j"),
        TextAnalysis.round6(
          (col("sxy").cast("double") / 1e6 -
            (col("__sxi").cast("double") / 1e6) *
              (col("__sxj").cast("double") / 1e6) / col("__n")) / col("__n"))
          .as("cov"))
  }

  /** PCA TOP COMPONENT via power iteration over [[covarianceMatrix]] —
    * the dimensionality-reduction/whitening direction embedding pipelines
    * extract before SemDeDup-style clustering or visualization. The
    * corpus-scale work is exactly the covariance pass (one distributed
    * fixed-point aggregation); the d x d eigen-iteration itself is an
    * O(d^2)-per-step DRIVER-MODEL computation (d = 64 here; the same
    * driver-resident-model pattern as k-means centroids and the logistic
    * weights) kept bit-reproducible across engines the q155 way: every
    * matvec term and every squared-norm term snaps to the 1e-6 grid and
    * accumulates in exact LONGs, the one float step per iteration is a
    * correctly-rounded IEEE sqrt + division, and the normalized vector
    * re-snaps — so a SQL oracle unrolling the same iterations reproduces
    * every intermediate bit-for-bit. Starts from the all-ones vector
    * (deterministic; fails loudly on a zero matrix), fixed `iters` rounds
    * (no convergence test — the trace, not the limit, is the contract,
    * same stance as [[kmeansTrain]]). Output: one row per dimension
    * `(i, component, eigenvalue)` — `eigenvalue` is the last iteration's
    * ||y|| Rayleigh estimate, 6-dec snapped, repeated per row.
    */
  def pcaTopComponent(emb: DataFrame, vecCol: String = "embedding",
      iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"pcaTopComponent: iters must be in [1, 20], got $iters")
    val spark = emb.sparkSession
    import spark.implicits._
    val tri = covarianceMatrix(emb, vecCol).collect() // O(d^2) model handoff
    val d = tri.iterator.map(_.getInt(1)).max + 1
    val cov = Array.ofDim[Double](d, d)
    tri.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      cov(i)(j) = c; cov(j)(i) = c
    }
    var v = Array.fill(d)(1.0)
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val y = Array.tabulate(d) { i =>
        var acc = 0L
        var j = 0
        while (j < d) {
          acc += math.floor(cov(i)(j) * v(j) * 1e6 + 0.5).toLong; j += 1
        }
        acc.toDouble / 1e6
      }
      var accN = 0L
      y.foreach(yi => accN += math.floor(yi * yi * 1e6 + 0.5).toLong)
      val norm = math.sqrt(accN.toDouble / 1e6)
      require(norm > 0, "pcaTopComponent: zero covariance matrix")
      lambda = math.floor(norm * 1e6 + 0.5) / 1e6
      v = y.map(yi => math.floor(yi / norm * 1e6 + 0.5) / 1e6)
    }
    v.zipWithIndex
      .map { case (c, i) => (i, c, lambda) }.toSeq
      .toDF("i", "component", "eigenvalue")
  }

  /** Project every embedding onto a driver-resident direction (the
    * [[pcaTopComponent]] consumer): per-vector score = Σ_i x_i·c_i with
    * each product 1e-6-snapped and summed in exact LONGs inside ONE
    * codegen'd `aggregate(zip_with(...))` fold — stateless projection, no
    * join, no shuffle; the direction rides along as an array literal.
    * Width mismatches raise loudly ([[sameWidth]] stance — `zip_with`
    * would otherwise null-pad silently). Output: (idCol, score).
    */
  def pcaProject(emb: DataFrame, component: Seq[Double],
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(component.nonEmpty, "pcaProject: empty component")
    val pc = array(component.map(lit): _*)
    val terms = zip_with(col(vecCol), pc,
      (x, p) => floor(x.cast("double") * p * 1e6 + 0.5).cast("long"))
    emb
      .filter(sameWidth(col(vecCol), pc, "pcaProject"))
      .select(col(idCol),
        (aggregate(terms, lit(0L), (a, t) => a + t).cast("double") / 1e6)
          .as("score"))
  }
}
