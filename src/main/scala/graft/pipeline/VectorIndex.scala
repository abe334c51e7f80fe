package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The IVF-PQ ANN index AT REST: [[Similarity.ivfPqSearch]] recomputes cell
  * assignments and PQ codes per query batch; a real 100 TB deployment
  * builds them ONCE and stores the index so query cost is independent of
  * the raw corpus. The layout is deliberately plain Spark:
  *
  *   - one parquet dataset of (vec_id, codes: array — position = sub),
  *     PARTITIONED BY centroid_id — each inverted list is a partition
  *     directory, so a query that probes `nprobe` cells reads only those
  *     directories (Spark's dynamic partition pruning fires on the cell
  *     equi-join: partition-column join key + broadcastable probe side).
  *     ONE row per vector: the previous (vec_id, sub, code_id) layout
  *     stored (and scanned, and shuffled) m rows per vector and needed a
  *     (query, vec) groupBy to re-assemble the ADC sum — a 4.5M-row
  *     partial-agg exchange at the q356 fixture for values computable
  *     row-locally once the codes share a row;
  *   - centroids and codebooks ride along as small side tables (they are
  *     the model — k x dims and m x k x subDim doubles).
  *
  * Search then never touches a raw corpus vector: candidates stream out of
  * the probed partitions as one-code-array rows and are scored by ONE
  * codegen'd kernel call per (query, candidate) against the broadcast
  * query vectors and the codebook — one scalar-subquery value, computed
  * once per search before scoring starts ([[AdcKernel]] documents the
  * bit-exactness contract with [[Similarity.pqSearch]]'s join+aggregate
  * scoring: 6-decimal-rounded subspace distances, exact DECIMAL sums,
  * id-ascending ties) — so at-rest results match the recompute path
  * bit-for-bit (VectorIndexSpec pins the parity).
  */
object VectorIndex {

  /** The index rows: every corpus vector's cell assignment joined with its
    * PQ code array — (vec_id, centroid_id, codes) with codes[sub] the
    * subspace's code id. One ivfAssign pass (broadcast centroids) + one
    * pqEncode pass (broadcast codebooks), the m code rows folded to one
    * array row (the fold's groupBy shares its id partitioning with the
    * cell join, so the pivot adds no exchange), and a single id-keyed
    * equi-join. m× fewer rows at rest and on every downstream scan.
    */
  def buildIndex(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      m: Int, subDim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val cells = Similarity.ivfAssign(corpus, centroids, idCol, vecCol, centroidIdCol)
      .select(col(idCol), col(centroidIdCol))
    val codes = Similarity.pqEncode(corpus, codebooks, m, subDim, idCol, vecCol)
      .groupBy(col(idCol))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code_id")))),
        e => e("code_id")).as("codes"))
    cells.join(codes, Seq(idCol))
      .select(col(idCol), col(centroidIdCol), col("codes"))
  }

  /** Persist the index partitioned by cell: one directory per inverted
    * list. Overwrite semantics (rebuilds replace the index atomically at
    * the path level).
    */
  def writeIndex(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      m: Int, subDim: Int, path: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): Unit =
    buildIndex(corpus, centroids, codebooks, m, subDim, idCol, vecCol, centroidIdCol)
      // cluster by the partition column before the dynamic-partition write:
      // without it every task holds rows of every cell and opens one file
      // per (task, cell) — tasks x cells tiny files (3,200 for the 32x100
      // q214 fixture; measured ~27 s of task time mostly opening/closing
      // writers). After the repartition each cell is written by exactly one
      // task: ~one file per cell, file count independent of the task count.
      // A pathologically hot cell writes from one task — at that point use
      // a REBALANCE hint (AQE splits skewed write partitions) instead.
      .repartition(col(centroidIdCol))
      .write.mode("overwrite").partitionBy(centroidIdCol).parquet(path)

  /** INCREMENTAL index maintenance: encode a NEW batch of vectors with the
    * SAME frozen model (centroids + codebooks) and append its rows to the
    * partitioned layout — dynamic-partition parquet append, touching only
    * the directories the batch lands in. Because cell assignment and PQ
    * codes depend only on the model, `write(old) + append(new)` is
    * row-identical to `write(old ∪ new)` — search results after an append
    * match a full rebuild bit-for-bit (the q180 gate pins this against the
    * full-build oracle). This is how a production vector index absorbs a
    * daily embedding batch without re-encoding the corpus; re-TRAINING the
    * model (centroid drift) is a rebuild, by design.
    */
  def appendToIndex(newVectors: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, m: Int, subDim: Int, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): Unit =
    buildIndex(newVectors, centroids, codebooks, m, subDim, idCol, vecCol, centroidIdCol)
      .repartition(col(centroidIdCol)) // one task per cell — see writeIndex
      .write.mode("append").partitionBy(centroidIdCol).parquet(path)

  /** Read the at-rest index back. The partition column comes back typed by
    * directory-name inference (int); it is cast back to long so the probe
    * join key matches the centroid table exactly.
    */
  def readIndex(spark: SparkSession, path: String,
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val df = spark.read.parquet(path)
    df.withColumn(centroidIdCol, col(centroidIdCol).cast("long"))
  }

  /** ANN search against the stored index: nprobe nearest cells per query
    * (tiny broadcast-centroid argsort), ONE equi-join of the probe list
    * against the partitioned index on the PARTITION column — only the
    * probed directories are scanned — then inline ADC scoring against the
    * broadcast query subvectors and the scalar-subquery codebook, and a
    * per-query top-k.
    * Identical semantics (and oracle) to [[Similarity.ivfPqSearch]].
    */
  def searchIndex(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, k: Int, m: Int, subDim: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val cent = centroids.select(col(centroidIdCol),
      col(vecCol).cast("array<double>").as("__c"))
    val qDist2 = Similarity.dist2Fold(col("__qv"), col("__c"))
    val probes = queries
      .select(col(queryIdCol), col(vecCol).cast("array<double>").as("__qv"))
      .crossJoin(broadcast(cent))
      .filter(Similarity.sameWidth(col("__qv"), col("__c"), "searchIndex"))
      .withColumn("__d", qDist2)
      .groupBy(col(queryIdCol))
      .agg(slice(array_sort(collect_list(struct(col("__d"), col(centroidIdCol)))),
        1, nprobe).as("__cells"))
      .select(col(queryIdCol), explode(col("__cells")).as("__cell"))
      .select(col(queryIdCol), col(s"__cell.$centroidIdCol").as(centroidIdCol))
    // model-side width refusal runs ONCE per model row, up front — a
    // malformed codebook/query batch refuses whenever the scoring plan
    // runs, also when no candidate row reaches the kernel (an index that
    // is empty at run time): the codebook check sits in the scalar
    // subquery and the query check on the broadcast side, and both are
    // evaluated before the scoring stage starts. An index Catalyst can
    // prove empty at plan time (an empty local relation) prunes the
    // scoring subtree and these checks with it, so that search returns no
    // rows without refusing; refusing there would need an eager action
    // (a job per search)
    val qv = queries
      .select(col(queryIdCol), col(vecCol).cast("array<double>").as("__qv"))
      .filter(when(col("__qv").isNull, raise_error(lit(
          "searchIndex: null query embedding — filter null embeddings upstream")))
        .when(size(col("__qv")) === m * subDim, lit(true))
        .otherwise(raise_error(format_string(
          s"searchIndex: query width mismatch (%d vs m*subDim = ${m * subDim} dims)",
          size(col("__qv"))))))
    val cb = codebooks.select(col("sub").cast("int").as("sub"),
        col("code_id").cast("long").as("code_id"),
        col("subvec").cast("array<double>").as("__cv"))
      .filter(when(col("__cv").isNull, raise_error(lit(
          "searchIndex: null codebook subvector")))
        .when(size(col("__cv")) === subDim, lit(true))
        .otherwise(raise_error(format_string(
          s"searchIndex: codebook subvector width mismatch (%d vs subDim = $subDim dims)",
          size(col("__cv"))))))
    // the whole codebook as ONE scalar-subquery value of aligned sorted
    // arrays, computed once per search before any row is scored (the three
    // field reads below plan as one Subquery + ReusedSubquery) — the model
    // is m x k rows by definition, so this is small at any scale, and being
    // a value rather than a joined row it adds no product join to the plan
    val cbRow = cb.groupBy()
      .agg(array_sort(collect_list(struct(col("sub"), col("code_id"),
        col("__cv")))).as("__e"))
      .select(struct(transform(col("__e"), e => e("sub")).as("s"),
        transform(col("__e"), e => e("code_id")).as("c"),
        flatten(transform(col("__e"), e => e("__cv"))).as("f")))
      .scalar()
    // ONE kernel call per candidate row ([[AdcKernel.adcSum]] — identical
    // snapped/exact-decimal arithmetic to the join+aggregate scoring it
    // replaces): the pivoted layout puts all m codes on the row, so there
    // is no per-sub join fan-out and no (query, vec) groupBy exchange.
    // NULL adist = incomplete/unknown codes — the old `count == m` drop.
    val adist = org.apache.spark.sql.graftbridge.Bridge.staticInvoke(
      Class.forName("graft.pipeline.AdcKernel"),
      org.apache.spark.sql.types.DoubleType, "adcSum",
      Seq(col("codes").cast("array<long>"), col("__qv"), cbRow.getField("s"),
        cbRow.getField("c"), cbRow.getField("f"), lit(m), lit(subDim)),
      Seq(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.IntegerType),
      returnNullable = true,
      // the kernel IS pure — the flag only stops PushDownPredicates from
      // inlining the isNotNull filter into the join condition, which
      // re-evaluated the kernel per row (once in the join condition, once
      // in the projection; optimization-guide §4.4's duplication problem)
      deterministic = false)
    val scored = index.join(broadcast(probes), Seq(centroidIdCol))
      .join(broadcast(qv), Seq(queryIdCol))
      .withColumn("adist", adist)
      .filter(col("adist").isNotNull)
      .select(col(queryIdCol), col(idCol), col("adist"))
    // per-group top-k through TopKPerGroup (map-side heaps: the exchange
    // ships <= k rows per (query, partition) instead of every scored
    // candidate — at production cell sizes the candidate set per query is
    // the inverted-list mass, not k), then rank 1..k by a sorted slice
    // over the <= k survivors; (adist, id) ascending is the same total
    // order the Window form used, so ranks are unchanged.
    graft.ops.TopK.perGroup(scored, Seq(queryIdCol),
        Seq(("adist", true), (idCol, true)), k)
      .groupBy(col(queryIdCol))
      .agg(array_sort(collect_list(struct(col("adist"), col(idCol)))).as("__top"))
      .select(col(queryIdCol), posexplode(col("__top")).as(Seq("__pos", "__r")))
      .select(col(queryIdCol), col(s"__r.$idCol").as(idCol),
        col("__r.adist").as("adist"), (col("__pos") + 1).cast("int").as("rank"))
  }

  /** TWO-STAGE ANN search: ADC shortlist → EXACT re-rank — the standard
    * production recall fix for product quantization (Jégou et al. 2011
    * §IV-D: PQ distances are approximations; the final ordering should
    * come from true distances over a small shortlist). Stage 1 is
    * [[searchIndex]] with k = `shortlist` (ADC top-R per query, raw
    * vectors never touched); stage 2 joins ONLY those R ids per query
    * back to the raw corpus — the shortlist is queries×R rows, so it
    * BROADCASTS onto the corpus scan (at 100 TB this is one
    * semi-join-filtered pass over the vector store, and with the corpus
    * at rest partitioned/bucketed by id it prunes further) — and
    * re-scores with the exact squared L2 distance (1e-6 grid), re-ranking
    * the top-k. Output: (queryIdCol, idCol, edist, rank ≤ k).
    */
  def searchRerank(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      corpus: DataFrame, queries: DataFrame, k: Int, shortlist: Int, m: Int,
      subDim: Int, nprobe: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    require(shortlist >= k,
      s"searchRerank: shortlist ($shortlist) must be >= k ($k)")
    val short = searchIndex(index, centroids, codebooks, queries, shortlist,
        m, subDim, nprobe, idCol, vecCol, queryIdCol, centroidIdCol)
      .select(col(queryIdCol), col(idCol))
    val cand = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .join(broadcast(short), Seq(idCol))
    val qv = queries.select(col(queryIdCol),
      col(vecCol).cast("array<double>").as("__qv"))
    val d2 = Similarity.dist2Fold(col("__qv"), col("__v"))
    val w = Window.partitionBy(col(queryIdCol)).orderBy(col("edist"), col(idCol))
    cand.join(broadcast(qv), Seq(queryIdCol))
      .filter(Similarity.sameWidth(col("__qv"), col("__v"), "searchRerank"))
      .withColumn("edist", TextAnalysis.round6(d2))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("edist"), col("rank"))
  }
}
