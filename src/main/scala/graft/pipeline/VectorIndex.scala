package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOpen
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The IVF-PQ ANN index AT REST: [[Similarity.ivfPqSearch]] recomputes cell
  * assignments and PQ codes per query batch; a 100 TB deployment builds
  * them ONCE, so query cost is independent of the raw corpus. Layout: one
  * parquet dataset of (vec_id, codes: array, position = sub) PARTITIONED
  * BY centroid_id, one row per vector — each inverted list is a directory,
  * and a query probing `nprobe` cells reads only those (dynamic partition
  * pruning on the cell equi-join). The model — centroids and codebooks,
  * k x dims and m x k x subDim doubles — is small side tables the caller
  * keeps; encoding collects them on the driver into one [[IvfKernel]]
  * projection, so a build or an append is encode → repartition → write.
  * Search scores the probed rows with one [[AdcKernel]] call per (query,
  * candidate), bit-identical to [[Similarity.pqSearch]]'s join+aggregate
  * scoring (VectorIndexSpec pins the parity).
  */
object VectorIndex {

  /** The index rows (vec_id, centroid_id, codes), codes[sub] the
    * subspace's code id: one [[IvfKernel]] projection per vector against
    * the centroids and codebook collected on the driver — the cell of
    * [[Similarity.ivfAssign]] and the codes of [[Similarity.pqEncode]], no
    * join, no aggregate. An empty model table gives no rows.
    */
  def buildIndex(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      m: Int, subDim: Int, idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val t = IvfKernel.idType(centroids, centroidIdCol, "ivfAssign")
    val ct = IvfKernel.idType(codebooks, "code_id", "pqEncode")
    IvfKernel.project(corpus, Seq(col(idCol)), "index", IvfKernel.IndexType, vecCol,
        IvfKernel.centroids(centroids, centroidIdCol, vecCol),
        IvfKernel.codebook(codebooks, m, subDim))
      .select(col(idCol), col("__k.cell").cast(t).as(centroidIdCol),
        col("__k.codes").cast(ArrayType(ct)).as("codes"))
  }

  /** Persist [[buildIndex]]'s rows partitioned by cell, one directory per
    * inverted list: one encoding projection, a repartition by cell and the
    * write. Overwrite semantics (rebuilds replace the index atomically at
    * the path level).
    */
  def writeIndex(corpus: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      m: Int, subDim: Int, path: String, idCol: String = "vec_id",
      vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): Unit =
    buildIndex(corpus, centroids, codebooks, m, subDim, idCol, vecCol, centroidIdCol)
      // cluster by cell before the dynamic-partition write: each cell is
      // written by one task, ~one file per cell instead of tasks x cells
      // (3,200 tiny files for the q214 fixture). A pathologically hot cell
      // writes from one task; a REBALANCE hint would split it.
      .repartition(col(centroidIdCol))
      .write.mode("overwrite").partitionBy(centroidIdCol).parquet(path)

  /** INCREMENTAL index maintenance: encode a NEW batch of vectors with the
    * SAME frozen model and append its rows to the partitioned layout,
    * touching only the directories the batch lands in. Cells and codes
    * depend only on the model, so `write(old) + append(new)` is
    * row-identical to `write(old ∪ new)` (the q180 gate pins this);
    * re-TRAINING the model is a rebuild, by design.
    */
  def appendToIndex(newVectors: DataFrame, centroids: DataFrame,
      codebooks: DataFrame, m: Int, subDim: Int, path: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      centroidIdCol: String = "centroid_id"): Unit =
    buildIndex(newVectors, centroids, codebooks, m, subDim, idCol, vecCol, centroidIdCol)
      .repartition(col(centroidIdCol)) // one task per cell — see writeIndex
      .write.mode("append").partitionBy(centroidIdCol).parquet(path)

  /** Read the at-rest index back, with no Spark job: the schema comes
    * from one parquet footer read on the driver ([[ParquetOpen.read]]).
    * The partition column comes back typed by directory-name inference
    * (int); it is cast back to long so the probe join key matches the
    * centroid table exactly.
    */
  def readIndex(spark: SparkSession, path: String,
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val df = ParquetOpen.read(spark, path)
    df.withColumn(centroidIdCol, col(centroidIdCol).cast("long"))
  }

  /** ANN search against the stored index: nprobe nearest cells per query
    * ([[Similarity.probeCells]]: a broadcast join, so the index scan keeps
    * its dynamic partition pruning), ONE equi-join of the probe list
    * against the index on the PARTITION column — only the probed
    * directories are scanned — then ADC scoring against the broadcast
    * query vectors and the scalar-subquery codebook, and a per-query top-k.
    * Identical semantics (and oracle) to [[Similarity.ivfPqSearch]].
    */
  def searchIndex(index: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, k: Int, m: Int, subDim: Int, nprobe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id",
      centroidIdCol: String = "centroid_id"): DataFrame = {
    val probes = Similarity.probeCells(queries, centroids, nprobe, "searchIndex",
        vecCol, queryIdCol, centroidIdCol)
      .select(col(queryIdCol), col(centroidIdCol))
    // model-side width refusals run once per model row, before the scoring
    // stage (codebook in the scalar subquery, queries on the broadcast
    // side), so they fire also when no candidate reaches the kernel; an
    // index Catalyst proves empty at plan time prunes them with the scoring
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
    // arrays (one Subquery + ReusedSubquery), computed once per search: a
    // value, not a joined row, so no product join
    val cbRow = cb.groupBy()
      .agg(array_sort(collect_list(struct(col("sub"), col("code_id"),
        col("__cv")))).as("__e"))
      .select(struct(transform(col("__e"), e => e("sub")).as("s"),
        transform(col("__e"), e => e("code_id")).as("c"),
        flatten(transform(col("__e"), e => e("__cv"))).as("f")))
      .scalar()
    // ONE [[AdcKernel.adcSum]] call per candidate row; NULL adist =
    // incomplete/unknown codes, dropped below
    val adist = Bridge.staticInvoke(Class.forName("graft.pipeline.AdcKernel"),
      DoubleType, "adcSum",
      Seq(col("codes").cast("array<long>"), col("__qv"), cbRow.getField("s"),
        cbRow.getField("c"), cbRow.getField("f"), lit(m), lit(subDim)),
      Seq(ArrayType(LongType), ArrayType(DoubleType), ArrayType(IntegerType),
        ArrayType(LongType), ArrayType(DoubleType), IntegerType, IntegerType),
      returnNullable = true,
      // the kernel IS pure — the flag only stops PushDownPredicates from
      // inlining the isNotNull filter into the join condition, which
      // evaluated the kernel twice per row
      deterministic = false)
    val scored = index.join(broadcast(probes), Seq(centroidIdCol))
      .join(broadcast(qv), Seq(queryIdCol))
      .withColumn("adist", adist)
      .filter(col("adist").isNotNull)
      .select(col(queryIdCol), col(idCol), col("adist"))
    // per-group top-k through TopKPerGroup (map-side heaps: <= k rows per
    // (query, partition) on the exchange), then rank 1..k by a sorted slice
    // over the survivors in (adist, id) order
    graft.ops.TopK.perGroup(scored, Seq(queryIdCol),
        Seq(("adist", true), (idCol, true)), k)
      .groupBy(col(queryIdCol))
      .agg(array_sort(collect_list(struct(col("adist"), col(idCol)))).as("__top"))
      .select(col(queryIdCol), posexplode(col("__top")).as(Seq("__pos", "__r")))
      .select(col(queryIdCol), col(s"__r.$idCol").as(idCol),
        col("__r.adist").as("adist"), (col("__pos") + 1).cast("int").as("rank"))
  }

  /** TWO-STAGE ANN search: ADC shortlist → EXACT re-rank, the standard
    * recall fix for product quantization (Jégou et al. 2011 §IV-D). Stage
    * 1 is [[searchIndex]] with k = `shortlist`; stage 2 broadcasts those
    * queries×R ids onto the raw corpus scan and re-ranks them by the exact
    * squared L2 distance (1e-6 grid). Output: (queryIdCol, idCol, edist,
    * rank ≤ k).
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
