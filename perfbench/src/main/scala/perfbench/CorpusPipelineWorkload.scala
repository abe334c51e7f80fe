package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import graft.pipeline._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The LLM-data operator set on a small corpus: ANN, BM25, hybrid and
  * near-duplicate probes against indexes built at set-up, appends of new
  * documents to those indexes, and the periodic corpus-wide passes (dedup,
  * edit-distance pairs, k-core and PageRank). The data is tiny, so driver
  * time, Catalyst and job cadence dominate.
  */
final class CorpusPipelineWorkload(tiny: Boolean) extends Workload {
  val name = "corpus_pipeline"

  private val nDocs = if (tiny) 400 else 5000
  private val nVecs = if (tiny) 200 else 2000
  private val Dim = 64
  private val M = 4
  private val SubDim = 16
  private val K = 10
  private val BandTable = "perfbench_bands"
  private val Bm25Table = "perfbench_bm25"
  /** Buckets of the BM25 and band indexes: one per core at this size. */
  private val Buckets = 4
  /** Mean recall@K an ANN batch must reach against exact L2 top-K. A
    * query's true neighbours lie in its own cluster of about 200 vectors;
    * K or 4K of them picked at random would give 0.05 (ADC ranking) and
    * 0.2 (re-ranked shortlist of 4K). These crude codebooks give
    * 0.12-0.20 and 0.35-0.45.
    */
  private val AnnRecallFloor = 0.08
  private val RerankRecallFloor = 0.25
  /** Share of the documents with no duplicate that dedup may drop. By
    * default dedupCorpus counts any band collision as a duplicate, and
    * short documents of common words do collide: 1.0-1.4% are dropped at
    * full size.
    */
  private val DedupLossAllowance = 0.03
  private val Common = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query " +
    "a scan batch").split(' ')

  val cycle: Seq[OpKind] = Seq(
    OpKind("ann", write = false), OpKind("bm25_one", write = false),
    OpKind("rerank", write = false), OpKind("bm25", write = false), OpKind("hybrid", write = false),
    OpKind("band_probe", write = false), OpKind("dedup", write = false),
    OpKind("edit_pairs", write = false), OpKind("graph", write = false),
    OpKind("append_text", write = true), OpKind("append_vecs", write = true),
    // each append twice: single appends swing by up to 40% between runs,
    // and they are all of write_latency_s
    OpKind("append_text", write = true), OpKind("append_vecs", write = true))
  val nominalCycleS = 16.0
  val warmups: Seq[OpKind] = cycle.filter(k => Set("ann", "bm25", "append_text")(k.name)).distinct

  // reference state, kept in step with every append
  private val docs = mutable.LinkedHashMap[Long, String]()
  /** The document each one was copied or edited from, followed back to a
    * freshly written one; a family of one has no duplicate of either kind.
    */
  private val family = mutable.Map[Long, Long]()
  private val vecs = mutable.LinkedHashMap[Long, Array[Double]]()
  private var rare: Array[String] = _
  private var edges: Array[(Long, Long)] = _
  private var nextId = 0L
  private var dirs: Map[String, String] = Map.empty
  private var centroids: DataFrame = _
  private var codebooks: DataFrame = _

  private def base(ctx: Ctx) = new File(ctx.dir, "data/corpus_pipeline")

  // ---- generation ----

  private def word(rnd: Random): String =
    if (rnd.nextDouble() < 0.2) rare(rnd.nextInt(rare.length))
    else Common(math.min(Common.length - 1, (math.exp(rnd.nextDouble() * math.log(31.0)) - 1).toInt))

  private def freshText(rnd: Random): String =
    Seq.fill(10 + rnd.nextInt(60))(word(rnd)).mkString(" ")

  /** A near duplicate: one or two words swapped for others. */
  private def nearDup(rnd: Random, text: String): String = {
    val w = text.split(' ')
    (0 until 1 + rnd.nextInt(2)).foreach(_ => w(rnd.nextInt(w.length)) = word(rnd))
    w.mkString(" ")
  }

  private def perturb(rnd: Random, v: Array[Double], s: Double): Array[Double] =
    v.map(_ + rnd.nextGaussian() * s)

  private def docsDf(ctx: Ctx, rows: Seq[(Long, String)]): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      rows.map { case (i, t) => Row(i, t) }, 4),
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  private def vecsDf(ctx: Ctx, rows: Seq[(Long, Array[Double])], idCol: String): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      rows.map { case (i, v) => Row(i, v.toSeq) }, 4),
      StructType(Seq(StructField(idCol, LongType),
        StructField("embedding", ArrayType(DoubleType, containsNull = false)))))

  def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rnd = new Random(ctx.seed)
    Host.deleteTree(base(ctx))
    base(ctx).mkdirs()
    dirs = Seq("docs", "vecs", "ivf", "bm25", "bands", "edges")
      .map(k => k -> new File(base(ctx), k).getAbsolutePath).toMap
    ctx.phase("generate") {
    // rare words over a small alphabet, so edit-distance-1 pairs exist
    rare = Array.fill(if (tiny) 60 else 400)(
      Seq.fill(4 + rnd.nextInt(3))("abcdeo"(rnd.nextInt(6))).mkString).distinct
    docs.clear(); vecs.clear(); family.clear()
    (0 until nDocs).foreach { i =>
      val r = rnd.nextDouble()
      val (text, src) =
        if (i > 10 && r < 0.03) { val s = rnd.nextInt(i).toLong; (docs(s), s) }
        else if (i > 10 && r < 0.08) { val s = rnd.nextInt(i).toLong; (nearDup(rnd, docs(s)), s) }
        else (freshText(rnd), i.toLong)
      docs(i.toLong) = text
      family(i.toLong) = if (src == i) src else family(src)
    }
    val centers = Array.fill(10)(Array.fill(Dim)(rnd.nextGaussian()))
    (0 until nVecs).foreach(i => vecs(i.toLong) = perturb(rnd, centers(rnd.nextInt(10)), 0.3))
    nextId = 1000000L
    val nodes = if (tiny) 60 else 400
    edges = (Array.fill(nodes * 4)((rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong)) ++
      (for (a <- 0 until 12; b <- 0 until 12 if a != b) yield (a.toLong, b.toLong)))
    }
    ctx.phase("write") {
      docsDf(ctx, docs.toSeq).write.parquet(dirs("docs"))
      vecsDf(ctx, vecs.toSeq, "vec_id").write.parquet(dirs("vecs"))
      import spark.implicits._
      edges.toSeq.toDF("src", "dst").write.parquet(dirs("edges"))
    }

    // the model (centroids, codebooks) is small: held as local relations
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    val corpus = spark.read.parquet(dirs("vecs"))
    ctx.phase("model") {
    centroids = local(corpus.filter(col("vec_id") % 100 === 1)
      .select(col("vec_id").as("centroid_id"), col("embedding")))
    codebooks = local(corpus.filter(col("vec_id") % 50 === 2)
      .select(col("vec_id").as("code_id"),
        posexplode(transform(sequence(lit(0), lit(M - 1)),
          x => slice(col("embedding"), x * SubDim + 1, lit(SubDim))))
          .as(Seq("sub", "subvec"))))
    }
    val d = spark.read.parquet(dirs("docs"))
    ctx.phase("ivf_index")(VectorIndex.writeIndex(corpus, centroids, codebooks, M, SubDim, dirs("ivf")))
    ctx.phase("bm25_index")(TextIndex.writeBm25Index(d, Bm25Table, dirs("bm25"), buckets = Buckets))
    ctx.phase("band_index")(TextIndex.writeBandIndex(d, BandTable, dirs("bands"), buckets = Buckets))
  }

  def prepareChecks(ctx: Ctx): Unit = ()

  // ---- ops ----

  private def queryVecs(rnd: Random, n: Int): Seq[(Long, Array[Double])] = {
    val ids = vecs.keysIterator.toArray
    (0 until n).map(q => (q.toLong, perturb(rnd, vecs(ids(rnd.nextInt(ids.length))), 0.1)))
  }

  private def index(ctx: Ctx): DataFrame = VectorIndex.readIndex(ctx.spark, dirs("ivf"))

  def run(kind: OpKind, rnd: Random, ctx: Ctx): Outcome = kind.name match {
    case "ann" => ann(rnd, ctx, rerank = false)
    case "rerank" => ann(rnd, ctx, rerank = true)
    case "bm25" => bm25(rnd, ctx)
    case "bm25_one" => bm25One(rnd, ctx)
    case "hybrid" => hybrid(rnd, ctx)
    case "band_probe" => bandProbe(rnd, ctx)
    case "dedup" => dedup(ctx)
    case "edit_pairs" => editPairs(ctx)
    case "graph" => graph(ctx)
    case "append_text" => appendText(rnd, ctx)
    case "append_vecs" => appendVecs(rnd, ctx)
  }

  private def round6(x: Double): Double = math.floor(x * 1e6 + 0.5).toLong / 1e6

  private def dist2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
    s
  }

  private def exactTopK(q: Array[Double], k: Int): Seq[Long] =
    vecs.toSeq.map { case (id, v) => (dist2(q, v), id) }.sorted.take(k).map(_._2)

  private def ann(rnd: Random, ctx: Ctx, rerank: Boolean): Outcome = {
    val floor = if (rerank) RerankRecallFloor else AnnRecallFloor
    val qs = queryVecs(rnd, 16)
    val got = ctx.span("pipeline.ann_search") {
      val queries = vecsDf(ctx, qs, "query_id")
      val out =
        if (rerank) VectorIndex.searchRerank(index(ctx), centroids, codebooks,
          ctx.spark.read.parquet(dirs("vecs")), queries, K, shortlist = 4 * K, M, SubDim,
          nprobe = 3).select(col("query_id"), col("vec_id"), col("rank"), col("edist"))
        else VectorIndex.searchIndex(index(ctx), centroids, codebooks, queries, K, M, SubDim,
          nprobe = 3).select(col("query_id"), col("vec_id"), col("rank"), lit(0.0))
      out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    }
    Outcome { () =>
      val byQ = got.groupBy(_._1)
      val recall = qs.map { case (q, v) =>
        val want = exactTopK(v, K).toSet
        byQ.getOrElse(q, Array.empty).count(r => want.contains(r._2)).toDouble / K
      }
      ctx.note("ann.recall_sum", recall.sum)
      ctx.note("ann.recall_n", recall.size)
      val qv = qs.toMap
      val badShape = qs.find { case (q, _) =>
        val rs = byQ.getOrElse(q, Array.empty).sortBy(_._3)
        rs.length != K || rs.map(_._3).toSeq != (1 to K) || !rs.forall(r => vecs.contains(r._2))
      }
      val badDist = if (!rerank) None else got.find { case (q, id, _, d) =>
        d != round6(dist2(qv(q), vecs(id)))
      }
      val badOrder = if (!rerank) None else byQ.values.find { rs =>
        val s = rs.sortBy(_._3).map(r => (r._4, r._2)).toSeq
        s != s.sorted
      }
      if (badShape.isDefined) Some(s"query ${badShape.get._1}: not $K ranked known ids")
      else if (badDist.isDefined) Some(s"rerank distance ${badDist.get} != exact")
      else if (badOrder.isDefined) Some("rerank order is not (distance, id)")
      else if (recall.sum / recall.size < floor)
        Some(f"recall@$K ${recall.sum / recall.size}%.3f < $floor")
      else None
    }
  }

  private def queryTerms(rnd: Random, n: Int): Seq[(Long, Seq[String])] =
    (0 until n).map(q => (q.toLong, Seq.fill(2 + rnd.nextInt(2))(word(rnd)).distinct))

  private def termsDf(ctx: Ctx, qs: Seq[(Long, Seq[String])]): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    qs.flatMap { case (q, ts) => ts.map(t => (q, t)) }.toDF("query_id", "term")
  }

  /** BM25 by hand over the reference documents: the index's arithmetic
    * (1e-6 snapped idf and terms, exact sum) without the engine.
    */
  private def bm25Ref(terms: Seq[String]): Seq[(Long, Double)] = {
    val toks = docs.map { case (id, t) => id -> t.split(' ') }
    val n = toks.size
    val avgdl = toks.values.map(_.length.toLong).sum.toDouble / n
    val (k1, b) = (1.2, 0.75)
    val micros = mutable.Map[Long, Long]().withDefaultValue(0L)
    terms.distinct.foreach { t =>
      val hits = toks.flatMap { case (id, w) =>
        val tf = w.count(_ == t); if (tf > 0) Some((id, tf.toDouble, w.length.toDouble)) else None
      }
      val df = hits.size.toDouble
      val idf = round6(math.log((n - df + 0.5) / (df + 0.5) + 1.0))
      hits.foreach { case (id, tf, dl) =>
        val s = round6(idf * (tf * (k1 + 1.0)) / (tf + (1.0 - b + dl * b / avgdl) * k1))
        micros(id) += math.round(s * 1e6)
      }
    }
    micros.toSeq.map { case (id, m) => (id, m / 1e6) }.sortBy { case (id, s) => (-s, id) }
  }

  private def checkRanking(q: Long, got: Seq[(Long, Double)], want: Seq[(Long, Double)],
      k: Int, tol: Double): Option[String] = {
    val ref = want.toMap
    val top = want.take(k).map(_._2)
    if (got.size != top.size) Some(s"query $q: ${got.size} results, expected ${top.size}")
    else got.find { case (id, s) => !ref.get(id).exists(r => math.abs(r - s) <= tol) }
      .map { case (id, s) => s"query $q doc $id: score $s, expected ${ref.get(id)}" }
      .orElse(got.map(_._2).zip(top).find { case (a, b) => math.abs(a - b) > tol }
        .map { case (a, b) => s"query $q: ranked score $a where $b was due" })
  }

  private def bm25(rnd: Random, ctx: Ctx): Outcome = {
    val qs = queryTerms(rnd, 8)
    val got = ctx.span("pipeline.bm25") {
      val (post, stats) = TextIndex.readBm25Index(ctx.spark, Bm25Table)
      TextIndex.bm25RankIndexedBatch(post, stats, termsDf(ctx, qs), k = K)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    }
    Outcome { () =>
      qs.iterator.flatMap { case (q, ts) =>
        val rs = got.filter(_._1 == q).sortBy(_._4).map(r => (r._2, r._3)).toSeq
        checkRanking(q, rs, bm25Ref(ts), K, 5e-6)
      }.nextOption()
    }
  }

  /** One interactive query against the at-rest index. */
  private def bm25One(rnd: Random, ctx: Ctx): Outcome = {
    val (_, terms) = queryTerms(rnd, 1).head
    val got = ctx.span("pipeline.bm25") {
      val (post, stats) = TextIndex.readBm25Index(ctx.spark, Bm25Table)
      TextIndex.bm25RankIndexed(post, stats, terms, k = K)
        .select(col("doc_id"), col("score")).collect().map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq
    }
    Outcome(() => checkRanking(0L, got, bm25Ref(terms), K, 5e-6))
  }

  private def hybrid(rnd: Random, ctx: Ctx): Outcome = {
    val ids = vecs.keysIterator.filter(docs.contains).toArray
    val picks = Seq.fill(8)(ids(rnd.nextInt(ids.length)))
    val qv = picks.zipWithIndex.map { case (id, q) => (q.toLong, perturb(rnd, vecs(id), 0.1)) }
    val qt = picks.zipWithIndex.map { case (id, q) =>
      (q.toLong, docs(id).split(' ').distinct.take(3).toSeq)
    }
    def inputs(): Seq[DataFrame] = {
      val (post, stats) = TextIndex.readBm25Index(ctx.spark, Bm25Table)
      Seq(VectorIndex.searchIndex(index(ctx), centroids, codebooks, vecsDf(ctx, qv, "query_id"),
          2 * K, M, SubDim, nprobe = 3).select(col("query_id"), col("vec_id").as("id"), col("rank")),
        TextIndex.bm25RankIndexedBatch(post, stats, termsDf(ctx, qt), k = 2 * K)
          .select(col("query_id"), col("doc_id").as("id"), col("rank")))
    }
    val got = ctx.span("pipeline.rrf") {
      Similarity.rrfFuse(inputs(), K, idCol = "id").select(col("query_id"), col("id"),
        col("rrf_score"), col("rank")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    }
    Outcome { () =>
      val ranks = inputs().reduce(_ union _).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      qv.iterator.flatMap { case (q, _) =>
        val want = ranks.filter(_._1 == q).groupBy(_._2).toSeq.map { case (id, rs) =>
          (id, rs.map(r => math.round(round6(1.0 / (r._3 + 60)) * 1e6)).sum / 1e6)
        }.sortBy { case (id, s) => (-s, id) }
        val rs = got.filter(_._1 == q).sortBy(_._4).map(r => (r._2, r._3)).toSeq
        if (rs == want.take(K)) None
        else Some(s"rrf query $q: got ${rs.take(3)}, expected ${want.take(3)}")
      }.nextOption()
    }
  }

  private def shingles(t: String): Set[String] = t.split(' ').sliding(3).map(_.mkString(" ")).toSet

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    x.intersect(y).size.toDouble / math.max(1, x.union(y).size)
  }

  /** Each probe is a one- or two-word edit of a known document, its
    * source. With 12 MinHash rows in 4 bands of 3, a probe at 3-shingle
    * Jaccard j shares a band with its source with probability
    * 1 - (1 - j^3)^4; the probe must find at least as many sources as
    * that predicts, less three standard deviations.
    */
  private def bandProbe(rnd: Random, ctx: Ctx): Outcome = {
    val ids = docs.keysIterator.toArray
    val sources = (0 until 8).map(j => (50000000L + j, ids(rnd.nextInt(ids.length))))
    val batch = sources.map { case (b, src) => (b, nearDup(rnd, docs(src))) }
    val got = ctx.span("pipeline.band_probe") {
      TextIndex.probe(TextIndex.readBandIndex(ctx.spark, BandTable), docsDf(ctx, batch))
        .select(col("doc_id"), col("corpus_id"), col("n_bands")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    Outcome { () =>
      val texts = batch.toMap
      val similar = got.count { case (b, c, _) => jaccard(texts(b), docs(c)) >= 0.5 }
      ctx.note("band.similar_pairs", similar)
      ctx.note("band.candidate_pairs", got.length)
      val p = sources.map { case (b, src) => 1.0 - math.pow(1.0 - math.pow(jaccard(texts(b), docs(src)), 3), 4) }
      val need = p.sum - 3.0 * math.sqrt(p.map(x => x * (1.0 - x)).sum)
      val found = sources.count { case (b, src) => got.exists(r => r._1 == b && r._2 == src) }
      got.find { case (b, c, n) => !texts.contains(b) || !docs.contains(c) || n < 1 || n > 4 }
        .map(r => s"band probe row $r: unknown id or band count")
        .orElse(if (found >= need) None
          else Some(f"band probe found $found of ${sources.size} sources, expected at least $need%.2f"))
    }
  }

  private def dedup(ctx: Ctx): Outcome = {
    val kept = ctx.span("pipeline.dedup") {
      Dedup.dedupCorpus(ctx.spark.read.parquet(dirs("docs"))).select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
    }
    Outcome { () =>
      val twice = kept.toSeq.groupBy(docs.get).collect { case (Some(t), ks) if ks.size > 1 => ks }
      val alone = family.groupBy(_._2).collect { case (_, m) if m.size == 1 => m.head._1 }.toSeq
      val lost = alone.count(!kept.contains(_))
      if (!kept.forall(docs.contains)) Some("dedup kept an unknown id")
      else if (twice.nonEmpty) Some(s"dedup kept identical texts ${twice.head}")
      else if (lost > DedupLossAllowance * alone.size)
        Some(s"dedup dropped $lost of ${alone.size} documents that have no duplicate")
      else None
    }
  }

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(b.length + 1)(identity)
    a.indices.foreach { i =>
      var prev = d(0); d(0) = i + 1
      b.indices.foreach { j =>
        val cur = d(j + 1)
        d(j + 1) = math.min(math.min(d(j + 1), d(j)) + 1, prev + (if (a(i) == b(j)) 0 else 1))
        prev = cur
      }
    }
    d(b.length)
  }

  private def editPairs(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val got = ctx.span("pipeline.edit_pairs") {
      val terms = spark.read.parquet(dirs("docs"))
        .select(explode(split(col("text"), " ")).as("term")).distinct()
      Dedup.editDistancePairs(terms, "term", 1).select(col("a"), col("b"), col("dist"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    }
    Outcome { () =>
      val vocab = docs.values.flatMap(_.split(' ')).toSet.toArray.sorted
      val want = (for {
        i <- vocab.indices; j <- i + 1 until vocab.length
        d = levenshtein(vocab(i), vocab(j)) if d <= 1
      } yield (vocab(i), vocab(j), d)).toSet
      if (got == want) None
      else Some(s"edit pairs: ${got.size} vs ${want.size}; e.g. " +
        ((got -- want).take(2) ++ (want -- got).take(2)))
    }
  }

  private def graph(ctx: Ctx): Outcome = {
    val e = ctx.spark.read.parquet(dirs("edges"))
    val (core, pr) = ctx.span("pipeline.graph") {
      (GraphOps.kCore(e, k = 4).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        GraphOps.pageRank(e).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    }
    Outcome { () =>
      val wantCore = kCoreRef(4, 10)
      val wantPr = pageRankRef(3, 0.85)
      if (core != wantCore) Some(s"k-core: ${core.size} nodes, expected ${wantCore.size}")
      else wantPr.find { case (n, p) => !pr.get(n).contains(p) }
        .map { case (n, p) => s"pagerank node $n: ${pr.get(n)}, expected $p" }
        .orElse(if (pr.size != wantPr.size) Some("pagerank node count") else None)
    }
  }

  /** Synchronous peeling over the symmetrised simple graph, same round
    * budget as the engine's default.
    */
  private def kCoreRef(k: Int, maxRounds: Int): Map[Long, Long] = {
    var es = (edges ++ edges.map(_.swap)).filter { case (a, b) => a != b }.distinct
    var rounds = 0
    var stable = false
    while (rounds < maxRounds && !stable) {
      val deg = es.groupBy(_._1).map { case (n, xs) => n -> xs.length }
      if (deg.values.forall(_ >= k)) stable = true
      else es = es.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
      rounds += 1
    }
    es.groupBy(_._1).map { case (n, xs) => n -> xs.length.toLong }
  }

  private def pageRankRef(iters: Int, d: Double): Map[Long, Double] = {
    val es = edges.distinct
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct
    val n = nodes.length.toDouble
    val out = es.groupBy(_._1).map { case (s, xs) => s -> xs.length }
    var pr = nodes.map(v => v -> round6(1.0 / n)).toMap
    (0 until iters).foreach { _ =>
      val micros = mutable.Map[Long, Long]().withDefaultValue(0L)
      es.foreach { case (s, t) => micros(t) += math.round(round6(pr(s) / out(s)) * 1e6) }
      pr = nodes.map { v =>
        val sum = new java.math.BigDecimal(java.math.BigInteger.valueOf(micros(v)), 6).doubleValue
        v -> round6((1.0 - d) / n + d * sum)
      }.toMap
    }
    pr
  }

  /** Documents appended to the text indexes and still due in the vector
    * index: (id, source).
    */
  private var pending: Seq[(Long, Long)] = Nil

  /** A batch of near-duplicate documents into the corpus and the BM25 and
    * band indexes; `append_vecs` then adds their embeddings.
    */
  private def appendText(rnd: Random, ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val ids = docs.keysIterator.toArray
    val batch = (0 until 10).map { j =>
      val src = ids(rnd.nextInt(ids.length))
      (nextId + j, src, nearDup(rnd, docs(src)))
    }
    nextId += batch.size
    pending = batch.map(b => (b._1, b._2))
    ctx.span("pipeline.index_append") {
      val d = docsDf(ctx, batch.map(b => (b._1, b._3)))
      d.write.mode("append").parquet(dirs("docs"))
      TextIndex.appendToBm25Index(d, Bm25Table, buckets = Buckets)
      TextIndex.appendToBandIndex(d, BandTable, buckets = Buckets)
    }
    Outcome { () =>
      batch.foreach { case (i, src, t) => docs(i) = t; family(i) = family(src) }
      val nDocs = TextIndex.readBm25Index(spark, Bm25Table)._2.head().getAs[Long]("n_docs")
      val nBand = TextIndex.readBandIndex(spark, BandTable).select("doc_id").distinct().count()
      if (nDocs != docs.size) Some(s"bm25 index holds $nDocs docs, expected ${docs.size}")
      else if (nBand > docs.size) Some(s"band index holds $nBand docs, expected <= ${docs.size}")
      else None
    }
  }

  /** Embeddings of the documents `append_text` added, each near its
    * source's, into the vector corpus and the IVF-PQ index.
    */
  private def appendVecs(rnd: Random, ctx: Ctx): Outcome = {
    val batch = pending.map { case (i, src) =>
      (i, perturb(rnd, vecs.getOrElse(src, vecs.head._2), 0.05))
    }
    pending = Nil
    ctx.span("pipeline.index_append") {
      val v = vecsDf(ctx, batch, "vec_id")
      v.write.mode("append").parquet(dirs("vecs"))
      VectorIndex.appendToIndex(v, centroids, codebooks, M, SubDim, dirs("ivf"))
    }
    Outcome { () =>
      batch.foreach { case (i, v) => vecs(i) = v }
      val nIdx = index(ctx).count()
      if (nIdx != vecs.size) Some(s"vector index holds $nIdx rows, expected ${vecs.size}")
      else None
    }
  }

  // ---- per-layer ----

  def kernels(ctx: Ctx): Map[String, Double] = {
    val texts = docs.values.take(2000).map(t => UTF8String.fromString(t)).toArray
    val minhash = Workload.nsPerRow(texts.length) { i =>
      TextKernel.minhashDoc(texts(i), 3, 12)
    }
    val codes = index(ctx).select(col("codes")).limit(2000).collect()
      .map(r => new GenericArrayData(r.getSeq[Long](0).toArray[Any]))
    val cb = codebooks.collect().map(r => (r.getInt(1), r.getLong(0), r.getSeq[Double](2)))
      .sortBy(c => (c._1, c._2))
    val subs = new GenericArrayData(cb.map(_._1: Any))
    val cods = new GenericArrayData(cb.map(_._2: Any))
    val flat = new GenericArrayData(cb.flatMap(_._3).map(x => x: Any))
    val q = new GenericArrayData(vecs.head._2.map(x => x: Any))
    val adc = Workload.nsPerRow(codes.length) { i =>
      AdcKernel.adcSum(codes(i), q, subs, cods, flat, M, SubDim)
    }
    Map("pipeline.minhash_ns_per_doc" -> minhash, "pipeline.adc_ns_per_row" -> adc)
  }

  def ratios(ctx: Ctx, agg: SpanAgg): Map[String, Double] = {
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Map(
      "pipeline.ann_recall_at_k" -> ratio(ctx.notes("ann.recall_sum"), ctx.notes("ann.recall_n")),
      "pipeline.dedup_pairs_per_candidate" ->
        ratio(ctx.notes("band.similar_pairs"), ctx.notes("band.candidate_pairs")))
  }
}
