package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Driver-side evaluators for the snapped graph fixed points: the local
  * side of the [[Iterate]] cutover (connected components' union-find lives
  * in [[Dedup]]). Each takes the gate's collected rows (non-null ids of one
  * type) and returns the same rows the distributed loop would.
  *
  * Bit-exactness contract (the reason this file is longer than the math):
  * every stored score lives on the 1e-6 grid, and each iteration's float
  * tail replicates the Column expressions operation by operation —
  *  - `round6(x)` = floor(x·1e6 + 0.5) / 1e6 in IEEE doubles;
  *  - `cast(x as decimal(28,6))` = java BigDecimal(x).setScale(6,
  *    HALF_UP), an exact micro-unit long; decimal SUMs are long sums
  *    (order-free, so driver iteration order cannot matter);
  *  - `cast(dec as double)` = BigDecimal(micro, 6).doubleValue;
  *  - update expressions keep the distributed form's association order.
  * GraphOpsSpec pins local == distributed on randomized graphs; the gate
  * oracles pin both against DuckDB.
  */
private[pipeline] object GraphLocal {

  /** floor(x*1e6 + 0.5)/1e6 — [[TextAnalysis.round6]]'s exact semantics. */
  private def snap(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Micro-units of `cast(x as decimal(28,6))` (HALF_UP, like Spark). */
  private def micro6(x: Double): Long =
    new java.math.BigDecimal(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** `cast(decimal(28,6) as double)` of a micro-unit sum. */
  private def microToDouble(m: Long): Double =
    new java.math.BigDecimal(java.math.BigInteger.valueOf(m), 6).doubleValue()

  private def toDF(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val slices = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions, rows.size / 100000 + 1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
  }

  /** Distinct endpoints (then `extra`) in first-seen order. */
  private def nodesOf(edges: Array[Row], extra: Seq[Any] = Nil): Seq[Any] = {
    val nodes = new java.util.LinkedHashSet[Any]()
    edges.foreach { r => nodes.add(r.get(0)); nodes.add(r.get(1)) }
    extra.foreach(nodes.add)
    import scala.jdk.CollectionConverters._
    nodes.asScala.toSeq
  }

  /** Out-degree of every source over distinct (src, dst) rows. */
  private def outDegrees(edges: Array[Row]): Map[Any, Double] =
    edges.groupBy(_.get(0)).map { case (u, rs) => u -> rs.length.toDouble }

  /** The PageRank family's snapped fixed point: each round every edge
    * (u, v, x) adds micro6(`contrib`(pr(u), x)) to v's exact sum, then
    * pr(v) = `update`(v, the sum as a double). Output: (node, pr).
    */
  private def rank(spark: SparkSession, nodeType: DataType, nodes: Seq[Any],
      edges: Array[(Any, Any, Double)], iters: Int, pr0: Any => Double,
      contrib: (Double, Double) => Double, update: (Any, Double) => Double): DataFrame = {
    val pr = new java.util.HashMap[Any, Double]()
    nodes.foreach(v => pr.put(v, pr0(v)))
    for (_ <- 0 until iters) {
      val sums = new java.util.HashMap[Any, Long]()
      edges.foreach { case (u, v, x) =>
        sums.merge(v, micro6(contrib(pr.get(u), x)), (a: Long, b: Long) => a + b)
      }
      // a node no edge reaches reads 0 micro-units: coalesce(sum, 0.0)
      nodes.foreach(v => pr.put(v, update(v, microToDouble(sums.getOrDefault(v, 0L)))))
    }
    toDF(spark, nodes.map(v => Row(v, pr.get(v))),
      StructType(Seq(StructField("node", nodeType), StructField("pr", DoubleType))))
  }

  /** PageRank over distinct (src, dst) rows:
    * pr_0 = round6(1/N); pr_{i+1}(v) = round6((1-d)/N + d·Σ_{u→v}
    * round6(pr_i(u)/out(u))) with the Σ an exact decimal sum.
    */
  def pageRank(spark: SparkSession, edges: Array[Row], iters: Int,
      damping: Double, nodeType: DataType): DataFrame = {
    val nodes = nodesOf(edges)
    val n = nodes.size.toDouble
    val out = outDegrees(edges)
    rank(spark, nodeType, nodes, edges.map(r => (r.get(0), r.get(1), out(r.get(0)))),
      iters, _ => snap(1.0 / n), (p, o) => snap(p / o),
      (_, sd) => snap(((1.0 - damping) / n) + damping * sd))
  }

  /** Personalized PageRank over distinct (src, dst) rows and a seed set:
    * t(v) = round6(1/|S|) on seeds else 0; pr_0 = t;
    * pr_{i+1}(v) = round6((1-d)·t(v) + d·Σ round6(pr_i(u)/out(u))).
    */
  def personalizedPageRank(spark: SparkSession, edges: Array[Row],
      seeds: Seq[Any], iters: Int, damping: Double,
      nodeType: DataType): DataFrame = {
    val seedSet = seeds.toSet
    val tS = snap(1.0 / seedSet.size.toDouble)
    def t(v: Any) = if (seedSet.contains(v)) tS else 0.0
    val out = outDegrees(edges)
    rank(spark, nodeType, nodesOf(edges, seeds),
      edges.map(r => (r.get(0), r.get(1), out(r.get(0)))), iters, t,
      (p, o) => snap(p / o), (v, sd) => snap((1.0 - damping) * t(v) + damping * sd))
  }

  /** Weighted PageRank over (src, dst, w) rows (duplicates already summed):
    * share(u,v) = round6(w / Σ_out w) as the distributed form precomputes
    * it; pr_{i+1}(v) = round6((1-d)/N + d·Σ round6(pr_i(u)·share(u,v))).
    */
  def weightedPageRank(spark: SparkSession, edges: Array[Row], iters: Int,
      damping: Double, nodeType: DataType): DataFrame = {
    val nodes = nodesOf(edges)
    val n = nodes.size.toDouble
    val outW = edges.groupBy(_.get(0)).map { case (u, rs) => u -> rs.map(_.getLong(2)).sum }
    rank(spark, nodeType, nodes,
      edges.map(r => (r.get(0), r.get(1),
        snap(r.getLong(2).toDouble / outW(r.get(0)).toDouble))),
      iters, _ => snap(1.0 / n), (p, share) => snap(p * share),
      (_, sd) => snap(((1.0 - damping) / n) + damping * sd))
  }

  /** HITS over distinct (src, dst) rows: per half-round an exact
    * decimal spread sum, then the snapped L2 normalization — norm² is the
    * exact LONG sum of floor(raw²·1e6 + 0.5), norm one IEEE sqrt of
    * (sum/1e6), scores round6(raw/norm) (0 when the norm is 0).
    */
  def hits(spark: SparkSession, rows: Array[Row], iters: Int,
      nodeType: DataType): DataFrame = {
    val nodeSeq = nodesOf(rows)
    val edges = rows.map(r => (r.get(0), r.get(1)))
    var h = new java.util.HashMap[Any, Double]()
    var a = new java.util.HashMap[Any, Double]()
    nodeSeq.foreach { v => h.put(v, 1.0); a.put(v, 1.0) }
    // spread scores along (from, to) pairs, then L2-normalize snapped
    def halfRound(scores: java.util.HashMap[Any, Double],
        along: Array[(Any, Any)]): java.util.HashMap[Any, Double] = {
      val sums = new java.util.HashMap[Any, Array[Long]]()
      along.foreach { case (u, v) =>
        val c = micro6(scores.get(u))
        val e = sums.get(v)
        if (e == null) sums.put(v, Array(c)) else e(0) += c
      }
      val raw = new java.util.HashMap[Any, Double]()
      var normMicroSq = 0L
      nodeSeq.foreach { v =>
        val s = sums.get(v)
        val r = if (s == null) 0.0 else microToDouble(s(0))
        raw.put(v, r)
        normMicroSq += math.floor(r * r * 1e6 + 0.5).toLong
      }
      val nrm = math.sqrt(normMicroSq.toDouble / 1e6)
      val out = new java.util.HashMap[Any, Double]()
      nodeSeq.foreach { v =>
        val r = raw.get(v)
        out.put(v, if (nrm > 0) snap(r / nrm) else 0.0)
      }
      out
    }
    val fwd = edges
    val rev = edges.map { case (u, v) => (v, u): (Any, Any) }
    for (_ <- 0 until iters) {
      a = halfRound(h, fwd) // authority from hubs along u→v
      h = halfRound(a, rev) // hubs from the just-normalized authorities
    }
    toDF(spark, nodeSeq.map(v => Row(v, h.get(v), a.get(v))),
      StructType(Seq(StructField("node", nodeType),
        StructField("hub", DoubleType), StructField("auth", DoubleType))))
  }

  /** Synchronous min-tie label propagation over distinct (src, dst) rows
    * (already symmetrized upstream when undirected):
    * each round a node takes its in-neighbors' most frequent label, ties
    * to the MINIMUM label under Spark's own type ordering (UTF-8 bytes
    * for strings); a node with no in-edges RESETS to its own id — the
    * distributed form's coalesce(label, node) semantics.
    */
  def labelPropagation(spark: SparkSession, rows: Array[Row],
      iters: Int, nodeType: DataType): DataFrame = {
    val ord = Dedup.localIdOrdering(nodeType).get
    val nodeSeq = nodesOf(rows)
    val edges = rows.map(r => (r.get(0), r.get(1)))
    var labels = new java.util.HashMap[Any, Any]()
    nodeSeq.foreach(v => labels.put(v, v))
    for (_ <- 0 until iters) {
      // per node: label -> count over in-neighbors
      val counts = new java.util.HashMap[Any, java.util.HashMap[Any, Array[Long]]]()
      edges.foreach { case (u, v) =>
        val l = labels.get(u)
        var m = counts.get(v)
        if (m == null) { m = new java.util.HashMap(); counts.put(v, m) }
        val e = m.get(l)
        if (e == null) m.put(l, Array(1L)) else e(0) += 1
      }
      val next = new java.util.HashMap[Any, Any]()
      nodeSeq.foreach { v =>
        val m = counts.get(v)
        if (m == null) next.put(v, v) // coalesce(label, node)
        else {
          var bestL: Any = null
          var bestC = -1L
          val it = m.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue()(0)
            if (c > bestC || (c == bestC && ord.lt(e.getKey, bestL)))
              { bestL = e.getKey; bestC = c }
          }
          next.put(v, bestL)
        }
      }
      labels = next
    }
    toDF(spark, nodeSeq.map(v => Row(v, labels.get(v))),
      StructType(Seq(StructField("node", nodeType), StructField("label", nodeType))))
  }

  /** BFS hop distances from `sources` over distinct (src, dst) rows:
    * (node, dist) for every node within `maxDepth` hops.
    */
  def bfsDistances(spark: SparkSession, edges: Array[Row], sources: Seq[Any],
      maxDepth: Int, nodeType: DataType): DataFrame =
    toDF(spark, bfs(adjacency(edges), sources, maxDepth).map { case (n, d) => Row(n, d) },
      StructType(Seq(StructField("node", nodeType), StructField("dist", LongType))))

  /** (lm, node, d) for every node within `maxHops` of each landmark. The
    * table is O(landmarks × reached nodes), up to 16× the edge list the
    * cutover bounds, so it never materializes on the driver: the
    * adjacency is broadcast once and each landmark's BFS runs in its own
    * executor task, so rows are born distributed.
    */
  def landmarkDistances(spark: SparkSession, edges: Array[Row], landmarks: Seq[Any],
      maxHops: Int, nodeType: DataType): DataFrame = {
    val adjB = spark.sparkContext.broadcast(adjacency(edges))
    val rows = spark.sparkContext.parallelize(landmarks, math.max(1, landmarks.size))
      .flatMap(lm => bfs(adjB.value, Seq(lm), maxHops).iterator.map { case (n, d) => Row(lm, n, d) })
    spark.createDataFrame(rows, StructType(Seq(StructField("lm", nodeType),
      StructField("node", nodeType), StructField("d", LongType))))
  }

  /** Adjacency lists of (src, dst) rows. */
  private def adjacency(edges: Array[Row]): Map[Any, Array[Any]] =
    edges.groupBy(_.get(0)).map { case (u, rs) => u -> rs.map(_.get(1)) }

  /** Multi-source BFS along edge direction: the min hop distance of every
    * node within `maxHops` of a source (sources at 0) — the rows the
    * distributed frontier loop settles.
    */
  private def bfs(adj: Map[Any, Array[Any]], sources: Seq[Any], maxHops: Int): Seq[(Any, Long)] = {
    val dist = scala.collection.mutable.LinkedHashMap[Any, Long]()
    var frontier = sources.distinct
    frontier.foreach(s => dist(s) = 0L)
    var hop = 1L
    while (hop <= maxHops && frontier.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuffer[Any]()
      for (n <- frontier; m <- adj.getOrElse(n, Array.empty[Any]) if !dist.contains(m)) {
        dist(m) = hop; next += m
      }
      frontier = next.toSeq
      hop += 1
    }
    dist.toSeq
  }
}
