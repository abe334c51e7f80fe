package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph statistics over edge tables — the web-graph half of
  * corpus curation. Common Crawl-lineage pipelines rank domains by link
  * centrality (PageRank / harmonic centrality) and use the rank as a
  * crawl-priority and quality prior; the reference engine has no graph
  * surface, so this sits beside [[Dedup.connectedComponents]] (the other
  * iterative graph op) in the LLM-pipeline layer.
  *
  * Everything is keyed joins + keyed aggregations — no adjacency lists on
  * the driver, no per-node windows — so the shape survives a billion-edge
  * graph: each iteration is one (src-keyed) join of the rank frame against
  * the out-degree-annotated edges plus one dst-keyed sum.
  */
object GraphOps {

  /** PageRank (Brin/Page 1998) with fixed iteration count and
    * deterministic fixed-point arithmetic, so two engines (and two
    * cluster topologies) produce bit-identical ranks:
    *
    *   pr_0(v)   = round6(1 / N)
    *   pr_i+1(v) = round6((1-d)/N + d · Σ_{u→v} round6(pr_i(u)/out(u)))
    *
    * with the Σ accumulated as exact DECIMAL(28,6) (order-independent) and
    * every stored rank snapped to the 1e-6 grid. Dangling nodes (out-degree
    * 0) contribute no mass — the "weak" PageRank variant most batch
    * implementations use; with damping the ranks stay bounded, they just
    * no longer sum to exactly 1. Duplicate edge rows are collapsed first
    * (an unweighted simple digraph); self-loops count like any edge.
    *
    * Out-degree rides on every edge row (joined once, not per iteration).
    * Runs through [[Iterate]]: the local cutover on a small graph, else a
    * fixed `iters`-round loop.
    *
    * Output: (node, pr) for every node appearing as a source or target.
    */
  def pageRank(edges: DataFrame, iters: Int = 3, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, s"pageRank: iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1,
      s"pageRank: damping must be in (0,1), got $damping")
    val it = Iterate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    it.local().map(r => GraphLocal.pageRank(it.caller, r.head, iters, damping, it.idType))
      .getOrElse {
        val e = it.edges
        val eo = it.root(e.join(outDegrees(e), Seq("src")))
        val nodes = withNodeCount(it, endpoints(e))
        rankLoop(it, eo, nodes, nodes.select(col("node"), snap(lit(1.0) / col("__n")).as("pr")),
          iters, col("pr") / col("__out"),
          (lit(1.0) - damping) / col("__n") + lit(damping) * coalesce(col("__sum"), lit(0.0)))
      }
  }

  private def snap(c: Column): Column = TextAnalysis.round6(c)

  /** Distinct (node) over both endpoints of an edge frame. */
  private def endpoints(e: DataFrame): DataFrame =
    e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()

  /** (src, __out) out-degrees of distinct edges. */
  private def outDegrees(e: DataFrame): DataFrame =
    e.groupBy(col("src")).agg(count(lit(1)).as("__out"))

  /** The node frame rooted with N riding on every row as `__n` (a
    * broadcast 1-row count: no driver-side count action).
    */
  private def withNodeCount(it: Iterate, nodes: DataFrame): DataFrame =
    it.root(nodes.crossJoin(broadcast(nodes.agg(count(lit(1)).as("__n")))))

  /** The PageRank family's distributed fixed point: per round every edge
    * row of `eo` adds round6(`contrib`) (over `pr` and eo's columns) to its
    * dst's exact DECIMAL(28,6) sum, and every row of `nodes` takes
    * pr = round6(`update`) (over nodes' columns and the sum, `__sum`).
    */
  private def rankLoop(it: Iterate, eo: DataFrame, nodes: DataFrame,
      pr0: DataFrame, iters: Int, contrib: Column, update: Column): DataFrame =
    it.result(it.iterate(pr0, iters, readsStateOnce = true) { (pr, _) =>
      val sums = pr.join(eo, pr("node") === eo("src"))
        .select(col("dst").as("node"), snap(contrib).as("__c"))
        .groupBy(col("node"))
        .agg(sum(col("__c").cast("decimal(28,6)")).cast("double").as("__sum"))
      nodes.join(sums, Seq("node"), "left").select(col("node"), snap(update).as("pr"))
    })

  /** PERSONALIZED PageRank: the teleport lands uniformly on a SEED set
    * instead of all nodes — the seed-based trust/quality propagation used
    * over web graphs (TrustRank, Gyöngyi et al. 2004: start from vetted
    * good domains, damping-decay their mass along links; a page's score
    * is its link-proximity to the seeds). Same snapped fixed-point
    * arithmetic as [[pageRank]]:
    *
    *   t(v)      = round6(1 / |S|) if v ∈ S else 0
    *   pr_0      = t
    *   pr_i+1(v) = round6((1-d)·t(v) + d · Σ_{u→v} round6(pr_i(u)/out(u)))
    *
    * Nodes unreachable from the seeds decay to 0 — that asymmetry is the
    * point. Seeds not present in the edge set still teleport (they are
    * added to the node set), so a vetted-but-unlinked seed keeps its base
    * mass. Output: (node, pr) over edge-endpoint nodes ∪ seeds.
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
      iters: Int = 3, damping: Double = 0.85, srcCol: String = "src",
      dstCol: String = "dst", seedCol: String = "node"): DataFrame = {
    require(iters >= 0, s"personalizedPageRank: iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1,
      s"personalizedPageRank: damping must be in (0,1), got $damping")
    val it = Iterate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val s = it.root(seeds.select(col(seedCol).as("node")).distinct())
    it.local(s).map(r => GraphLocal.personalizedPageRank(it.caller, r(0), r(1).map(_.get(0)).toSeq,
        iters, damping, it.idType))
      .getOrElse {
        val e = it.edges
        // the teleport rides on the node frame as __t
        val nodes = it.root(endpoints(e).union(s).distinct()
          .join(s.withColumn("__seed", lit(1)), Seq("node"), "left")
          .crossJoin(broadcast(s.agg(count(lit(1)).as("__s"))))
          .select(col("node"),
            when(col("__seed").isNotNull, snap(lit(1.0) / col("__s")))
              .otherwise(lit(0.0)).as("__t")))
        rankLoop(it, it.root(e.join(outDegrees(e), Seq("src"))), nodes,
          nodes.select(col("node"), col("__t").as("pr")), iters, col("pr") / col("__out"),
          (lit(1.0) - damping) * col("__t") + lit(damping) * coalesce(col("__sum"), lit(0.0)))
      }
  }

  /** Undirected co-occurrence edges from an item table: every unordered
    * pair of distinct values sharing a group becomes an edge in BOTH
    * directions — the standard construction for a co-citation /
    * co-occurrence graph (domains cited by the same document, tokens in
    * the same context). The self-join is keyed on the group column, so
    * its cost is Σ per-group-degree², bounded by the caller's group
    * fan-out (URLs per document), never corpus².
    */
  def coOccurrenceEdges(items: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = items.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .distinct()
    val l = g.select(col("__g"), col("__v").as("src"))
    val r = g.select(col("__g"), col("__v").as("dst"))
    l.join(r, Seq("__g"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"))
      .distinct()
  }

  /** Label-propagation community detection (Raghavan et al. 2007), the
    * cheap large-graph community pass (domain clusters over link graphs,
    * near-dup families over similarity graphs): every node starts as its
    * own label; each SYNCHRONOUS iteration relabels a node to its
    * neighbors' most frequent label. The classic algorithm breaks
    * frequency ties randomly — here ties take the MINIMUM label, and
    * iterations are synchronous with a fixed count, so the result is a
    * deterministic function of the edge set (two engines and two
    * partitionings agree; the price is the possible two-coloring
    * oscillation on bipartite regions, which a fixed iteration count
    * makes reproducible rather than divergent).
    *
    * Each iteration is one src-keyed join (labels onto edges) + one
    * (node, label)-keyed count + one node-keyed argmax via struct-min
    * ((-count, label) — no window, no collect). Isolated self-loop-only
    * nodes keep their own label through the left join. `directed=false`
    * (the default) symmetrizes the edge set first — community detection
    * is an undirected notion; pass `directed=true` to propagate along arcs.
    * Output: (node, label).
    */
  def labelPropagation(edges: DataFrame, iters: Int = 3,
      directed: Boolean = false, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, s"labelPropagation: iters must be >= 0, got $iters")
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val it = Iterate((if (directed) raw
      else raw.unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))).distinct())
    it.local().map(r => GraphLocal.labelPropagation(it.caller, r.head, iters, it.idType))
      .getOrElse {
        val e = it.edges
        val nodes = it.root(endpoints(e))
        it.result(it.iterate(nodes.select(col("node"), col("node").as("label")), iters,
            readsStateOnce = true) {
          (labels, _) =>
            val best = labels.join(e, labels("node") === e("src"))
              .select(col("dst").as("node"), col("label"))
              .groupBy(col("node"), col("label"))
              .agg(count(lit(1)).as("__c"))
              .groupBy(col("node"))
              .agg(min(struct((-col("__c")).as("nc"), col("label").as("l"))).as("__b"))
              .select(col("node"), col("__b.l").as("label"))
            nodes.join(best, Seq("node"), "left")
              .select(col("node"), coalesce(col("label"), col("node")).as("label"))
        })
      }
  }

  /** WEIGHTED co-occurrence edges: like [[coOccurrenceEdges]] but each
    * ordered pair carries the number of groups it co-occurs in — the
    * co-citation STRENGTH (two domains cited together once vs in 10k
    * documents are different signals). Same keyed-join shape, one extra
    * count aggregation.  Output: (src, dst, weight).
    */
  /** ASSOCIATION RULES over baskets (the market-basket support /
    * confidence / lift battery, Agrawal et al. 1993 Apriori's level-2
    * output — "users who bought A also bought B"): for each co-occurring
    * item pair with n_ab shared baskets, n_a/n_b per-item basket counts
    * and N retained baskets,
    *
    *   support = n_ab/N,  conf(a→b) = n_ab/n_a,  conf(b→a) = n_ab/n_b,
    *   lift = n_ab·N / (n_a·n_b)   (> 1 ⇔ positive association)
    *
    * Scale shape: the pair generation is a BASKET-KEYED self-join, so a
    * basket costs its size² — baskets larger than `maxBasketSize` are
    * DROPPED before pairing (the [[Dedup.lshCandidatePairs]] hot-bucket
    * stance: a power-user/spam basket is noise for association mining
    * and would otherwise dominate the shuffle; N counts retained baskets
    * so the probabilities stay consistent). Counts stay exact longs;
    * the n_ab·N and n_a·n_b products stay under 2^53 for any realistic
    * catalog, and every ratio snaps to the 1e-6 grid. `minPairCount`
    * prunes the long tail BEFORE the stat joins. Output: (a, b (a < b),
    * n_ab, n_a, n_b, support, conf_ab, conf_ba, lift) — topK by lift.
    */
  def assocRules(baskets: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 2, topK: Int = 20,
      maxBasketSize: Int = 256): DataFrame = {
    require(minPairCount >= 1 && topK >= 1 && maxBasketSize >= 2,
      s"assocRules: bad minPairCount=$minPairCount topK=$topK maxBasketSize=$maxBasketSize")
    val b0 = baskets.select(col(basketCol).as("__g"), col(itemCol).as("__i"))
      .distinct()
    val sizes = b0.groupBy(col("__g")).agg(count(lit(1)).as("__sz"))
    val b = b0.join(sizes.filter(col("__sz") <= maxBasketSize), Seq("__g"))
      .select(col("__g"), col("__i"))
    val nB = b.select(col("__g")).distinct().agg(count(lit(1)).as("__n"))
    val ci = b.groupBy(col("__i")).agg(count(lit(1)).as("__c"))
    val snap = (c: org.apache.spark.sql.Column) => TextAnalysis.round6(c)
    b.select(col("__g"), col("__i").as("a"))
      .join(b.select(col("__g"), col("__i").as("b")), Seq("__g"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minPairCount)
      .join(ci.select(col("__i").as("a"), col("__c").as("n_a")), Seq("a"))
      .join(ci.select(col("__i").as("b"), col("__c").as("n_b")), Seq("b"))
      .crossJoin(broadcast(nB))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        snap(col("n_ab").cast("double") / col("__n")).as("support"),
        snap(col("n_ab").cast("double") / col("n_a")).as("conf_ab"),
        snap(col("n_ab").cast("double") / col("n_b")).as("conf_ba"),
        snap((col("n_ab") * col("__n")).cast("double") /
          (col("n_a") * col("n_b"))).as("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(topK)
  }

  def coOccurrenceEdgesWeighted(items: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val g = items.select(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .distinct()
    val l = g.select(col("__g"), col("__v").as("src"))
    val r = g.select(col("__g"), col("__v").as("dst"))
    l.join(r, Seq("__g"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("weight"))
  }

  /** WEIGHTED PageRank: rank mass flows along edges in proportion to
    * edge weight instead of splitting evenly — the form link analysis
    * actually runs over co-citation/click graphs, where multiplicity IS
    * the signal. Same snapped fixed-point discipline as [[pageRank]],
    * with the per-edge SHARE precomputed once (share = round6(w / Σ_out w),
    * exact-decimal Σ over integer weights) so iterations stay one keyed
    * join + one keyed decimal sum:
    *
    *   pr_i+1(v) = round6((1-d)/N + d · Σ_{u→v} round6(pr_i(u) · share(u,v)))
    *
    * Duplicate (src, dst) rows collapse by SUMMING their weights;
    * non-positive weights are rejected loudly. Output: (node, pr).
    */
  def weightedPageRank(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85, srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "weight"): DataFrame = {
    require(iters >= 0, s"weightedPageRank: iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1,
      s"weightedPageRank: damping must be in (0,1), got $damping")
    val it = Iterate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w")))
    // validate BEFORE the share division plans (a zero out-weight would
    // otherwise surface as an ANSI arithmetic error mid-pipeline)
    val bad = it.edges.filter(col("w") <= 0).limit(1).count() != 0
    if (bad) it.release()
    require(!bad, "weightedPageRank: weights must be positive")
    it.local().map(r => GraphLocal.weightedPageRank(it.caller, r.head, iters, damping, it.idType))
      .getOrElse {
        val e = it.edges
        // shares ride on every edge row, computed once — iterations never
        // touch the weights again
        val eo = it.root(e.join(e.groupBy(col("src")).agg(sum(col("w")).as("__ow")), Seq("src"))
          .select(col("src"), col("dst"),
            snap(col("w").cast("double") / col("__ow").cast("double")).as("__share")))
        val nodes = withNodeCount(it, endpoints(e))
        rankLoop(it, eo, nodes, nodes.select(col("node"), snap(lit(1.0) / col("__n")).as("pr")),
          iters, col("pr") * col("__share"),
          (lit(1.0) - damping) / col("__n") + lit(damping) * coalesce(col("__sum"), lit(0.0)))
      }
  }

  /** k-CORE decomposition by iterative peeling: repeatedly remove nodes
    * of degree < k (over the symmetrized simple graph) until stable or
    * `maxRounds` — the surviving subgraph is the k-core, the standard
    * dense-subgraph signal (spam/link-farm rings survive high-k cores;
    * organic long-tail pages peel away early). Each round is one degree
    * aggregation + two semi-joins restricting the edge set — keyed
    * shuffles only, no window, rounds bounded by `maxRounds` (peeling
    * converges in at most |V| rounds, in practice a handful; pass the
    * round budget explicitly when mirroring against an unrolled oracle).
    * Runs on the [[Iterate]] loop; there is no local cutover.
    * Output: (node, degree) of the surviving core — empty when the graph
    * has no k-core.
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 10,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(maxRounds >= 1, s"kCore: maxRounds must be >= 1, got $maxRounds")
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val it = Iterate(raw.unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct())
    // round 0 roots the input's (node, degree) and each later round peels
    // every node below k: the edges left are those of the input between
    // the nodes the last round kept (the kept set only shrinks, so that is
    // the last round's edge set peeled). A round's one action looks for a
    // node below k; none means the edge set is the core.
    def degrees(e: DataFrame) = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    val (core, _) = it.converge(degrees(it.edges), maxRounds + 1) { (deg, r) =>
      if (r == 0) deg
      else {
        val keep = deg.filter(col("degree") >= k).select(col("node"))
        degrees(it.edges.join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi"))
      }
    } { (deg, _) => deg.filter(col("degree") < k).count() == 0 }
    it.result(core)
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected simple graph — the link-farm / tight-community signal
    * (spam rings close triangles; organic link graphs are sparse in
    * them). Exact counting via the DEGREE-ORDERED wedge join (Cohen
    * 2009 / Suri-Vassilvitskii 2011): orient every edge from its lower
    * (degree, node) endpoint to the higher, so wedges form only at a
    * triangle's LOWEST-degree corner — total wedge volume drops from
    * Σ deg² (quadratic at one hub) to O(m^1.5), the bound that survives
    * a power-law web graph. Three keyed joins, no window, no driver
    * state; the orientation comparison is a plain (deg, node) tuple
    * predicate, not a rank window.
    *
    * Output: (node, degree, triangles, clustering) with clustering =
    * round6(2·t / (deg·(deg−1))), 0 when deg < 2. Duplicate edges and
    * self-loops are dropped first.
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val raw = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
    val und = raw.unionByName(raw.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
    // orient a -> b iff (deg(a), a) < (deg(b), b): a DAG whose out-
    // neighborhoods are O(sqrt(m)) on any graph
    val withDeg = und
      .join(deg.select(col("node").as("src"), col("degree").as("__ds")), Seq("src"))
      .join(deg.select(col("node").as("dst"), col("degree").as("__dd")), Seq("dst"))
    val directed = withDeg.filter(
        col("__ds") < col("__dd") ||
          (col("__ds") === col("__dd") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // wedges at u: (v, w) pairs of out-neighbors, emitted once (v before w
    // in the same orientation order — enforced by joining the directed
    // edge (v, w), which exists only in that direction)
    val wedges = directed.join(
        directed.select(col("u"), col("v").as("w")), Seq("u"))
      .filter(col("v") =!= col("w"))
    val tris = wedges.join(
        directed.select(col("u").as("v"), col("v").as("w")),
        Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tris.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
    val out = deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("clustering",
        when(col("degree") >= 2, TextAnalysis.round6(
          lit(2.0) * col("triangles") / (col("degree") * (col("degree") - 1))))
          .otherwise(lit(0.0)))
    CacheScope.releaseAfterFirstUse(out, Seq(und, directed))
  }

  /** HARMONIC CENTRALITY by landmark BFS — the statistic Common Crawl's
    * host ranking actually publishes (Boldi & Vigna 2014, "Axioms for
    * centrality": harmonic = Σ_u 1/d(u, v) handles disconnected graphs
    * where closeness breaks). Exact all-pairs is O(n·m) — the landmark
    * form runs BFS from L deterministically-chosen sources (the L
    * smallest salted node hashes, ties by node — any engine re-derives
    * the set) and reports the PARTIAL sum Σ_{l ∈ landmarks, d(l→v) ≥ 1}
    * round6(1/d(l→v)) plus `n_reached`; the (N-1)/L scale-up to the full
    * estimate is the consumer's one multiply (the hllDistinct stance:
    * ship the exact parts, not the engine-unportable garnish — here the
    * parts ARE portable, the stance is about keeping the estimator
    * choice visible). Distances follow edge direction (d(l→v) along
    * src→dst paths; pass a symmetrized edge table for the undirected
    * form).
    *
    * Scale shape: per hop one frontier-to-edges equi-join + one distinct
    * + one anti-join against the settled set — state is O(L·n) rows,
    * keyed shuffles only; each hop's one action counts its frontier,
    * which doubles as early termination when the frontier drains (the
    * [[bfsDistances]] loop). Under the [[Iterate]] cutover the distances
    * come from one executor task per landmark instead.
    * Output: (node, h_sum, n_reached) for every node reached by ≥ 1
    * landmark (BFS source rows at d=0 count as reached, contribute 0).
    */
  def harmonicCentrality(edges: DataFrame, landmarks: Int = 16,
      maxHops: Int = 6, srcCol: String = "src", dstCol: String = "dst",
      salt: String = "hc"): DataFrame = {
    require(landmarks >= 1, s"harmonicCentrality: need >= 1 landmark")
    require(maxHops >= 1 && maxHops <= 12,
      s"harmonicCentrality: maxHops must be in [1, 12], got $maxHops")
    val it = Iterate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    // deterministic landmark set: L smallest (hash, node)
    val lms = it.root(endpoints(it.edges)
      .orderBy(Sampling.keyHash32(col("node"), salt), col("node"))
      .limit(landmarks)
      .select(col("node").as("lm")))
    val dist = it.local(lms)
      .map(r => GraphLocal.landmarkDistances(it.caller, r(0), r(1).map(_.get(0)).toSeq,
        maxHops, it.idType))
      .getOrElse(frontierBfs(it, lms.select(col("lm"), col("lm").as("node"), lit(0L).as("d")),
        maxHops))
    it.result(dist
      .groupBy(col("node"))
      .agg(
        TextAnalysis.round6(
          sum(when(col("d") >= 1,
            TextAnalysis.round6(lit(1.0) / col("d"))).otherwise(lit(0.0))
            .cast("decimal(28,6)")).cast("double")).as("h_sum"),
        sum(when(col("d") >= 1, 1L).otherwise(0L)).as("n_reached")))
  }

  /** Multi-source frontier BFS on `it`'s edges from (lm, node, d = 0)
    * source rows: (lm, node, d) with d the min hop count from lm, for
    * every node within `maxHops`. Round r joins the frontier (d = r) to
    * the edges and anti-joins the settled rows; its one action counts the
    * new frontier, and an empty frontier ends the loop.
    */
  private def frontierBfs(it: Iterate, sources: DataFrame, maxHops: Int): DataFrame = {
    val e = it.edges.select(col("src").as("__fn"), col("dst").as("__to"))
    it.converge(sources, maxHops) { (settled, r) =>
      settled.unionByName(settled.filter(col("d") === r)
        .select(col("lm"), col("node").as("__fn"))
        .join(e, Seq("__fn"))
        .select(col("lm"), col("__to").as("node")).distinct()
        .join(settled.select(col("lm"), col("node")), Seq("lm", "node"), "left_anti")
        .select(col("lm"), col("node"), lit(r + 1L).as("d")))
    } { (settled, r) => settled.filter(col("d") === r + 1L).count() == 0 }._1
  }

  /** HITS hubs & authorities (Kleinberg 1999) — the directional
    * complement to [[pageRank]]: a good HUB links to good authorities, a
    * good AUTHORITY is linked from good hubs (catalog/aggregator pages vs
    * canonical sources — PageRank's single score cannot separate the two
    * roles). Fixed iteration count, deterministic fixed-point trace (the
    * [[pageRank]]/q155 discipline):
    *
    *   a'_i+1(v) = Σ_{u→v} h_i(u)        (exact DECIMAL sum of snapped h)
    *   a_i+1     = round6(a' / ||a'||)   (L2 norm: snapped a'² terms →
    *                                      exact LONG sum → one IEEE sqrt)
    *   h'_i+1(u) = Σ_{u→v} a_i+1(v)      (with the JUST-normalized a)
    *   h_i+1     = round6(h' / ||h'||)
    *
    * so every stored score lives on the 1e-6 grid and a SQL oracle
    * unrolling the same rounds reproduces it bit-for-bit. Per iteration:
    * two keyed join+sum pairs and two 1-row norm broadcasts — no window,
    * no driver collect; duplicate edges collapse first. Nodes with no
    * in-edges hold authority 0; no out-edges, hub 0. Output:
    * (node, hub, auth).
    */
  def hits(edges: DataFrame, iters: Int = 2,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 1 && iters <= 20, s"hits: iters must be in [1, 20], got $iters")
    val it = Iterate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    it.local().map(r => GraphLocal.hits(it.caller, r.head, iters, it.idType)).getOrElse {
      val e = it.edges
      // one half-round over the (node, hub, auth) state: spread `from`
      // along `edgesK` as an exact decimal sum, then L2-normalize it into
      // `to` — the norm is a 1-row frame (snapped squared terms summed
      // exactly, one sqrt), broadcast back
      def half(s: DataFrame, from: String, to: String, edgesK: DataFrame): DataFrame = {
        val raw = s.join(
          s.select(col("node").as("__k"), col(from).as("__x"))
            .join(edgesK, Seq("__k"))
            .groupBy(col("__t").as("node"))
            .agg(sum(col("__x").cast("decimal(28,6)")).cast("double").as("__s")),
          Seq("node"), "left")
          .select(col("node"), col(from), coalesce(col("__s"), lit(0.0)).as("__raw"))
        val nrm = raw.agg(
          sqrt(sum(floor(col("__raw") * col("__raw") * 1e6 + 0.5).cast("long"))
            .cast("double") / 1e6).as("__nrm"))
        raw.crossJoin(broadcast(nrm))
          .select(col("node"), col(from),
            when(col("__nrm") > 0, snap(col("__raw") / col("__nrm")))
              .otherwise(lit(0.0)).as(to))
      }
      val bySrc = e.select(col("src").as("__k"), col("dst").as("__t"))
      val byDst = e.select(col("dst").as("__k"), col("src").as("__t"))
      // even half-rounds: authorities from hubs along u→v; odd: hubs from
      // the just-normalized authorities
      val out = it.iterate(endpoints(e).select(col("node"), lit(1.0).as("hub"),
          lit(1.0).as("auth")), 2 * iters, readsStateOnce = false) { (s, r) =>
        if (r % 2 == 0) half(s, "hub", "auth", bySrc) else half(s, "auth", "hub", byDst)
      }
      it.result(out.select(col("node"), col("hub"), col("auth")))
    }
  }

  /** Newman MODULARITY of a given community assignment — the "is this
    * partition actually community-like?" audit for whatever produced it
    * ([[labelPropagation]], an external clustering, a domain grouping):
    * Q = Σ_c [ m_c/m − (D_c/2m)² ] over communities c, where m is the
    * undirected edge count, m_c the edges with BOTH endpoints in c and
    * D_c the total degree mass of c's nodes (Newman & Girvan 2004). Q > 0
    * means denser-than-chance communities; Q ≈ 0 means the labels are
    * noise — the go/no-go gate before a community column drives sampling
    * or dedup decisions.
    *
    * Engine-exact: edges are canonicalized (a < b, self-loops dropped,
    * duplicates collapsed), so m, m_c, D_c are exact integers; each
    * community's contribution is the integer combination
    * (4·m·m_c − D_c²) / (4m²) with ONE double division, snapped. The
    * total is the exact DECIMAL sum of the integer numerators divided
    * once — order-independent.
    *
    * Scale shape: two keyed joins (each edge endpoint → its community)
    * plus keyed aggregations; nothing is per-node quadratic and no
    * corpus-wide window appears. Nodes missing from `assign` form an
    * implicit `null` community (flagged in the output so silent coverage
    * gaps are visible rather than folded into Q).
    *
    * Output: one row per community, ordered columns
    * (community, n_nodes, m_in, deg_sum, contribution) — `n_nodes`
    * counting only nodes that appear in the graph — plus the scalar
    * total via [[modularityTotal]].
    */
  def modularity(edges: DataFrame, assign: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      nodeCol: String = "node", commCol: String = "community"): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val asg = assign.select(col(nodeCol).as("__node"), col(commCol).as("community"))
    // degree over the symmetric view of the canonical edge set
    val deg = e.select(col("a").as("__node"))
      .unionAll(e.select(col("b").as("__node")))
      .groupBy(col("__node")).agg(count(lit(1)).as("__deg"))
    val degC = deg.join(asg, Seq("__node"), "left")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("__deg")).as("deg_sum"))
    val mIn = e
      .join(asg.select(col("__node").as("a"), col("community").as("__ca")), Seq("a"), "left")
      .join(asg.select(col("__node").as("b"), col("community").as("__cb")), Seq("b"), "left")
      .filter(col("__ca").isNotNull && col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community"))
      .agg(count(lit(1)).as("m_in"))
    // m stays a broadcast 1-row frame — no driver action
    val mRow = e.agg(count(lit(1)).as("__m"))
    val out = degC.join(mIn, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("m_in"), lit(0L)).as("m_in"), col("deg_sum"),
        TextAnalysis.round6(
          (lit(4L) * col("__m") * coalesce(col("m_in"), lit(0L)) -
            col("deg_sum") * col("deg_sum")).cast("double") /
            (lit(4.0) * col("__m") * col("__m"))).as("contribution"))
    CacheScope.releaseAfterFirstUse(out, Seq(e))
  }

  /** Scalar modularity Q: exact DECIMAL sum of the per-community integer
    * numerators (4·m·m_c − D_c²), ONE double division, snapped — so the
    * total does not accumulate per-community rounding.
    * Output: one row (modularity, m, n_communities).
    */
  def modularityTotal(edges: DataFrame, assign: DataFrame,
      srcCol: String = "src", dstCol: String = "dst",
      nodeCol: String = "node", commCol: String = "community"): DataFrame = {
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val asg = assign.select(col(nodeCol).as("__node"), col(commCol).as("community"))
    val deg = e.select(col("a").as("__node"))
      .unionAll(e.select(col("b").as("__node")))
      .groupBy(col("__node")).agg(count(lit(1)).as("__deg"))
    val degC = deg.join(asg, Seq("__node"), "left")
      .groupBy(col("community")).agg(sum(col("__deg")).as("deg_sum"))
    val mIn = e
      .join(asg.select(col("__node").as("a"), col("community").as("__ca")), Seq("a"), "left")
      .join(asg.select(col("__node").as("b"), col("community").as("__cb")), Seq("b"), "left")
      .filter(col("__ca").isNotNull && col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community")).agg(count(lit(1)).as("m_in"))
    val mRow = e.agg(count(lit(1)).as("__m"))
    val out = degC.join(mIn, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .agg(
        sum((lit(4L) * col("__m") * coalesce(col("m_in"), lit(0L)) -
          col("deg_sum") * col("deg_sum")).cast("decimal(38,0)")).as("__num"),
        first(col("__m")).as("m"),
        count(lit(1)).as("n_communities"))
      .select(
        when(col("m") > 0, TextAnalysis.round6(
          col("__num").cast("double") / (lit(4.0) * col("m") * col("m"))))
          .as("modularity"),
        col("m"), col("n_communities"))
    CacheScope.releaseAfterFirstUse(out, Seq(e))
  }

  /** ADAMIC-ADAR link prediction (Adamic & Adar 2003) — score every
    * non-adjacent pair that shares at least one neighbor by
    * Σ_z 1/ln(deg z) over the common neighbors z: the classic
    * "which edge is missing?" signal for graph densification, related-
    * domain suggestion, and entity-graph completion, weighting rare
    * shared neighbors above hubs (everything links the big hub — sharing
    * it says nothing).
    *
    * Scale shape: candidate pairs come from ONE wedge self-join keyed by
    * the shared center z, so the work is Σ_z deg(z)² — quadratic in HUB
    * degree, not in graph size. `maxDegree` drops hubs AS WEDGE CENTERS
    * before the join (their 1/ln(deg) weight is the smallest anyway),
    * bounding the fan-out at maxDegree·|E|; hub-adjacent pairs can still
    * surface through their other, informative common neighbors. This is
    * the standard production trade (same cap family as
    * [[Dedup.lshCandidatePairs]]'s hot-bucket cap) and is the documented
    * recall contract, not a silent truncation. Per-center weights are
    * snapped to the 1e-6 grid and summed as exact DECIMAL —
    * order-independent, engine-reproducible. Existing edges are removed
    * with one anti-join on the canonical (a < b) key.
    *
    * Output: (a, b, common_neighbors, adamic_adar), a < b.
    */
  def adamicAdar(edges: DataFrame, maxDegree: Int = 64,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(maxDegree >= 2, s"adamicAdar: maxDegree must be >= 2, got $maxDegree")
    val e = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sym = e.select(col("a").as("z"), col("b").as("n"))
      .unionAll(e.select(col("b").as("z"), col("a").as("n")))
    val deg = sym.groupBy(col("z")).agg(count(lit(1)).as("__deg"))
    // a center needs deg >= 2 to form a wedge, so ln(deg) > 0 always
    val centers = sym.join(
      deg.filter(col("__deg") >= 2 && col("__deg") <= maxDegree), Seq("z"))
      .withColumn("__w", TextAnalysis.round6(lit(1.0) / log(col("__deg"))))
    val wedges = centers.select(col("z"), col("n").as("x"), col("__w"))
      .join(centers.select(col("z"), col("n").as("y")), Seq("z"))
      .filter(col("x") < col("y"))
    val scored = wedges.groupBy(col("x").as("a"), col("y").as("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("__w").cast("decimal(38,6)")).cast("double").as("adamic_adar"))
    val out = scored.join(e, Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("common_neighbors"), col("adamic_adar"))
    CacheScope.releaseAfterFirstUse(out, Seq(e))
  }

  /** Multi-source BFS hop distances over a DIRECTED edge table — the
    * link-proximity primitive (crawl frontier depth, seed-set distance
    * tiers, TrustRank's hop-bounded neighborhoods): every node reachable
    * from the source set within `maxDepth` hops gets its SHORTEST hop
    * count (sources themselves at 0, multi-source = min over sources).
    * Unreachable (or beyond-depth) nodes are absent, not NULL — the
    * caller left-joins if it wants the full node set. For an undirected
    * walk, pass the symmetrized edge table.
    *
    * Iteration shape: the [[frontierBfs]] loop on [[Iterate]] — each
    * round is ONE keyed frontier⋈edges join plus one anti-join against the
    * settled set, and its one action counts the new frontier. The frontier
    * SHRINKS monotonically on expander-ish graphs; settled rows accumulate
    * but only ever join by key.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxDepth: Int = 20,
      srcCol: String = "src", dstCol: String = "dst",
      nodeCol: String = "node"): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 200,
      s"bfsDistances: maxDepth must be in [1, 200], got $maxDepth")
    val it = Iterate(edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    val srcs = it.root(sources.select(col(nodeCol).as("node")).distinct())
    it.local(srcs)
      .map(r => GraphLocal.bfsDistances(it.caller, r(0), r(1).map(_.get(0)).toSeq,
        maxDepth, it.idType))
      .getOrElse(it.result(
        frontierBfs(it, srcs.select(lit(0).as("lm"), col("node"), lit(0L).as("d")), maxDepth)
          .select(col("node"), col("d").as("dist"))))
  }
}
