package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** PageRank + co-occurrence edge construction: hand-derived fixed-point
  * values on tiny graphs, symmetry/conservation laws, edge collapsing.
  */
class GraphOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("two-node cycle stays uniform at 0.5 each") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, iters = 4)
      .as[(String, Double)].collect().toMap
    assert(pr === Map("a" -> 0.5, "b" -> 0.5))
  }

  test("star graph: one snapped iteration matches the hand-derived values") {
    // a -> b, c -> b; b dangles. pr0 = round6(1/3) = 0.333333
    // pr1(b) = round6((1-0.85)/3 + 0.85 * (0.333333 + 0.333333)) = 0.616666
    // pr1(a) = pr1(c) = round6((1-0.85)/3) = 0.05
    val edges = Seq(("a", "b"), ("c", "b")).toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, iters = 1)
      .as[(String, Double)].collect().toMap
    assert(pr === Map("a" -> 0.05, "b" -> 0.616666, "c" -> 0.05))
  }

  test("iters = 0 returns the uniform initialization over all endpoint nodes") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "b")).toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, iters = 0)
      .as[(String, Double)].collect().toMap
    assert(pr === Map("a" -> 0.333333, "b" -> 0.333333, "c" -> 0.333333))
  }

  test("dangling-free graph conserves total rank to within the snap grid") {
    // 4-cycle: every node has out-degree 1, no dangling mass is lost
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val pr = GraphOps.pageRank(edges, iters = 5)
      .as[(String, Double)].collect()
    assert(pr.length === 4)
    assert(math.abs(pr.map(_._2).sum - 1.0) < 1e-4)
    // symmetric graph -> equal ranks
    assert(pr.map(_._2).distinct.length === 1)
  }

  test("duplicate edges collapse: rank equals the simple-graph run") {
    val simple = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"))
    val dup = simple ++ simple ++ simple
    val prS = GraphOps.pageRank(simple.toDF("src", "dst"), iters = 3)
      .as[(String, Double)].collect().toMap
    val prD = GraphOps.pageRank(dup.toDF("src", "dst"), iters = 3)
      .as[(String, Double)].collect().toMap
    assert(prS === prD)
  }

  test("personalized: one iteration on a -> b with seed {a} gives 0.15 / 0.85") {
    // t(a)=1, t(b)=0; pr1(b) = round6(0.85 * round6(1/1)) = 0.85,
    // pr1(a) = round6((1-0.85) * 1) = 0.15
    val edges = Seq(("a", "b")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val pr = GraphOps.personalizedPageRank(edges, seeds, iters = 1)
      .as[(String, Double)].collect().toMap
    assert(pr === Map("a" -> 0.15, "b" -> 0.85))
  }

  test("personalized: an unlinked seed keeps its teleport mass; unreachable nodes decay to 0") {
    val edges = Seq(("c", "d")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val pr = GraphOps.personalizedPageRank(edges, seeds, iters = 2)
      .as[(String, Double)].collect().toMap
    assert(pr === Map("a" -> 0.15, "c" -> 0.0, "d" -> 0.0))
  }

  test("personalized with the full node set as seeds matches plain pageRank") {
    // N = 2 keeps 1/N exactly on the 1e-6 snap grid, so (1-d)/N (plain)
    // and (1-d)·round6(1/N) (personalized) are the same double; the
    // self-loop makes the dynamics non-uniform
    val edges = Seq(("a", "a"), ("a", "b"), ("b", "a")).toDF("src", "dst")
    val all = Seq("a", "b").toDF("node")
    val plain = GraphOps.pageRank(edges, iters = 3)
      .as[(String, Double)].collect().toMap
    val pers = GraphOps.personalizedPageRank(edges, all, iters = 3)
      .as[(String, Double)].collect().toMap
    assert(pers === plain)
    assert(plain("a") !== plain("b"))
  }

  test("coOccurrenceEdges: all ordered pairs within a group, deduped across rows") {
    val items = Seq((1L, "x"), (1L, "y"), (1L, "z"), (1L, "x"),
      (2L, "x"), (2L, "y"), (3L, "q")).toDF("g", "v")
    val edges = GraphOps.coOccurrenceEdges(items, "g", "v")
      .as[(String, String)].collect().toSet
    val expected = Set(("x", "y"), ("y", "x"), ("x", "z"), ("z", "x"),
      ("y", "z"), ("z", "y"))
    assert(edges === expected)
    // no self-loops, symmetric by construction
    assert(edges.forall { case (s, d) => s != d && edges.contains((d, s)) })
  }

  test("weightedPageRank: hand-derived one-iteration trace; duplicates collapse by sum") {
    // a ->(3) b, a ->(1) c: shares 0.75 / 0.25; b and c dangle
    // pr0 = 0.333333; c(b) = r6(.333333*.75) = 0.25,
    // c(c) = r6(.333333*.25) = 0.083333
    // pr1(a) = r6(.15/3) = 0.05; pr1(b) = r6(.05 + .85*.25) = 0.2625;
    // pr1(c) = r6(.05 + .85*.083333) = 0.120833
    val w = Seq(("a", "b", 3L), ("a", "c", 1L)).toDF("src", "dst", "weight")
    val pr = GraphOps.weightedPageRank(w, iters = 1)
      .as[(String, Double)].collect().toMap
    assert(pr === Map("a" -> 0.05, "b" -> 0.2625, "c" -> 0.120833))
    // duplicate edge rows sum their weights -> identical trace
    val dup = Seq(("a", "b", 2L), ("a", "b", 1L), ("a", "c", 1L))
      .toDF("src", "dst", "weight")
    assert(GraphOps.weightedPageRank(dup, iters = 1)
      .as[(String, Double)].collect().toMap === pr)
    // uniform weights on a cycle keep the uniform fixpoint
    val cyc = Seq(("a", "b", 5L), ("b", "a", 5L)).toDF("src", "dst", "weight")
    assert(GraphOps.weightedPageRank(cyc, iters = 4)
      .as[(String, Double)].collect().toMap === Map("a" -> 0.5, "b" -> 0.5))
    intercept[IllegalArgumentException] {
      GraphOps.weightedPageRank(
        Seq(("a", "b", 0L)).toDF("src", "dst", "weight"), iters = 1)
    }
  }

  test("coOccurrenceEdgesWeighted counts distinct co-occurring groups per pair") {
    val items = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (2L, "x"),
      (3L, "x"), (3L, "z")).toDF("g", "v")
    val got = GraphOps.coOccurrenceEdgesWeighted(items, "g", "v")
      .as[(String, String, Long)].collect().toSet
    assert(got === Set(("x", "y", 2L), ("y", "x", 2L),
      ("x", "z", 1L), ("z", "x", 1L)))
  }

  test("kCore: tails peel, the clique core survives, too-high k empties") {
    // K4 on {1,2,3,4} with a pendant chain 4-5-6
    val edges = ((for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)) ++
      Seq((4L, 5L), (5L, 6L))).toDF("src", "dst")
    val core3 = GraphOps.kCore(edges, k = 3, maxRounds = 6)
      .as[(Long, Long)].collect().toMap
    // chain peels in two rounds (6 first, then 5); K4 keeps degree 3
    assert(core3 === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k=4: K4 nodes have degree 3 -> everything peels
    assert(GraphOps.kCore(edges, k = 4, maxRounds = 6).count() === 0L)
    // k=1 on the simple graph keeps everything
    assert(GraphOps.kCore(edges, k = 1, maxRounds = 6).count() === 6L)
    intercept[IllegalArgumentException] { GraphOps.kCore(edges, k = 0) }
  }

  test("triangleCounts: K4, pendant triangle, and a triangle-free path") {
    // complete graph on 4 nodes: every node in 3 triangles, clustering 1
    val k4 = (for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a.toLong, b.toLong))
      .toDF("src", "dst")
    val got = GraphOps.triangleCounts(k4)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === (1 to 4).map(n => n.toLong -> ((3L, 3L, 1.0))).toMap)
    // triangle {1,2,3} + pendant 3-4; duplicate rows and a self-loop drop
    val tp = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (2L, 1L), (4L, 4L))
      .toDF("src", "dst")
    val g2 = GraphOps.triangleCounts(tp)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(g2 === Map(1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)),
      3L -> ((3L, 1L, 0.333333)), 4L -> ((1L, 0L, 0.0))))
    // path graph: no triangles anywhere
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(GraphOps.triangleCounts(path)
      .filter(col("triangles") > 0).count() === 0L)
  }

  test("labelPropagation: disjoint cliques converge to their min label in 2 iterations") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L)).toDF("src", "dst")
    val lbl = GraphOps.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(lbl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation: hand-derived 2-iteration trace on two bridged triangles") {
    // triangles {1,2,3} and {4,5,6} bridged by 3-4
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("src", "dst")
    // iter1: 1->2, 2->1, 3->1, 4->3, 5->4, 6->4
    val l1 = GraphOps.labelPropagation(edges, iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(l1 === Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 4L, 6L -> 4L))
    // iter2: 1: {1,1}->1; 2: {2,1} tie -> 1; 3: {2,1,3} tie -> 1;
    //        4: {1,4,4}->4; 5: {3,4} tie -> 3; 6: {3,4} tie -> 3
    val l2 = GraphOps.labelPropagation(edges, iters = 2)
      .as[(Long, Long)].collect().toMap
    assert(l2 === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 3L, 6L -> 3L))
  }

  test("labelPropagation: directed=true propagates along arcs only") {
    // a -> b -> c chain, directed: b adopts a's label, c adopts b's OLD label
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val l1 = GraphOps.labelPropagation(edges, iters = 1, directed = true)
      .as[(String, String)].collect().toMap
    // a has no in-neighbors -> keeps itself through the left join
    assert(l1 === Map("a" -> "a", "b" -> "a", "c" -> "b"))
    val undirected = GraphOps.labelPropagation(edges, iters = 1)
      .as[(String, String)].collect().toMap
    assert(undirected === Map("a" -> "b", "b" -> "a", "c" -> "b"))
  }

  test("harmonicCentrality: full-landmark path graph matches hand-derived sums") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("src", "dst")
    val out = GraphOps.harmonicCentrality(edges, landmarks = 10, maxHops = 5)
      .as[(String, Double, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // all 4 nodes are landmarks (L >= n); d gets 1/1 + 1/2 + 1/3
    assert(out("d") === ((1.833333, 3L)), s"got $out")
    assert(out("c") === ((1.5, 2L)))
    assert(out("b") === ((1.0, 1L)))
    assert(out("a") === ((0.0, 0L)), "source of the chain is reached by nobody")
  }

  test("hits: two hubs pointing at one authority reach the hand-derived fixpoint") {
    val edges = Seq(("h1", "a"), ("h2", "a")).toDF("src", "dst")
    val out = GraphOps.hits(edges, iters = 2)
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // round 1: a'(a)=2 -> auth(a)=1; h' = 1 each -> hub = round6(1/sqrt 2)
    // round 2 is the fixpoint of the same snapped algebra
    assert(out("a") === ((0.0, 1.0)), s"authority: $out")
    assert(out("h1") === ((0.707107, 0.0)) && out("h2") === ((0.707107, 0.0)),
      s"hubs: $out")
  }

  test("hits: pure-source nodes hold auth 0, pure-sink nodes hold hub 0; dup edges collapse") {
    val edges = Seq(("s", "m"), ("s", "m"), ("m", "t")).toDF("src", "dst")
    val out = GraphOps.hits(edges, iters = 3)
      .as[(String, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out("s")._2 === 0.0, "source has no in-edges -> auth 0")
    assert(out("t")._1 === 0.0, "sink has no out-edges -> hub 0")
    assert(out.values.forall { case (h, a) => h >= 0 && a >= 0 })
  }

  test("modularity: two triangles + bridge, true split vs all-in-one vs cross split") {
    // triangles {a,b,c}, {d,e,f}, bridge c-d: m=7, degrees 2,2,3,3,2,2
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d")).toDF("src", "dst")
    val nodes = Seq("a", "b", "c", "d", "e", "f")
    def run(asg: Map[String, Long]): (Map[Long, (Long, Long, Long, Double)], Double) = {
      val a = nodes.map(n => (n, asg(n))).toDF("node", "community")
      val per = GraphOps.modularity(edges, a)
        .as[(Long, Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val tot = GraphOps.modularityTotal(edges, a)
        .as[(Option[Double], Long, Long)].head()
      assert(tot._2 === 7L)
      (per, tot._1.get)
    }
    // true communities: m_c = 3, D_c = 7 each -> contribution
    // (4*7*3 - 49)/196 = 35/196 = 0.178571..., Q = 70/196 = 0.357143
    val (perTrue, qTrue) = run(Map("a" -> 0L, "b" -> 0L, "c" -> 0L,
      "d" -> 1L, "e" -> 1L, "f" -> 1L))
    assert(perTrue(0L) === ((3L, 3L, 7L, 0.178571)))
    assert(perTrue(1L) === ((3L, 3L, 7L, 0.178571)))
    assert(qTrue === 0.357143)
    // everything in one community -> Q exactly 0 (4*7*7 - 14^2 = 0)
    val (_, qOne) = run(nodes.map(_ -> 0L).toMap)
    assert(qOne === 0.0)
    // cross split {a,d},{b,e},{c,f}: no within edges, D = 5,4,5
    // -> Q = (0-25 + 0-16 + 0-25)/196 = -66/196 = -0.336735
    val (perX, qX) = run(Map("a" -> 0L, "d" -> 0L, "b" -> 1L, "e" -> 1L,
      "c" -> 2L, "f" -> 2L))
    assert(perX(0L)._2 === 0L && qX === -0.336735)
    // true split beats both, as modularity should rank them
    assert(qTrue > qOne && qOne > qX)
  }

  test("adamicAdar: square scores the two diagonals; adjacency and hub caps filter") {
    // 4-cycle a-b-c-d: non-adjacent pairs (a,c) and (b,d), each with two
    // degree-2 common neighbors -> score 2 * round6(1/ln 2) = 2.88539
    val square = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val out = GraphOps.adamicAdar(square)
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(out === Map(("a", "c") -> ((2L, 2.88539)), ("b", "d") -> ((2L, 2.88539))))
    // triangle: every wedge pair is already an edge -> empty
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    assert(GraphOps.adamicAdar(tri).count() === 0L)
    // star with a 3-degree hub, maxDegree=2 drops it as a wedge center
    val star = Seq(("z", "a"), ("z", "b"), ("z", "c")).toDF("src", "dst")
    assert(GraphOps.adamicAdar(star, maxDegree = 2).count() === 0L)
    val full = GraphOps.adamicAdar(star, maxDegree = 3)
      .as[(String, String, Long, Double)].collect()
    // 1/ln(3) = 0.910239 snapped, three leaf pairs
    assert(full.length === 3 && full.forall(r => r._3 == 1L && r._4 == 0.910239))
  }

  test("assocRules: hand-computed support/confidence/lift; oversized baskets drop") {
    import spark.implicits._
    // 4 baskets: {x,y} x3, {x,z} x1 -> (x,y): n_ab=3, n_x=4, n_y=3, N=4
    // lift(x,y) = 3*4/(4*3) = 1.0; (x,z): n_ab=1 < minPairCount drops
    val b = Seq(
      (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (3L, "x"), (3L, "y"),
      (4L, "x"), (4L, "z"), (4L, "x") // duplicate (4, x) must dedup
    ).toDF("basket", "item")
    val got = GraphOps.assocRules(b, "basket", "item", minPairCount = 2, topK = 10)
      .as[(String, String, Long, Long, Long, Double, Double, Double, Double)]
      .collect()
    assert(got.length === 1)
    val r = got.head
    assert(r === (("x", "y", 3L, 4L, 3L, 0.75, 0.75, 1.0, 1.0)))
    // a basket over the size cap contributes neither pairs nor counts
    val wide = b.unionAll(
      (0 until 10).map(i => (9L, s"w$i")).toDF("basket", "item"))
    val capped = GraphOps.assocRules(wide, "basket", "item",
      minPairCount = 2, topK = 10, maxBasketSize = 5)
      .as[(String, String, Long, Long, Long, Double, Double, Double, Double)]
      .collect()
    assert(capped.toSeq === got.toSeq)
    // negative association reads lift < 1: y and z never co-occur with
    // each other but each pairs with x
    val anti = Seq(
      (1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "x"), (4L, "z")
    ).toDF("basket", "item")
    val a = GraphOps.assocRules(anti, "basket", "item", minPairCount = 2, topK = 10)
      .as[(String, String, Long, Long, Long, Double, Double, Double, Double)]
      .collect().map(x => (x._1, x._2) -> x._9).toMap
    // (x,y): 2*4/(4*2) = 1.0; (x,z): 1.0; y-z pair absent
    assert(a === Map(("x", "y") -> 1.0, ("x", "z") -> 1.0))
  }

  test("bfsDistances: chain, cycle, multi-source min, depth bound, unreachable absent") {
    def dists(edges: Seq[(Long, Long)], srcs: Seq[Long], maxDepth: Int = 20) =
      GraphOps.bfsDistances(edges.toDF("src", "dst"), srcs.toDF("node"),
          maxDepth = maxDepth)
        .as[(Long, Long)].collect().toMap
    // directed chain 1->2->3->4, node 9 unreachable
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 9L))
    assert(dists(chain, Seq(1L)) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L))
    // multi-source takes the min hop count
    assert(dists(chain, Seq(1L, 4L)) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 0L))
    // a cycle terminates (settled nodes never re-enter the frontier)
    assert(dists(Seq((1L, 2L), (2L, 3L), (3L, 1L)), Seq(1L)) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // depth bound truncates: only hops <= maxDepth appear
    assert(dists(chain, Seq(1L), maxDepth = 2) ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // a source absent from the edge set still reports itself at 0
    assert(dists(chain, Seq(42L)) === Map(42L -> 0L))
  }

  test("kCore deep peel: a long path drains one endpoint pair per round (lineage truncation)") {
    // path of 41 nodes: k=2 peeling removes the two endpoints each round,
    // ~20 rounds to drain — every round re-roots the peeled edge set, so
    // the analyzer never sees more than one round of plan
    val path = (1L to 40L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(GraphOps.kCore(path, k = 2, maxRounds = 25).count() === 0L)
    // a cycle is its own 2-core: survives any number of rounds intact
    val cycle = ((1L to 40L).map(i => (i, i % 40 + 1))).toDF("src", "dst")
    assert(GraphOps.kCore(cycle, k = 2, maxRounds = 25).count() === 40L)
  }

  /** Optimized-plan node count (tree expansion) of every action `f` runs,
    * the loops' per-round convergence actions included: a loop session's
    * listener manager is cloned from this session's.
    */
  private def actionPlanSizes(f: => Unit): Seq[Int] = {
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        sizes.add(qe.optimizedPlan.collect { case p => p }.size)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      // the execution-listener bus is asynchronous: wait until it is quiet
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var (prev, quiet) = (-1, 0)
      while (quiet < 5 && System.nanoTime() < deadline) {
        val cur = sizes.size
        if (cur == prev) quiet += 1 else quiet = 0
        prev = cur
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    sizes.asScala.map(_.intValue).toSeq
  }

  test("graph loops: every round's plan stays bounded, whatever the round count") {
    // kCore peels one endpoint pair of a path per round, and a chain's CC
    // labels move one hop per step: 10 / 20 / 40 nodes run ~5 / 10 / 20
    // rounds. The largest plan any action sees must not grow with them.
    def kCorePlans(n: Int) = actionPlanSizes {
      val path = (1L until n.toLong).map(i => (i, i + 1)).toDF("src", "dst")
      assert(GraphOps.kCore(path, k = 2, maxRounds = 100).count() === 0L)
    }
    val key = "graft.graph.localEdgeThreshold"
    def ccPlans(n: Int) = {
      val chain = (1 until n).map(i => (i.toLong, i + 1L)).toDF("id_a", "id_b")
      spark.conf.set(key, "0")
      try actionPlanSizes {
        assert(Dedup.connectedComponents(chain, maxIter = 2 * n).collect()
          .forall(_.getLong(1) == 1L))
      } finally spark.conf.unset(key)
    }
    for ((op, plans) <- Seq[(String, Int => Seq[Int])](
        "kCore" -> kCorePlans, "connectedComponents" -> ccPlans)) {
      val maxes = Seq(10, 20, 40).map(n => n -> plans(n).max)
      assert(maxes.forall(_._2 <= 40), s"$op plan sizes by node count: $maxes")
      assert(maxes.map(_._2).distinct.size == 1, s"$op plan grows with rounds: $maxes")
    }
    spark.catalog.clearCache()
  }

  test("local cutover == distributed loop on randomized graphs (rank family + LPA + HITS)") {
    // the round-13 GraphLocal cutover is a pure optimization: force the
    // distributed path with a zero threshold and compare bit-for-bit
    val rng = new scala.util.Random(7)
    def randomEdges(n: Int, m: Int) =
      (1 to m).map(_ => (s"n${rng.nextInt(n)}", s"n${rng.nextInt(n)}")).toDF("src", "dst")
    val key = "graft.graph.localEdgeThreshold"
    def both(f: => org.apache.spark.sql.DataFrame)
        : (Seq[org.apache.spark.sql.Row], Seq[org.apache.spark.sql.Row]) = {
      val loc = f.collect().toSeq
      spark.conf.set(key, "0")
      try {
        val dist = f.collect().toSeq
        (loc, dist)
      } finally {
        spark.conf.unset(key)
        spark.catalog.clearCache()
      }
    }
    def cmp(tag: String, f: => org.apache.spark.sql.DataFrame): Unit = {
      val (loc, dist) = both(f)
      assert(loc.toSet === dist.toSet, s"$tag diverged")
    }
    for (trial <- 1 to 3) {
      val e = randomEdges(12 + trial * 3, 25 + trial * 10)
        .persist(); e.count()
      val w = e.groupBy("src", "dst").agg(count(lit(1)).as("weight"))
        .persist(); w.count()
      val seeds = Seq("n1", "n3", "n999").toDF("node")
      cmp(s"pageRank $trial", GraphOps.pageRank(e, iters = 3))
      cmp(s"personalizedPageRank $trial",
        GraphOps.personalizedPageRank(e, seeds, iters = 3))
      cmp(s"weightedPageRank $trial", GraphOps.weightedPageRank(w, iters = 3))
      cmp(s"hits $trial", GraphOps.hits(e, iters = 2))
      cmp(s"labelPropagation $trial", GraphOps.labelPropagation(e, iters = 3))
      e.unpersist(); w.unpersist()
    }
    // inputs a driver-side hash map reads differently from Spark's
    // equi-joins: a null id (a map matches a null key) and sources of
    // another id type (a boxed Integer never equals a boxed Long)
    val nullSrc = Seq((null.asInstanceOf[String], "b"), ("b", "c")).toDF("src", "dst")
    cmp("bfsDistances null source", GraphOps.bfsDistances(nullSrc,
      Seq(null.asInstanceOf[String]).toDF("node")))
    cmp("bfsDistances int sources over long edges", GraphOps.bfsDistances(
      Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"), Seq(1).toDF("node")))
    cmp("harmonicCentrality null edge id", GraphOps.harmonicCentrality(nullSrc))
  }

  test("rank-family cutover falls through on null ids: node set matches distributed") {
    // the null check must look at the RAW edge set — the out-degree inner
    // join already drops null-src edges, so a check on the joined frame
    // would cut over locally and silently lose the null node (and shift
    // every rank through a smaller N)
    val key = "graft.graph.localEdgeThreshold"
    def forcedDistributed(f: => org.apache.spark.sql.DataFrame) = {
      spark.conf.set(key, "0")
      try f.collect().toSet finally { spark.conf.unset(key); spark.catalog.clearCache() }
    }
    val e = Seq((null.asInstanceOf[String], "b"), ("b", "c")).toDF("src", "dst")
    val seeds = Seq("b").toDF("node")
    def cmp(tag: String, f: => org.apache.spark.sql.DataFrame): Unit = {
      val got = f.collect().toSet
      assert(got === forcedDistributed(f), s"$tag diverged on a null-src edge")
      assert(got.size === 3, s"$tag must keep the null node in the node set")
    }
    cmp("pageRank", GraphOps.pageRank(e, iters = 2))
    cmp("personalizedPageRank", GraphOps.personalizedPageRank(e, seeds, iters = 2))
    val w = Seq((null.asInstanceOf[String], "b", 1L), ("b", "c", 2L))
      .toDF("src", "dst", "weight")
    cmp("weightedPageRank", GraphOps.weightedPageRank(w, iters = 2))
  }
}
