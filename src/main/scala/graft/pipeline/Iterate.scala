package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.DataType
import org.apache.spark.storage.StorageLevel

/** The fixed-point machinery every iterative graph operator shares:
  * [[GraphOps]]' PageRank family, label propagation, HITS, k-core, BFS and
  * harmonic centrality, and [[Dedup.connectedComponents]]. An operator opens
  * one `Iterate` over its edge frame, which roots the edges on the loop
  * session and takes their exact count (one action), then either takes the
  * local cutover or runs the distributed loop.
  *
  * THE LOCAL CUTOVER ([[local]]). On a small graph each distributed round
  * is pure scheduling cadence (measured: ~55 jobs and ~3 s for two HITS
  * rounds on an 18-node graph; ~0.75 s per action on a 17-round CC chain)
  * for arithmetic the driver does in microseconds. At or below
  * `graft.graph.localEdgeThreshold` edges (default 1M, order 100 MB of
  * driver heap with string ids; lower it on a thin driver) the operator
  * collects the edges and runs the same fixed point in [[GraphLocal]]. The
  * cutover is a pure optimization, so every input the driver could read
  * differently from Spark falls through to the loop: ids of two types (a
  * boxed Integer never equals a boxed Long), a type without
  * [[Dedup.localIdOrdering]], or a null (a hash map matches null keys;
  * Spark's equi-joins never do).
  *
  * THE LOOP ([[iterate]], [[converge]]).
  *  - It plans on a CLONED session with AQE off and shuffle partitions
  *    sized to the edge count: adaptive re-planning of tiny fixed-size
  *    shuffles is pure driver tax (measured 3x wall on the composed dedup),
  *    and a small graph at the session's partition count pays per-round
  *    stage scheduling (~10 s on a 7k-edge, 17-round chain at 32
  *    partitions). On a clone, concurrent queries on the caller's session
  *    and overlapping loops never see each other's conf. The clone shares
  *    the SparkContext and cache manager; frames cross by re-binding their
  *    logical plans.
  *  - Every round's state is re-rooted at a flat leaf ([[root]]), so the
  *    plan the analyzer and optimizer walk stays one round deep. Most
  *    rounds reference their input two or three times, so an unrooted
  *    chain grows as a DAG whose tree expansion is exponential in rounds
  *    (measured: an 8 GiB driver OOM in canonicalization near round 24 of
  *    the CC loop; 50 s for k-core on a 24-node path even when cut
  *    every 8 rounds). The root is lazy: the round's
  *    convergence action, or the caller's action for a fixed round count,
  *    computes it. A round whose plan holds a broadcast (the rank loops'
  *    node count, HITS's norm, a join planned as a broadcast) starts that
  *    broadcast's job when it is rooted, as a `localCheckpoint` would.
  *  - Leaves are persisted as compressed column batches, except in a
  *    fixed-count loop whose step reads its state once: that state is read
  *    by one shuffle, so a cached copy would only hold a node-sized frame
  *    per round until the result is used. A converging loop's action
  *    stores the whole leaf, so the next round plans with its stored size,
  *    as over a persisted frame: a state below the broadcast threshold is
  *    broadcast instead of the edges being shuffled to meet it (measured
  *    on a 1M-edge random graph: CC shuffle 413 -> 233 MB).
  *  - The loop owns every leaf it persists, releases a converging loop's
  *    previous state once the next one has materialized, and releases the
  *    rest after the first action that consumes the result, which is
  *    re-bound to the caller's session first. Reusers persist the result
  *    (the [[CacheScope]] contract); a second action recomputes through
  *    the leaves' lineage and never fails.
  */
private[graft] final class Iterate private (edges0: DataFrame) {

  /** The session the operator was called on; results go back to it. */
  val caller: SparkSession = edges0.sparkSession

  /** The loop's own session (see the class doc). */
  val spark: SparkSession = Iterate.enter(caller)

  /** The persisted leaves. */
  private val held = scala.collection.mutable.ArrayBuffer[Bridge.Leaf]()

  /** Caller frames rooted here. A leaf hides their plans from
    * [[CacheScope]]'s plan matching, so the pipeline caches scoped to
    * them are released explicitly, with the loop's own.
    */
  private val inputs = scala.collection.mutable.ArrayBuffer[DataFrame]()

  private val edgeLeaf = rooted(edges0, cached = true)

  /** The exact edge count; the action that stores the edge leaf. */
  val edgeCount: Long = edgeLeaf.df.count()
  Iterate.sizeShuffles(spark, caller, edgeCount)

  /** The edge frame, rooted on the loop session and planned at its
    * stored size.
    */
  val edges: DataFrame = edgeLeaf.measured
  // the edges are stored now: what fed them can go, as after any action
  inputs.foreach(CacheScope.releaseNow)
  inputs.clear()

  /** The node-id type: the edge frame's first column. */
  def idType: DataType = edges.schema.fields(0).dataType

  /** Re-bind `df` to the loop session and re-root it at a flat leaf the
    * loop owns and persists (lazy: the first job that reads it stores it).
    */
  def root(df: DataFrame): DataFrame = rooted(df, cached = true).df

  private def rooted(df: DataFrame, cached: Boolean): Bridge.Leaf = {
    if (df.sparkSession ne spark) inputs += df
    val leaf = Bridge.root(Bridge.rebind(df, spark),
      if (cached) StorageLevel.MEMORY_AND_DISK else StorageLevel.NONE)
    if (cached) held += leaf
    leaf
  }

  /** THE LOCAL CUTOVER GATE: the collected rows of the edge frame and of
    * each `side` frame (seed or source sets), in that order, or None to
    * fall through to the loop. Ids are the edge frame's first two columns
    * and every column of a side frame; they must share one type with a
    * [[Dedup.localIdOrdering]]. The edge count must be at most
    * `graft.graph.localEdgeThreshold`, and so must each side's row count.
    * No field of these frames may be null (ids, and the weights the local
    * evaluators read); one Spark job checks that before anything is
    * collected. Taking the cutover releases the edge root.
    */
  def local(sides: DataFrame*): Option[Seq[Array[Row]]] = {
    val limit = caller.conf.get(Iterate.LocalEdgeThreshold, "1000000").toLong
    val ids = edges.schema.fields.take(2) ++ sides.flatMap(_.schema.fields)
    val t = ids.head.dataType
    if (edgeCount > limit || ids.exists(_.dataType != t) ||
        Dedup.localIdOrdering(t).isEmpty) return None
    val frames = edges +: sides.map(Bridge.rebind(_, spark))
    val nulls = frames.map(f =>
      f.filter(f.columns.map(c => f.col(c).isNull).reduce(_ || _)).select(lit(1)))
    if (!nulls.reduce(_ union _).isEmpty) return None
    val rows = edges.collect() +: frames.tail.map(
      _.limit(math.min(limit + 1, Int.MaxValue.toLong).toInt).collect())
    if (rows.exists(_.length > limit)) None
    else { release(); Some(rows) }
  }

  /** `rounds` rounds of `step` (state, round index) from `init`, with no
    * action of its own: the caller's action computes every round. Pass
    * `readsStateOnce` when `step` reads its state frame once, so no
    * round's leaf is persisted (see the class doc). Returns the final
    * state for [[result]].
    */
  def iterate(init: DataFrame, rounds: Int, readsStateOnce: Boolean)(
      step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(init, rounds, step, None, cached = !readsStateOnce)._1

  /** Up to `maxRounds` rounds of `step`, each followed by `done` on the
    * new state (the round's one action, which must read the whole state:
    * it stores the leaf, and the next round plans with its size) until it
    * holds. Returns the final state and whether `done` held.
    */
  def converge(init: DataFrame, maxRounds: Int)(step: (DataFrame, Int) => DataFrame)(
      done: (DataFrame, Int) => Boolean): (DataFrame, Boolean) =
    loop(init, maxRounds, step, Some(done), cached = true)

  private def loop(init: DataFrame, rounds: Int, step: (DataFrame, Int) => DataFrame,
      done: Option[(DataFrame, Int) => Boolean], cached: Boolean): (DataFrame, Boolean) =
    try {
      var state = init
      var prev: Option[Bridge.Leaf] = None
      var r = 0
      var stop = false
      while (r < rounds && !stop) {
        val leaf = rooted(step(state, r), cached)
        state = leaf.df
        stop = done.exists(_(state, r))
        if (done.isDefined) {
          // the new leaf is stored now: the next round plans with its
          // size, and its predecessor is only lineage
          state = leaf.measured
          prev.foreach { p => p.release(); held -= p }
          prev = Some(leaf)
        }
        r += 1
      }
      (state, stop)
    } catch { case t: Throwable => release(); throw t }

  /** `df` re-bound to the caller's session, with every held leaf released
    * after the first action that consumes it.
    */
  def result(df: DataFrame): DataFrame =
    CacheScope.releaseAfterFirstUse(Bridge.rebind(df, caller), Nil, releases())

  /** Release every held leaf now (a loop that ends without a result). */
  def release(): Unit = releases().foreach(_())

  private def releases(): Seq[() => Unit] = {
    val out = held.toList.map(l => () => l.release()) ++ inputs.toList.map(df => () => { CacheScope.releaseNow(df); () })
    held.clear()
    inputs.clear()
    out
  }
}

private[graft] object Iterate {

  /** The one conf key of the local cutover (see the class doc). */
  val LocalEdgeThreshold = "graft.graph.localEdgeThreshold"

  /** Open a loop over `edges`: roots and counts them (one action). */
  def apply(edges: DataFrame): Iterate = new Iterate(edges)

  /** A clone of `spark` with AQE off. */
  def enter(spark: SparkSession): SparkSession = {
    val clone = Bridge.cloneSession(spark)
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    clone
  }

  /** Size the clone's shuffles to the loop's row count: one partition per
    * 250k rows, capped at the parent session's own setting (the manual
    * version of the coalescing AQE would have done).
    */
  def sizeShuffles(clone: SparkSession, parent: SparkSession, rows: Long): Unit = {
    val parts = math.max(1L, math.min(
      parent.conf.get("spark.sql.shuffle.partitions").toLong,
      (rows + 249999L) / 250000L))
    clone.conf.set("spark.sql.shuffle.partitions", parts.toString)
  }
}
