package graft.pipeline

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Pipeline-exit scoping for internally persisted hub frames.
  *
  * Composed operators ([[Dedup.dedupCorpus]], [[Dedup.ngramJaccard]],
  * [[TextAnalysis.curateCorpus]], …) persist intermediate frames because
  * their plans reference them from several branches — unpersisted, the
  * upstream pipeline replays per branch (measured ~20x for the LSH pair
  * pipeline). But the returned DataFrame is lazy: those caches cannot be
  * dropped before the CALLER's first action, so a long-lived session
  * composing many corpora would accumulate MEMORY_AND_DISK entries
  * forever.
  *
  * [[releaseAfterFirstUse]] closes that hole with ONE shared
  * [[QueryExecutionListener]] per session holding a bounded registry of
  * pending scopes: after any completed action whose analyzed plan CONTAINS
  * a pending scope's result plan (an unrelated query must not release a
  * cache early), that scope's intermediates are unpersisted and the scope
  * is dropped. The single listener means N unconsumed pipelines cost one
  * listener (not N), and the registry bounds both memory and the
  * per-action plan-matching work: a scope is abandoned after
  * [[AbandonAfterActions]] non-matching actions, and registering beyond
  * [[MaxPending]] releases the OLDEST pending scope immediately.
  * Correctness is never at risk — releasing early only trades the cache
  * benefit for a lineage recompute.
  *
  * Contract for callers that run MULTIPLE actions over a composed result:
  * persist the result (or write it out) — after the first action the
  * internal caches are gone and a second action recomputes the full
  * lineage:
  * {{{
  *   val deduped = Dedup.dedupCorpus(docs).persist()  // <- reuse? persist!
  *   deduped.count(); deduped.write.parquet(...)      // no recompute
  * }}}
  * Bench/Verify and the one-shot curation flow run exactly one action per
  * composed query, which is the shape this is scoped for. The listener
  * observes Dataset/SQL actions, `df.rdd` included (Spark 4 posts the
  * execution event for it) — only raw physical execution
  * (`queryExecution.toRdd` and friends) is invisible; such callers use
  * [[Caches.release]] explicitly, or the abandon window bounds the scope.
  */
private[graft] object CacheScope {

  /** Actions a pending scope observes before giving up: it then releases
    * the caches anyway (abandoned pipeline — losing the cache benefit is
    * safe, correctness is lineage-backed), so dangling scopes never
    * accumulate plan-matching work forever.
    */
  private val AbandonAfterActions = 512

  /** Max concurrently-pending scopes per session: registering beyond this
    * releases the oldest immediately, so a session composing many
    * pipelines it never executes stays O(MaxPending) in both cache entries
    * and per-action matching work.
    */
  private val MaxPending = 64

  private final class Pending(val target: LogicalPlan, cached: Seq[DataFrame],
      extra: Seq[() => Unit] = Nil) {
    val misses = new AtomicInteger(0)
    private val done = new AtomicBoolean(false)
    def release(): Unit =
      if (done.compareAndSet(false, true)) {
        cached.foreach(_.unpersist(blocking = false))
        extra.foreach(f => try f() catch { case _: Throwable => () })
      }
  }

  private final class Scoper extends QueryExecutionListener {
    val pending = new java.util.concurrent.ConcurrentLinkedQueue[Pending]()
    private def fire(qe: QueryExecution): Unit = {
      val it = pending.iterator()
      while (it.hasNext) {
        val p = it.next()
        val consumed =
          try qe.analyzed.find(_.sameResult(p.target)).isDefined
          catch { case _: Throwable => false }
        if (consumed || p.misses.incrementAndGet() >= AbandonAfterActions) {
          p.release()
          it.remove()
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      fire(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      fire(qe)
  }

  // one Scoper per session; sessions are few and long-lived, so the map
  // itself is not a growth vector
  private val scopers =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Scoper]()

  private def scoperFor(spark: SparkSession): Scoper =
    scopers.computeIfAbsent(spark, s => {
      val sc = new Scoper
      s.listenerManager.register(sc)
      sc
    })

  /** Unpersist `cached` after the first action that consumes `result`.
    * No-op wrapper when `cached` is empty. Fires on success AND failure (a
    * failed job must not strand the cache); matches by `sameResult` on the
    * canonicalized subtree. Unpersisting is non-blocking.
    */
  def releaseAfterFirstUse(result: DataFrame, cached: Seq[DataFrame]): DataFrame =
    releaseAfterFirstUse(result, cached, Nil)

  /** As above, plus arbitrary release thunks for storage the plain
    * `unpersist` cannot reach (e.g. a `localCheckpoint`'s RDD blocks via
    * [[org.apache.spark.sql.graftbridge.Bridge.unpersistRddLeaves]]).
    */
  def releaseAfterFirstUse(result: DataFrame, cached: Seq[DataFrame],
      extra: Seq[() => Unit]): DataFrame = {
    if (cached.isEmpty && extra.isEmpty) return result
    val sc = scoperFor(result.sparkSession)
    sc.pending.add(new Pending(result.queryExecution.analyzed, cached, extra))
    while (sc.pending.size > MaxPending) {
      val oldest = sc.pending.poll()
      if (oldest != null) oldest.release()
    }
    result
  }

  /** Explicitly release every pending scope whose result `result`
    * contains — the escape hatch for consumption paths the listener
    * cannot observe (`df.rdd`, custom physical execution): call it right
    * after the non-Dataset action. Returns true if any scope released.
    */
  def releaseNow(result: DataFrame): Boolean =
    Option(scopers.get(result.sparkSession)).exists { sc =>
      val target = result.queryExecution.analyzed
      var released = false
      val it = sc.pending.iterator()
      while (it.hasNext) {
        val p = it.next()
        val m =
          try target.find(_.sameResult(p.target)).isDefined
          catch { case _: Throwable => false }
        if (m) { p.release(); it.remove(); released = true }
      }
      released
    }

  /** Pending-scope count for a session (spec observability). */
  private[graft] def pendingCount(spark: SparkSession): Int =
    Option(scopers.get(spark)).map(_.pending.size).getOrElse(0)

  /** Release EVERY pending scope for `spark` immediately. Test hygiene:
    * suites that only inspect plans still register scopes (persist() is
    * eager in the CacheManager even if nothing materializes), and a later
    * suite asserting an empty cache would otherwise inherit them.
    */
  private[graft] def drainAll(spark: SparkSession): Unit =
    Option(scopers.get(spark)).foreach { sc =>
      var p = sc.pending.poll()
      while (p != null) { p.release(); p = sc.pending.poll() }
    }
}

/** Public cache-release handle for composed pipeline results
  * ([[Dedup.dedupCorpus]], [[TextAnalysis.curateCorpus]], …): their
  * internal hub caches normally release at the caller's first
  * Dataset/SQL action, but a result consumed through `df.rdd` or other
  * non-Dataset execution is invisible to that listener — call
  * `Caches.release(result)` right after such an action to free them
  * immediately instead of waiting out the bounded abandon window.
  */
object Caches {
  def release(result: DataFrame): Boolean = CacheScope.releaseNow(result)
}
