package graft.operators

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Structural cache ownership for operators that must persist
  * intermediate frames ACROSS their returned lazy result.
  *
  * The pattern: an LSH dedup operator persists its shingle/signature
  * frame because the returned frame's plan reads it from several legs
  * (banding self-join + both verify-join sides). The operator cannot
  * unpersist before returning — the caller's action is what reads the
  * caches — so before r7 release was a CALLER CONVENTION
  * ("clearCache between pipelines, as Bench does").
  *
  * [[releaseAfterAction]] makes the convention structural: a
  * [[QueryExecutionListener]] watches for the first completed action
  * whose analyzed plan contains the operator's result plan (the
  * listener manager delivers every Dataset action — collect/count/
  * write — including actions the caller runs on frames DERIVED from
  * the result, since the result plan rides along as a subtree), then
  * unpersists the operator-owned frames and unregisters itself. By
  * then the action has already consumed the caches — every job of an
  * action runs inside it, so none reads them after release.
  *
  * Contract notes:
  *  - Release fires after the FIRST terminal action. A caller that
  *    acts on the same returned frame repeatedly recomputes from
  *    scratch on later actions (correct, just uncached) — callers
  *    wanting reuse should persist the result themselves.
  *  - A partial-scan action (`show(5)`, `limit`) also releases; same
  *    recompute-on-next-action consequence.
  *  - The listener bus is asynchronous: release lands shortly after
  *    the action returns, not synchronously inside it (the
  *    cache-hygiene spec polls for exactly this reason).
  *  - Failed actions release too — a crashed pipeline must not leak
  *    corpus-scale caches into the session.
  *  - A result that is BUILT but never acted on leaves its listener
  *    pending (its caches are still legitimately live); once the
  *    caches are gone — an external clearCache, or the frames were
  *    released some other way — the next registration sweeps the
  *    stale listener, so discarded builds don't accumulate
  *    plan-containment scans on the listener bus forever.
  *  - IDENTICAL-PLAN CROSS-RELEASE: release keys on plan
  *    `sameResult`, and the session's CacheManager dedups persists of
  *    identical plans into one entry — so two invocations of the same
  *    operator on identical inputs share cache entries AND
  *    cross-match each other's listeners. The first action on EITHER
  *    result releases the shared entries and fires both listeners; a
  *    later action on the other result recomputes from scratch
  *    (correct, uncached — the first-action contract applied to the
  *    pair). Callers re-running an identical pipeline for its results
  *    should act once and reuse, or persist the result themselves.
  *  - Sessions are isolated: listeners register on the invoking
  *    result's OWN session bus, so an action in one SparkSession
  *    never releases a concurrent session's operator caches (the
  *    pending queue is global bookkeeping only; spec-pinned). The
  *    CacheManager-level plan dedup above is the one cross-session
  *    interaction, inherited from Spark's shared cache.
  */
private[graft] object ScopedCache {

  /** One pending registration: its listener plus the frames it owns,
    * so stale entries (caches already dropped by an external
    * clearCache, or a result that was built and discarded) can be
    * swept instead of accumulating for the session lifetime.
    */
  private final case class Pending(listener: QueryExecutionListener, owned: Seq[DataFrame])
  private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Pending]()

  /** Unregister listeners whose owned frames are ALL uncached already
    * — the caller cleared the cache externally, or never acted on the
    * result and something else released it. Called on each new
    * registration, so the outstanding-listener set stays proportional
    * to the caches that are genuinely still live (a discarded build's
    * listener disappears at the next clearCache + operator call
    * instead of scanning every future action's plan forever).
    */
  private def sweepStale(): Unit = {
    val it = pending.iterator()
    while (it.hasNext) {
      val p = it.next()
      val stale =
        try p.owned.forall(_.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        catch { case _: Throwable => true }
      if (stale) {
        try p.owned.head.sparkSession.listenerManager.unregister(p.listener)
        catch { case _: Throwable => () }
        it.remove()
      }
    }
  }

  /** Return `result` with `owned` frames scheduled for unpersist after
    * the first completed (or failed) action that reads `result`.
    */
  def releaseAfterAction(result: DataFrame, owned: Seq[DataFrame]): DataFrame = {
    if (owned.isEmpty) return result
    sweepStale()
    val session = result.sparkSession
    val target = result.queryExecution.analyzed
    val done = new AtomicBoolean(false)
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private def maybeRelease(qe: QueryExecution): Unit = {
        val hit =
          try qe.analyzed.exists(_.sameResult(target))
          catch { case _: Throwable => false }
        if (hit && done.compareAndSet(false, true)) {
          owned.foreach(df => try df.unpersist(false) catch { case _: Throwable => () })
          session.listenerManager.unregister(this)
          pending.removeIf(_.listener eq this)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    session.listenerManager.register(listener)
    pending.add(Pending(listener, owned))
    result
  }
}
