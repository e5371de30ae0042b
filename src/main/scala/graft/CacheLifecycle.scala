package graft

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Release persisted intermediates once the plan they were persisted
  * FOR has executed.
  *
  * The dedup/similarity entry points persist corpus-scale
  * intermediates (posting lists, signature tables, k-means features)
  * that several branches of the returned plan consume. The *WithCaches
  * variants hand those handles to the caller to manage; the plain
  * entry points instead register a one-shot QueryExecutionListener
  * that unpersists the intermediates after the first completed
  * execution whose analyzed plan contains any of them as a subtree —
  * i.e. after the returned DataFrame (or a derivative) has run once.
  * Long-lived sessions then don't accumulate a dead cache entry per
  * invocation.
  *
  * Re-executing the same returned plan later recomputes the
  * intermediates uncached — correct, just slower; callers that execute
  * one plan repeatedly should use the *WithCaches variants and release
  * when THEY are done.
  *
  * Contract: invocations whose caches have the same canonical plan
  * must be sequential — each one's returned plan executed before the
  * next one registers. A registration supersedes the prior claim on
  * its plan and releases it at once, so a concurrent invocation on the
  * same plan would have its shared cache entry dropped mid-execution
  * (recomputed, not wrong) and its claim consumed. The locks here only
  * keep one hand-off's steal, persist and release from interleaving;
  * they do not make the API safe for concurrent callers.
  */
object CacheLifecycle {

  /** Safety-valve timer for plans that are built but never executed
    * (daemon: never blocks JVM exit).
    */
  private val reaper = new java.util.Timer("graft-cache-lifecycle-reaper", true)

  /** Pending release claims, keyed by the CANONICALIZED plan of each
    * cache a registration pins. At most one claim per key: a new
    * registration for the same canonical plan STEALS the prior claim —
    * releases it synchronously and re-pins the cache — because the
    * listener events that drive releases arrive asynchronously on the
    * shared bus, which can lag a full invocation behind under load.
    * Without the steal, the measured failure mode (r20, q223 warm
    * 4× slower than cold at 32 cores) is: invocation N+1's persist()
    * finds N's still-cached entry (CacheManager WARNs "already
    * cached", adds nothing), then N's late listener event unpersists
    * the SHARED entry mid-build, and N+1 executes with no cache at
    * all — every multi-consumer intermediate recomputed per consumer.
    * The steal makes the hand-off deterministic: by the time a fresh
    * invocation's plan executes, its caches are pinned by an entry no
    * stale claim can remove (a stale claim's release is a one-shot CAS
    * the steal has already consumed).
    */
  private val pending =
    new java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, () => Unit]()

  /** Serializes release() bodies against the steal/persist window so a
    * stale claim's in-flight unpersist cannot drop an entry between a
    * fresh invocation's steal and its persist. Uncontended outside the
    * harness's sequential hand-offs; reentrant (the steal invokes the
    * stolen release under the same monitor).
    */
  private val handoffLock = new Object

  /** Release (synchronously) any stale pending claim on `df`'s
    * canonicalized plan. Callers must hold [[handoffLock]].
    */
  private[graft] def stealLocked(df: DataFrame): Unit = {
    val key =
      try df.queryExecution.analyzed.canonicalized
      catch { case _: Throwable => return }
    val prior = pending.remove(key)
    if (prior ne null) prior()
  }

  /** Persist with a deterministic cache hand-off: a stale pending
    * claim on the same canonicalized plan (a PRIOR invocation whose
    * release event is still in flight on the lagging listener bus) is
    * released synchronously FIRST, so this invocation's persist always
    * creates a fresh entry that its eager probes materialize and its
    * main execution then reads — instead of the probes riding the
    * prior entry and the late release (or the registration-time
    * backstop steal) dropping it mid-invocation, which forces the main
    * execution's concurrent consumers to race-recompute the
    * intermediate (measured: q139 warm 1.6 → 2.4 s under the
    * registration-time-only steal). Use at every persist the release
    * machinery manages; chainable as `.persistFresh()` via
    * [[FreshPersist]].
    */
  def persistManaged(df: DataFrame): DataFrame = handoffLock.synchronized {
    stealLocked(df)
    df.persist()
    df
  }

  /** `import graft.CacheLifecycle.FreshPersist` for `df.persistFresh()`
    * at call sites.
    */
  implicit class FreshPersist(private val df: DataFrame) extends AnyVal {
    def persistFresh(): DataFrame = persistManaged(df)
  }

  /** Run `body` (a persist of `df`, under whatever conf bracket the
    * caller needs) after stealing any stale claim on `df`'s plan, all
    * under the hand-off lock — [[persistManaged]] for callers that
    * wrap the persist call itself (AdaptiveCache's bracket).
    */
  private[graft] def withHandoff(df: DataFrame)(body: => DataFrame): DataFrame =
    handoffLock.synchronized {
      stealLocked(df)
      body
    }

  /** Auto-unpersist `caches` after the first query execution that
    * consumes any of them completes (success or failure). Matching is
    * by analyzed-plan subtree (`sameResult`), so a late-delivered
    * listener event from an unrelated earlier execution cannot release
    * these caches prematurely.
    *
    * If the returned plan is NEVER executed (built for inspection,
    * abandoned on error before the action), the listener would wait
    * forever and the cache pin with it — so a timeout valve force-
    * releases after `maxIdleMs` (default 1 h). The valve can only
    * make an abandoned plan recompute if it IS eventually run later;
    * it never produces wrong results.
    */
  def releaseAfterFirstUse(
      caches: Seq[DataFrame], maxIdleMs: Long = 60L * 60 * 1000): Unit =
    releaseOnMatch(caches, caches, maxIdleMs)

  /** Like [[releaseAfterFirstUse]], but the release fires only when a
    * plan containing `trigger` (the operator's RETURNED frame, or a
    * derivative) executes — for operators that also run EAGER jobs
    * over the caches while assembling that frame (a sketch build, a
    * convergence count): those jobs' listener events are delivered
    * asynchronously and can land after registration, and since their
    * plans contain the cache subtree they would release it before the
    * returned plan ever ran. Keying on the returned plan instead makes
    * the pre-registration jobs unmatchable by construction.
    */
  def releaseWhenExecuted(
      trigger: DataFrame, caches: Seq[DataFrame],
      maxIdleMs: Long = 60L * 60 * 1000): Unit =
    releaseOnMatch(Seq(trigger), caches, maxIdleMs)

  private def releaseOnMatch(
      matchOn: Seq[DataFrame], caches: Seq[DataFrame], maxIdleMs: Long): Unit = {
    if (caches.isEmpty || matchOn.isEmpty) return
    val spark = caches.head.sparkSession
    val ourPlans = matchOn.map(_.queryExecution.analyzed)
    val keys = caches.map(_.queryExecution.analyzed.canonicalized)
    val released = new AtomicBoolean(false)
    var unregister: () => Unit = () => ()
    lazy val releaseFn: () => Unit = () => release()
    // CAS inside the lock: a release body past its CAS but outside the
    // lock could otherwise unpersist AFTER a steal observed the
    // consumed claim and a fresh persist re-created the entry
    def release(): Unit = handoffLock.synchronized {
      if (released.compareAndSet(false, true)) {
        try caches.foreach(_.unpersist(blocking = false))
        catch { case _: Throwable => () } // stopped session: nothing to release
        keys.foreach(k => pending.remove(k, releaseFn))
        unregister()
      }
    }
    // registration steal: supersede any pending claim on the same
    // canonical cache plans (its invocation's trigger has executed —
    // invocations are sequential — so its pin is garbage the lagging
    // listener bus hasn't collected yet), then re-pin any cache the
    // steal (or an already-landed stale release) left unpersisted, so
    // THIS invocation recomputes into a fresh entry instead of running
    // uncached. Under the lock so a stale release body cannot
    // interleave between the storageLevel check and the re-pin.
    handoffLock.synchronized {
      keys.foreach { k =>
        val prior = pending.put(k, releaseFn)
        if ((prior ne null) && (prior ne releaseFn)) prior()
      }
      caches.foreach { c =>
        try {
          if (c.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
            AdaptiveCache.repersist(c)
        } catch { case _: Throwable => () }
      }
    }
    val listener: QueryExecutionListener = new QueryExecutionListener {
      private def maybeRelease(qe: QueryExecution): Unit = {
        val consumes =
          try qe.analyzed.exists(n => ourPlans.exists(p => n.sameResult(p)))
          catch { case _: Throwable => false } // a malformed plan never blocks release of others
        if (consumes) release()
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    unregister = () => spark.listenerManager.unregister(listener)
    spark.listenerManager.register(listener)
    // if a concurrent registration stole THIS claim between the steal
    // block and the register above, release() already ran with the
    // no-op unregister — drop the listener now instead of leaking it
    if (released.get()) spark.listenerManager.unregister(listener)
    reaper.schedule(new java.util.TimerTask {
      override def run(): Unit = release()
    }, maxIdleMs)
  }
}
