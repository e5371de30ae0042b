package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** Persist intermediates per invocation, and release them once the
  * plan they were persisted FOR has executed.
  *
  * The dedup/similarity/statistic entry points persist corpus-scale
  * intermediates (posting lists, signature tables, censuses) that
  * several branches of the returned plan consume. Spark's CacheManager
  * matches a persisted frame by its analyzed plan, so two invocations
  * of one operator on the same input would share ONE cache entry, and
  * the first invocation's release would drop the second's. Every
  * managed persist therefore goes through [[persistManaged]] (or
  * `AdaptiveCache.persistByteAdaptive`), which persists a copy of the
  * frame tagged with a per-invocation literal column that is dropped
  * again: the tag makes the analyzed plan unique, so each invocation
  * owns its entry, and the optimizer prunes the tag, so the cached
  * physical plan is the untagged one. Consumers must read the RETURNED
  * frame: the untagged input does not match the entry and recomputes.
  *
  * The *WithCaches variants hand the returned frames to the caller to
  * unpersist; the plain entry points register a one-shot listener
  * that unpersists them once the returned DataFrame (or a derivative)
  * has run, so long-lived sessions don't accumulate a dead entry per
  * invocation. Re-executing that plan later recomputes the
  * intermediates uncached — correct, just slower; callers that execute
  * one plan repeatedly should use the *WithCaches variants instead.
  *
  * Concurrent callers are safe: invocations on different threads
  * persist, consume and release disjoint cache entries, and a release
  * (the listener's or the reaper's) fires at most once and touches only
  * its own registration's caches.
  */
object CacheLifecycle {

  /** Safety-valve timer for plans that are built but never executed
    * (daemon: never blocks JVM exit).
    */
  private val reaper = new java.util.Timer("graft-cache-lifecycle-reaper", true)

  private val invocations = new AtomicLong

  /** `df` under a plan identity no other call shares: one literal
    * column, added and dropped again (the optimizer prunes it).
    */
  private def tagged(df: DataFrame): DataFrame = {
    val tag = "_graft_invocation"
    df.withColumn(tag, lit(invocations.incrementAndGet())).drop(tag)
  }

  /** Persist `df` as a cache entry of its own and return the persisted
    * frame; use it at every persist the release machinery manages.
    * Chainable as `.persistFresh()` via [[FreshPersist]].
    */
  def persistManaged(df: DataFrame): DataFrame = tagged(df).persist()

  /** `import graft.CacheLifecycle.FreshPersist` for `df.persistFresh()`
    * at call sites.
    */
  implicit class FreshPersist(private val df: DataFrame) extends AnyVal {
    def persistFresh(): DataFrame = persistManaged(df)
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
    val listener = new OneShotRelease(spark, matchOn.map(_.queryExecution.analyzed), caches)
    spark.listenerManager.register(listener)
    reaper.schedule(new java.util.TimerTask {
      override def run(): Unit = listener.release()
    }, maxIdleMs)
  }

  /** Unpersists `caches` once: on the first execution whose analyzed
    * plan contains one of `ourPlans`, or when the reaper fires. */
  private class OneShotRelease(
      spark: SparkSession,
      ourPlans: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
      caches: Seq[DataFrame]) extends QueryExecutionListener {
    private val released = new AtomicBoolean(false)

    def release(): Unit =
      if (released.compareAndSet(false, true)) {
        try caches.foreach(_.unpersist(blocking = false))
        catch { case _: Throwable => () } // stopped session: nothing to release
        spark.listenerManager.unregister(this)
      }

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
}
