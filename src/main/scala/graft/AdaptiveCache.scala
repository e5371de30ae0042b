package graft

import org.apache.spark.sql.DataFrame

/** Byte-adaptive persistence for census-shaped intermediates.
  *
  * The statistic operators (KS / AUC / rank / drift families) persist
  * a post-aggregate census that MANY downstream jobs re-scan: offset
  * broadcasts, probe aggregates, spine joins, the final collect.
  * Spark freezes a cached plan's output partitioning at
  * `spark.sql.shuffle.partitions` unless
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` is on,
  * so a KB-sized census caches as 32 near-empty partitions and every
  * downstream job schedules 32 near-empty tasks — measured (JobProfile,
  * r20) at 0.2–0.4 s of pure scheduling overhead per job, ×20+ jobs on
  * the grouped operators.
  *
  * [[persistByteAdaptive]] brackets the persist with the flag ON, so
  * AQE re-partitions THIS cached plan by bytes (advisory /
  * minPartitionSize): a small census caches as one partition, a 100 TB
  * census keeps full parallelism — scale-adaptive by construction
  * (guide §2.2). The flag stays OFF for every other persist because
  * byte-based sizing is wrong for byte-light but CPU-DENSE caches
  * (shingle/MinHash tables): a session-wide flag was measured to
  * serialize the dedup family's hot stages (q129 ×2.07). Spark reads
  * the flag inside `CacheManager.cacheQuery`, i.e. at `persist()`
  * time, which is what makes the bracket scope per cache.
  *
  * Only censuses — frames whose per-row COST is as small as their
  * per-row SIZE — should opt in.
  */
object AdaptiveCache {
  private val Key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Serializes the conf set/persist/restore bracket (never synchronize
    * on the interned conf-key string itself).
    */
  private val bracketLock = new Object

  /** Measurement escape hatch (r20): plain persist, for before/after
    * A/B runs of the byte-adaptive caching itself.
    */
  private val untuned = sys.env.contains("SPARK_GRAFT_UNTUNED")

  /** Frames persisted through the bracket, weakly keyed by Dataset
    * identity, so [[CacheLifecycle]] can RE-pin one under the same
    * bracket after a superseded claim's release dropped the shared
    * cache entry (see CacheLifecycle's registration steal). Weak keys:
    * entries vanish with the Dataset, no per-session growth.
    */
  private val censusFrames =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[DataFrame, java.lang.Boolean]())

  /** `import graft.AdaptiveCache.CensusPersist` for `df.persistCensus()`
    * at call sites. Only POST-SHUFFLE censuses benefit (a persist with
    * no exchange beneath keeps its scan partitioning either way).
    */
  implicit class CensusPersist(private val df: DataFrame) extends AnyVal {
    def persistCensus(): DataFrame = persistByteAdaptive(df)
  }

  def persistByteAdaptive(df: DataFrame): DataFrame = {
    if (untuned) return CacheLifecycle.persistManaged(df)
    censusFrames.put(df, java.lang.Boolean.TRUE)
    // the set/persist/restore window is serialized (one lock for every
    // bracketed persist on the process): SparkSession conf is session-
    // global across threads, so two brackets must not interleave their
    // set and restore. The lock does not make concurrent callers safe:
    // a plain persist on another thread can still land inside the
    // bracket, and invocations on one canonical plan must be sequential
    // (see CacheLifecycle). Lock order is always handoff -> bracket
    // (CacheLifecycle's repersist path takes them in the same order).
    CacheLifecycle.withHandoff(df) {
      bracketLock.synchronized {
        val conf = df.sparkSession.conf
        val prev = conf.getOption(Key)
        conf.set(Key, "true")
        try df.persist()
        finally prev match {
          case Some(v) => conf.set(Key, v)
          case None    => conf.unset(Key)
        }
      }
    }
  }

  /** Re-persist with the SAME discipline `df` was originally persisted
    * under: bracketed when it went through [[persistByteAdaptive]],
    * plain otherwise. Used by [[CacheLifecycle]] when a registration
    * steal has just dropped the cache entry a fresh pass shares.
    */
  private[graft] def repersist(df: DataFrame): Unit =
    if (censusFrames.containsKey(df)) { persistByteAdaptive(df); () }
    else { df.persist(); () }
}
