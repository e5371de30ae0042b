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
  * The persist itself is [[CacheLifecycle.persistManaged]]: the
  * returned frame is this invocation's own entry, and consumers and the
  * release must use it.
  *
  * Only censuses — frames whose per-row COST is as small as their
  * per-row SIZE — should opt in.
  */
object AdaptiveCache {
  private val Key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  /** Serializes the conf set/persist/restore bracket (never synchronize
    * on the interned conf-key string itself). SparkSession conf is
    * session-global across threads, so two brackets must not interleave
    * their set and restore; a plain persist on another thread can still
    * land inside a bracket, which changes only its partitioning.
    */
  private val bracketLock = new Object

  /** `import graft.AdaptiveCache.CensusPersist` for `df.persistCensus()`
    * at call sites. Only POST-SHUFFLE censuses benefit (a persist with
    * no exchange beneath keeps its scan partitioning either way).
    */
  implicit class CensusPersist(private val df: DataFrame) extends AnyVal {
    def persistCensus(): DataFrame = persistByteAdaptive(df)
  }

  def persistByteAdaptive(df: DataFrame): DataFrame = bracketLock.synchronized {
    val conf = df.sparkSession.conf
    val prev = conf.getOption(Key)
    conf.set(Key, "true")
    try CacheLifecycle.persistManaged(df)
    finally prev match {
      case Some(v) => conf.set(Key, v)
      case None    => conf.unset(Key)
    }
  }
}
