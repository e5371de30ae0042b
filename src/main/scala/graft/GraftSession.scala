package graft

import org.apache.spark.sql.SparkSession

/** Session tuning shared by every engine entry point (Bench, Verify,
  * PlanDump, JobProfile). One place so the bench, the oracle dump and
  * the plan audits all run the configuration the engine is designed
  * for.
  *
  * Every setting here is scale-adaptive (sized by bytes/cardinality at
  * runtime), not a local[32] constant — the r20 optimization-round
  * rule. Scale-DEPENDENT knobs stay env-parameterised with defaults
  * that keep the driver's bench methodology unchanged.
  * The codegen settings are the exception: they are sized by the
  * number of distinct plans the engine builds, which no data size moves.
  */
object GraftSession {

  /** Apply engine-wide tuning to a session builder.
    *
    * Deliberately EMPTY of the cached-plan AQE flag: a session-wide
    * `canChangeCachedPlanOutputPartitioning=true` was A/B-measured in
    * r20 (30-query tail subset, 3 warm passes) at ×1.01 NET — the
    * census-family queries won ×0.52–0.78 (their cached censuses are
    * byte-light, and byte-based coalescing removes ~30 near-empty
    * tasks per downstream job) but the dedup/LSH family REGRESSED up
    * to ×2.07 (q129): shingle/MinHash caches are byte-LIGHT but
    * CPU-DENSE, and coalescing them to one partition serialized the
    * hot stages (JobProfile: 33-task 0.1 s stages became 1-task
    * 0.2–0.4 s stages). AQE sizes by bytes and cannot see CPU density,
    * so the flag is applied PER CACHE by the operators that know their
    * cached frame is a post-aggregate census —
    * [[AdaptiveCache.persistByteAdaptive]] — not session-wide.
    *
    * What it does set is whole-stage codegen class REUSE, so a repeated
    * invocation of a plan (the nightly fleet batch, a warm bench pass)
    * runs the classes an earlier invocation compiled instead of paying
    * Janino and the JIT again. Two causes made every warm pass
    * recompile, and each setting removes one; neither is enough alone:
    *
    *  - `spark.sql.codegen.useIdInClassName=false`. The class name
    *    embeds the codegen stage id (`GeneratedIteratorForCodegenStageN`),
    *    so byte-identical stages compiled as different classes: a fleet
    *    flow's per-source branches, the same stage in another plan, and
    *    the same stage renumbered by AQE on the next invocation. Without
    *    the ids they share one class. Stack traces lose the stage-id
    *    suffix of generated classes; the id stays visible in `explain`
    *    (`*(n)`) and in the generated-code comment (`codegenStageId=n`).
    *  - `spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]].
    *    Spark's cache (default 100 entries) is keyed by (context class
    *    loader, code), and in `local` mode the thread that plans a
    *    query and the task threads compile a whole-stage class under
    *    different loaders, so every class takes two entries and the
    *    default holds about 50. It is a static setting: the JVM's first
    *    session fixes it.
    *
    * Measured in the benchmark's traced runs (4 vCPU): with both
    * settings a warm pass compiles 0 classes on `fleet_dqa` (was 61 to
    * 102.5) and on `probe_chain` (was 132.5); cold passes compile 52
    * (was 116) and 82 (was 132). The larger cache alone left 19
    * recompiles per `probe_chain` warm pass (the AQE-renumbered
    * stages); ids off alone left 45.5 (cache evictions).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)

  /** Size of Spark's codegen class cache. The working set it must hold
    * is the compiles of one pass over the repeated operations, with
    * stage ids off: 82 on the benchmark's `probe_chain` (two catalog
    * queries) and 52 on `fleet_dqa` (three fleet flows), against 132
    * and 116 with ids on. `graft.Bench` and `JobProfile` repeat each
    * query right after its cold pass, so their working set is one
    * query's. Entries exist only once compiled, so headroom above the
    * working set costs no heap: the benchmark's retained heap stayed
    * flat.
    */
  val CodegenCacheEntries: Int = 1000
}
