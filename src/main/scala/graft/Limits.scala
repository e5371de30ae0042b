package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** Engine-wide size thresholds shared across operator families, so a
  * tuning change lands everywhere at once instead of drifting across
  * per-file copies (r10 advice: the 4M-row literal was re-declared at
  * six-plus sites in StatTests/Profiling/Evaluation).
  */
object Limits {

  /** Rows at or under which cardinality-adaptive operators broadcast a
    * census/offsets/spine table instead of shuffling it. These tables
    * are groups×cells rows: config-sized for dashboard-cardinality
    * group columns (languages, sources, shards — broadcast wins by
    * skipping a shuffle), but data-sized for a million-group column,
    * where an unconditional hint would spill or OOM the driver.
    * 4M rows ≈ 100 MB of (group, cell, offset) longs — comfortably
    * under Spark's driver/executor broadcast ceilings.
    */
  val BroadcastRowLimit: Long = 4L << 20

  /** Broadcast `df` only when its (already computed, census-derived)
    * row count `rows` is at or under `limit`: the cardinality-adaptive
    * form of the broadcast hint, so a high-cardinality group column
    * degrades to a shuffled join instead of a driver OOM.
    */
  def broadcastIfSmall(df: DataFrame, rows: Long, limit: Long = BroadcastRowLimit): DataFrame =
    if (rows <= limit) broadcast(df) else df
}
