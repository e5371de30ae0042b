package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Incremental

/** The streaming front-end of [[graft.operators.Incremental]]: keep
  * the per-(key, bucket) partials table current as events ARRIVE, so
  * the at-rest history is born incremental instead of being rebuilt
  * by batch backfills.
  *
  * Shape: each micro-batch collapses to its own bucket partials
  * (one partial-combined aggregate over just the batch's rows) and
  * APPENDS them to the partials log — a pure insert, no
  * read-modify-write, so the sink commits atomically per batch and a
  * retried batch cannot corrupt totals that were already read.
  * Readers merge at read time ([[readTotals]]): additive integer
  * re-aggregation over partials rows, exactly
  * [[Incremental.mergePartials]]'s contract, so totals equal the
  * single-pass batch aggregate over everything that has arrived —
  * late data included, because a late row simply lands as one more
  * partial row for its (old) bucket.
  *
  * The log grows by ≤ keys × buckets rows per micro-batch regardless
  * of batch row count; compact it on the same cadence as any
  * append-log (re-aggregate a closed time range and swap — the
  * [[graft.operators.Provenance]] compaction discipline). No
  * watermark is needed for CORRECTNESS (append + merge is
  * order-free); add one only if downstream wants bounded-lateness
  * bucket finalization.
  */
object StreamingIncremental {

  /** Start the partials sink: collapse each micro-batch with
    * [[Incremental.bucketPartials]] and append to `path`.
    */
  def partialsSink(
      stream: DataFrame, key: Column, ts: Column, weight: Column,
      bucketSeconds: Long, path: String, checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Incremental.bucketPartials(batch, key, ts, weight, bucketSeconds)
          .write.mode("append").parquet(path)
      }
      .start()

  /** Start the MOMENTS sink: per-batch power-sum partials
    * ([[Incremental.bucketMoments]]) appended to `path` — the
    * standing-query feed for the mean-diff and Jarque–Bera monitors
    * ([[graft.operators.StatTests.meanDiffZFromMoments]],
    * [[graft.operators.Profiling.normalityFromMoments]]). */
  def momentsSink(
      stream: DataFrame, key: Column, ts: Column, value: Column,
      shift: Long, bucketSeconds: Long, path: String,
      checkpoint: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Incremental.bucketMoments(batch, key, ts, value, shift, bucketSeconds)
          .write.mode("append").parquet(path)
      }
      .start()

  /** Current per-key totals of a partials log: merge-at-read over
    * partials rows (never raw history). */
  def readTotals(spark: SparkSession, path: String): DataFrame =
    Incremental.keyTotals(
      Incremental.mergePartials(spark.read.parquet(path)))

  /** Current per-(key, bucket) series of a partials log, late data
    * folded in. */
  def readSeries(spark: SparkSession, path: String): DataFrame =
    Incremental.mergePartials(spark.read.parquet(path))

  /** Compact a partials log: merge every appended batch into ONE
    * partials table at `outPath` (side-by-side — never in place, the
    * [[graft.operators.Provenance.compact]] discipline), then verify
    * by read-back that per-key totals are IDENTICAL before
    * returning. The CUT is the log's file set listed once up front:
    * both the rewrite and the verify read exactly that snapshot, so a
    * sink that keeps appending during compaction cannot fail the
    * verify spuriously (its new files are simply outside the cut).
    * Returns the snapshot's file paths — the caller's swap replaces
    * exactly those files with the compacted table and keeps the
    * post-cut tail.
    *
    * Throws (and leaves `outPath` for inspection) on any totals
    * mismatch rather than silently blessing a lossy rewrite.
    */
  def compactLog(spark: SparkSession, path: String, outPath: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cut = fs.listStatus(new org.apache.hadoop.fs.Path(path))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString).toSeq.sorted
    require(cut.nonEmpty, s"no parquet files to compact under $path")
    val snapshot = Incremental.mergePartials(spark.read.parquet(cut: _*))
    snapshot.write.mode("error").parquet(outPath)
    val before = Incremental.keyTotals(spark.read.parquet(cut: _*))
    val after = Incremental.keyTotals(spark.read.parquet(outPath))
    verifyLossless(before, after, outPath)
    cut
  }

  /** The compaction gate: require `after` to carry IDENTICAL per-key
    * totals to `before`, else throw. Factored out of [[compactLog]]
    * so the refusal path is directly testable. */
  def verifyLossless(before: DataFrame, after: DataFrame, outPath: String): Unit = {
    val lost = before.exceptAll(after).count()
    val gained = after.exceptAll(before).count()
    require(lost == 0 && gained == 0,
      s"compacted partials diverge from the log ($lost lost / $gained new " +
        s"total rows) — do NOT swap $outPath in")
  }
}
