package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance — the at-rest pattern that keeps
  * a 100 TB metric history queryable without ever rescanning it:
  * store per-(key, time-bucket) PARTIAL aggregates; each new arrival
  * window appends its own partials; totals, trends and merges then
  * run over the partials table (keys × buckets rows, calendar-
  * bounded) instead of raw history. The additive-metric counterpart
  * of [[Profiling.distinctSketch]]'s mergeable HLL tables: counts
  * and integer sums merge by re-aggregation, exactly and in any
  * order.
  *
  * Correctness contract: merging any disjoint partition of the input
  * (by day, by backfill batch, by source) equals the single-pass
  * aggregate — pinned by q105's oracle, which computes the direct
  * aggregate while the query path goes split → partials → merge.
  * Non-additive metrics (distinct counts, quantiles) do NOT merge
  * this way — use the sketch operators for those.
  */
object Incremental {

  /** Collapse raw rows to per-(key, bucket) partial aggregates:
    * row count and integer weight sum (callers quantize doubles
    * first — the [[Temporal.rollingBucketTotals]] convention). Same
    * exact long bucket arithmetic as [[Temporal.arrivalGaps]]. One
    * partial-combined shuffle; output is the at-rest shape (write
    * it partitioned by bucket for range pruning).
    */
  def bucketPartials(
      df: DataFrame, key: Column, ts: Column, weight: Column,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    df.select(key.as("key"), (us - pmod(us, lit(width))).as("bucket_start_us"),
        weight.cast("long").as("_w"))
      .groupBy(col("key"), col("bucket_start_us"))
      .agg(count(lit(1)).as("n"), sum(col("_w")).as("w_sum"))
  }

  /** Merge partials tables (an existing history and one or more
    * delta batches, or shards of a backfill) into one: union +
    * re-aggregate. Associative and order-independent — integer adds
    * — so batches can land in any order; a bucket present in several
    * inputs (late data, reprocessed day) merges additively. The
    * shuffle carries partials rows, never raw history.
    */
  def mergePartials(parts: DataFrame*): DataFrame = {
    require(parts.nonEmpty, "at least one partials frame required")
    parts.reduce(_.unionByName(_))
      .groupBy(col("key"), col("bucket_start_us"))
      .agg(sum(col("n")).as("n"), sum(col("w_sum")).as("w_sum"))
  }

  /** Final per-key rollup over a partials table — the "lifetime
    * totals" read that costs keys × buckets rows instead of a
    * history scan.
    */
  def keyTotals(partials: DataFrame): DataFrame =
    partials.groupBy(col("key"))
      .agg(sum(col("n")).as("n"), sum(col("w_sum")).as("w_sum"))

  /** Per-(key, bucket) PARTIAL POWER SUMS (n, Σd, Σd², Σd³, Σd⁴ of
    * d = value − shift, DECIMAL(38,0)) — the moments analog of
    * [[bucketPartials]]: exactly mergeable integer sums that let a
    * standing query maintain what the mean-diff and Jarque–Bera
    * statistics need without rescanning history. `shift` keeps
    * fourth powers small (the [[Profiling.normalityJarqueBera]]
    * domain bound); ANY integer works (the central-moment numerators
    * are shift-invariant), so use a profiled mean from any prior
    * day. The shift is RECORDED per row — merging rows with
    * different shifts would mix incomparable sums, so the merge
    * groups by it and a reader asserting a single monitoring config
    * can check `shift`'s distinct count.
    */
  def bucketMoments(
      df: DataFrame, key: Column, ts: Column, value: Column,
      shift: Long, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val d = (value.cast("long") - lit(shift)).cast("decimal(38,0)")
    df.select(key.as("key"), (us - pmod(us, lit(width))).as("bucket_start_us"),
        d.as("_d"))
      .filter(col("_d").isNotNull)
      .groupBy(col("key"), col("bucket_start_us"))
      .agg(count(lit(1)).as("n"),
        sum(col("_d")).cast("decimal(38,0)").as("s1"),
        sum(col("_d") * col("_d")).cast("decimal(38,0)").as("s2"),
        sum(col("_d") * col("_d") * col("_d")).cast("decimal(38,0)").as("s3"),
        sum(col("_d") * col("_d") * col("_d") * col("_d"))
          .cast("decimal(38,0)").as("s4"))
      .withColumn("shift", lit(shift))
  }

  /** Lifetime per-key moments over a moments log. */
  def keyMoments(partials: DataFrame): DataFrame =
    partials.groupBy(col("key"), col("shift"))
      .agg(sum(col("n")).as("n"),
        sum(col("s1")).cast("decimal(38,0)").as("s1"),
        sum(col("s2")).cast("decimal(38,0)").as("s2"),
        sum(col("s3")).cast("decimal(38,0)").as("s3"),
        sum(col("s4")).cast("decimal(38,0)").as("s4"))
}
