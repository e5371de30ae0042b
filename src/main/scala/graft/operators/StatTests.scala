package graft.operators

import graft.CacheLifecycle.FreshPersist
import graft.Limits
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-level statistical tests over corpus-scale data: the
  * exact two-sample Kolmogorov–Smirnov statistic and the contingency
  * chi-square census. These complete the drift family (q78 histogram
  * drift, q106 quantile/PSI drift, q121 categorical drift) with the
  * classical TEST STATISTICS a data-quality report quotes — "how big
  * is the largest CDF gap between these two cohorts, and is the
  * language mix independent of the source?".
  *
  * Both follow the repo's engine-exact discipline (`Evaluation`'s
  * contract): every sum is an integer computed map-side-partial over a
  * distinct-value or key-pair census; the only floating-point steps
  * are fixed dags of correctly-rounded IEEE ops (`/`, `-`, `*`, `abs`,
  * `max`, `sqrt`) over exactly-converted integers, stated identically
  * in the oracle — so the distributed, partition-order-free plan
  * hash-matches a naive single-node engine.
  *
  * Reference tie-in: the reference's consistency checks compare COUNTS
  * between systems (`data_consistency_checks.py`'s row-count parity);
  * these operators are the distributional generalization — comparing
  * SHAPES, not just sizes — that a 100 TB curation pipeline needs
  * before trusting a cohort split or a source mix.
  */
object StatTests {

  /** Census persists opt in to byte-adaptive cached partitioning: every
    * persisted frame in this file is a post-aggregate census/spine
    * (per-row cost ~ per-row size), the shape [[graft.AdaptiveCache]]
    * is for. See that object for the measurement and the scoping rule.
    */
  import graft.AdaptiveCache.CensusPersist

  /** Exact two-sample Kolmogorov–Smirnov statistic WITHOUT a global
    * sort: D = sup_x |F_A(x) − F_B(x)| over the empirical CDFs of
    * `value` in the two cohorts `inA` / not-`inA`.
    *
    * Distribution (the [[Evaluation.aucExact]] census machinery): rows
    * collapse to a (value → countA, countB) census in one
    * map-side-partial shuffle — the only scan of the input. The
    * cumulative counts are [[RankedPrefix]] INCLUSIVE running sums,
    * cell-partitioned past the direct-window gate, so a census with
    * billions of distinct values ranks `cells`-way parallel. The
    * ECDF is right-continuous, so the sup over all x is attained at a
    * data point with the inclusive prefix — which is exactly what the
    * per-distinct-value inclusive sums give.
    *
    * Every cumulative count is an exact Long; F_A(x) = cumA/|A| is one
    * IEEE division of exactly-converted operands, the gap one
    * subtraction + abs, and the sup an order-independent MAX — all
    * bitwise-identical across engines.
    *
    * Output: one row —
    *   - `n_a`, `n_b`: cohort sizes (rows with non-NULL/NaN value);
    *   - `n_distinct_values`: distinct-value census size;
    *   - `ks_stat`: D;
    *   - `ks_at`: the SMALLEST value attaining the sup (deterministic
    *     diagnostic: where do the distributions diverge most);
    *   - `ks_z`: sqrt(n_a·n_b/(n_a+n_b))·D, the scaled statistic to
    *     compare against Kolmogorov critical values (1.358 ≈ α=0.05).
    * Rows with NULL `inA` are excluded (cohort unknown); NULL/NaN
    * values are excluded census-side (an undefined value has no place
    * in a CDF). If either cohort is empty the statistic columns are
    * NULL — the test is undefined, not 0.
    */
  def ksTwoSample(
      df: DataFrame, value: Column, inA: Column,
      cells: Int = 4096,
      directWindowRows: Long = RankedPrefix.DefaultDirectWindowRows): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val spark = df.sparkSession
    // value census FIRST: one raw scan persisted at distinct-value
    // scale; bounds, totals, cells, and both prefix branches ride the
    // cache (see aucExact for why the raw filter touches only `inA`).
    val nn = df
      .filter(inA.isNotNull)
      .select(value.cast("double").as("_v"),
        when(inA.cast("boolean"), 1L).otherwise(0L).as("_a"),
        when(inA.cast("boolean"), 0L).otherwise(1L).as("_b"))
    val censusAll = nn.groupBy(col("_v"))
      .agg(sum(col("_a")).as("_na"), sum(col("_b")).as("_nb"))
      .persistCensus()
    val census = censusAll.filter(col("_v").isNotNull && !isnan(col("_v")))
    val stats = census
      .agg(min(col("_v")).as("mn"), max(col("_v")).as("mx"),
        coalesce(sum(col("_na")), lit(0L)).as("ta"),
        coalesce(sum(col("_nb")), lit(0L)).as("tb"),
        count(lit(1)).as("nd"))
      .head()
    val (ta, tb) = (stats.getLong(2), stats.getLong(3))
    if (stats.isNullAt(0) || ta == 0L || tb == 0L) {
      // one cohort (or the whole census) empty: a defined shape, not
      // a crash — D is undefined, the sizes still report
      censusAll.unpersist(blocking = false)
      return spark.range(1).select(
        lit(ta).as("n_a"), lit(tb).as("n_b"),
        lit(stats.getLong(4)).as("n_distinct_values"),
        lit(null).cast("double").as("ks_stat"),
        lit(null).cast("double").as("ks_at"),
        lit(null).cast("double").as("ks_z"))
    }
    val (mn, mx) = (stats.getDouble(0), stats.getDouble(1))
    val nd = stats.getLong(4)
    val ranked = RankedPrefix(census, Nil,
      Seq("_ca" -> col("_na"), "_cb" -> col("_nb")),
      direct = nd <= directWindowRows, mn = mn, mx = mx, cells = cells,
      offsetRows = _ => cells.toLong)
    val gaps = ranked.select(col("_v"),
      abs(col("_ca").cast("double") / lit(ta.toDouble)
        - col("_cb").cast("double") / lit(tb.toDouble)).as("_gap"))
    val zScale = math.sqrt(ta.toDouble * tb.toDouble / (ta + tb).toDouble)
    // sup + argmin-value in ONE aggregation pass (r21): min over
    // (−gap, v) structs is lexicographic — most-negative −gap = the
    // SUP, ties broken to the smallest value — exactly the previous
    // max-then-rejoin two-pass result (double negation is bit-exact,
    // incl. ±0.0 round-trip; Spark's double ordering breaks ties the
    // same way min(v) did). Removes the gaps persist + broadcast
    // rejoin: one whole chain of stage-materialization jobs per call.
    val out = gaps
      .agg(
        count(lit(1)).as("n_distinct_values"),
        min(when(col("_gap").isNotNull,
          struct((-col("_gap")).as("_ng"), col("_v").as("_at")))).as("_m"))
      .select(lit(ta).as("n_a"), lit(tb).as("n_b"),
        col("n_distinct_values"),
        (-col("_m._ng")).as("ks_stat"),
        col("_m._at").as("ks_at"),
        (lit(zScale) * (-col("_m._ng"))).as("ks_z"))
    // keyed on the returned frame: the eager stats head() above
    // already consumed the census (see aucMassCore's rationale)
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll))
    out
  }

  /** Per-group exact KS drift: for every group g, the two-sample
    * Kolmogorov–Smirnov statistic between the group's value
    * distribution and the REST of the corpus — "which source's score
    * distribution diverges most from everything else?", the
    * distribution-level leg of the per-source drift triptych
    * (per-source AUC q124, calibration q125, Brier q140).
    *
    * One (group, value) census is the only scan. Both ECDFs step only
    * at data points, so the per-group sup ranges over ALL distinct
    * corpus values: the evaluation frame is the groups × distinct-
    * values spine — the intrinsic cost of the statistic (bounded by
    * groups × census, NOT groups × rows; fine at dashboard group
    * cardinality). The global cumulative is computed ONCE (a solo
    * [[RankedPrefix]]) and rides the spine; the group cumulative is a
    * group-keyed [[RankedPrefix]] inclusive prefix over the spine's
    * zero-filled group counts, (group, cell)-partitioned past the
    * direct-window gate so no group ever ranks in one task; rest =
    * global − group,
    * an exact Long subtraction. Gap, max, and the z-scaling follow
    * [[ksTwoSample]]'s engine-exact dag per group.
    *
    * Output: one row per group — (group_key, n_group, n_rest,
    * n_distinct_values, ks_stat, ks_at, ks_z); the statistic columns
    * are NULL for a group that is the whole corpus (empty rest).
    * NULL-group rows are excluded from the universe (the grouped-
    * family convention); NULL/NaN values are excluded census-side.
    */
  def ksGroupVsRest(
      df: DataFrame, group: Column, value: Column,
      cells: Int = 4096,
      directWindowRows: Long = RankedPrefix.DefaultDirectWindowRows): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val nn = df.filter(group.isNotNull)
      .select(group.as("_g"), value.cast("double").as("_v"))
    val censusGvAll = nn.groupBy(col("_g"), col("_v"))
      .agg(count(lit(1)).as("_n"))
      .persistCensus()
    val censusGv = censusGvAll.filter(col("_v").isNotNull && !isnan(col("_v")))
    // global value census + bounds/totals/cardinalities in ONE job,
    // all census-derived (the group count feeds the adaptive
    // broadcasts below without a second probe job)
    val censusV = censusGv.groupBy(col("_v")).agg(sum(col("_n")).as("_nAll"))
    val bounds = censusGv
      .agg(min(col("_v")).as("mn"), max(col("_v")).as("mx"),
        coalesce(sum(col("_n")), lit(0L)).as("nn"),
        countDistinct(col("_v")).as("nd"),
        countDistinct(col("_g")).as("ng"))
      .head()
    if (bounds.isNullAt(0)) {
      // empty census: zero rows with the group column's true type
      censusGvAll.unpersist(blocking = false)
      return nn.limit(0).select(col("_g").as("group_key"),
        lit(0L).as("n_group"), lit(0L).as("n_rest"),
        lit(0L).as("n_distinct_values"),
        lit(null).cast("double").as("ks_stat"),
        lit(null).cast("double").as("ks_at"),
        lit(null).cast("double").as("ks_z"))
    }
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    val bigN = bounds.getLong(2)
    val nd = bounds.getLong(3)
    val direct = nd <= directWindowRows
    // global inclusive cumulative: ONE copy, shared by every group
    // through the spine. Persisted on the CELL path only: there the
    // spine built on it is consumed twice (per-cell totals + ranked
    // join); the direct spine has one consumer, so a cache would only
    // add a materialization
    val cumAllRanked = RankedPrefix(censusV, Nil, Seq("_cumAll" -> col("_nAll")),
        direct, mn, mx, cells, offsetRows = _ => cells.toLong)
      .select(col("_v"), col("_cumAll"))
    val cumAll = if (direct) cumAllRanked else cumAllRanked.persistCensus()
    // group totals (group-scale) and the groups × values spine.
    // Broadcasts are cardinality-adaptive (the grouped-eval family's
    // convention): the group count rode the bounds job above, and
    // past ~4M offset rows the hints drop away so a pathological
    // group column degrades to shuffled joins instead of OOMing the
    // driver.
    val groupTot = censusGv.groupBy(col("_g")).agg(sum(col("_n")).as("_tg"))
    val nGroups = bounds.getLong(4)
    val spine = cumAll
      .crossJoin(Limits.broadcastIfSmall(groupTot, nGroups))
      .join(censusGv, Seq("_g", "_v"), "left")
      .withColumn("_ng", coalesce(col("_n"), lit(0L)))
    // per-group inclusive prefix over the zero-filled spine counts
    val ranked = RankedPrefix(spine, Seq("_g"), Seq("_cumG" -> col("_ng")),
      direct, mn, mx, cells, offsetRows = _ => nGroups * cells)
    // the when-guard keeps the rest-side divisor live only when the
    // rest is non-empty (ANSI mode raises on /0 otherwise); the
    // degenerate whole-corpus group gets NULL gaps, masked below
    val gaps = ranked.select(col("_g"), col("_v"), col("_tg"),
      when(col("_tg") < lit(bigN),
        abs(col("_cumG").cast("double") / col("_tg").cast("double")
          - (col("_cumAll") - col("_cumG")).cast("double")
            / (lit(bigN) - col("_tg")).cast("double"))).as("_gap"))
    // per-group sup + argmin-value in ONE aggregation (the solo form's
    // r21 single-pass trick): no per-group max table, no broadcast
    // rejoin, no gaps persist — the NULL-gap (whole-corpus) group's
    // struct is NULL and min ignores it, matching the old max-of-NULLs
    val out = gaps
      .groupBy(col("_g"))
      .agg(first(col("_tg")).as("n_group"),
        min(when(col("_gap").isNotNull,
          struct((-col("_gap")).as("_ng"), col("_v").as("_at")))).as("_m"))
      .select(col("_g").as("group_key"),
        col("n_group"),
        (lit(bigN) - col("n_group")).as("n_rest"),
        lit(nd).as("n_distinct_values"),
        when(col("n_group") < lit(bigN), -col("_m._ng")).as("ks_stat"),
        when(col("n_group") < lit(bigN), col("_m._at")).as("ks_at"),
        when(col("n_group") < lit(bigN),
          sqrt(col("n_group").cast("double")
            * (lit(bigN) - col("n_group")).cast("double")
            / lit(bigN.toDouble)) * (-col("_m._ng"))).as("ks_z"))
    graft.CacheLifecycle.releaseWhenExecuted(out,
      if (direct) Seq(censusGvAll) else Seq(censusGvAll, cumAll))
    out
  }

  /** KS drift TIMELINE: the exact two-sample KS statistic between
    * every pair of ADJACENT time buckets of an event stream — "did
    * yesterday's value distribution differ from the day before's?",
    * per day, as one query. The volume monitors (q83/q90) watch row
    * COUNTS move; this watches the distribution itself, with the q144
    * statistic per step.
    *
    * Bucketing is the [[Incremental.bucketPartials]] long arithmetic
    * (`us − pmod(us, width)`), so the timeline lines up with the
    * rolling/seasonal volume series. One (bucket, value) census is the
    * only scan; each census row feeds the pair to its LEFT and the
    * pair to its RIGHT via a two-branch union (≤ 2× census rows — the
    * statistic's intrinsic cost, since a pair's sup ranges over the
    * union of both buckets' values). Valid pairs (both buckets
    * present in the census) come from a bucket-scale self-join —
    * calendar-bounded, like the arrival-gaps spine. Prefixes are
    * pair-keyed [[RankedPrefix]] sums with cardinality-adaptive offset
    * broadcasts; gap/max/z follow [[ksTwoSample]]'s engine-exact dag.
    *
    * Output: one row per adjacent pair — (bucket_start_us,
    * next_start_us, n_left, n_right, n_distinct_values, ks_stat,
    * ks_at, ks_z). Rows with NULL ts are excluded; NULL/NaN values
    * census-side, as always.
    */
  def ksAdjacentPeriods(
      df: DataFrame, ts: Column, value: Column,
      bucketSeconds: Long, cells: Int = 4096,
      directWindowRows: Long = RankedPrefix.DefaultDirectWindowRows): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val nn = df.filter(ts.isNotNull)
      .select((us - pmod(us, lit(width))).as("_b"),
        value.cast("double").as("_v"))
    val censusAll = nn.groupBy(col("_b"), col("_v"))
      .agg(count(lit(1)).as("_n"))
      .persistCensus()
    val census = censusAll.filter(col("_v").isNotNull && !isnan(col("_v")))
    // bounds + bucket cardinality in ONE job; the bucket count is a
    // safe upper bound on the pair count for the adaptive broadcasts
    val bounds = census.agg(min(col("_v")).as("mn"), max(col("_v")).as("mx"),
        countDistinct(col("_b")).as("nb"),
        count(lit(1)).as("nrows"))
      .head()
    if (bounds.isNullAt(0)) {
      censusAll.unpersist(blocking = false)
      return nn.limit(0).select(col("_b").as("bucket_start_us"),
        col("_b").as("next_start_us"),
        lit(0L).as("n_left"), lit(0L).as("n_right"),
        lit(0L).as("n_distinct_values"),
        lit(null).cast("double").as("ks_stat"),
        lit(null).cast("double").as("ks_at"),
        lit(null).cast("double").as("ks_z"))
    }
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    // valid pairs = buckets whose successor bucket also has census
    // rows: a bucket-scale (calendar-bounded) self-join
    val nPairs = bounds.getLong(2) // ≥ true pair count: adaptivity-safe
    val pc = adjacentPairCensus(census, "_v", width, nPairs).persistCensus()
    val tot = pc.groupBy(col("_p"))
      .agg(sum(col("_nl")).as("_tl"), sum(col("_nr")).as("_tr"),
        count(lit(1)).as("_nd"))
    // per-pair inclusive prefixes; the pair census is ≤ 2× the value
    // census rows, a safe direct-path gate. GLOBAL bounds set the
    // cells (the grouped-family convention: cells only control window
    // parallelism)
    val ranked = RankedPrefix(pc, Seq("_p"),
      Seq("_cl" -> col("_nl"), "_cr" -> col("_nr")),
      direct = 2L * bounds.getLong(3) <= directWindowRows, mn = mn, mx = mx,
      cells = cells, offsetRows = _ => nPairs * cells)
    val gaps = ranked
      .join(Limits.broadcastIfSmall(tot, nPairs), Seq("_p"))
      .select(col("_p"), col("_v"), col("_tl"), col("_tr"), col("_nd"),
        abs(col("_cl").cast("double") / col("_tl").cast("double")
          - col("_cr").cast("double") / col("_tr").cast("double")).as("_gap"))
    // per-pair sup + argmin-value in one aggregation (the r21
    // single-pass trick — see ksTwoSample)
    val out = gaps
      .groupBy(col("_p"))
      .agg(first(col("_tl")).as("n_left"),
        first(col("_tr")).as("n_right"),
        first(col("_nd")).as("n_distinct_values"),
        min(when(col("_gap").isNotNull,
          struct((-col("_gap")).as("_ng"), col("_v").as("_at")))).as("_m"))
      .select(col("_p").as("bucket_start_us"),
        (col("_p") + lit(width)).as("next_start_us"),
        col("n_left"), col("n_right"), col("n_distinct_values"),
        (-col("_m._ng")).as("ks_stat"),
        col("_m._at").as("ks_at"),
        (sqrt(col("n_left").cast("double") * col("n_right").cast("double")
          / (col("n_left") + col("n_right")).cast("double"))
          * (-col("_m._ng"))).as("ks_z"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll, pc))
    out
  }

  /** The two-branch pair union shared by the timeline operators
    * ([[ksAdjacentPeriods]], [[categoricalDriftTimeline]]): each
    * census row (`_b`, key, `_n`) enters its own bucket's pair as the
    * LEFT mass and its left-neighbor's pair as the RIGHT mass; pairs
    * where either bucket is absent from the census are dropped via a
    * calendar-bounded bucket self-join (broadcast while the bucket
    * count stays under the adaptive limit). Returns (`_p`, key,
    * `_nl`, `_nr`) at ≤ 2× census rows.
    */
  private def adjacentPairCensus(
      census: DataFrame, keyName: String, width: Long,
      nBuckets: Long): DataFrame = {
    val bks = census.select(col("_b")).distinct()
    val valid = bks.select(col("_b").as("_p"))
      .join(bks.select((col("_b") - lit(width)).as("_p")), Seq("_p"))
    val hinted = Limits.broadcastIfSmall(valid, nBuckets)
    census
      .select(col("_b").as("_p"), col(keyName),
        col("_n").as("_nl"), lit(0L).as("_nr"))
      .unionByName(census.select((col("_b") - lit(width)).as("_p"), col(keyName),
        lit(0L).as("_nl"), col("_n").as("_nr")))
      .join(hinted, Seq("_p"))
      .groupBy(col("_p"), col(keyName))
      .agg(sum(col("_nl")).as("_nl"), sum(col("_nr")).as("_nr"))
  }

  /** Categorical drift TIMELINE: for every pair of adjacent time
    * buckets, the 2×k contingency drift of a categorical key's mix —
    * per (pair, key) cell: both sides' counts and rates, the rate
    * gap, and the two-sided chi-square contribution against the
    * pair's pooled expectation. Σchi2_contribution over a pair's keys
    * is the pair's chi-square statistic with (k−1) dof — the
    * [[ksAdjacentPeriods]] companion for categorical columns
    * (event types, sources, languages), and the timeline form of the
    * two-cohort categorical drift (q52). The per-cell convention is
    * [[contingencyChiSquare]]'s: rows are engine-exact; the scalar is
    * the reader's sum.
    *
    * Same machinery as the KS timeline: one (bucket, key) census,
    * the shared [[adjacentPairCensus]] union (≤ 2× census rows), the
    * calendar-bounded valid-pair join — and nothing else: no windows
    * at all, since chi-square needs no ordering. A key absent on one
    * side of a pair carries a zero count (and its full contribution);
    * a key absent on both sides contributes nothing, exactly as a
    * zero-row would. NULL ts or NULL key rows are excluded.
    */
  def categoricalDriftTimeline(
      df: DataFrame, ts: Column, key: Column,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val nn = df.filter(ts.isNotNull && key.isNotNull)
      .select((us - pmod(us, lit(width))).as("_b"), key.as("_k"))
    val censusAll = nn.groupBy(col("_b"), col("_k"))
      .agg(count(lit(1)).as("_n"))
      .persistCensus()
    val nBuckets = censusAll.agg(countDistinct(col("_b"))).head().getLong(0)
    if (nBuckets == 0L) {
      censusAll.unpersist(blocking = false)
      return nn.limit(0).select(col("_b").as("bucket_start_us"),
        col("_b").as("next_start_us"), col("_k").as("key"),
        lit(0L).as("n_left"), lit(0L).as("n_right"),
        lit(0L).as("left_total"), lit(0L).as("right_total"),
        lit(null).cast("double").as("rate_left"),
        lit(null).cast("double").as("rate_right"),
        lit(null).cast("double").as("rate_gap"),
        lit(null).cast("double").as("chi2_contribution"))
    }
    val pc = adjacentPairCensus(censusAll, "_k", width, nBuckets).persistCensus()
    val tot = pc.groupBy(col("_p"))
      .agg(sum(col("_nl")).as("_tl"), sum(col("_nr")).as("_tr"))
    val totHinted = Limits.broadcastIfSmall(tot, nBuckets)
    // pooled expectation per cell; totals ≥ 1 per valid side and
    // nl + nr ≥ 1 per census-driven cell, so both divisors are live
    val el = col("left_total").cast("double") *
      (col("n_left") + col("n_right")).cast("double") /
      (col("left_total") + col("right_total")).cast("double")
    val er = col("right_total").cast("double") *
      (col("n_left") + col("n_right")).cast("double") /
      (col("left_total") + col("right_total")).cast("double")
    val devl = col("n_left").cast("double") - col("_el")
    val devr = col("n_right").cast("double") - col("_er")
    val out = pc
      .join(totHinted, Seq("_p"))
      .select(col("_p").as("bucket_start_us"),
        (col("_p") + lit(width)).as("next_start_us"),
        col("_k").as("key"),
        col("_nl").as("n_left"), col("_nr").as("n_right"),
        col("_tl").as("left_total"), col("_tr").as("right_total"))
      .withColumn("rate_left",
        col("n_left").cast("double") / col("left_total").cast("double"))
      .withColumn("rate_right",
        col("n_right").cast("double") / col("right_total").cast("double"))
      .withColumn("rate_gap", col("rate_left") - col("rate_right"))
      .withColumn("_el", el)
      .withColumn("_er", er)
      .withColumn("chi2_contribution",
        devl * devl / col("_el") + devr * devr / col("_er"))
      .drop("_el", "_er")
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll, pc))
    out
  }

  /** CUSUM change-point census over a bucketed event series: per time
    * bucket, the cumulative deviation of arrivals from the
    * all-period mean rate — the classical change-point statistic
    * whose peak |CUSUM| marks WHERE the level shifted. The volume
    * monitors (q83/q90) flag locally anomalous days; CUSUM
    * accumulates small persistent shifts that never trip a per-day
    * threshold (a 5% rate drop is invisible daily, unmistakable
    * cumulatively).
    *
    * Engine-exact by scaling: with D buckets and N total rows,
    * S_k = Σ_{i≤k} n_i − k·N/D has a rational mean, so the census
    * carries D·S_k = D·cum_k − k·N — exact integers in
    * DECIMAL(38,0) — and `cusum` = CAST(scaled)/D is the single
    * stated division. `is_peak` marks the earliest bucket attaining
    * max |scaled| (exact integer comparison): the change-point
    * estimate.
    *
    * The running sum is one window over the BUCKET-scale series —
    * calendar-bounded (the arrival-gaps convention: a century of
    * days is 36 525 rows), so the unpartitioned window is fine at
    * any corpus size; the raw scan collapses to that series in one
    * map-side-partial shuffle. Buckets with zero events are absent
    * from the census and simply contribute no step (the q100
    * convention); NULL ts rows are excluded.
    */
  def cusumChangePoint(
      df: DataFrame, ts: Column, bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull)
      .select((us - pmod(us, lit(width))).as("_b"))
      .groupBy(col("_b")).agg(count(lit(1)).as("n"))
      .persistCensus()
    cusumCore(daily, massCol = "n", cumName = "cum_n", caches = Seq(daily))
  }

  /** CUSUM scoring over an ALREADY-BUCKETED series — the plug for
    * at-rest partials tables ([[Incremental.bucketPartials]] /
    * `StreamingIncremental.readSeries`): duplicate bucket rows (an
    * uncompacted partials log) fold by integer addition first, then
    * the same D-scaled census as [[cusumChangePoint]]. This is the
    * statistic's STREAMING form: the standing query maintains the
    * partials log (bounded state), and the all-history CUSUM is a
    * batch query over the bucket-scale series — the
    * windowedBandCensus/scoreBandKs split applied to change-point
    * detection; spec-pinned equal to the batch operator over the raw
    * events, late data folded. Output: (bucket_start_us, mass,
    * cum_mass, cusum_scaled, cusum, is_peak).
    */
  def cusumOverSeries(
      series: DataFrame, bucket: Column, mass: Column): DataFrame = {
    val daily = series.filter(bucket.isNotNull)
      .select(bucket.cast("long").as("_b"), mass.cast("long").as("_m"))
      .groupBy(col("_b"))
      .agg(coalesce(sum(col("_m")), lit(0L)).as("mass"))
      .persistCensus()
    cusumCore(daily, massCol = "mass", cumName = "cum_mass", caches = Seq(daily))
  }

  /** The shared CUSUM finisher over a (\_b, …, massCol) bucket
    * series: totals, the D-scaled deviation census, and the flagged
    * peak — one unpartitioned window over the calendar-bounded
    * series (see [[cusumChangePoint]]). Pass-through columns of
    * `daily` survive into the output with `_b` renamed
    * `bucket_start_us`.
    */
  private def cusumCore(
      daily: DataFrame, massCol: String, cumName: String,
      caches: Seq[DataFrame]): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val tot = daily.agg(count(lit(1)).as("_d"), sum(col(massCol)).as("_T"))
    val w = W.orderBy(col("_b")).rowsBetween(W.unboundedPreceding, 0)
    val cum = daily
      .crossJoin(broadcast(tot))
      .withColumn(cumName, sum(col(massCol)).over(w))
      .withColumn("_k", row_number().over(W.orderBy(col("_b"))))
      .withColumn("cusum_scaled",
        (col("_d").cast("decimal(38,0)") * col(cumName).cast("decimal(38,0)") -
          col("_k").cast("decimal(38,0)") * col("_T").cast("decimal(38,0)"))
          .cast("decimal(38,0)"))
      .persistCensus()
    // peak bucket in ONE aggregation (the r21 struct-min trick): min
    // over (−|cusum|, b) = largest deviation, ties to the earliest
    // bucket — decimal negation is exact, same argmin as the old
    // max-then-crossJoin two-pass
    val peak = cum
      .agg(min(struct((-abs(col("cusum_scaled"))).as("_na"),
        col("_b").as("_b"))).as("_m"))
      .select(col("_m._b").as("_pb"))
    val keep = daily.columns.map {
      case "_b" => col("_b").as("bucket_start_us")
      case c    => col(c)
    }
    val out = cum
      .crossJoin(broadcast(peak))
      .select(keep.toSeq ++ Seq(col(cumName),
        col("cusum_scaled").cast("double").as("cusum_scaled"),
        (col("cusum_scaled").cast("double") / col("_d").cast("double")).as("cusum"),
        (col("_b") === col("_pb")).as("is_peak")): _*)
    graft.CacheLifecycle.releaseWhenExecuted(out, caches :+ cum)
    out
  }

  /** Weighted CUSUM change-point census: [[cusumChangePoint]] on a
    * quantized VALUE MASS instead of the row count — "when did the
    * money/size/score level shift?", which a steady-volume corpus
    * hides from the count form entirely. `weight` follows the
    * volume-anomaly convention: the caller quantizes doubles to a
    * Long (`bround(value * 100).cast("long")`) so the daily masses,
    * the cumulative sums, and the D-scaled deviations
    * D·cumW_k − k·W are all exact integers (DECIMAL(38,0) for the
    * scaled form). Rows with NULL ts are excluded; NULL weights
    * contribute no mass but their rows still count in `n` — both
    * engines' SUM skips NULLs, so the convention is shared for free.
    * Output per bucket: (bucket_start_us, n, w_sum, cum_w,
    * cusum_scaled, cusum, is_peak).
    */
  def cusumChangePointWeighted(
      df: DataFrame, ts: Column, weight: Column,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull)
      .select((us - pmod(us, lit(width))).as("_b"), weight.cast("long").as("_w"))
      .groupBy(col("_b"))
      .agg(count(lit(1)).as("n"), coalesce(sum(col("_w")), lit(0L)).as("w_sum"))
      .persistCensus()
    cusumCore(daily, massCol = "w_sum", cumName = "cum_w", caches = Seq(daily))
  }

  /** Per-group CUSUM change-point census — [[cusumChangePoint]] keyed
    * by a categorical column: each key gets its own mean-rate
    * baseline, cumulative deviation series, and flagged peak ("WHICH
    * event type / source shifted, and when?"). Same integer-exact
    * D-scaled form per key; running sums and ranks ride
    * key-partitioned windows over the keys × buckets series
    * (calendar-bounded per key); the per-key totals and peak tables
    * are group-scale with cardinality-adaptive broadcasts. NULL ts or
    * NULL key rows are excluded.
    */
  def cusumChangePointBy(
      df: DataFrame, ts: Column, key: Column,
      bucketSeconds: Long): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val W = org.apache.spark.sql.expressions.Window
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull && key.isNotNull)
      .select(key.as("_k"), (us - pmod(us, lit(width))).as("_b"))
      .groupBy(col("_k"), col("_b")).agg(count(lit(1)).as("n"))
      .persistCensus()
    val nKeys = daily.agg(countDistinct(col("_k"))).head().getLong(0)
    val tot = daily.groupBy(col("_k").as("_tk"))
      .agg(count(lit(1)).as("_d"), sum(col("n")).as("_N"))
    val w = W.partitionBy(col("_k")).orderBy(col("_b"))
      .rowsBetween(W.unboundedPreceding, 0)
    val cum = daily
      .join(Limits.broadcastIfSmall(tot, nKeys), col("_k") === col("_tk"))
      .drop("_tk")
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("_j", row_number().over(W.partitionBy(col("_k")).orderBy(col("_b"))))
      .withColumn("cusum_scaled",
        (col("_d").cast("decimal(38,0)") * col("cum_n").cast("decimal(38,0)") -
          col("_j").cast("decimal(38,0)") * col("_N").cast("decimal(38,0)"))
          .cast("decimal(38,0)"))
      .persistCensus()
    // per-key peak bucket in ONE aggregation (the r21 struct-min
    // trick — see cusumCore): drops the per-key max table and its
    // broadcast rejoin
    val peakPerK = cum
      .groupBy(col("_k").as("_pk"))
      .agg(min(struct((-abs(col("cusum_scaled"))).as("_na"),
        col("_b").as("_b"))).as("_m"))
      .select(col("_pk"), col("_m._b").as("_pb"))
    val out = cum
      .join(Limits.broadcastIfSmall(peakPerK, nKeys), col("_k") === col("_pk"))
      .select(col("_k").as("key"), col("_b").as("bucket_start_us"),
        col("n"), col("cum_n"),
        col("cusum_scaled").cast("double").as("cusum_scaled"),
        (col("cusum_scaled").cast("double") / col("_d").cast("double")).as("cusum"),
        (col("_b") === col("_pb")).as("is_peak"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(daily, cum))
    out
  }

  /** Contingency chi-square census between two categorical keys: per
    * (row_key, col_key) CELL — observed count, marginals, expected
    * count under independence, the chi-square contribution
    * (o−e)²/e, and the Pearson residual (o−e)/√e. The full
    * rows×cols spine is present (zero cells included — they carry
    * contribution = e), so the census IS the test: Σcontribution is
    * the chi-square statistic with (r−1)(c−1) degrees of freedom,
    * and the per-cell rows say WHICH cells drive dependence — the
    * actionable half a scalar hides. The scalar itself is left to the
    * reader (a sum of doubles is summation-order-dependent; the
    * engine-exact contract stops at per-cell values — the q93 Benford
    * convention).
    *
    * Distribution: one map-side-partial groupBy collapses the input to
    * the key-pair census (config-sized by contract: contingency keys
    * are dashboard-cardinality — sources, languages, shards); marginals
    * derive from the census, never from a second raw scan; the spine
    * and marginal joins broadcast census-derived frames. Counts stay
    * Long throughout; `expected` is the one product-then-divide over
    * exactly-converted doubles (marginals ≤ 2⁵³ stay exact; the
    * product is one correctly-rounded IEEE multiply either way),
    * stated identically in the oracle.
    *
    * Rows with a NULL key on either side are excluded (a cell needs
    * both coordinates; nulls would otherwise silently form phantom
    * rows/columns).
    */
  def contingencyChiSquare(
      df: DataFrame, rowKey: Column, colKey: Column): DataFrame = {
    val nn = df
      .filter(rowKey.isNotNull && colKey.isNotNull)
      .select(rowKey.as("row_key"), colKey.as("col_key"))
    val cellsDf = nn.groupBy(col("row_key"), col("col_key"))
      .agg(count(lit(1)).as("n"))
      .persistCensus()
    val rowTot = cellsDf.groupBy(col("row_key")).agg(sum(col("n")).as("row_total"))
    val colTot = cellsDf.groupBy(col("col_key")).agg(sum(col("n")).as("col_total"))
    val grand = cellsDf.agg(sum(col("n")).as("grand_total"))
    val spine = rowTot.select(col("row_key"))
      .crossJoin(broadcast(colTot.select(col("col_key"))))
    val expected = col("row_total").cast("double") * col("col_total").cast("double") /
      col("grand_total").cast("double")
    val dev = col("n").cast("double") - col("expected")
    val out = spine
      .join(cellsDf, Seq("row_key", "col_key"), "left")
      .join(broadcast(rowTot), Seq("row_key"))
      .join(broadcast(colTot), Seq("col_key"))
      .crossJoin(broadcast(grand))
      .select(col("row_key"), col("col_key"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("row_total"), col("col_total"), col("grand_total"))
      .withColumn("expected", expected)
      .withColumn("contribution", dev * dev / col("expected"))
      .withColumn("residual", dev / sqrt(col("expected")))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(cellsDf))
    out
  }

  /** Per-group exact two-sample KS: for every group g, the
    * Kolmogorov–Smirnov statistic between the `inA` and not-`inA`
    * cohorts of the group's `value` distribution — [[ksTwoSample]]
    * run independently per group in ONE pass ("did the A/B split
    * shift the distribution, per axis / per source / per shard?").
    * Unlike [[ksGroupVsRest]] each group's census is self-contained
    * (its sup ranges only over the group's own distinct values), so
    * the evaluation frame is exactly the (group, value) census — no
    * groups × global-spine blowup.
    *
    * One (group, value, countA, countB) census is the only scan of
    * the input. Cumulatives are group-keyed [[RankedPrefix]] inclusive
    * prefixes ((group, cell)-partitioned past the direct-window gate),
    * so a group with billions of distinct values ranks `cells`-way
    * parallel. Offsets/totals broadcasts are
    * cardinality-adaptive ([[graft.Limits.BroadcastRowLimit]]).
    * Every cumulative count is an exact Long; gap, sup, and the
    * z-scaling follow [[ksTwoSample]]'s engine-exact dag per group,
    * with sqrt computed in-column (same IEEE result as the solo
    * form's driver-side literal).
    *
    * Output: one row per group — (group_key, n_a, n_b,
    * n_distinct_values, ks_stat, ks_at, ks_z); the statistic columns
    * are NULL for a group with an empty cohort. Rows with NULL group
    * or NULL `inA` are excluded; NULL/NaN values census-side, as
    * always. A group whose every value is NULL/NaN is absent.
    */
  def ksTwoSampleBy(
      df: DataFrame, group: Column, value: Column, inA: Column,
      cells: Int = 4096,
      directWindowRows: Long = RankedPrefix.DefaultDirectWindowRows): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val nn = df.filter(group.isNotNull && inA.isNotNull)
      .select(group.as("_g"), value.cast("double").as("_v"),
        when(inA.cast("boolean"), 1L).otherwise(0L).as("_a"),
        when(inA.cast("boolean"), 0L).otherwise(1L).as("_b"))
    val censusAll = nn.groupBy(col("_g"), col("_v"))
      .agg(sum(col("_a")).as("_na"), sum(col("_b")).as("_nb"))
      .persistCensus()
    val census = censusAll.filter(col("_v").isNotNull && !isnan(col("_v")))
    // bounds + group cardinality in one job (feeds the cell width and
    // the adaptive broadcasts below without a second probe)
    val bounds = census
      .agg(min(col("_v")).as("mn"), max(col("_v")).as("mx"),
        countDistinct(col("_g")).as("ng"),
        count(lit(1)).as("nd"))
      .head()
    if (bounds.isNullAt(0)) {
      censusAll.unpersist(blocking = false)
      return nn.limit(0).select(col("_g").as("group_key"),
        lit(0L).as("n_a"), lit(0L).as("n_b"),
        lit(0L).as("n_distinct_values"),
        lit(null).cast("double").as("ks_stat"),
        lit(null).cast("double").as("ks_at"),
        lit(null).cast("double").as("ks_z"))
    }
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    val nGroups = bounds.getLong(2)
    // per-group inclusive prefixes, then the group totals straight off
    // the census
    val groupTot = census.groupBy(col("_g"))
      .agg(sum(col("_na")).as("_ta"), sum(col("_nb")).as("_tb"))
    val ranked = RankedPrefix(census, Seq("_g"),
        Seq("_ca" -> col("_na"), "_cb" -> col("_nb")),
        direct = bounds.getLong(3) <= directWindowRows, mn = mn, mx = mx,
        cells = cells, offsetRows = _ => nGroups * cells)
      .join(Limits.broadcastIfSmall(groupTot, nGroups), Seq("_g"))
    // the when-guard keeps both divisors live only when both cohorts
    // are non-empty (ANSI raises on double /0); empty-cohort groups
    // get NULL stats below
    val gaps = ranked.select(col("_g"), col("_v"), col("_ta"), col("_tb"),
      when(col("_ta") > 0L && col("_tb") > 0L,
        abs(col("_ca").cast("double") / col("_ta").cast("double")
          - col("_cb").cast("double") / col("_tb").cast("double"))).as("_gap"))
    // per-group sup + argmin-value in one aggregation (the r21
    // single-pass trick — see ksTwoSample): empty-cohort groups have
    // all-NULL gaps, a NULL struct min, and NULL stats, as before
    val out = gaps
      .groupBy(col("_g"))
      .agg(first(col("_ta")).as("n_a"),
        first(col("_tb")).as("n_b"),
        count(lit(1)).as("n_distinct_values"),
        min(when(col("_gap").isNotNull,
          struct((-col("_gap")).as("_ng"), col("_v").as("_at")))).as("_m"))
      .select(col("_g").as("group_key"), col("n_a"), col("n_b"),
        col("n_distinct_values"),
        (-col("_m._ng")).as("ks_stat"),
        col("_m._at").as("ks_at"),
        when(col("_m").isNotNull,
          sqrt(col("n_a").cast("double") * col("n_b").cast("double")
            / (col("n_a") + col("n_b")).cast("double")) * (-col("_m._ng"))).as("ks_z"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll))
    out
  }

  /** Deterministic Rademacher (±1.0) projection matrix for
    * [[randomProjectionKs]]: k rows of `dims` signs derived from
    * (seed, axis, dim) via the splitmix64 finalizer. Pure function of
    * its arguments — the SAME matrix is interpolated as literals into
    * the engine expression and the oracle SQL (the
    * [[Evaluation.PoissonOneCdf]] shared-literal discipline), and a
    * spec pins determinism. ±1.0 multiplies are EXACT in IEEE (sign
    * flips), so the projection's only rounding is the dot-product
    * summation itself — the [[graft.functions.DqFunctions.dotProduct]]
    * sequential fold both engines replay bit-identically (q44's
    * parity).
    */
  def projectionMatrix(dims: Int, k: Int, seed: Long): IndexedSeq[IndexedSeq[Double]] = {
    require(dims >= 1 && k >= 1, s"need dims/k >= 1, got $dims/$k")
    def splitmix64(x0: Long): Long = {
      var x = x0 + 0x9e3779b97f4a7c15L
      x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
      x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
      x ^ (x >>> 31)
    }
    (0 until k).map { j =>
      (0 until dims).map { i =>
        if ((splitmix64(seed + j.toLong * 1000003L + i.toLong) & 1L) == 0L) 1.0
        else -1.0
      }
    }
  }

  /** Embedding-space distribution drift beyond per-dimension
    * marginals: a RANDOM-PROJECTION KS ENSEMBLE between a current and
    * a baseline embedding corpus. Per-dimension profiles (q110's
    * mean/stddev drift) are blind to correlated / rotational drift —
    * an encoder change that rotates the representation space can
    * leave every marginal identical while moving the joint
    * distribution arbitrarily. Projecting both corpora onto k fixed
    * random axes and running the exact two-sample KS per axis catches
    * exactly that (Cramér–Wold: the 1-D projections determine the
    * joint; k fixed axes are the practical ensemble).
    *
    * Projections are `dotProduct(vec, literal ±1 axis)` — one native
    * codegen expression per axis, all k computed in ONE scan per side
    * and unpivoted via posexplode (k× census rows, k config-sized).
    * The per-axis statistics are [[ksTwoSampleBy]] with the axis as
    * the group — census-scale shuffles, (axis, cell)-partitioned
    * prefixes, no global sort. Fully oracle-replayable: the matrix is
    * [[projectionMatrix]] literals in both engines, the dot the
    * shared sequential fold, the KS dag [[ksTwoSample]]'s.
    *
    * Output: one row per axis — (axis, n_current, n_baseline,
    * n_distinct_values, ks_stat, ks_at, ks_z) — plus the ensemble
    * summary repeated on every row: `ks_ensemble_max` (the drift
    * verdict; order-free MAX) and `ks_ensemble_mean` (10¹⁵-quantized
    * before the cross-axis sum so the k-term mean is order-free
    * integer arithmetic — engine-exact across partitionings and
    * engines).
    */
  def randomProjectionKs(
      current: DataFrame, baseline: DataFrame, vecCol: String,
      dims: Int, k: Int = 8, seed: Long = 42L,
      cells: Int = 4096): DataFrame = {
    val m = projectionMatrix(dims, k, seed)
    def projected(df: DataFrame, a: Boolean): DataFrame = {
      val dots = m.map { w =>
        graft.functions.DqFunctions.dotProduct(
          col(vecCol), graft.operators.Similarity.litVec(w))
      }
      df.select(array(dots: _*).as("_ps"))
        .select(posexplode(col("_ps")).as(Seq("_axis", "_pv")))
        .select(col("_axis").cast("long").as("_axis"), col("_pv"),
          lit(a).as("_ina"))
    }
    val both = projected(current, a = true)
      .unionByName(projected(baseline, a = false))
    val perAxis = ksTwoSampleBy(both, col("_axis"), col("_pv"), col("_ina"), cells)
      .select(col("group_key").as("axis"),
        col("n_a").as("n_current"), col("n_b").as("n_baseline"),
        col("n_distinct_values"), col("ks_stat"), col("ks_at"), col("ks_z"))
      .persistCensus() // ≤ k rows; consumed by the summary agg AND the join below
    val summary = perAxis.agg(
      max(col("ks_stat")).as("ks_ensemble_max"),
      (sum(bround(col("ks_stat") * lit(1e15)).cast("decimal(38,0)"))
        .cast("double") / lit(1e15) / lit(k.toDouble)).as("ks_ensemble_mean"))
    val out = perAxis.crossJoin(broadcast(summary))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(perAxis))
    out
  }

  /** Chi-square(2 df) survival function P(X > x) = exp(−x/2) — the
    * EXACT closed form at two degrees of freedom — tabulated at
    * x = 0.00 + i·0.05 for i = 0..1200 (p down to ~9e−14 at x=60).
    * Serves the Jarque–Bera normality statistic, which is
    * asymptotically χ²(2); higher-df chi-square p-values stay
    * unscored (a gamma surface per df has no shared-literal form) —
    * the stated engine trade-off.
    */
  val Chi2Df2SfGrid: Seq[String] = Seq(
    "1.0", "0.9753099120283326", "0.951229424500714", "0.9277434863285529",
    "0.9048374180359595", "0.8824969025845955", "0.8607079764250578",
    "0.8394570207692074", "0.8187307530779818", "0.7985162187593771",
    "0.7788007830714049", "0.7595721232249685", "0.7408182206817179",
    "0.7225273536420722", "0.7046880897187134", "0.6872892787909722",
    "0.6703200460356393", "0.6537697851298473", "0.6376281516217733",
    "0.62188505646502", "0.6065306597126334", "0.5915553643668151",
    "0.5769498103804866", "0.5627048688069557", "0.5488116360940264",
    "0.5352614285189903", "0.522045776761016", "0.5091564206075492",
    "0.49658530379140947", "0.4843245689553624", "0.4723665527410147",
    "0.4607037809989658", "0.44932896411722156", "0.4382349924649492",
    "0.42741493194872665", "0.4168620196785084", "0.4065696597405991",
    "0.39653141907499284", "0.3867410234545012", "0.3771923535631569",
    "0.36787944117144233", "0.35879646540595156", "0.3499377491111553",
    "0.3412977553009937", "0.33287108369807955", "0.32465246735834974",
    "0.31663676937905316", "0.30881897968801986", "0.301194211912202",
    "0.29375770032353277", "0.2865047968601901", "0.2794309682214073",
    "0.2725317930340126", "0.26580295908892654", "0.2592402606458915",
    "0.25283959580474646", "0.24659696394160643", "0.24050846320834213",
    "0.23457028809379762", "0.22877872704522242", "0.22313016014842982",
    "0.21762105686523284", "0.21224797382674304", "0.2070075526811526",
    "0.20189651799465538", "0.19691167520419406", "0.19204990862075408",
    "0.18730817948195702", "0.1826835240527346", "0.1781730517728984",
    "0.17377394345044514", "0.16948344949947006", "0.16529888822158653",
    "0.16121764412977674", "0.1572371663136276", "0.15335496684492847",
    "0.14956861922263504", "0.14587575685622736", "0.14227407158651353",
    "0.13876131224295524", "0.1353352832366127", "0.13199384318783022",
    "0.12873490358780418", "0.1255564274931972", "0.1224564282529819",
    "0.11943296826671962", "0.11648415777349697", "0.11360815367076371",
    "0.11080315836233387", "0.10806741863482926", "0.10539922456186433",
    "0.1027969084352864", "0.1002588437228037", "0.09778344405135005",
    "0.09536916221554961", "0.09301448921066349", "0.09071795328941247",
    "0.08847811904208727", "0.0862935864993705", "0.08416299025731036",
    "0.0820849986238988", "0.08005831278672051", "0.07808166600115313",
    "0.07615382279861033", "0.07427357821433388", "0.07243975703425146",
    "0.07065121306042957", "0.06890682839466256", "0.06720551273974976",
    "0.06554620271802433", "0.06392786120670757", "0.0623494766896734",
    "0.06081006262521795", "0.05930865682943872", "0.057844320874838456",
    "0.05641613950377735", "0.05502322005640721", "0.05366469191273011",
    "0.05233970594843238", "0.051047434004154395", "0.049787068367863944",
    "0.048557821270009946", "0.04735892439114091", "0.0461896283816801",
    "0.0450492023935578", "0.04393693362340742", "0.042852126867040166",
    "0.041794104084919896", "0.04076220397836621", "0.039755781576221304",
    "0.03877420783172201", "0.03781686922932507", "0.036883167401239994",
    "0.035972518753429654", "0.035084354100845025", "0.03421811831166603",
    "0.033373269960326066", "0.03254928098910342", "0.03174563637806794",
    "0.030961833823176882", "0.0301973834223185", "0.02945180736910728",
    "0.028724639654239423", "0.028015425774221808", "0.02732372244729256",
    "0.026649097336355485", "0.025991128778755333", "0.02534940552272493",
    "0.024723526470339388", "0.024113100426816865", "0.023517745856009107",
    "0.02293709064192892", "0.02237077185616559", "0.021818435531042762",
    "0.02127973643837717", "0.020754337873699742", "0.02024191144580438",
    "0.019742136871492774", "0.01925470177538692", "0.0187793014946844",
    "0.01831563888873418", "0.017863424153314034", "0.017422374639493515",
    "0.016992214676969066", "0.016572675401761237", "0.016163494588165874",
    "0.015764416484854486", "0.015375191655021433", "0.014995576820477703",
    "0.014625334709594208", "0.014264233908999256", "0.01391204871893762",
    "0.013568559012200934", "0.013233550096540928", "0.012906812580479862",
    "0.012588142242433998", "0.012277339903068436", "0.011974211300803622",
    "0.011678566970395442", "0.011390222124513367", "0.011108996538242306",
    "0.010834714436436152", "0.010567204383852655", "0.01030629917800074",
    "0.010051835744633576", "0.009803655035821828", "0.009561601930543505",
    "0.009325525137728326", "0.009095277101695816", "0.008870713909928251",
    "0.008651695203120634", "0.00843808408745153", "0.008229747049020023",
    "0.008026553870395154", "0.007828377549225767", "0.007635094218859962",
    "0.007446583070924338", "0.0072627262798148845",
    "0.0070834089290521185", "0.006908518939454525",
    "0.006737946999085467", "0.006571586494929613", "0.006409333446256377",
    "0.006251086439628561", "0.006096746565515633", "0.005946217356472094",
    "0.005799404726842141", "0.005656216913953104",
    "0.0055165644207607716", "0.005380359959910816",
    "0.005247518399181385", "0.005117956708272651", "0.004991593906910213",
    "0.004868351014229763", "0.004748150999411473", "0.004630918733533246",
    "0.004516580942612666", "0.004405066161808402", "0.00429630469075234",
    "0.004190228549984576", "0.004086771438464067",
    "0.0039858686921282905", "0.003887457243476127",
    "0.003791475582148608", "0.003697863716482929",
    "0.0036065631360157305", "0.0035175167749121284",
    "0.0034306689762977315", "0.003345965457471272",
    "0.0032633532759761452", "0.003182780796509667",
    "0.0031041976586493087", "0.0030275547453758127",
    "0.0029528041523734466", "0.0028798991580882404",
    "0.0028087941945255128", "0.0027394448187683684",
    "0.002671807685199448", "0.0026058405184084983",
    "0.002541502086768856", "0.0024787521766663585",
    "0.0024175515673645035", "0.0023578620064902307",
    "0.002299646186124936", "0.002242867719485801", "0.002187491118182885",
    "0.002133481770037708", "0.0020808059174495276",
    "0.002029430636295734", "0.001979323815353195",
    "0.0019304541362277093", "0.0018827910537789773",
    "0.0018363047770289056", "0.0017909662505412698",
    "0.0017467471362611182", "0.001703619795802574",
    "0.001661557273173934", "0.0016205332779293052",
    "0.001580522168736217", "0.001541498937348949",
    "0.0015034391929775724", "0.001466319147042903",
    "0.0014301155983078731", "0.0013948059183759988",
    "0.0013603680375478928", "0.0013267804310269915",
    "0.001294022105465848", "0.0012620725858446134",
    "0.001230911902673481", "0.0012005205795111", "0.0011708796207911744",
    "0.0011419704999496075", "0.0011137751478448024",
    "0.0010862759414638579", "0.001059455692907609",
    "0.001033297638647637", "0.0010077854290485105",
    "0.0009829031181487378", "0.0009586351536940199",
    "0.0009349663674165814", "0.0009118819655545162",
    "0.000889367519605198", "0.0008674089573070017",
    "0.0008459925538436801", "0.0008251049232659038",
    "0.0008047330101246132", "0.0007848640813109316",
    "0.0007654857180975626", "0.0007465858083766792",
    "0.0007281525390894604", "0.000710174388842549",
    "0.0006926401207068012", "0.0006755387751938437",
    "0.0006588596634060358", "0.0006425923603555573",
    "0.0006267266984484576", "0.0006112527611295723",
    "0.0005961608766843584", "0.0005814416121937556",
    "0.0005670857676383035", "0.0005530843701478336",
    "0.0005394286683931291", "0.0005261101271160632",
    "0.0005131204217947829", "0.0005004514334406104",
    "0.000488095243523415", "0.00047604412902226933",
    "0.00046429055759831357", "0.00045282718288679695",
    "0.00044164683990535953", "0.00043074254057568753",
    "0.00042010746935573415", "0.00040973497897978643",
    "0.00039961858630370645", "0.0003897519682527545",
    "0.0003801289578694637", "0.0003707435404590882",
    "0.00036158984983022583", "0.00035266216462825575",
    "0.0003439549047593054", "0.00033546262790251185",
    "0.00032718002610839203", "0.00031910192248120326",
    "0.00031122326794321407", "0.0003035391380788668",
    "0.0002960447300568554", "0.000288735359628203",
    "0.00028160645819845157", "0.00027465356997214205",
    "0.00026787234916779776", "0.00026125855730166754",
    "0.0002548080605385384", "0.00024851682710795185",
    "0.00024238092478421678", "0.00023639651842864072",
    "0.00023055986759244163", "0.0002248673241788482",
    "0.0002193153301629189", "0.0002139004153676611",
    "0.00020861919529505766", "0.00020346836901064417",
    "0.00019844471708031962", "0.00019354509955809383",
    "0.00018876645402351932", "0.0001841057936675792",
    "0.00017956020542583297", "0.00017512684815765842",
    "0.00017080295087044495", "0.00016658581098763324",
    "0.00016247279265951725", "0.00015846132511575126",
    "0.0001545489010585363", "0.0001507330750954765",
    "0.00014701146221112919", "0.00014338173627629318",
    "0.00013984162859410104", "0.0001363889264820114",
    "0.0001330214718888092", "0.0001297371600457538",
    "0.00012653393815103005", "0.00012340980408667956",
    "0.00012036280516721316", "0.00011739103691911796",
    "0.00011449264189049966", "0.00011166580849011478",
    "0.00010890876985506645", "0.00010621980274645875",
    "0.00010359722647231549", "0.00010103940183709324",
    "9.854473011713091e-05", "9.61116520613947e-05",
    "9.373864691689655e-05", "9.142423147817327e-05",
    "8.916695916023506e-05", "8.696541909440292e-05",
    "8.481823524646916e-05", "8.272406555663223e-05",
    "8.068160110066498e-05", "7.868956527179456e-05",
    "7.674671298278181e-05", "7.48518298877006e-05",
    "7.300373162293296e-05", "7.120126306690273e-05",
    "6.944329761808704e-05", "6.772873649085378e-05",
    "6.605650802868481e-05", "6.442556703435542e-05",
    "6.283489411665261e-05", "6.128349505322202e-05",
    "5.977040016914672e-05", "5.829466373086881e-05",
    "5.685536335507487e-05", "5.5451599432176945e-05",
    "5.408249456402682e-05", "5.274719301551376e-05",
    "5.144486017970228e-05", "5.017468205617528e-05",
    "4.893586474225786e-05", "4.772763393680188e-05",
    "4.654923445622269e-05", "4.5399929762484854e-05",
    "4.427900150274157e-05", "4.3185749060341275e-05",
    "4.211948911691908e-05", "4.107955522530065e-05",
    "4.006529739295107e-05", "3.907608167570808e-05",
    "3.8111289781546776e-05", "3.7170318684126666e-05",
    "3.625258024588065e-05", "3.535750085040998e-05",
    "3.448452104395504e-05", "3.363309518571897e-05",
    "3.2802691106824094e-05", "3.1992789777689165e-05",
    "3.1202884983619004e-05", "3.0432483008403625e-05",
    "2.968110232572986e-05", "2.8948273298211517e-05",
    "2.8233537883850797e-05", "2.7536449349747158e-05",
    "2.6856571992874528e-05", "2.619348086775303e-05",
    "2.5546761520844016e-05", "2.491600973150316e-05",
    "2.430083125932946e-05", "2.3700841597751968e-05",
    "2.311566573370091e-05", "2.254493791321217e-05",
    "2.1988301412819176e-05", "2.1445408316589164e-05",
    "2.0915919298664244e-05", "2.0399503411171922e-05",
    "1.989583787737175e-05", "1.9404607889909406e-05",
    "1.892550641405186e-05", "1.8458233995780558e-05",
    "1.800249857462311e-05", "1.755801530110584e-05",
    "1.7124506358713654e-05", "1.670170079024566e-05",
    "1.628933432845802e-05", "1.588714923088849e-05",
    "1.5494894118758837e-05", "1.5112323819855006e-05",
    "1.4739199215286483e-05", "1.4375287090029125e-05",
    "1.4020359987158328e-05", "1.3674196065680938e-05",
    "1.3336578961877444e-05", "1.300729765406762e-05",
    "1.2686146330715025e-05", "1.2372924261788221e-05",
    "1.2067435673297889e-05", "1.1769489624931723e-05",
    "1.147889989071055e-05", "1.119548484259094e-05",
    "1.0919067336941897e-05", "1.0649474603824239e-05",
    "1.0386538139003777e-05", "1.013009359863071e-05",
    "9.879980696519291e-06", "9.636043103963851e-06",
    "9.398128352028201e-06", "9.166087736247602e-06",
    "8.93977622368364e-06", "8.719052362273868e-06",
    "8.50377819241975e-06", "8.293819160757357e-06",
    "8.089044036057154e-06", "7.889324827200223e-06",
    "7.694536703179588e-06", "7.504557915076858e-06",
    "7.319269719965135e-06", "7.138556306690833e-06",
    "6.962304723487946e-06", "6.79040480737947e-06",
    "6.6227491153220365e-06", "6.459232857050451e-06",
    "6.299753829580389e-06", "6.14421235332821e-06",
    "5.992511209807929e-06", "5.8445555808665665e-06",
    "5.70025298941967e-06", "5.559513241650137e-06",
    "5.422248370634153e-06", "5.288372581358964e-06",
    "5.157802197098256e-06", "5.030455607111439e-06",
    "4.906253215634289e-06", "4.785117392129009e-06",
    "4.666972422762587e-06", "4.551744463083231e-06",
    "4.439361491865156e-06", "4.3297532660929705e-06",
    "4.222851277057527e-06", "4.118588707535708e-06",
    "4.016900390027534e-06", "3.917722766024328e-06",
    "3.820993846282582e-06", "3.726653172078671e-06",
    "3.6346417774201543e-06", "3.544902152190152e-06",
    "3.457378206201623e-06", "3.3720152341391786e-06",
    "3.2887598813664843e-06", "3.2075601105778547e-06",
    "3.128365169273275e-06", "3.051125558036417e-06",
    "2.975792999595894e-06", "2.902320408650404e-06",
    "2.830661862438859e-06", "2.7607725720371986e-06",
    "2.6926088543638333e-06", "2.626128104876299e-06",
    "2.5612887709420388e-06", "2.498050325866635e-06",
    "2.4363732435633346e-06", "2.3762189738479388e-06",
    "2.3175499183436873e-06", "2.2603294069810542e-06",
    "2.2045216750777447e-06", "2.150091840984627e-06",
    "2.0970058842835516e-06", "2.045230624523486e-06",
    "1.994733700481656e-06", "1.9454835499367136e-06",
    "1.8974493899413437e-06", "1.8506011975819048e-06",
    "1.804909691213134e-06", "1.7603463121561693e-06",
    "1.7168832068484328e-06", "1.674493209434266e-06",
    "1.6331498247853738e-06", "1.5928272119405093e-06",
    "1.5535001679540347e-06", "1.515144112143249e-06",
    "1.477735070724678e-06", "1.4412496618296672e-06",
    "1.4056650808899562e-06", "1.3709590863840845e-06",
    "1.3371099859357042e-06", "1.3040966227551563e-06",
    "1.2718983624157768e-06", "1.2404950799567113e-06",
    "1.2098671473041613e-06", "1.179995421003191e-06",
    "1.150861230252457e-06", "1.1224463652343422e-06",
    "1.0947330657332276e-06", "1.0677040100347827e-06",
    "1.0413423040993216e-06", "1.0156314710024903e-06",
    "9.905554406366444e-07", "9.660985396665116e-07",
    "9.422454817328475e-07", "9.189813578979571e-07",
    "8.962916273271339e-07", "8.741621082001578e-07",
    "8.525789688471974e-07", "8.315287191035679e-07",
    "8.109982018779327e-07", "7.909745849287022e-07",
    "7.714453528434592e-07", "7.523982992164199e-07",
    "7.338215190190347e-07", "7.15703401158952e-07",
    "6.980326212227157e-07", "6.807981343976331e-07",
    "6.639891685684082e-07", "6.475952175842209e-07",
    "6.316060346920352e-07", "6.160116261320527e-07",
    "6.008022448912823e-07", "5.859683846113411e-07",
    "5.715007736466721e-07", "5.573903692694596e-07",
    "5.436283520176363e-07", "5.302061201824281e-07",
    "5.171152844320074e-07", "5.04347662567888e-07",
    "4.91895274410782e-07", "4.797503368127321e-07",
    "4.679052587923886e-07", "4.563526367903986e-07",
    "4.450852500419419e-07", "4.3409605606351465e-07",
    "4.2337818625115253e-07", "4.1292494158732645e-07",
    "4.027297884538396e-07", "3.927863545481039e-07",
    "3.8308842490024056e-07", "3.73629937988526e-07",
    "3.6440498195074056e-07", "3.5540779088906284e-07",
    "3.4663274126619643e-07", "3.3807434839047367e-07",
    "3.297272629877487e-07", "3.2158626785792396e-07",
    "3.1364627461403154e-07", "3.059023205018258e-07",
    "2.9834956529789845e-07", "2.9098328828438453e-07",
    "2.837988852983579e-07", "2.7679186585408023e-07",
    "2.699578503363014e-07", "2.6329256726285584e-07",
    "2.5679185061484973e-07", "2.504516372327617e-07",
    "2.4426796427683665e-07", "2.382369667501818e-07",
    "2.3235487508301652e-07", "2.26618012776571e-07",
    "2.2102279410515295e-07", "2.1556572187495293e-07",
    "2.1024338523818466e-07", "2.0505245756119267e-07",
    "1.9998969434520019e-07", "1.9505193119839026e-07",
    "1.9023608185805834e-07", "1.8553913626159784e-07",
    "1.8095815866511173e-07", "1.7649028580847912e-07",
    "1.7213272512572301e-07", "1.6788275299956603e-07",
    "1.6373771305908126e-07", "1.5969501451937286e-07",
    "1.5575213056225282e-07", "1.5190659675689612e-07",
    "1.481560095194917e-07", "1.4449802461092448e-07",
    "1.4093035567154855e-07", "1.374507727921396e-07",
    "1.3405710112012798e-07", "1.3074721950024527e-07",
    "1.2751905914873347e-07", "1.2437060236028695e-07",
    "1.2129988124692217e-07", "1.1830497650798283e-07",
    "1.1538401623051466e-07", "1.1253517471925912e-07",
    "1.0975667135553342e-07", "1.0704676948428807e-07",
    "1.0440377532863836e-07", "1.0182603693119986e-07",
    "9.931194312156244e-08", "9.685992250925363e-08",
    "9.44684425015714e-08", "9.213600834566135e-08",
    "8.98611621942485e-08", "8.764248219443636e-08",
    "8.547858159900026e-08", "8.336810789962771e-08",
    "8.130974198155457e-08", "7.930219729907625e-08",
    "7.734421907141565e-08", "7.543458349844232e-08",
    "7.35720969957598e-08", "7.175559544867455e-08",
    "6.998394348458725e-08", "6.82560337633487e-08",
    "6.657078628513438e-08", "6.492714771541144e-08",
    "6.332409072656858e-08", "6.176061335580363e-08",
    "6.023573837886479e-08", "5.8748512699252157e-08",
    "5.729800675250309e-08", "5.588331392518268e-08",
    "5.4503549988221496e-08", "5.3157852544244216e-08",
    "5.18453804885418e-08", "5.05653134833552e-08", "4.93168514451363e-08",
    "4.809921404447013e-08", "4.691164021834418e-08",
    "4.5753387694457955e-08", "4.4623732527280045e-08",
    "4.352196864555741e-08", "4.244740741099836e-08",
    "4.139937718785167e-08", "4.0377222923111285e-08",
    "3.93803057370881e-08", "3.840800252408829e-08",
    "3.745970556295245e-08", "3.6534822137210456e-08",
    "3.5632774164613435e-08", "3.475299783581462e-08",
    "3.389494326196924e-08", "3.305807413103648e-08",
    "3.2241867372567335e-08", "3.1445812830767746e-08",
    "3.066941294563555e-08", "2.991218244196846e-08",
    "2.917364802605163e-08", "2.8453348089834e-08",
    "2.7750832422407467e-08", "2.7065661928611266e-08",
    "2.6397408354582483e-08", "2.574565402008376e-08",
    "2.510999155743982e-08", "2.4490023656918752e-08",
    "2.388536281840125e-08", "2.329563110917976e-08",
    "2.2720459927738556e-08", "2.215948977336598e-08",
    "2.1612370021454267e-08", "2.1078758704348363e-08",
    "2.0558322297604485e-08", "2.0050735511526694e-08",
    "1.9555681087850496e-08", "1.9072849601445554e-08",
    "1.860193926691551e-08", "1.814265574997178e-08",
    "1.7694711983465263e-08", "1.7257827987960214e-08",
    "1.6831730696737537e-08", "1.6416153785119698e-08",
    "1.6010837504008696e-08", "1.5615528517534617e-08",
    "1.522997974471263e-08", "1.485395020500893e-08",
    "1.4487204867720514e-08", "1.4129514505072949e-08",
    "1.3780655548945718e-08", "1.3440409951135022e-08",
    "1.3108565047066197e-08", "1.2784913422871827e-08",
    "1.2469252785750989e-08", "1.2161385837529812e-08",
    "1.186112015134383e-08", "1.156826805136461e-08",
    "1.1282646495496604e-08", "1.1004076960969586e-08",
    "1.0732385332756225e-08", "1.0467401794744658e-08",
    "1.0208960723597601e-08", "9.956900585232694e-09",
    "9.711063833858167e-09", "9.471296813501711e-09",
    "9.237449661970594e-09", "9.009376217182673e-09",
    "8.786933925810598e-09", "8.569983754181119e-09",
    "8.358390101374608e-09", "8.152020714470167e-09",
    "7.950746605883027e-09", "7.754441972743351e-09",
    "7.56298411826514e-09", "7.376253375056834e-09",
    "7.194133030325383e-09", "7.016509252926757e-09",
    "6.843271022217988e-09", "6.674310058665473e-09",
    "6.5095207561668245e-09", "6.34880011604368e-09",
    "6.192047682664017e-09", "6.039165480654292e-09",
    "5.890057953661489e-09", "5.7446319046273555e-09",
    "5.602796437537268e-09", "5.464462900607116e-09",
    "5.329544830873222e-09", "5.197957900150024e-09",
    "5.069619862322287e-09", "4.944450501938644e-09",
    "4.822371584074214e-09", "4.70330680543136e-09",
    "4.587181746647508e-09", "4.473923825780761e-09",
    "4.363462252943702e-09", "4.2557279860574625e-09",
    "4.1506536876982236e-09", "4.04817368300902e-09",
    "3.9482239186509444e-09", "3.850741922767617e-09",
    "3.755666765938289e-09", "3.6629390230950104e-09",
    "3.572500736379934e-09", "3.484295378919872e-09",
    "3.398267819495071e-09", "3.3143642880804447e-09",
    "3.2325323422375904e-09", "3.152720834336478e-09",
    "3.074879879586606e-09", "2.9989608248573072e-09",
    "2.92491621826799e-09", "2.8526997795292008e-09",
    "2.782266371015863e-09", "2.7135719695548735e-09",
    "2.646573638909117e-09", "2.5812295029409497e-09",
    "2.517498719438278e-09", "2.455341454586782e-09",
    "2.394718858072556e-09", "2.335593038799337e-09",
    "2.277927041205363e-09", "2.221684822164966e-09",
    "2.16683122846039e-09", "2.11333197480995e-09",
    "2.061153622438558e-09", "2.0102635581774248e-09",
    "1.9606299740797898e-09", "1.912221847539868e-09",
    "1.865008921902767e-09", "1.8189616875530459e-09",
    "1.774051363470265e-09", "1.7302498792399302e-09",
    "1.6875298575085259e-09", "1.6458645968718275e-09",
    "1.6052280551856116e-09", "1.5655948332884871e-09",
    "1.5269401591266087e-09", "1.4892398722702979e-09",
    "1.4524704088130316e-09", "1.4166087866431961e-09",
    "1.381632591079536e-09", "1.3475199608612614e-09",
    "1.3142495744840163e-09", "1.2818006368732813e-09",
    "1.2501528663867426e-09", "1.2192864821376192e-09",
    "1.1891821916309783e-09", "1.1598211787052668e-09",
    "1.1311850917716326e-09", "1.103256032343554e-09",
    "1.0760165438497166e-09", "1.0494496007230992e-09",
    "1.0235385977594125e-09", "9.98267339738337e-10",
    "9.736200313009565e-10", "9.495812670771565e-10",
    "9.261360220567754e-10", "9.032696421984617e-10",
    "8.809678352704464e-10", "8.592166619174109e-10",
    "8.38002526947946e-10", "8.173121708371228e-10",
    "7.971326614388382e-10", "7.77451385902825e-10",
    "7.582560427911907e-10", "7.395346343896262e-10",
    "7.212754592084525e-10", "7.034671046687896e-10",
    "6.860984399693441e-10", "6.691586091292782e-10",
    "6.526370242028764e-10", "6.365233586617411e-10",
    "6.208075409403602e-10", "6.054797481410691e-10",
    "5.905303998944039e-10", "5.75950152371066e-10", "5.6172989244173e-10",
    "5.478607319810273e-10", "5.343340023121944e-10",
    "5.211412487888539e-10", "5.082742255105915e-10",
    "4.957248901690047e-10", "4.834853990209858e-10",
    "4.715481019861416e-10", "4.5990553786523166e-10",
    "4.485504296766812e-10", "4.3747568010823535e-10",
    "4.266743670808971e-10", "4.161397394224149e-10",
    "4.058652126475693e-10", "3.9584436484266053e-10",
    "3.86070932651607e-10", "3.7653880736113435e-10",
    "3.6724203108264176e-10", "3.581747930283181e-10",
    "3.493314258792144e-10", "3.407064022429891e-10",
    "3.3229433119909875e-10", "3.240899549293071e-10",
    "3.1608814543136926e-10", "3.082839013138669e-10",
    "3.0067234467017916e-10", "2.9324871802962433e-10",
    "2.860083813838946e-10", "2.7894680928689246e-10",
    "2.7205958802618263e-10", "2.6534241286428096e-10",
    "2.5879108534804686e-10", "2.524015106845207e-10",
    "2.4616969518153846e-10", "2.400917437515472e-10",
    "2.3416385747705087e-10", "2.2838233123615701e-10",
    "2.2274355138676214e-10", "2.172439935079017e-10",
    "2.1188022019687482e-10", "2.0664887892075802e-10",
    "2.0154669992095764e-10", "1.9657049416951026e-10",
    "1.917171513758312e-10", "1.8698363804268407e-10",
    "1.8236699557014806e-10", "1.7786433840639205e-10",
    "1.7347285224411606e-10", "1.6918979226151304e-10",
    "1.650124814066678e-10", "1.609383087243143e-10",
    "1.5696472772389927e-10", "1.5308925478794762e-10",
    "1.493094676197164e-10", "1.4562300372918248e-10",
    "1.4202755895641073e-10", "1.385208860313755e-10",
    "1.3510079316934772e-10", "1.3176514270095466e-10",
    "1.2851184973606853e-10", "1.2533888086068347e-10",
    "1.2224425286596262e-10", "1.192260315086714e-10",
    "1.162823303022097e-10", "1.1341130933749743e-10",
    "1.106111741329728e-10", "1.0788017451298005e-10",
    "1.052166035138559e-10", "1.026187963170189e-10",
    "1.0008512920840488e-10", "9.761401856359382e-11",
    "9.52039198579905e-11", "9.285332670144929e-11",
    "9.056076989672867e-11", "8.832481652119633e-11",
    "8.614406903120674e-11", "8.401716438858868e-11",
    "8.19427732087045e-11", "7.991959892953932e-11",
    "7.794637700130845e-11", "7.602187409607351e-11",
    "7.414488733687029e-11", "7.23142435458737e-11",
    "7.05287985111216e-11", "6.878743627134586e-11",
    "6.708906841846097e-11", "6.543263341727182e-11",
    "6.38170959419816e-11", "6.224144622907783e-11",
    "6.070469944619797e-11", "5.92058950765778e-11",
    "5.7744096318695667e-11", "5.631838950074272e-11",
    "5.4927883509546835e-11", "5.357170923359851e-11",
    "5.224901901982845e-11", "5.095898614379546e-11",
    "4.9700804292958246e-11", "4.8473687062702556e-11",
    "4.727686746481326e-11", "4.610959744808222e-11",
    "4.497114743075081e-11", "4.386080584449881e-11",
    "4.277787868968998e-11", "4.172168910160013e-11",
    "4.069157692735513e-11", "3.968689831331278e-11",
    "3.8707025302634525e-11", "3.775134544279098e-11",
    "3.6819261402759586e-11", "3.5910190599673686e-11",
    "3.502356483468833e-11", "3.4158829937838525e-11",
    "3.331544542166412e-11", "3.249288414338788e-11",
    "3.1690631975434486e-11", "3.090818748408321e-11",
    "3.014506161605645e-11", "2.9400777392844726e-11",
    "2.867486961257992e-11", "2.796688455926927e-11",
    "2.7276379719207388e-11", "2.6602923504391594e-11",
    "2.5946094982764667e-11", "2.5305483615118915e-11",
    "2.4680688998496078e-11", "2.4071320615921796e-11",
    "2.347699759232051e-11", "2.289734845645553e-11",
    "2.2332010908747674e-11", "2.178063159482649e-11",
    "2.1242865884671703e-11", "2.0718377657208856e-11",
    "2.020683909022217e-11", "1.9707930455455216e-11",
    "1.9221339918770554e-11", "1.8746763345242746e-11",
    "1.8283904109064703e-11", "1.783247290814639e-11",
    "1.7392187583291844e-11", "1.6962772941840653e-11",
    "1.6543960585663154e-11", "1.6135488743403355e-11",
    "1.57371021068629e-11", "1.5348551671425312e-11",
    "1.496959458042016e-11", "1.459999397332936e-11",
    "1.4239518837742066e-11", "1.3887943864964021e-11",
    "1.3545049309192453e-11", "1.3210620850167937e-11",
    "1.2884449459216921e-11", "1.2566331268602371e-11",
    "1.2256067444099483e-11", "1.1953464060717953e-11",
    "1.1658331981492679e-11", "1.1370486739266698e-11",
    "1.1089748421393543e-11", "1.0815941557285693e-11",
    "1.0548895008739873e-11", "1.0288441862970217e-11",
    "1.0034419328282077e-11", "9.786668632322207e-12",
    "9.545034922840628e-12", "9.309367170903036e-12",
    "9.079518076492902e-12", "8.85534397644393e-12",
    "8.636704754646167e-12", "8.423463754468647e-12",
    "8.215487693344648e-12", "8.012646579465829e-12",
    "7.814813630532921e-12", "7.62186519451289e-12",
    "7.433680672352188e-12", "7.250142442598514e-12",
    "7.0711357878836475e-12", "6.89654882322118e-12",
    "6.726272426074961e-12", "6.560200168153779e-12",
    "6.398228248890302e-12", "6.2402554305624016e-12",
    "6.086182975016128e-12", "5.935914581951324e-12",
    "5.789356328730652e-12", "5.6464166116749505e-12",
    "5.50700608880802e-12", "5.3710376240148315e-12",
    "5.238426232578777e-12", "5.109089028063325e-12",
    "4.98294517050535e-12", "4.859915815887585e-12",
    "4.739924066858413e-12", "4.622894924668662e-12",
    "4.508755242294825e-12", "4.39743367871984e-12",
    "4.288860654342681e-12", "4.182968307488728e-12",
    "4.079690451994141e-12", "3.97896253583724e-12",
    "3.8807216007914416e-12", "3.7849062430743565e-12",
    "3.69145657496833e-12", "3.6003141873887774e-12",
    "3.5114221133765118e-12", "3.42472479249158e-12",
    "3.340168036086218e-12", "3.2576989934350907e-12",
    "3.177266118701971e-12", "3.0988191387218256e-12",
    "3.0223090215784907e-12", "2.947687945958158e-12",
    "2.8749092712594217e-12", "2.8039275084414685e-12",
    "2.7346982915918745e-12", "2.6671783501964972e-12",
    "2.601325482094023e-12", "2.537098527098176e-12",
    "2.474457341271338e-12", "2.413362771833214e-12",
    "2.3537766326891e-12", "2.2956616805623547e-12",
    "2.2389815917160797e-12", "2.183700939249669e-12",
    "2.129785170955785e-12", "2.0772005877241296e-12",
    "2.0259143224784246e-12", "1.9758943196333673e-12",
    "1.9271093150589045e-12", "1.8795288165390832e-12",
    "1.8331230847134457e-12", "1.787863114488979e-12",
    "1.7437206169109434e-12", "1.7006680014814045e-12",
    "1.6586783589142312e-12", "1.6177254443159347e-12",
    "1.5777836607817719e-12", "1.5388280433968073e-12",
    "1.5008342436320735e-12", "1.463778514125909e-12",
    "1.4276376938411008e-12", "1.3923891935884977e-12",
    "1.3580109819079959e-12", "1.3244815712981989e-12",
    "1.2917800047859961e-12", "1.2598858428277863e-12",
    "1.2287791505341117e-12", "1.1984404852096714e-12",
    "1.1688508842010384e-12", "1.1399918530443554e-12",
    "1.1118453539057038e-12", "1.084393794306884e-12",
    "1.0576200161295145e-12", "1.0315072848906821e-12",
    "1.006039279283317e-12", "9.812000809748568e-13",
    "9.56974164657782e-13", "9.333463883457665e-13",
    "9.103019839094727e-13", "8.878265478459658e-13",
    "8.659060322760654e-13", "8.445267361639731e-13",
    "8.236752967536578e-13", "8.03338681216722e-13",
    "7.835041785064389e-13", "7.641593914129444e-13",
    "7.452922288145841e-13", "7.268908981205505e-13",
    "7.089438979001508e-13", "6.914400106940203e-13",
    "6.743682960028529e-13", "6.5771808344924e-13",
    "6.414789661083205e-13", "6.256407940031327e-13",
    "6.101936677605324e-13", "5.951279324237693e-13",
    "5.804341714178307e-13", "5.661032006637615e-13",
    "5.521260628383316e-13", "5.384940217754036e-13",
    "5.251985570055508e-13", "5.122313584304917e-13",
    "4.995843211289951e-13", "4.872495402910552e-13",
    "4.752193062771153e-13", "4.634860997992977e-13",
    "4.5204258722160863e-13", "4.4088161597616605e-13",
    "4.299962100926243e-13", "4.1937956583795446e-13",
    "4.0902504746389483e-13", "3.989261830593964e-13",
    "3.8907666050545765e-13", "3.794703235298559e-13",
    "3.701011678592672e-13", "3.609633374664043e-13",
    "3.5205112090981264e-13", "3.4335894776402454e-13",
    "3.3488138513787214e-13", "3.2661313427874473e-13",
    "3.1854902726069984e-13", "3.1068402375434455e-13",
    "3.0301320787645753e-13", "2.955317851174111e-13",
    "2.8823507934443873e-13", "2.8111852987890343e-13",
    "2.741776886457279e-13", "2.674082173931959e-13",
    "2.608058849814115e-13", "2.543665647376923e-13",
    "2.480862318772673e-13", "2.419609609876585e-13",
    "2.359869235751635e-13", "2.301603856719299e-13",
    "2.2447770550209742e-13", "2.1893533120557214e-13",
    "2.1352979861800073e-13", "2.0825772910554945e-13",
    "2.0311582745315406e-13", "1.9810087980489796e-13",
    "1.9320975165524992e-13", "1.8843938588989806e-13",
    "1.8378680087494912e-13", "1.7924908859331557e-13",
    "1.7482341282710566e-13", "1.7050700738489696e-13",
    "1.6629717437277835e-13", "1.621912825080744e-13",
    "1.5818676547471274e-13", "1.5428112031918877e-13",
    "1.504719058861403e-13", "1.4675674129254726e-13",
    "1.4313330443959874e-13", "1.3959933056130979e-13",
    "1.3615261080896538e-13", "1.3279099087051956e-13",
    "1.2951236962408174e-13", "1.2631469782464381e-13",
    "1.2319597682323895e-13", "1.2015425731771786e-13",
    "1.171876381343728e-13", "1.1429426503964337e-13",
    "1.1147232958115728e-13", "1.0872006795739197e-13",
    "1.0603575991523846e-13", "1.0341772767478841e-13",
    "1.008643348806681e-13", "9.837398557926047e-14",
    "9.594512322118514e-14", "9.357622968840175e-14")

  /** p-value for a χ²(2)-distributed statistic `x` via linear
    * interpolation on [[Chi2Df2SfGrid]] (step 0.05 → scale 20).
    * x ≥ 60 clamps to the grid end; NULL → NULL. */
  def chi2Df2PValue(x: Column): Column =
    when(x.isNull, lit(null).cast("double"))
      .when(x * lit(20.0) >= lit(1200.0), lit(Chi2Df2SfGrid.last.toDouble))
      .otherwise(gridInterp(Chi2Df2SfGrid, x, 0.0, scale = 20.0))

  /** Oracle-side rendering of [[chi2Df2PValue]]. */
  def chi2Df2PValueSql(xExpr: String): String =
    s"""CASE WHEN ($xExpr) IS NULL THEN NULL
       |  WHEN ($xExpr) * 20.0 >= 1200.0 THEN ${sqlDouble(Chi2Df2SfGrid.last)}
       |  ELSE ${gridInterpSql(Chi2Df2SfGrid, xExpr, "0.0", "20.0")}
       |END""".stripMargin

  /** Theil–Sen robust volume trend — the slope estimator the daily
    * monitors need when a single outage day would wreck a
    * least-squares fit (the median of pairwise slopes has 29%
    * breakdown). The bucket series is ZERO-FILLED over the calendar
    * spine (a day with no events is a 0 in a volume trend, not a
    * gap); every bucket pair contributes one exact slope — the
    * bucket deltas are exact multiples of the width, so
    * `(Δn)/(Δb/width)` divides an exact integer double by an exact
    * integer double — and the estimate is the exact interpolated
    * median over the ≤ buckets²/2 pair slopes (`percentile`, the
    * q39/q65 convention). Output: one row — n_buckets, n_pairs,
    * slope_per_bucket (median), slope_min/slope_max (the range the
    * median is robust against). Pairs are bucket-scale
    * (calendar-bounded): `maxBuckets` guards the quadratic loudly.
    */
  def theilSenTrend(
      df: DataFrame, ts: Column, bucketSeconds: Long,
      maxBuckets: Int = 8192): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val spark = df.sparkSession
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull)
      .select((us - pmod(us, lit(width))).as("_b"))
      .groupBy(col("_b")).agg(count(lit(1)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val bounds = daily.agg(min(col("_b")), max(col("_b")), count(lit(1))).head()
    if (bounds.isNullAt(0)) {
      daily.unpersist(blocking = false)
      return spark.range(1).select(
        lit(0L).as("n_buckets"), lit(0L).as("n_pairs"),
        lit(null).cast("double").as("slope_per_bucket"),
        lit(null).cast("double").as("slope_min"),
        lit(null).cast("double").as("slope_max"))
    }
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val nb = (mx - mn) / width + 1L
    require(nb <= maxBuckets,
      s"$nb calendar buckets > $maxBuckets — the pairwise-slope census " +
        "is quadratic in buckets; widen bucketSeconds or raise maxBuckets")
    val spine = spark.range(0, nb)
      .select((lit(mn) + col("id") * lit(width)).as("_b"))
    val series = spine.join(daily, Seq("_b"), "left")
      .select(col("_b"), coalesce(col("_n"), lit(0L)).as("_n"))
    val l = series.select(col("_b").as("_b1"), col("_n").as("_n1"))
    val r = series.select(col("_b").as("_b2"), col("_n").as("_n2"))
    val slopes = l.join(r, col("_b1") < col("_b2"))
      .select(((col("_n2") - col("_n1")).cast("double") /
        ((col("_b2") - col("_b1")).cast("double") / lit(width.toDouble)))
        .as("_s"))
    val out = slopes.agg(
      lit(nb).as("n_buckets"),
      count(lit(1)).as("n_pairs"),
      expr("percentile(_s, 0.5)").as("slope_per_bucket"),
      min(col("_s")).as("slope_min"),
      max(col("_s")).as("slope_max"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(daily))
    out
  }

  /** Per-key [[theilSenTrend]] — each key's robust slope over the
    * SHARED zero-filled calendar spine (keys × buckets rows; a key
    * absent on a day is a 0 for that key), pair slopes keyed so no
    * cross-key pair exists, per-key exact median. Which stream is
    * actually growing, robustly. */
  def theilSenTrendBy(
      df: DataFrame, key: Column, ts: Column, bucketSeconds: Long,
      maxBuckets: Int = 8192): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val spark = df.sparkSession
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull && key.isNotNull)
      .select(key.as("_k"), (us - pmod(us, lit(width))).as("_b"))
      .groupBy(col("_k"), col("_b")).agg(count(lit(1)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val bounds = daily.agg(min(col("_b")), max(col("_b"))).head()
    if (bounds.isNullAt(0)) {
      daily.unpersist(blocking = false)
      return spark.range(0).select(
        lit("").as("key"), lit(0L).as("n_buckets"), lit(0L).as("n_pairs"),
        lit(null).cast("double").as("slope_per_bucket"),
        lit(null).cast("double").as("slope_min"),
        lit(null).cast("double").as("slope_max"))
    }
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val nb = (mx - mn) / width + 1L
    require(nb <= maxBuckets,
      s"$nb calendar buckets > $maxBuckets — the pairwise-slope census " +
        "is quadratic in buckets; widen bucketSeconds or raise maxBuckets")
    val spine = spark.range(0, nb)
      .select((lit(mn) + col("id") * lit(width)).as("_b"))
    val series = daily.select(col("_k")).distinct()
      .crossJoin(broadcast(spine))
      .join(daily, Seq("_k", "_b"), "left")
      .select(col("_k"), col("_b"), coalesce(col("_n"), lit(0L)).as("_n"))
    val l = series.select(col("_k"), col("_b").as("_b1"), col("_n").as("_n1"))
    val r = series.select(col("_k").as("_k2"), col("_b").as("_b2"), col("_n").as("_n2"))
    val slopes = l.join(r, col("_k") === col("_k2") && col("_b1") < col("_b2"))
      .select(col("_k"), ((col("_n2") - col("_n1")).cast("double") /
        ((col("_b2") - col("_b1")).cast("double") / lit(width.toDouble)))
        .as("_s"))
    val out = slopes.groupBy(col("_k").as("key")).agg(
      lit(nb).as("n_buckets"),
      count(lit(1)).as("n_pairs"),
      expr("percentile(_s, 0.5)").as("slope_per_bucket"),
      min(col("_s")).as("slope_min"),
      max(col("_s")).as("slope_max"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(daily))
    out
  }

  /** Mann–Kendall trend test — the SIGNIFICANCE companion to
    * [[theilSenTrend]] (the slope says how fast; this says whether
    * the monotone trend is real at these sample sizes). S = Σ
    * sign(n_j − n_i) over all bucket pairs of the same ZERO-FILLED
    * calendar series (an exact integer), null variance
    * (n(n−1)(2n+5) − Σt(t−1)(2t+5))/18 with the tie term over tied
    * VALUE groups (exact decimal numerator — time buckets are never
    * tied), the classic continuity-corrected z ((S∓1)/σ, 0 at S=0),
    * and the two-sided normal p on the shared grid. Output: one row —
    * n_buckets, s_statistic, var_s, z, p_two_sided.
    */
  def mannKendallTrend(
      df: DataFrame, ts: Column, bucketSeconds: Long,
      maxBuckets: Int = 8192): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val spark = df.sparkSession
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull)
      .select((us - pmod(us, lit(width))).as("_b"))
      .groupBy(col("_b")).agg(count(lit(1)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val bounds = daily.agg(min(col("_b")), max(col("_b"))).head()
    if (bounds.isNullAt(0)) {
      daily.unpersist(blocking = false)
      return spark.range(1).select(
        lit(0L).as("n_buckets"), lit(null).cast("long").as("s_statistic"),
        lit(null).cast("double").as("var_s"),
        lit(null).cast("double").as("z"),
        lit(null).cast("double").as("p_two_sided"))
    }
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val nb = (mx - mn) / width + 1L
    require(nb <= maxBuckets,
      s"$nb calendar buckets > $maxBuckets — the pair census is " +
        "quadratic in buckets; widen bucketSeconds or raise maxBuckets")
    val spine = spark.range(0, nb)
      .select((lit(mn) + col("id") * lit(width)).as("_b"))
    val series = spine.join(daily, Seq("_b"), "left")
      .select(col("_b"), coalesce(col("_n"), lit(0L)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val l = series.select(col("_b").as("_b1"), col("_n").as("_n1"))
    val r = series.select(col("_b").as("_b2"), col("_n").as("_n2"))
    val sAgg = l.join(r, col("_b1") < col("_b2"))
      .agg(coalesce(sum(signum(col("_n2") - col("_n1")).cast("long")), lit(0L))
        .as("s_statistic"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val two = lit(2L).cast("decimal(38,0)")
    val five = lit(5L).cast("decimal(38,0)")
    val tie = series.groupBy(col("_n")).agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(dec(col("_t")) * (dec(col("_t")) - one) *
        (two * dec(col("_t")) + five)), lit(0L).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("_vt"))
    val nDec = dec(lit(nb))
    val varNum = (nDec * (nDec - one) * (two * nDec + five))
    val out = sAgg.crossJoin(broadcast(tie))
      .withColumn("n_buckets", lit(nb))
      .withColumn("var_s",
        (varNum - col("_vt")).cast("decimal(38,0)").cast("double") / lit(18.0))
      .withColumn("z",
        when(col("var_s") > lit(0.0) && col("s_statistic") > 0L,
          (col("s_statistic").cast("double") - lit(1.0)) / sqrt(col("var_s")))
          .when(col("var_s") > lit(0.0) && col("s_statistic") < 0L,
            (col("s_statistic").cast("double") + lit(1.0)) / sqrt(col("var_s")))
          .when(col("var_s") > lit(0.0), lit(0.0)))
      .withColumn("p_two_sided", normalPTwoSided(col("z")))
      .select(col("n_buckets"), col("s_statistic"), col("var_s"),
        col("z"), col("p_two_sided"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(daily, series))
    out
  }

  /** Per-key [[mannKendallTrend]] — each key's monotone-trend
    * evidence over the SHARED zero-filled calendar spine (the
    * [[theilSenTrendBy]] convention: a key absent on a day is a 0),
    * per-key tie correction, group-scale output. */
  def mannKendallTrendBy(
      df: DataFrame, key: Column, ts: Column, bucketSeconds: Long,
      maxBuckets: Int = 8192): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    val spark = df.sparkSession
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull && key.isNotNull)
      .select(key.as("_k"), (us - pmod(us, lit(width))).as("_b"))
      .groupBy(col("_k"), col("_b")).agg(count(lit(1)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val bounds = daily.agg(min(col("_b")), max(col("_b"))).head()
    if (bounds.isNullAt(0)) {
      daily.unpersist(blocking = false)
      return spark.range(0).select(
        lit("").as("key"), lit(0L).as("n_buckets"),
        lit(null).cast("long").as("s_statistic"),
        lit(null).cast("double").as("var_s"),
        lit(null).cast("double").as("z"),
        lit(null).cast("double").as("p_two_sided"))
    }
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val nb = (mx - mn) / width + 1L
    require(nb <= maxBuckets,
      s"$nb calendar buckets > $maxBuckets — the pair census is " +
        "quadratic in buckets; widen bucketSeconds or raise maxBuckets")
    val spine = spark.range(0, nb)
      .select((lit(mn) + col("id") * lit(width)).as("_b"))
    val series = daily.select(col("_k")).distinct()
      .crossJoin(broadcast(spine))
      .join(daily, Seq("_k", "_b"), "left")
      .select(col("_k"), col("_b"), coalesce(col("_n"), lit(0L)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val l = series.select(col("_k"), col("_b").as("_b1"), col("_n").as("_n1"))
    val r = series.select(col("_k").as("_k2"), col("_b").as("_b2"), col("_n").as("_n2"))
    val sAgg = l.join(r, col("_k") === col("_k2") && col("_b1") < col("_b2"))
      .groupBy(col("_k"))
      .agg(coalesce(sum(signum(col("_n2") - col("_n1")).cast("long")), lit(0L))
        .as("s_statistic"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val two = lit(2L).cast("decimal(38,0)")
    val five = lit(5L).cast("decimal(38,0)")
    val tie = series.groupBy(col("_k").as("_kt"), col("_n")).agg(count(lit(1)).as("_t"))
      .groupBy(col("_kt"))
      .agg(coalesce(sum(dec(col("_t")) * (dec(col("_t")) - one) *
        (two * dec(col("_t")) + five)), lit(0L).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("_vt"))
    val nDec = dec(lit(nb))
    val varNum = (nDec * (nDec - one) * (two * nDec + five))
    val out = sAgg.join(tie, col("_k") === col("_kt")).drop("_kt")
      .withColumn("n_buckets", lit(nb))
      .withColumn("var_s",
        (varNum - col("_vt")).cast("decimal(38,0)").cast("double") / lit(18.0))
      .withColumn("z",
        when(col("var_s") > lit(0.0) && col("s_statistic") > 0L,
          (col("s_statistic").cast("double") - lit(1.0)) / sqrt(col("var_s")))
          .when(col("var_s") > lit(0.0) && col("s_statistic") < 0L,
            (col("s_statistic").cast("double") + lit(1.0)) / sqrt(col("var_s")))
          .when(col("var_s") > lit(0.0), lit(0.0)))
      .withColumn("p_two_sided", normalPTwoSided(col("z")))
      .select(col("_k").as("key"), col("n_buckets"), col("s_statistic"),
        col("var_s"), col("z"), col("p_two_sided"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(daily, series))
    out
  }

  /** Seasonal Mann–Kendall trend test (Hirsch & Slack 1984): the
    * [[mannKendallTrend]] S-statistic summed over SEASONAL STRATA —
    * with day buckets and 7 seasons, only same-WEEKDAY bucket pairs
    * are compared, so the weekday cycle [[mannKendallTrend]] mixes
    * into its pair census (q90 measures it; q179 ignores it) cannot
    * mask or fake a trend: a strong weekly sawtooth contributes
    * exactly zero same-stratum sign disagreement, while a real
    * monotone drift shows up in EVERY stratum.
    *
    * S = Σ_g S_g over the zero-filled calendar spine's strata
    * (stratum = absolute bucket number mod `seasons` — calendar-
    * aligned, so the stratification is stable across runs and across
    * series); var S = Σ_g (n_g(n_g−1)(2n_g+5) − Σ_t t(t−1)(2t+5))/18
    * with the tie term over tied VALUE groups WITHIN each stratum
    * (strata are independent under H₀, variances add); continuity-
    * corrected z on the total; two-sided normal p on the shared grid.
    *
    * The pair census joins on (stratum, b1 < b2) — `seasons` bounded
    * censuses over the shared spine, each ≤ (nb/seasons)² pairs, so
    * the seasonal form is CHEAPER than the unstratified census, not
    * dearer. Output: one row — n_buckets, n_seasons, s_statistic,
    * var_s, z, p_two_sided.
    */
  def seasonalMannKendallTrend(
      df: DataFrame, ts: Column, bucketSeconds: Long, seasons: Int = 7,
      maxBuckets: Int = 8192): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    require(seasons >= 2, s"seasons must be >= 2, got $seasons")
    val spark = df.sparkSession
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull)
      .select((us - pmod(us, lit(width))).as("_b"))
      .groupBy(col("_b")).agg(count(lit(1)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val bounds = daily.agg(min(col("_b")), max(col("_b"))).head()
    if (bounds.isNullAt(0)) {
      daily.unpersist(blocking = false)
      return spark.range(1).select(
        lit(0L).as("n_buckets"), lit(seasons.toLong).as("n_seasons"),
        lit(null).cast("long").as("s_statistic"),
        lit(null).cast("double").as("var_s"),
        lit(null).cast("double").as("z"),
        lit(null).cast("double").as("p_two_sided"))
    }
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val nb = (mx - mn) / width + 1L
    require(nb <= maxBuckets,
      s"$nb calendar buckets > $maxBuckets — the pair census is " +
        "quadratic in buckets per stratum; widen bucketSeconds or raise maxBuckets")
    val spine = spark.range(0, nb)
      .select((lit(mn) + col("id") * lit(width)).as("_b"))
    // stratum from the ABSOLUTE bucket number (epoch-aligned): with
    // day buckets and seasons=7 this is a fixed weekday labeling
    val stratum = pmod(expr(s"_b div ${width}L"), lit(seasons.toLong))
    val series = spine.join(daily, Seq("_b"), "left")
      .select(col("_b"), stratum.as("_g"),
        coalesce(col("_n"), lit(0L)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val l = series.select(col("_g"), col("_b").as("_b1"), col("_n").as("_n1"))
    val r = series.select(col("_g").as("_g2"), col("_b").as("_b2"), col("_n").as("_n2"))
    val sAgg = l.join(r, col("_g") === col("_g2") && col("_b1") < col("_b2"))
      .agg(coalesce(sum(signum(col("_n2") - col("_n1")).cast("long")), lit(0L))
        .as("s_statistic"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val two = lit(2L).cast("decimal(38,0)")
    val five = lit(5L).cast("decimal(38,0)")
    // per-stratum variance numerator: spine sizes and tied-value
    // groups both live WITHIN the stratum
    val varAgg = series.groupBy(col("_g"), col("_n")).agg(count(lit(1)).as("_t"))
      .groupBy(col("_g"))
      .agg(
        sum(col("_t")).as("_ng"),
        coalesce(sum(dec(col("_t")) * (dec(col("_t")) - one) *
          (two * dec(col("_t")) + five)), lit(0L).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("_vt"))
      .agg(coalesce(sum(
        (dec(col("_ng")) * (dec(col("_ng")) - one) * (two * dec(col("_ng")) + five)
          - col("_vt")).cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("_vnum"))
    val out = sAgg.crossJoin(broadcast(varAgg))
      .withColumn("n_buckets", lit(nb))
      .withColumn("n_seasons", lit(seasons.toLong))
      .withColumn("var_s", col("_vnum").cast("double") / lit(18.0))
      .withColumn("z",
        when(col("var_s") > lit(0.0) && col("s_statistic") > 0L,
          (col("s_statistic").cast("double") - lit(1.0)) / sqrt(col("var_s")))
          .when(col("var_s") > lit(0.0) && col("s_statistic") < 0L,
            (col("s_statistic").cast("double") + lit(1.0)) / sqrt(col("var_s")))
          .when(col("var_s") > lit(0.0), lit(0.0)))
      .withColumn("p_two_sided", normalPTwoSided(col("z")))
      .select(col("n_buckets"), col("n_seasons"), col("s_statistic"),
        col("var_s"), col("z"), col("p_two_sided"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(daily, series))
    out
  }

  /** Per-key [[seasonalMannKendallTrend]] — each key's season-
    * stratified monotone-trend evidence over the SHARED zero-filled
    * calendar spine (the [[mannKendallTrendBy]] convention: a key
    * absent on a day is a 0), per-(key, stratum) tie correction,
    * group-scale output. The pair census joins on (key, stratum,
    * b1 < b2) — keys × seasons bounded censuses. */
  def seasonalMannKendallTrendBy(
      df: DataFrame, key: Column, ts: Column, bucketSeconds: Long,
      seasons: Int = 7, maxBuckets: Int = 8192): DataFrame = {
    require(bucketSeconds >= 1, s"bucketSeconds must be >= 1, got $bucketSeconds")
    require(seasons >= 2, s"seasons must be >= 2, got $seasons")
    val spark = df.sparkSession
    val width = bucketSeconds * 1000000L
    val us = unix_micros(ts)
    val daily = df.filter(ts.isNotNull && key.isNotNull)
      .select(key.as("_k"), (us - pmod(us, lit(width))).as("_b"))
      .groupBy(col("_k"), col("_b")).agg(count(lit(1)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val bounds = daily.agg(min(col("_b")), max(col("_b"))).head()
    if (bounds.isNullAt(0)) {
      daily.unpersist(blocking = false)
      return spark.range(0).select(
        lit("").as("key"), lit(0L).as("n_buckets"),
        lit(seasons.toLong).as("n_seasons"),
        lit(null).cast("long").as("s_statistic"),
        lit(null).cast("double").as("var_s"),
        lit(null).cast("double").as("z"),
        lit(null).cast("double").as("p_two_sided"))
    }
    val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
    val nb = (mx - mn) / width + 1L
    require(nb <= maxBuckets,
      s"$nb calendar buckets > $maxBuckets — the pair census is " +
        "quadratic in buckets per stratum; widen bucketSeconds or raise maxBuckets")
    val spine = spark.range(0, nb)
      .select((lit(mn) + col("id") * lit(width)).as("_b"))
    val stratum = pmod(expr(s"_b div ${width}L"), lit(seasons.toLong))
    val series = daily.select(col("_k")).distinct()
      .crossJoin(broadcast(spine))
      .join(daily, Seq("_k", "_b"), "left")
      .select(col("_k"), col("_b"), stratum.as("_g"),
        coalesce(col("_n"), lit(0L)).as("_n"))
      .persistFresh() // pair-expansion source: CPU-dense downstream, keep full partitioning
    val l = series.select(col("_k"), col("_g"), col("_b").as("_b1"), col("_n").as("_n1"))
    val r = series.select(col("_k").as("_k2"), col("_g").as("_g2"),
      col("_b").as("_b2"), col("_n").as("_n2"))
    val sAgg = l.join(r, col("_k") === col("_k2") && col("_g") === col("_g2")
        && col("_b1") < col("_b2"))
      .groupBy(col("_k"))
      .agg(coalesce(sum(signum(col("_n2") - col("_n1")).cast("long")), lit(0L))
        .as("s_statistic"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val two = lit(2L).cast("decimal(38,0)")
    val five = lit(5L).cast("decimal(38,0)")
    val varAgg = series
      .groupBy(col("_k").as("_kt"), col("_g"), col("_n")).agg(count(lit(1)).as("_t"))
      .groupBy(col("_kt"), col("_g"))
      .agg(
        sum(col("_t")).as("_ng"),
        coalesce(sum(dec(col("_t")) * (dec(col("_t")) - one) *
          (two * dec(col("_t")) + five)), lit(0L).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("_vt"))
      .groupBy(col("_kt"))
      .agg(coalesce(sum(
        (dec(col("_ng")) * (dec(col("_ng")) - one) * (two * dec(col("_ng")) + five)
          - col("_vt")).cast("decimal(38,0)")), lit(0L).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("_vnum"))
    val out = sAgg.join(varAgg, col("_k") === col("_kt")).drop("_kt")
      .withColumn("n_buckets", lit(nb))
      .withColumn("n_seasons", lit(seasons.toLong))
      .withColumn("var_s", col("_vnum").cast("double") / lit(18.0))
      .withColumn("z",
        when(col("var_s") > lit(0.0) && col("s_statistic") > 0L,
          (col("s_statistic").cast("double") - lit(1.0)) / sqrt(col("var_s")))
          .when(col("var_s") > lit(0.0) && col("s_statistic") < 0L,
            (col("s_statistic").cast("double") + lit(1.0)) / sqrt(col("var_s")))
          .when(col("var_s") > lit(0.0), lit(0.0)))
      .withColumn("p_two_sided", normalPTwoSided(col("z")))
      .select(col("_k").as("key"), col("n_buckets"), col("n_seasons"),
        col("s_statistic"), col("var_s"), col("z"), col("p_two_sided"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(daily, series))
    out
  }

  /** Benjamini–Hochberg FDR gate over a frame of per-hypothesis
    * p-values — the multiple-testing correction the per-source
    * statistic family needs: 20 sources × p < 0.05 yields one false
    * alarm EVERY run; BH controls the expected false-discovery rate
    * at `alpha` instead. Ranks the m non-NULL p-values ascending
    * (`tieBreak` makes the reported rank deterministic under tied
    * p's; the DISCOVERY SET itself is tie-order-invariant by
    * construction — the max-k rule flags every p ≤ p(k*)), finds
    * k* = max{k : p(k) ≤ k·α/m}, and flags p ≤ p(k*). NULL p rows
    * pass through unflagged and outside m.
    *
    * Output: input columns + `p_rank`, `bh_critical` (k·α/m),
    * `is_discovery`. The frame is hypothesis-scale (one row per
    * source/segment/test — config-sized by nature); the lone
    * unpartitioned window is bounded by that, the
    * [[graft.LogSilence]] convention.
    */
  def benjaminiHochberg(
      df: DataFrame, pCol: Column, tieBreak: Column,
      alpha: Double = 0.05): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val withP = df.withColumn("_p", pCol)
    val m = broadcast(withP.agg(
      sum(when(col("_p").isNotNull, 1L).otherwise(0L)).as("_m")))
    val w = Window.orderBy(col("_p").asc_nulls_last, tieBreak.asc)
    val ranked = withP.crossJoin(m)
      .withColumn("p_rank",
        when(col("_p").isNotNull, row_number().over(w).cast("bigint")))
      .withColumn("bh_critical",
        when(col("_p").isNotNull,
          col("p_rank").cast("double") * lit(alpha) / col("_m").cast("double")))
      .persistCensus()
    val kstarP = broadcast(ranked.agg(
      max(when(col("_p") <= col("bh_critical"), col("_p"))).as("_kp")))
    val out = ranked.crossJoin(kstarP)
      .withColumn("is_discovery",
        coalesce(col("_p") <= col("_kp"), lit(false)))
      .drop("_p", "_m", "_kp")
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(ranked))
    out
  }

  /** Two-sample mean-difference z test on an EXACT integer-valued
    * column — the parametric leg of the two-cohort drift triptych
    * (KS = whole distribution, rank-sum = ordinal separation, this =
    * location shift in the metric's own units). The caller quantizes
    * (`bround(x·100)` for cents — the [[graft.operators.Checks.benfordDigits]]
    * convention) so Σx and Σx² accumulate in DECIMAL(38,0):
    * order-independent, engine-portable, exact to ~10³⁸. Means,
    * sample variances (n−1), the pooled-standard-error z
    * (m_a − m_b)/√(s²_a/n_a + s²_b/n_b) and its two-sided normal
    * p-value ([[normalPTwoSided]]) are one IEEE dag stated
    * identically in the oracle. Degenerate shapes are NULL, not a
    * crash: cohorts under 2 rows have no sample variance; a zero
    * standard error (both cohorts constant) has no z — the when-guard
    * short-circuits ANSI division.
    *
    * 100 TB: ONE hash aggregate over the scan (map-side partials),
    * everything after is a 1-row frame.
    */
  def meanDiffZ(df: DataFrame, intValue: Column, inA: Column): DataFrame = {
    // NULL values are excluded IN THE AGGREGATE (when-guards), never
    // by a raw-row filter on the derived column: predicate pushdown
    // would inline the (possibly expensive) value expression into a
    // scan Filter and evaluate it twice per row (the q169 logit tree,
    // caught in-plan; the single-evaluation discipline)
    val nn = df
      .filter(inA.isNotNull)
      .select(intValue.cast("long").as("_v"),
        when(inA.cast("boolean"), 1L).otherwise(0L).as("_a"))
    meanDiffFinish(nn.agg(
      meanDiffSides.head, meanDiffSides.tail: _*))
  }

  /** Null-value-aware per-cohort (count, Σv, Σv²) aggregate
    * expressions over the (_v, _a) projection — shared by the solo
    * and grouped mean-diff forms. */
  private def meanDiffSides: Seq[Column] = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val vOk = col("_v").isNotNull
    def side(flag: Column, suffix: String) = Seq(
      coalesce(sum(when(vOk, flag)), lit(0L)).as(s"n_$suffix"),
      coalesce(sum(when(vOk && flag === 1L, dec(col("_v")))),
        lit(0L).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as(s"_s$suffix"),
      coalesce(sum(when(vOk && flag === 1L, dec(col("_v")) * dec(col("_v")))),
        lit(0L).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as(s"_q$suffix"))
    side(col("_a"), "a") ++ side(lit(1L) - col("_a"), "b")
  }

  /** The shared finishing dag of [[meanDiffZ]] / [[meanDiffZBy]]:
    * (n, Σv, Σv²) per cohort → means, sample variances, z, p;
    * `carry` columns (the group key) pass through untouched. */
  private def meanDiffFinish(aggd: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    def mean(n: Column, s: Column) =
      when(n > 0L, s.cast("double") / n.cast("double"))
    def variance(n: Column, s: Column, q: Column) =
      when(n > 1L,
        (q.cast("double") - (s.cast("double") * s.cast("double"))
          / n.cast("double")) / (n.cast("double") - lit(1.0)))
    val withStats = aggd
      .withColumn("mean_a", mean(col("n_a"), col("_sa")))
      .withColumn("mean_b", mean(col("n_b"), col("_sb")))
      .withColumn("var_a", variance(col("n_a"), col("_sa"), col("_qa")))
      .withColumn("var_b", variance(col("n_b"), col("_sb"), col("_qb")))
    val se2 = col("var_a") / col("n_a").cast("double") +
      col("var_b") / col("n_b").cast("double")
    withStats
      .withColumn("mean_diff", col("mean_a") - col("mean_b"))
      .withColumn("z",
        when(col("var_a").isNotNull && col("var_b").isNotNull && se2 > lit(0.0),
          (col("mean_a") - col("mean_b")) / sqrt(se2)))
      .withColumn("p_two_sided", normalPTwoSided(col("z")))
      .select(carry.map(col) ++ Seq(col("n_a"), col("n_b"),
        col("mean_a"), col("mean_b"), col("var_a"), col("var_b"),
        col("mean_diff"), col("z"), col("p_two_sided")): _*)
  }

  /** [[meanDiffZ]] over a maintained MOMENTS log
    * ([[Incremental.bucketMoments]] / the streaming momentsSink)
    * instead of raw rows — the standing-monitor form: the log is
    * keyed by the cohort, `inA` maps a key row to its side, and the
    * statistic costs key×bucket rows however large the history. The
    * recorded shift cancels out of variances/diff/z (shift
    * invariance) and is added back to the reported means. Refuses a
    * mixed-shift log loudly (those sums are incomparable).
    */
  def meanDiffZFromMoments(moments: DataFrame, inA: Column): DataFrame = {
    val km = Incremental.keyMoments(moments)
    val shifts = km.select(col("shift")).distinct().collect()
    require(shifts.length <= 1,
      s"moments log carries ${shifts.length} distinct shifts — " +
        "re-profile the monitor with one shift before comparing sums")
    val shift = if (shifts.isEmpty) 0L else shifts.head.getLong(0)
    // keys that resolve to NO cohort are EXCLUDED, matching the batch
    // meanDiffZ (which filters inA.isNotNull) — NULL must not silently
    // bucket into cohort B
    val flagged = km.filter(inA.isNotNull).select(
      when(inA, 1L).otherwise(0L).as("_a"),
      col("n"), col("s1"), col("s2"))
    val dec0 = lit(0L).cast("decimal(38,0)")
    val aggd = flagged.agg(
      coalesce(sum(when(col("_a") === 1L, col("n"))), lit(0L)).as("n_a"),
      coalesce(sum(when(col("_a") === 0L, col("n"))), lit(0L)).as("n_b"),
      coalesce(sum(when(col("_a") === 1L, col("s1"))), dec0)
        .cast("decimal(38,0)").as("_sa"),
      coalesce(sum(when(col("_a") === 1L, col("s2"))), dec0)
        .cast("decimal(38,0)").as("_qa"),
      coalesce(sum(when(col("_a") === 0L, col("s1"))), dec0)
        .cast("decimal(38,0)").as("_sb"),
      coalesce(sum(when(col("_a") === 0L, col("s2"))), dec0)
        .cast("decimal(38,0)").as("_qb"))
    meanDiffFinish(aggd)
      .withColumn("mean_a", col("mean_a") + lit(shift.toDouble))
      .withColumn("mean_b", col("mean_b") + lit(shift.toDouble))
  }

  /** Per-group [[meanDiffZ]] — each group's cohort-A-vs-B location
    * shift from ONE (group)-keyed aggregate; group-scale output. */
  def meanDiffZBy(
      df: DataFrame, group: Column, intValue: Column, inA: Column): DataFrame = {
    val nn = df
      .filter(inA.isNotNull && group.isNotNull)
      .select(group.as("_g"), intValue.cast("long").as("_v"),
        when(inA.cast("boolean"), 1L).otherwise(0L).as("_a"))
    val aggd = nn.groupBy(col("_g").as("group_key"))
      .agg(meanDiffSides.head, meanDiffSides.tail: _*)
    meanDiffFinish(aggd, carry = Seq("group_key"))
  }

  /** Two-sample proportion z test — "did the success rate move
    * between cohorts?" as a decision. For a 2×2 table z² equals the
    * chi-square statistic, so via [[normalPTwoSided]] this also
    * closes the df=1 chi-square p-value gap (higher-df chi-square
    * stays unscored: its p needs a gamma surface per df, stated as an
    * engine trade-off). Counts are exact Longs; the pooled rate
    * p̂ = (s_a+s_b)/(n_a+n_b), the z
    * (p_a − p_b)/√(p̂(1−p̂)(1/n_a+1/n_b)) and its p are one stated
    * IEEE dag. Degenerate shapes → NULL z: an empty cohort, or a
    * pooled rate of exactly 0 or 1 (no variance to test against).
    * NULL cohort rows are excluded; NULL success flags count as
    * failures only when stated — here they are EXCLUDED (an unknown
    * outcome is not a failure).
    *
    * 100 TB: one hash aggregate with map-side partials; 1-row output.
    */
  def proportionZ(df: DataFrame, success: Column, inA: Column): DataFrame = {
    val nn = df
      .filter(inA.isNotNull && success.isNotNull)
      .select(when(inA.cast("boolean"), 1L).otherwise(0L).as("_a"),
        when(success.cast("boolean"), 1L).otherwise(0L).as("_s"))
    val aggd = nn.agg(
      coalesce(sum(col("_a")), lit(0L)).as("n_a"),
      coalesce(sum(lit(1L) - col("_a")), lit(0L)).as("n_b"),
      coalesce(sum(col("_a") * col("_s")), lit(0L)).as("s_a"),
      coalesce(sum((lit(1L) - col("_a")) * col("_s")), lit(0L)).as("s_b"))
    proportionFinish(aggd)
  }

  /** Shared finishing dag of [[proportionZ]] / [[proportionZBy]]. */
  private def proportionFinish(aggd: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val withRates = aggd
      .withColumn("rate_a",
        when(col("n_a") > 0L, col("s_a").cast("double") / na))
      .withColumn("rate_b",
        when(col("n_b") > 0L, col("s_b").cast("double") / nb))
      .withColumn("_pool",
        when(col("n_a") + col("n_b") > 0L,
          (col("s_a") + col("s_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double")))
    val se2 = col("_pool") * (lit(1.0) - col("_pool")) * (lit(1.0) / na + lit(1.0) / nb)
    withRates
      .withColumn("rate_diff", col("rate_a") - col("rate_b"))
      .withColumn("z",
        when(col("n_a") > 0L && col("n_b") > 0L && se2 > lit(0.0),
          (col("rate_a") - col("rate_b")) / sqrt(se2)))
      .withColumn("p_two_sided", normalPTwoSided(col("z")))
      .select(carry.map(col) ++ Seq(col("n_a"), col("n_b"), col("s_a"),
        col("s_b"), col("rate_a"), col("rate_b"), col("rate_diff"),
        col("z"), col("p_two_sided")): _*)
  }

  /** [[proportionZ]] over a maintained counts log — the standing
    * A/B-health monitor: feed the incremental partials sink a STRUCT
    * key `struct(cohortFlag, successFlag)` and one row per arrival;
    * the per-key totals then carry the whole 2×2 table however large
    * the history, and this finisher reads it at key-scale. Counts
    * are exact integers, so the streamed form is BIT-identical to
    * the batch [[proportionZ]] over the same rows (spec-pinned).
    * `inA` / `success` address the key struct's fields.
    */
  def proportionZFromCounts(
      counts: DataFrame, inA: Column, success: Column): DataFrame = {
    val flagged = counts
      .filter(inA.isNotNull && success.isNotNull)
      .select(when(inA.cast("boolean"), 1L).otherwise(0L).as("_a"),
        when(success.cast("boolean"), 1L).otherwise(0L).as("_s"),
        col("n"))
    val aggd = flagged.agg(
      coalesce(sum(when(col("_a") === 1L, col("n"))), lit(0L)).as("n_a"),
      coalesce(sum(when(col("_a") === 0L, col("n"))), lit(0L)).as("n_b"),
      coalesce(sum(when(col("_a") === 1L && col("_s") === 1L, col("n"))),
        lit(0L)).as("s_a"),
      coalesce(sum(when(col("_a") === 0L && col("_s") === 1L, col("n"))),
        lit(0L)).as("s_b"))
    proportionFinish(aggd)
  }

  /** Per-group [[proportionZ]] — one grouped aggregate, group-scale
    * output: which segment's rate moved, with evidence. */
  def proportionZBy(
      df: DataFrame, group: Column, success: Column, inA: Column): DataFrame = {
    val nn = df
      .filter(inA.isNotNull && success.isNotNull && group.isNotNull)
      .select(group.as("_g"),
        when(inA.cast("boolean"), 1L).otherwise(0L).as("_a"),
        when(success.cast("boolean"), 1L).otherwise(0L).as("_s"))
    val aggd = nn.groupBy(col("_g").as("group_key")).agg(
      coalesce(sum(col("_a")), lit(0L)).as("n_a"),
      coalesce(sum(lit(1L) - col("_a")), lit(0L)).as("n_b"),
      coalesce(sum(col("_a") * col("_s")), lit(0L)).as("s_a"),
      coalesce(sum((lit(1L) - col("_a")) * col("_s")), lit(0L)).as("s_b"))
    proportionFinish(aggd, carry = Seq("group_key"))
  }

  /** Kolmogorov distribution survival function Q(λ) = 2·Σ_{k≥1}
    * (−1)^{k−1}·exp(−2k²λ²), tabulated at λ = 0.30 + i·0.01 for
    * i = 0..270 as the exact decimal-literal strings BOTH engines
    * parse (the [[graft.operators.Evaluation.PoissonOneCdf]]
    * single-source-of-digits discipline): the asymptotic p-value of
    * the two-sample KS statistic needs exp(), which is NOT
    * ulp-portable across engines — a literal grid plus one linear
    * interpolation (a fixed IEEE dag stated identically in Spark and
    * the oracle SQL) is. Grid step 0.01 bounds the interpolation
    * error near 2.5e−5 — far inside any decision margin a p-value
    * feeds; the grid was generated once with a 200-term compensated
    * (fsum) series, clamped to [0,1].
    */
  val KolmogorovQGrid: Seq[String] = Seq(
    "0.9999906941986654", "0.9999785020570597", "0.9999541201308876",
    "0.9999086804678158", "0.9998290948601503", "0.9996971473702906",
    "0.9994887769610757", "0.9991736569658024", "0.9987151458373863",
    "0.9980706413847182", "0.9971923267772982", "0.9960282580366815",
    "0.9945237142469575", "0.9926227153740532", "0.9902696081545562",
    "0.9874106261529367", "0.983995343083883", "0.9799779559351085",
    "0.9753183536399833", "0.969982945894297", "0.9639452436648751",
    "0.9571861970810589", "0.9496943073294777", "0.9414655368786882",
    "0.9325030471043408", "0.922816794589152", "0.912423017528563",
    "0.9013436422831755", "0.8896056376475567", "0.8772403412558947",
    "0.8642827790506044", "0.8507709951598499", "0.8367454060556158",
    "0.8222481896276203", "0.8073227168928092", "0.7920130315089251",
    "0.7763633800874641", "0.7604177944983465", "0.7442197259033896",
    "0.7278117291165674", "0.7112351950296892", "0.6945301282244591",
    "0.6777349664784748", "0.6608864386282611", "0.6440194571446778",
    "0.6271670417762617", "0.6103602706992852", "0.5936282557581772",
    "0.5769981385685902", "0.5604951044730809", "0.5441424115741981",
    "0.5279614323123148", "0.5119717052984971", "0.4961909953505057",
    "0.48063535990868866", "0.4653192202251585", "0.45025543592243367",
    "0.4354553817055706", "0.42092902518422476", "0.4066850049180474",
    "0.3927307079406545", "0.37907234614464197", "0.36571503102351577",
    "0.352662846366768", "0.3399189185925665", "0.32748548447955916",
    "0.31536395612605395", "0.3035549830222197", "0.2920585111698588",
    "0.2808738392255489", "0.26999967167735456", "0.25943416909359746",
    "0.24917499550506247", "0.23921936300013408", "0.22956407362631887",
    "0.2202055587019503", "0.2111399156490973", "0.20236294246327216",
    "0.19387016993785058", "0.18565689176157327", "0.17771819260640118",
    "0.17004897432066504", "0.1626439803391253", "0.15549781841748672",
    "0.14860498179427897", "0.14195986887800088", "0.13555680155217864",
    "0.12939004218561884", "0.1234538094297657", "0.11774229287977166",
    "0.11224966667072497", "0.10697010207551334", "0.10189777916606356",
    "0.09702689759522085", "0.09235168655233264", "0.08786641394169108",
    "0.08356539482936792", "0.07944299920064743", "0.07549365906721044",
    "0.07171187496044883", "0.06809222184476636", "0.06462935448244651",
    "0.06131801227961465", "0.05815302364097883", "0.05512930985938036",
    "0.05224188856470461", "0.049485876755377876", "0.04685649343449063",
    "0.044349061871523425", "0.04195901150969805", "0.039681879538114355",
    "0.037513312147054764", "0.03544906548412803", "0.03348500632827307",
    "0.03161711249804308", "0.029841473010029346", "0.028154288002759514",
    "0.026551868440904867", "0.02503063561415656", "0.02358712044466908",
    "0.022217962616525127", "0.020919909540238767", "0.019689815164885417",
    "0.018524638650023843", "0.017421442909155472", "0.016377393036049223",
    "0.015389754624844708", "0.014455891994432035", "0.013573266327193904",
    "0.01273943373178295", "0.011952043239196616", "0.011208834741002822",
    "0.010507636878161924", "0.00984636488848652", "0.009223018420378749",
    "0.008635679320087892", "0.008082509399337856",
    "0.0075617481897870134", "0.007071710690401428",
    "0.006610785113447644", "0.006177430634444117", "0.005770175151050935",
    "0.005387613055526676", "0.0050284030250398295",
    "0.004691265833789842", "0.004374982190571073", "0.004078390605101352",
    "0.0038003852861358597", "0.003539914074097407",
    "0.0032959764106755113", "0.003067621347579706",
    "0.0028539455963768837", "0.0026540916210985497",
    "0.002467245775071748", "0.0022926364832066798",
    "0.0021295324707651647", "0.0019772410394365857",
    "0.001835106391361818", "0.0017025080015708085", "0.00157885903913558",
    "0.0014636048371873493", "0.0013562214118039814",
    "0.0012562140296417032", "0.0011631158240628307",
    "0.001076486459398664", "0.0009959108428835783",
    "0.0009209978837021604", "0.0008513792985058265",
    "0.0007867084626782406", "0.0007266593065597689",
    "0.0006709252557796953", "0.0006192182147907245",
    "0.000571267592652984", "0.0005268193700739797",
    "0.00048563520667630156", "0.0004474915874362287",
    "0.0004121790072129495", "0.00037950119227007944",
    "0.00034927435767769806", "0.00032132649947428385",
    "0.0002954967204631142", "0.0002716345885168295",
    "0.0002495995262663892", "0.00022926023105656365",
    "0.00021049412405884258", "0.00019318682744419392",
    "0.0001772316685319751", "0.0001625292098474702",
    "0.00014898680403854827", "0.00013651817262177635",
    "0.00012504300754960976", "0.00011448659461295154",
    "0.00010477945771712402", "9.585702309404538e-05",
    "8.765930253891902e-05", "8.013059478589699e-05",
    "7.321920416385014e-05", "6.687717570036446e-05",
    "6.106004586935535e-05", "5.572660820503812e-05",
    "5.083869303239775e-05", "4.6360960591592845e-05",
    "4.226070686088362e-05", "3.850768140955769e-05",
    "3.507391663892059e-05", "3.1933567795609474e-05",
    "2.9062763167262682e-05", "2.643946389585219e-05",
    "2.404333286873792e-05", "2.185561217168994e-05",
    "1.9859008611702142e-05", "1.8037586840386127e-05",
    "1.637666963103639e-05", "1.4862744884107476e-05",
    "1.348337895680141e-05", "1.2227135932742845e-05",
    "1.1083502467293168e-05", "1.0042817862938677e-05",
    "9.096209047365309e-06", "8.235530144320985e-06",
    "7.453306344157342e-06", "6.742681797056346e-06",
    "6.097371267379712e-06", "5.5116153023536825e-06",
    "4.980138682419505e-06", "4.498111934064693e-06",
    "4.061115698807367e-06", "3.6651077642595475e-06",
    "3.306392574855062e-06", "2.981593050916147e-06",
    "2.687624555263038e-06", "2.421670856565513e-06",
    "2.181161948107974e-06", "1.9637535896136362e-06",
    "1.767308448263132e-06", "1.5898787230698281e-06",
    "1.4296901443559026e-06", "1.2851272472274098e-06",
    "1.1547198246931898e-06", "1.0371304724272216e-06",
    "9.311431431566206e-07", "8.356526342833311e-07",
    "7.496549376350482e-07", "6.722383852050892e-07",
    "6.025755293990697e-07", "5.399157006726028e-07",
    "4.835781895349462e-07", "4.329460037221953e-07",
    "3.8746015492496615e-07", "3.466144328024234e-07",
    "3.099506271405799e-07", "2.7705416192983033e-07",
    "2.475501078572927e-07", "2.2109954224453115e-07",
    "1.9739622782211928e-07", "1.7616358392921114e-07",
    "1.5715192576919562e-07", "1.401359492507396e-07",
    "1.2491244070635492e-07", "1.1129819241640532e-07",
    "9.912810638344996e-08", "8.825347020763e-08", "7.85403902156885e-08",
    "6.986836820115313e-08", "6.212900924755241e-08",
    "5.5224849136560896e-08", "4.906829079430924e-08",
    "4.358064010730018e-08", "3.869123224946008e-08",
    "3.433664040870202e-08", "3.045995948942526e-08")

  /** Asymptotic p-value for a scaled KS statistic `z` (= `ks_z` from
    * [[ksTwoSample]] and friends): P(K > z) under the null, via
    * linear interpolation on [[KolmogorovQGrid]]. Semantics at the
    * edges are stated, not accidental: z < 0.30 → 1.0 (the null is
    * not rejectable that low — true Q(0.30) ≈ 0.99999); z ≥ 3.00 →
    * the grid-end value ≈ 3.0e−8 (any real decision threshold was
    * crossed long before); NULL z (degenerate cohort) → NULL p. The
    * whole dag — (z−0.30)·100, floor, two element_at lookups, one
    * multiply-add — is bitwise-replayable in the oracle.
    */
  /** Shared literal-grid linear interpolation: value at `x` over a
    * grid tabulated from `start` in steps of 0.01 — the one IEEE dag
    * ((x−start)·100, floor, two element_at lookups, one multiply-add)
    * every tabulated distribution in this file rides, engine-side.
    * Callers own the edge semantics (below-start / past-end clamps)
    * with their own when-branches; this evaluates the INTERIOR only.
    */
  private def gridInterp(grid: Seq[String], x: Column, start: Double,
      scale: Double = 100.0): Column = {
    val arr = array(grid.map(s => lit(s.toDouble)): _*)
    val t = (x - lit(start)) * lit(scale)
    val i = floor(t)                      // long in Spark, same value as the oracle's FLOOR double
    val frac = t - i.cast("double")
    val lo = element_at(arr, (i + lit(1L)).cast("int"))
    val hi = element_at(arr, (i + lit(2L)).cast("int"))
    lo + (hi - lo) * frac
  }

  /** `e0` forces DuckDB to parse a literal as DOUBLE: a bare decimal
    * literal in a list is typed DECIMAL, and the decimal→double
    * conversion can land one ulp off the correctly rounded direct
    * parse (observed on the q160 grid). */
  private def sqlDouble(s: String): String =
    if (s.contains("e") || s.contains("E")) s else s + "e0"

  /** The oracle-side rendering of [[gridInterp]]: the SAME literal
    * digits and the SAME interpolation dag as DuckDB SQL, so engine
    * and oracle cannot drift by a ulp. */
  private def gridInterpSql(grid: Seq[String], xExpr: String, start: String,
      scale: String = "100.0"): String = {
    val lst = grid.map(sqlDouble).mkString("[", ", ", "]")
    s"""list_extract($lst,
       |      CAST(FLOOR((($xExpr) - $start) * $scale) AS BIGINT) + 1)
       |    + (list_extract($lst,
       |        CAST(FLOOR((($xExpr) - $start) * $scale) AS BIGINT) + 2)
       |      - list_extract($lst,
       |        CAST(FLOOR((($xExpr) - $start) * $scale) AS BIGINT) + 1))
       |    * ((($xExpr) - $start) * $scale - FLOOR((($xExpr) - $start) * $scale))""".stripMargin
  }

  def kolmogorovPValue(z: Column): Column =
    when(z.isNull, lit(null).cast("double"))
      .when(z < lit(0.30), lit(1.0))
      .when((z - lit(0.30)) * lit(100.0) >= lit(270.0),
        lit(KolmogorovQGrid.last.toDouble))
      .otherwise(gridInterp(KolmogorovQGrid, z, 0.30))

  /** The oracle-side rendering of [[kolmogorovPValue]] over a column
    * expression `zExpr`: the SAME literal digits and the SAME
    * interpolation dag as DuckDB SQL, so engine and oracle cannot
    * drift by a ulp. Kept next to the grid so the two surfaces share
    * one source of truth.
    */
  def kolmogorovPValueSql(zExpr: String): String =
    s"""CASE WHEN ($zExpr) IS NULL THEN NULL
       |  WHEN ($zExpr) < 0.30 THEN 1.0
       |  WHEN (($zExpr) - 0.30) * 100.0 >= 270.0 THEN ${sqlDouble(KolmogorovQGrid.last)}
       |  ELSE ${gridInterpSql(KolmogorovQGrid, zExpr, "0.30")}
       |END""".stripMargin

  /** Standard-normal SURVIVAL function 1 − Φ(z), tabulated at
    * z = 0.00 + i·0.01 for i = 0..600 — same single-source-of-digits
    * rationale as [[KolmogorovQGrid]] (erf is not ulp-portable;
    * a shared literal grid is). Tabulating the survival function
    * directly — not Φ — keeps full relative precision in the tail
    * where 1 − Φ(z) underflows the subtraction (generated once with
    * erfc(z/√2)/2). Scores EVERY z-statistic the engine emits:
    * Mann–Whitney rank-sum z, CUSUM-style standardized shifts,
    * Spearman/Kendall large-sample z.
    */
  val NormalSfGrid: Seq[String] = Seq(
    "0.5", "0.4960106436853684", "0.492021686283098",
    "0.48803352658588733", "0.48404656314716926", "0.4800611941616275",
    "0.47607781734589316", "0.47209682981947887", "0.4681186279860126",
    "0.4641436074148279", "0.460172162722971", "0.4562046874576832",
    "0.45224157397941617", "0.44828321334543886", "0.44432999519409355",
    "0.4403823076297575", "0.4364405371085672", "0.4325050683249616",
    "0.4285762840990993", "0.42465456526520456", "0.420740290560897",
    "0.4168338365175577", "0.4129355773517854", "0.40904588485799415",
    "0.4051651283022042", "0.4012936743170763", "0.3974318867982395",
    "0.3935801268019605", "0.3897387524442028", "0.3859081188011227",
    "0.3820885778110474", "0.3782804781779807", "0.37448416527668",
    "0.3706999810593465", "0.36692826396397193", "0.3631693488243809",
    "0.35942356678200876", "0.3556912451994533", "0.3519727075758372",
    "0.3482682734640176", "0.3445782583896758", "0.3409029737723226",
    "0.3372427268482495", "0.3335978205954577", "0.32996855366059363",
    "0.32635522028792", "0.32275811025034773", "0.3191775087825558",
    "0.3156136965162226", "0.31206694941739055", "0.3085375387259869",
    "0.30502573089751944", "0.3015317875469662", "0.29805596539487644",
    "0.29459851621569805", "0.29115968678834636", "0.28773971884902705",
    "0.2843388490463241", "0.28095730889856435", "0.27759532475346493",
    "0.2742531177500736", "0.2709309037830057", "0.26762889346898305",
    "0.26434729211567753", "0.2610862996928616", "0.2578461108058647",
    "0.25462691467133614", "0.25142889509531013", "0.24825223045357053",
    "0.24509709367430946", "0.241963652223073", "0.23885206808998674",
    "0.23576249777925118", "0.23269509230089744", "0.22964999716479065",
    "0.2266273523768682", "0.22362729243759943", "0.22064994634264962",
    "0.21769543758573318", "0.21476388416363712", "0.2118553985833967",
    "0.2089700878716016", "0.20610805358581305", "0.2032693918280684",
    "0.20045419326044972", "0.1976625431226924", "0.19489452125180837",
    "0.1921502021036962", "0.18942965477671214", "0.18673294303717264",
    "0.1840601253467595", "0.18141125489179724", "0.17878637961437172",
    "0.17618554224525795", "0.1736087803386246", "0.1710561263084818",
    "0.16852760746683784", "0.16602324606352964", "0.16354305932769236",
    "0.16108705951083094", "0.15865525393145707", "0.1562476450212546",
    "0.15386423037273483", "0.15150500278834372", "0.14916995033098143",
    "0.14685905637589597", "0.1445722996639096", "0.1423096543559392",
    "0.14007109008876906", "0.1378565720320355", "0.13566606094638267",
    "0.13349951324274723", "0.13135688104273072", "0.12923811224001783",
    "0.12714315056279824", "0.12507193563715024", "0.1230244030513434",
    "0.12100048442101821", "0.11900010745520073", "0.11702319602310876",
    "0.1150696702217083", "0.1131394464439773", "0.11123243744783462",
    "0.10934855242569194", "0.10748769707458694", "0.10564977366685528",
    "0.10383468112130041", "0.10204231507481915", "0.10027256795444212",
    "0.09852532904974785", "0.09680048458561034", "0.09509791779523905",
    "0.0934175089934718", "0.09175913565028083", "0.09012267246445248",
    "0.08850799143740204", "0.08691496194708502", "0.08534345082196698",
    "0.08379332241501426", "0.08226443867766894", "0.08075665923377104",
    "0.07926984145339241", "0.07780384052654642", "0.07635850953673912",
    "0.07493369953432706", "0.07352925960964835", "0.07214503696589378",
    "0.07078087699168557", "0.06943662333333175", "0.06811211796672548",
    "0.06680720126885809", "0.06552171208891651", "0.06425548781893584",
    "0.06300836446397842", "0.06178017671181189", "0.060570758002059",
    "0.059379940594793054", "0.05820755563855304", "0.05705343323775424",
    "0.055917402519469445", "0.054799291699558", "0.053698928148119704",
    "0.052616138454252045", "0.05155074849008935", "0.0505025834741037",
    "0.04947146803364811", "0.048457226266722817", "0.04745968180294734",
    "0.046478657863720074", "0.045513977321549826", "0.044565462758543076",
    "0.04363293652403192", "0.04271622079132894", "0.04181513761359497",
    "0.04092950897880738", "0.04005915686381709", "0.039203903287482654",
    "0.038363570362871253", "0.03753798034851681", "0.03672695569872631",
    "0.03593031911292581", "0.0351478935840388", "0.03437950244589",
    "0.03362496941962834", "0.03288411865916388", "0.032156774795613706",
    "0.031442762980752714", "0.030741908929465964", "0.030054038961199795",
    "0.029378980040409428", "0.028716559816001797", "0.028066606659772505",
    "0.027428949703836834", "0.02680341887705497", "0.0261898449404527",
    "0.025588059521638628", "0.024997895148220435", "0.024419185280222563",
    "0.023851764341508538", "0.023295467750211837", "0.02275013194817922",
    "0.022215594429431464", "0.021691693767646788", "0.021178269642672255",
    "0.020675162866070056", "0.020182215405704414", "0.01969927040937691",
    "0.0192261722275173", "0.01876276643493776", "0.018308899851658983",
    "0.017864420562816563", "0.017429177937657102", "0.0170030226476328",
    "0.01658580668360502", "0.016177383372166093", "0.015777607391090517",
    "0.015386334783925457", "0.015003422973732205", "0.01462873077598926",
    "0.014262118410668883", "0.01390344751349861", "0.01355258114641999",
    "0.013209383807256277", "0.012873721438602026", "0.012545461435946571",
    "0.012224472655044704", "0.011910625418547064", "0.011603791521903542",
    "0.011303844238552789", "0.011010658324411393", "0.0107241100216758",
    "0.010444077061951088", "0.010170438668719688", "0.009903075559164252",
    "0.009641869945358341", "0.009386705534838575", "0.009137467530572676",
    "0.00889404263033678", "0.008656319025516558", "0.008424186399345696",
    "0.008197535924596138", "0.00797626026073373", "0.0077602535505536495",
    "0.007549411416309206", "0.007343630955348351", "0.007142810735271422",
    "0.006946850788624317", "0.006755652607140651", "0.006569119135546768",
    "0.006387154764943176", "0.006209665325776139", "0.006036558080412657",
    "0.005867741715332567", "0.005703126332950692", "0.005542623443082606",
    "0.005386145954066688", "0.005233608163555793", "0.005084925748991042",
    "0.004940015757770648", "0.004798796597126188", "0.004661188023718751",
    "0.0045271111329673284", "0.0043964883481213135",
    "0.004269243409089355", "0.004145301361036041", "0.00402458854275831",
    "0.00390703257485278", "0.003792562347685491", "0.003681108009174983",
    "0.003572600952399743", "0.003466973803040668",
    "0.0033641604066691954", "0.0032640958158913114",
    "0.0031667162773577964", "0.003071959218650494",
    "0.0029797632350545573", "0.0028900680762261465",
    "0.002802814632765031", "0.002717944922701258",
    "0.0026354020779049544", "0.002555130330427932",
    "0.0024770749987858627", "0.0024011824741892547",
    "0.0023274002067315545", "0.002255676691542325",
    "0.002185961454913241", "0.0021182050404046217",
    "0.0020523589949397536", "0.001988375854894326",
    "0.0019262091321878595", "0.0018658133003840384",
    "0.001807143780806431", "0.0017501569286761", "0.001694810019277264",
    "0.0016410612341569999", "0.0015888696473648695",
    "0.001538195211738061", "0.0014889987452374662",
    "0.0014412419173400165", "0.0013948872354922503",
    "0.0013498980316300957", "0.0013062384487694675",
    "0.0012638734276722993", "0.0012227686935922595",
    "0.001182890743104407", "0.001144206831022698", "0.001106684957409247",
    "0.0010702938546789228", "0.0010350029748028412",
    "0.0010007824766140113", "0.0009676032132183562", "0.0009354367195141",
    "0.0009042551998223413", "0.0008740315156315671",
    "0.0008447391734586283", "0.0008163523128285638",
    "0.000788845694375574", "0.0007621946880672362",
    "0.0007363752615539311", "0.0007113639686453651",
    "0.0006871379379158485", "0.0006636748614399685",
    "0.0006409529836600562", "0.0006189510903868353",
    "0.0005976484979344155", "0.0005770250423907673",
    "0.0005570610690246212", "0.0005377374218296951",
    "0.0005190354332069723", "0.0005009369137857221",
    "0.0004834241423837776", "0.00046647985610754917",
    "0.00045008724059211763", "0.0004342299203816562",
    "0.00041889194945036984", "0.00040405780186402167",
    "0.00038971236258203255", "0.0003758409184000837",
    "0.0003624291490330445", "0.00034946311833797153",
    "0.0003369292656768815", "0.0003248143974188781",
    "0.0003131056785812004", "0.00030179062460863735",
    "0.0002908570932907435", "0.00028029327681617733",
    "0.00027008769396347486", "0.0002602291824274666",
    "0.00025070689128053777", "0.000241510273567836",
    "0.00023262907903552504", "0.00022405334699109308",
    "0.00021577339929471746", "0.0002077798334806214",
    "0.00020006351600732056", "0.0001926155756356333",
    "0.00018542739693327818", "0.00017849061390484737",
    "0.00017179710374593096", "0.00016533898072011003",
    "0.000159108590157534", "0.0001530985025737555",
    "0.00014730150790747266", "0.0001417106098758194",
    "0.000136319020445802", "0.00013112015442048473",
    "0.0001261076241384867", "0.00012127523428535801",
    "0.00011661697681536816", "0.00011212702598224715",
    "0.00010779973347738823", "0.00010362962367403113",
    "9.961138897591672e-05", "9.573988526891472e-05",
    "9.20101274741056e-05", "8.841728520080404e-05",
    "8.495667849799792e-05", "8.162377370268624e-05",
    "7.841417938358505e-05", "7.532364237868339e-05",
    "7.234804392511996e-05", "6.948339587986525e-05",
    "6.672583702968468e-05", "6.40716294888746e-05",
    "6.151715518325535e-05", "5.905891241892255e-05",
    "5.66935125342567e-05", "5.441767663369977e-05",
    "5.2228232401820196e-05", "5.012211099618836e-05",
    "4.809634401760275e-05", "4.6148060556208884e-05",
    "4.427448431207074e-05", "4.2472930788761255e-05",
    "4.074080455855082e-05", "3.907559659778755e-05",
    "3.7474881691073525e-05", "3.593631590285384e-05",
    "3.445763411505314e-05", "3.303664762940245e-05",
    "3.1671241833119965e-05", "3.035937392661827e-05",
    "2.9099070711930933e-05", "2.788842644056394e-05",
    "2.6725600719492107e-05", "2.5608816474041537e-05",
    "2.4536357966409675e-05", "2.3506568868595562e-05",
    "2.251785038852544e-05", "2.1568659448180613e-05",
    "2.0657506912546785e-05", "1.9782955868224065e-05",
    "1.8943619950553294e-05", "1.8138161718130913e-05",
    "1.7365291073604076e-05", "1.6623763729652247e-05",
    "1.59123797190822e-05", "1.5229981947977917e-05",
    "1.457545479086707e-05", "1.3947722726881248e-05",
    "1.3345749015906346e-05", "1.2768534413734974e-05",
    "1.2215115925253059e-05", "1.1684565594707412e-05",
    "1.117598933212056e-05", "1.068852577493443e-05",
    "1.0221345183984087e-05", "9.773648372917575e-06",
    "9.344665670196367e-06", "8.933655912827006e-06",
    "8.539905470991816e-06", "8.162727302763068e-06",
    "7.801460038101353e-06", "7.455467091355144e-06",
    "7.124135801495344e-06", "6.8068765993340456e-06",
    "6.503122200992803e-06", "6.212326826901516e-06",
    "5.933965445624682e-06", "5.667533041826754e-06",
    "5.412543907703858e-06", "5.168530957224143e-06",
    "4.935045062533279e-06", "4.711654411897247e-06",
    "4.49794388856791e-06", "4.293514469971871e-06",
    "4.0979826466363635e-06", "3.91097986028071e-06",
    "3.7321519605144834e-06", "3.5611586795975568e-06",
    "3.3976731247300615e-06", "3.2413812873533944e-06",
    "3.0919815689561772e-06", "2.9491843228915214e-06",
    "2.8127114117242163e-06", "2.6822957796388553e-06",
    "2.5576810394515236e-06", "2.4386210737794265e-06",
    "2.324879649934414e-06", "2.2162300481175476e-06",
    "2.112454702502846e-06", "2.01334485480934e-06",
    "1.9187002199708997e-06", "1.8283286635241654e-06",
    "1.7420458903446622e-06", "1.659675144371462e-06",
    "1.5810469189705114e-06", "1.505998677596157e-06",
    "1.4343745844201367e-06", "1.3660252446061406e-06",
    "1.3008074539172811e-06", "1.2385839573524714e-06",
    "1.1792232165163983e-06", "1.1225991854361736e-06",
    "1.068591094545936e-06", "1.0170832425687061e-06",
    "9.679647960327358e-07", "9.211295961671407e-07",
    "8.764759729292051e-07", "8.339065659229123e-07",
    "7.933281519755974e-07", "7.54651479146369e-07",
    "7.177911069469002e-07", "6.826652525616645e-07",
    "6.491956428613363e-07", "6.17307372009195e-07",
    "5.869287644666383e-07", "5.579912432097827e-07",
    "5.304292029750949e-07", "5.041798883575366e-07",
    "4.791832765903205e-07", "4.553819648407319e-07",
    "4.32721061861702e-07", "4.11148083843931e-07",
    "3.906128543183264e-07", "3.7106740796333366e-07",
    "3.524658981764252e-07", "3.347645082736184e-07",
    "3.179213661852819e-07", "3.0189646252084903e-07",
    "2.866515718791946e-07", "2.7215017728558263e-07",
    "2.583573976399724e-07", "2.452399180653704e-07",
    "2.327659230486002e-07", "2.2090503226954393e-07",
    "2.0962823901836944e-07", "1.989078511037129e-07",
    "1.887174341580603e-07", "1.790317572498343e-07",
    "1.6982674071475984e-07", "1.6107940612213792e-07",
    "1.5276782829456663e-07", "1.4487108930250856e-07",
    "1.37369234357842e-07", "1.3024322953320162e-07",
    "1.234749212365168e-07", "1.1704699737263197e-07",
    "1.1094295012634682e-07", "1.0514704030354067e-07",
    "9.964426316933493e-08", "9.442031572442989e-08",
    "8.946156536290777e-08", "8.475501985682846e-08",
    "8.028829861495894e-08", "7.604960516488726e-08",
    "7.202770080965975e-08", "6.821187941186212e-08",
    "6.459194325982505e-08", "6.115817997230601e-08",
    "5.790134039964602e-08", "5.481261748095644e-08",
    "5.188362601842433e-08", "4.91063833312855e-08",
    "4.647329075344128e-08", "4.397711594005888e-08",
    "4.161097594981976e-08", "3.936832107075916e-08",
    "3.724291935887128e-08", "3.522884185984314e-08",
    "3.3320448485428574e-08", "3.151237451708228e-08",
    "2.9799517710536358e-08", "2.817702597603999e-08",
    "2.66402856099672e-08", "2.5184910054461153e-08",
    "2.3806729162700414e-08", "2.2501778948268612e-08",
    "2.1266291797959174e-08", "2.009668712817647e-08",
    "1.8989562465887738e-08", "1.794168493584716e-08",
    "1.6949983136550827e-08", "1.6011539388090975e-08",
    "1.5123582335761027e-08", "1.4283479893922777e-08",
    "1.3488732515278421e-08", "1.2736966771299924e-08",
    "1.2025929230154949e-08", "1.1353480619032212e-08",
    "1.0717590258310892e-08", "1.0116330755541395e-08",
    "9.54787294770429e-09", "9.010481080699081e-09",
    "8.50250821547508e-09", "8.022391850663509e-09",
    "7.568649751997724e-09", "7.139875979218421e-09",
    "6.734737101557545e-09", "6.351968593271952e-09",
    "5.990371401063533e-09", "5.648808675570941e-09",
    "5.326202659455511e-09", "5.02153172492452e-09",
    "4.733827553845582e-09", "4.4621724539016125e-09",
    "4.205696804522029e-09", "3.9635766265976285e-09",
    "3.735031270249742e-09", "3.519321215174624e-09",
    "3.315745978326164e-09", "3.123642123930022e-09",
    "2.942381371044379e-09", "2.771368794094646e-09",
    "2.6100411120129147e-09", "2.4578650618080318e-09",
    "2.3143358525785706e-09", "2.1789756961605694e-09",
    "2.051332410772609e-09", "1.930978094185322e-09",
    "1.8175078630994357e-09", "1.7105386555670103e-09",
    "1.6097080934342552e-09", "1.5146734019226618e-09",
    "1.4251103835965671e-09", "1.3407124440918767e-09",
    "1.2611896671010989e-09", "1.1862679362257337e-09",
    "1.1156881014171702e-09", "1.0492051878331574e-09",
    "9.865876450377012e-10")

  /** Two-sided normal p-value 2·(1 − Φ(|z|)) for a standardized test
    * statistic, via linear interpolation on [[NormalSfGrid]].
    * |z| ≥ 6 clamps to 2·(grid end) ≈ 2.0e−9 (stated; any decision
    * threshold was crossed long before); NULL z → NULL p. The ·2 and
    * the abs ride the same replayable dag as the interpolation.
    */
  def normalPTwoSided(z: Column): Column = {
    val az = abs(z)
    when(z.isNull, lit(null).cast("double"))
      .when(az * lit(100.0) >= lit(600.0),
        lit(2.0) * lit(NormalSfGrid.last.toDouble))
      .otherwise(lit(2.0) * gridInterp(NormalSfGrid, az, 0.0))
  }

  /** Oracle-side rendering of [[normalPTwoSided]] — same digits,
    * same dag, as DuckDB SQL. */
  def normalPTwoSidedSql(zExpr: String): String =
    s"""CASE WHEN ($zExpr) IS NULL THEN NULL
       |  WHEN ABS($zExpr) * 100.0 >= 600.0
       |    THEN 2.0 * ${sqlDouble(NormalSfGrid.last)}
       |  ELSE 2.0 * (${gridInterpSql(NormalSfGrid, s"ABS($zExpr)", "0.0")})
       |END""".stripMargin
}
