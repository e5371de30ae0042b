package graft.operators

import graft.CacheLifecycle.FreshPersist
import graft.AdaptiveCache.CensusPersist
import graft.Limits
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Column profiling: the "describe every column" DQ primitive (the
  * reference's per-table census generalized to per-column statistics;
  * cf. `pre_and_post_etl_checks.py`'s row-count/max-date census and
  * Deequ-style profilers).
  *
  * ONE scan computes every metric for every requested column — the
  * per-column work rides in a single wide aggregate rather than a
  * job per column, so profiling 50 columns costs one pass over the
  * data plus an expand for the distinct counts. Per column:
  * non-null count, null count, exact distinct count, min, max, mean,
  * sample stddev.
  *
  * Mean and stddev are derived from EXACT decimal sums (values cast
  * to DECIMAL(18,2) — exact for currency/quantity-style data), with
  * the final formula evaluated in double from those exact sums:
  * deterministic regardless of partitioning and engine (a plain
  * double sum's value depends on partition order, which would make
  * the result both nondeterministic and oracle-unmatchable).
  * stddev = sqrt((Σx² − (Σx)²/n) / (n−1)) — the two-pass-free form;
  * Σx² in DECIMAL(38,4) overflows only past 10³⁴.
  */
object Profiling {

  /** Long-format profile of `cols` (all numeric columns when empty):
    * one row per column — (column, n, n_null, n_distinct, min, max,
    * mean, stddev). `stddev` is null for n < 2, `mean` null for
    * n == 0, matching stddev_samp/avg conventions.
    */
  def profileNumeric(df: DataFrame, cols: Seq[String] = Seq.empty,
      exactDistinct: Boolean = true): DataFrame = {
    val target =
      if (cols.nonEmpty) cols
      else df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[NumericType] => f.name
      }.toSeq
    require(target.nonEmpty, "no numeric columns to profile")
    // The 100 TB mode: HyperLogLog++ distinct counts are plain
    // (mergeable, no Expand) aggregates, so the second pass folds
    // back into the first — ONE scan total — at ~2% cardinality
    // error. Exact mode stays the default (and the oracle target).
    if (!exactDistinct) return profileNumericApprox(df, target)
    // Two one-row aggregates, not one: Spark plans multiple DISTINCT
    // aggregates via Expand (k+1 row copies), and every copy then
    // runs EVERY aggregate's update path — mixing the 5 plain
    // aggregates per column into the same Aggregate as the distincts
    // measured 3× slower than the two passes combined (5.3 s vs
    // 1.8 s at 600k rows). Scans are columnar and cheap; the expand
    // blow-up is not. The two 1-row results cross-join for free.
    val plainAggs = target.flatMap { c =>
      val d = col(c).cast("decimal(18,2)")
      Seq(
        count(col(c)).as(s"${c}__n"),
        (count(lit(1)) - count(col(c))).as(s"${c}__n_null"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        sum(d).as(s"${c}__sum"),
        sum(d * d).as(s"${c}__sumsq"))
    }
    val distinctAggs = target.map { c =>
      count_distinct(col(c)).as(s"${c}__n_distinct")
    }
    val wide = df.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(df.agg(distinctAggs.head, distinctAggs.tail: _*))
    explodeNumericEntries(wide, target)
  }

  /** One row in, |cols| rows out: explode an array of per-column
    * structs built from the wide aggregate (driver-free, plan-side).
    * Shared by the exact and approx modes so the output shape — and
    * the stddev radicand clamp: double rounding of exact decimal sums
    * past 2^53 can land one ulp below zero → NaN for constant
    * columns; greatest(.,0) is the true value in exactly those cases,
    * mirrored in the oracle SQL — cannot drift between them.
    */
  private def explodeNumericEntries(wide: DataFrame, target: Seq[String]): DataFrame = {
    val entries = array(target.map { c =>
      val n = col(s"${c}__n").cast("double")
      val s = col(s"${c}__sum").cast("double")
      val sq = col(s"${c}__sumsq").cast("double")
      struct(
        lit(c).as("column"),
        col(s"${c}__n").as("n"),
        col(s"${c}__n_null").as("n_null"),
        col(s"${c}__n_distinct").as("n_distinct"),
        col(s"${c}__min").as("min"),
        col(s"${c}__max").as("max"),
        when(col(s"${c}__n") > 0, s / n).as("mean"),
        when(col(s"${c}__n") > 1,
          sqrt(greatest(sq - s * s / n, lit(0.0)) / (n - lit(1.0)))).as("stddev"))
    }: _*)
    wide.select(explode(entries).as("p")).select(col("p.*"))
  }

  /** Single-aggregate profile with approx_count_distinct: every
    * metric for every column in literally ONE scan and one 1-row
    * aggregate — no Expand (HLL sketches are plain mergeable
    * aggregates), no second pass, no crossJoin.
    */
  private def profileNumericApprox(df: DataFrame, target: Seq[String]): DataFrame = {
    val aggs = target.flatMap { c =>
      val d = col(c).cast("decimal(18,2)")
      Seq(
        count(col(c)).as(s"${c}__n"),
        (count(lit(1)) - count(col(c))).as(s"${c}__n_null"),
        approx_count_distinct(col(c)).as(s"${c}__n_distinct"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        sum(d).as(s"${c}__sum"),
        sum(d * d).as(s"${c}__sumsq"))
    }
    explodeNumericEntries(df.agg(aggs.head, aggs.tail: _*), target)
  }

  /** Per-dimension embedding profile: one row per vector dimension —
    * (dim, n, min, max, mean, stddev). The collapsed-dimension /
    * dead-channel diagnostic for embedding corpora: a dimension whose
    * stddev ≈ 0 carries no information (dead encoder output), and a
    * mean drifting from a sibling corpus's flags representation
    * drift.
    *
    * Engine-exact by fixed-point quantization, NOT by casting doubles
    * to decimal — engines disagree on that cast (Spark goes through
    * the shortest string representation, DuckDB converts the exact
    * binary value; the sums then differ in the last ulps). Instead
    * each value is scaled to an integer with half-even rounding —
    * w = bround(v·10¹⁵), all IEEE-deterministic (bround ↔ round_even,
    * the q04 idiom) — and the w / w² sums are exact integer decimal
    * arithmetic, independent of partitioning, row order, and engine.
    * The sums convert to double THROUGH A STRING on both sides
    * (string→double parsing is correctly rounded everywhere; the
    * engines' native decimal→double casts are not), and mean/stddev
    * evaluate in fixed-order double arithmetic from there. The 10⁻¹⁵
    * quantization is far below float32 input precision (2⁻²⁴ ≈ 6e-8
    * relative), so the profile is exact for any real embedding;
    * components must be |v| ≲ 10³ for the scaled double to stay
    * integer-exact (unit-norm-ish vectors trivially are).
    *
    * Plan: posexplode (×dim rows, map-side) → one grouped aggregate
    * keyed on dim — partial aggregation means each task emits ≤ dim
    * partial rows regardless of input size.
    */
  def profileEmbedding(df: DataFrame, vecCol: String): DataFrame = {
    val v = col("col")
    val w = bround(v * lit(1e15)).cast("decimal(20,0)")
    val n = col("n").cast("double")
    val sD = col("_s").cast("string").cast("double") / lit(1e15)
    val sqD = col("_sq").cast("string").cast("double") / lit(1e30)
    df.select(posexplode(transform(col(vecCol), x => x.cast("double"))))
      .groupBy(col("pos"))
      .agg(
        count(lit(1)).as("n"),
        min(v).as("min_v"),
        max(v).as("max_v"),
        sum(w).as("_s"),
        sum(w * w).as("_sq"))
      .select(
        col("pos").cast("bigint").as("dim"),
        col("n"),
        col("min_v"),
        col("max_v"),
        (sD / n).as("mean"),
        sqrt(greatest(sqD - sD * sD / n, lit(0.0)) / (n - lit(1.0))).as("stddev"))
  }

  /** Pairwise dimension covariance / correlation of an embedding
    * column — one row per dimension pair (i < j): (dim_i, dim_j, n,
    * cov, corr). The redundancy diagnostic that [[profileEmbedding]]
    * can't see: two dimensions with |corr| ≈ 1 carry one dimension of
    * information (an encoder defect), and the full matrix is the
    * input to PCA-whitening and to selecting decorrelated dimensions
    * for cheap pre-filters.
    *
    * Same fixed-point scheme as [[profileEmbedding]], tuned for the
    * dim²-per-row hot loop: values half-even quantize to 10⁶-scaled
    * LONGS (not 10¹⁵ decimals) so the pair products are single 64-bit
    * multiplies — exact for |v| ≲ 3·10³ (|w| ≤ 3·10⁹ ⇒ |wᵢwⱼ| < 2⁶³)
    * — and only the aggregation sums widen to decimal. Σwᵢ, Σwᵢ²,
    * Σwᵢwⱼ stay exact integer arithmetic (order- and engine-
    * independent), convert to double through a string, and combine in
    * one fixed expression order. The coarser 10⁻⁶ grid is ~10× below
    * float32's relative precision near |v|≈1 — right for a
    * redundancy diagnostic; [[profileEmbedding]] keeps the 10⁻¹⁵ grid
    * where per-dimension exactness is the point.
    * cov = (Σxy − ΣxΣy/n)/(n−1); corr divides by the same-sum
    * variance radicands (clamped at 0, the q55 lesson).
    *
    * Plan: each row emits its dim·(dim−1)/2 products map-side
    * (flatten/transform over index sequences — no self-join, the
    * vector never shuffles) into ONE grouped aggregate keyed on
    * (i,j); partial aggregation bounds every task's output at
    * dim²/2 rows regardless of row count, and the per-dimension sums
    * join on broadcast-sized frames. O(dim²) work per row is the
    * covariance lower bound; dim ≲ a few thousand is the practical
    * ceiling (4096-dim ⇒ 8.4M partials per task — still fine).
    */
  def embeddingCovariance(df: DataFrame, vecCol: String): DataFrame = {
    val wArr = transform(col(vecCol), x => bround(x.cast("double") * lit(1e6)).cast("long"))
    val quantized = df.select(wArr.as("_w"))
    // native upper-triangle expansion (codegen'd nested loop) — the
    // HOF spelling (nested transform over index sequences + flatten)
    // is spec-pinned equal but pays interpreted-lambda cost per
    // element of the dim²/2 expansion
    val pairAgg = quantized
      .select(explode(graft.functions.UpperTrianglePairs(col("_w"))).as("p"))
      .groupBy(col("p.i"), col("p.j"))
      .agg(count(lit(1)).as("n"), sum(col("p.wij").cast("decimal(38,0)")).as("_sxy"))
    val dimAgg = quantized
      .select(posexplode(col("_w")).as(Seq("pos", "w")))
      .groupBy(col("pos"))
      .agg(
        sum(col("w").cast("decimal(20,0)")).as("_s"),
        sum((col("w") * col("w")).cast("decimal(38,0)")).as("_sq"))
    def d(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c.cast("string").cast("double")
    val n = col("n").cast("double")
    val sx = d(col("a._s")) / lit(1e6)
    val sy = d(col("b._s")) / lit(1e6)
    val sqx = d(col("a._sq")) / lit(1e12)
    val sqy = d(col("b._sq")) / lit(1e12)
    val sxy = d(col("_sxy")) / lit(1e12)
    val cxy = sxy - sx * sy / n
    pairAgg
      .join(broadcast(dimAgg.as("a")), col("i") === col("a.pos"))
      .join(broadcast(dimAgg.as("b")), col("j") === col("b.pos"))
      .select(
        col("i").cast("bigint").as("dim_i"),
        col("j").cast("bigint").as("dim_j"),
        col("n"),
        (cxy / (n - lit(1.0))).as("cov"),
        (cxy / sqrt(greatest(sqx - sx * sx / n, lit(0.0)) *
          greatest(sqy - sy * sy / n, lit(0.0)))).as("corr"))
  }

  /** Type-agnostic profile of `cols` (string/date/bool/anything
    * orderable): one row per column — (column, n, n_null, n_distinct,
    * min, max) with min/max rendered as strings. Same one-scan wide
    * aggregate + two-aggregate distinct split as [[profileNumeric]].
    */
  def profileGeneral(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val plainAggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__n"),
        (count(lit(1)) - count(col(c))).as(s"${c}__n_null"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val distinctAggs = cols.map { c =>
      count_distinct(col(c)).as(s"${c}__n_distinct")
    }
    val wide = df.agg(plainAggs.head, plainAggs.tail: _*)
      .crossJoin(df.agg(distinctAggs.head, distinctAggs.tail: _*))
    val entries = array(cols.map { c =>
      struct(
        lit(c).as("column"),
        col(s"${c}__n").as("n"),
        col(s"${c}__n_null").as("n_null"),
        col(s"${c}__n_distinct").as("n_distinct"),
        col(s"${c}__min").as("min"),
        col(s"${c}__max").as("max"))
    }: _*)
    wide.select(explode(entries).as("p")).select(col("p.*"))
  }

  /** Per-column top-k most frequent values, long format — (column,
    * value, n_rows, rank), rank 1..k per column. Values are compared
    * and tie-broken AS THEIR STRING RENDERING (the cast below): that
    * is what makes one pass over heterogeneous columns possible and
    * the order engine-portable for string columns; an oracle over a
    * non-string column must state the same cast, or numeric ties
    * ("10" < "2") will diverge from native order.
    *
    * ONE pass: every row contributes its (column, value) pairs to a
    * single exploded stream, one grouped count, then the same salted
    * two-phase top-k as [[Sampling.capPerGroup]] — rank within
    * (column, salt) first, so a high-cardinality column's distinct
    * values never funnel through a single-task sort. Exact by the
    * usual containment argument over the (n_rows desc, value asc)
    * total order.
    */
  /** Mergeable distinct-count sketch table (DataSketches HLL via the
    * built-in `hll_sketch_agg` family): one binary sketch per key
    * group, storable at rest and unioned later WITHOUT rescanning —
    * the incremental shape for "distinct users this month" over
    * daily partitions at 100 TB (day sketches build in each day's
    * ingest; any rollup is a cheap union over kilobyte blobs).
    *
    * HLL register merge is a bucketwise max — associative,
    * commutative, idempotent — so a union of partial sketches yields
    * BIT-IDENTICAL estimates to a single-pass sketch at the same
    * lgK (spec-pinned), and re-merging overlapping spans never
    * double-counts. Spec-only surface: the sketch binary is
    * engine-specific, so there is no cross-engine oracle; exact
    * counterpart is [[graft.operators.Skew.saltedDistinctCount]].
    */
  def distinctSketch(
      df: DataFrame, keyCols: Seq[String], valueCol: String,
      lgK: Int = 12): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lgK).as("sketch"))

  /** Roll sketches up to a coarser key (subset of the sketch table's
    * keys): one `hll_union_agg` pass over kilobyte blobs. */
  def mergeDistinctSketches(
      sketches: DataFrame, keyCols: Seq[String]): DataFrame = {
    val grouped =
      if (keyCols.isEmpty) sketches.groupBy()
      else sketches.groupBy(keyCols.map(col): _*)
    grouped.agg(hll_union_agg(col("sketch"), true).as("sketch"))
  }

  /** Decode a sketch column to its distinct-count estimate. */
  def sketchEstimate(sketches: DataFrame): DataFrame =
    sketches.withColumn("n_distinct_est",
      hll_sketch_estimate(col("sketch")).cast("long"))

  /** Count-min sketch counter table: the mergeable FREQUENCY sketch
    * that answers "how often does key X occur?" in `depth × width`
    * fixed counters regardless of key cardinality — the approximate
    * counterpart of [[keySkew]]'s exact census, and the additive
    * sibling of [[distinctSketch]]'s HLL (counters merge by plain
    * integer addition, any order, never double-count-corrupting).
    * Store one counter table per ingest batch; heavy-hitter probes
    * then run against the merged table without rescanning history.
    *
    * Each key occurrence increments one counter per row r:
    * `bucket = md5_prefix(r ‖ ':' ‖ key) mod width`. The estimate
    * (min over rows of the probed counters) over-counts, never
    * under-counts — collisions only ADD — with the standard
    * (Cormode–Muthukrishnan) error bound n·e/width at confidence
    * 1 − e^−depth. Hashing is the portable 60-bit md5 prefix
    * ([[graft.functions.Md5Expressions]]), so a DuckDB oracle states
    * the identical buckets and the gate hash-checks the sketch, not
    * just its shape.
    *
    * One shuffle of (row, bucket) pairs with map-side partial
    * counts — depth× the input rows in flight but ≤ depth·width rows
    * out, at any input size. Null keys are excluded (count them with
    * [[Checks]] completeness, not a sketch).
    */
  def countMinCounters(
      df: DataFrame, key: Column, depth: Int, width: Int): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth must be in [1,16], got $depth")
    require(width >= 2, s"width must be >= 2, got $width")
    df.filter(key.isNotNull)
      .select(explode(cmsEntries(key, depth, width)).as("e"))
      .select(col("e.row").as("row"), col("e.bucket").as("bucket"))
      .groupBy(col("row"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Merge counter tables (daily shards, backfill batches): union +
    * re-add. Tables must share (depth, width, key rendering). */
  def mergeCountMin(counters: DataFrame*): DataFrame = {
    require(counters.nonEmpty, "at least one counter table required")
    counters.reduce(_.unionByName(_))
      .groupBy(col("row"), col("bucket"))
      .agg(sum(col("n")).as("n"))
  }

  /** Probe a counter table: estimated occurrence count per probe key
    * (min over rows, absent counters = 0). The counter table is
    * depth·width rows — config-sized — so the probe join broadcasts;
    * the probe side streams at any size (typically per-partition
    * candidate heavy hitters, or a fixed watchlist).
    */
  def countMinEstimate(
      counters: DataFrame, probes: DataFrame, key: Column,
      depth: Int, width: Int): DataFrame =
    probes.filter(key.isNotNull)
      .select(key.as("key"), explode(cmsEntries(key, depth, width)).as("e"))
      .join(broadcast(counters),
        col("e.row") === counters("row") &&
          col("e.bucket") === counters("bucket"), "left")
      .groupBy(col("key"))
      .agg(min(coalesce(counters("n"), lit(0L))).as("est_n"))

  /** Equi-join OUTPUT-SIZE estimation from two count-min counter
    * tables — the AMS-family inner-product estimator: for each sketch
    * row r, Σ_bucket nA·nB upper-bounds Σ_key fA(key)·fB(key) (the
    * exact join size — hash collisions only ever ADD cross terms),
    * and the min over rows is the estimate. The planning primitive
    * behind "will this 100 TB join explode?": both operands are
    * depth×width counter tables you already keep per ingest batch
    * ([[countMinCounters]]/[[mergeCountMin]]), so the estimate costs
    * an equi-join of two config-sized tables — no scan of either fact
    * table — and is one-sided like every CMS answer: it never
    * UNDER-estimates, so a green light is trustworthy. Tables must
    * share (depth, width, key rendering). Products and sums run in
    * decimal so counter pairs near 2^31 cannot overflow the
    * accumulation; the final estimate must fit a long.
    */
  def countMinJoinSize(countersA: DataFrame, countersB: DataFrame): DataFrame = {
    val a = countersA.select(col("row"), col("bucket"),
      col("n").cast("decimal(19,0)").as("_na"))
    val b = countersB.select(col("row"), col("bucket"),
      col("n").cast("decimal(19,0)").as("_nb"))
    a.join(b, Seq("row", "bucket"))
      .groupBy(col("row"))
      .agg(sum(col("_na") * col("_nb")).as("_est"))
      .agg(min(col("_est")).cast("long").as("join_size_estimate"))
  }

  /** EXACT equi-join output size without running the join:
    * Σ_key nA(key)·nB(key) over the two per-key censuses — two
    * grouped counts + a census-scale equi-join, never the join's
    * row-scale output. The ground truth [[countMinJoinSize]]
    * upper-bounds, and the detailed per-key version of what
    * [[Skew.joinSkewReport]] ranks. Null keys never join, so both
    * censuses fence them. Returns one row (0 on disjoint keys).
    */
  def joinSizeExact(
      a: DataFrame, keyA: Column, b: DataFrame, keyB: Column): DataFrame = {
    val ca = a.filter(keyA.isNotNull).groupBy(keyA.as("_k"))
      .agg(count(lit(1)).cast("decimal(19,0)").as("_na"))
    val cb = b.filter(keyB.isNotNull).groupBy(keyB.as("_k"))
      .agg(count(lit(1)).cast("decimal(19,0)").as("_nb"))
    ca.join(cb, Seq("_k"))
      .agg(coalesce(sum(col("_na") * col("_nb")).cast("long"), lit(0L))
        .as("join_size"))
  }

  /** The depth (row, bucket) pairs of one key — shared by build and
    * probe so both sides state identical hashing. */
  private def cmsEntries(key: Column, depth: Int, width: Int): Column =
    array((0 until depth).map { r =>
      struct(
        lit(r).as("row"),
        graft.functions.Md5Expressions.md5PrefixLong(
          concat(lit(s"$r:"), key.cast("string")), 15, width.toLong)
          .as("bucket"))
    }: _*)

  /** Equi-width histogram of a numeric column: `bins` buckets over
    * the column's own [min, max], empty buckets included (a drift
    * dashboard needs the zero bars). Nulls are excluded; the max
    * lands in the last bucket (closed upper edge).
    *
    * Two passes by necessity — the bounds must exist before anything
    * can bucket — but each is one scan with map-side partial
    * aggregation, and the one-row stats frame broadcasts back, so
    * the shuffles carry ≤ `bins` rows and one row respectively at
    * any input size. All edge arithmetic is plain IEEE double in
    * the same expression shape on both engines, so bucket boundaries
    * and assignments agree bit-for-bit with the oracle.
    *
    * A degenerate column (min == max, width 0) puts every row in
    * bucket 0 rather than NaN-bucketing.
    *
    * The bounds are pulled to the driver as ONE row and embedded as
    * literals (the config-sized-pull pattern of the IVF centroid
    * fetch): a lazy one-row stats frame would be independently
    * re-computed by both the spine branch and the count branch,
    * turning two data scans into three. Driver-side `(mx−mn)/bins`
    * is the same correctly-rounded IEEE double either engine
    * computes, so edges still hash-match. Eager by consequence: the
    * bounds job runs when `histogram` is called.
    */
  def histogram(df: DataFrame, value: Column, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    // NaN must be fenced with nulls: Spark's max() orders NaN above
    // every double, so a single NaN input would make mx = NaN, hence
    // width/edges/assignments all NaN — and every row would silently
    // vanish from the spine join (the floatAudit rationale).
    val nn = df.filter(value.isNotNull && !isnan(value.cast("double")))
    val bounds = nn
      .agg(min(value).cast("double").as("mn"), max(value).cast("double").as("mx"))
      .head()
    val spine = df.sparkSession.range(0, bins).select(col("id").as("bin"))
    if (bounds.isNullAt(0))
      return spine.limit(0).select(col("bin"),
        lit(0.0).as("lo"), lit(0.0).as("hi"), lit(0L).as("n"))
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    val width = (mx - mn) / bins
    val bin =
      if (mx == mn) lit(0L)
      else least(lit(bins - 1L), floor((value.cast("double") - lit(mn)) / lit(width)))
    val counts = nn.groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    spine
      .join(counts, Seq("bin"), "left")
      .select(
        col("bin"),
        (lit(mn) + col("bin") * lit(width)).as("lo"),
        (lit(mn) + (col("bin") + lit(1L)) * lit(width)).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-group equi-width histogram: [[histogram]] with each group
    * bucketed over ITS OWN [min, max] — the drift-dashboard shape
    * ("price distribution per return flag / per source"). Unlike the
    * global histogram, bounds stay a DataFrame joined back on the
    * group key (no driver pull: the group count is unbounded), so
    * the plan is two data scans + one group-keyed join — broadcast
    * when the group census is small, co-keyed shuffle otherwise.
    * Same IEEE edge expressions, empty bins kept per group, width-0
    * groups collapse to bucket 0.
    */
  def histogramByGroup(
      df: DataFrame, group: Column, value: Column, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    // same NaN fence as [[histogram]]: one NaN would poison its
    // group's max/width and drop that group's rows from the spine
    val nn = df.filter(value.isNotNull && !isnan(value.cast("double")))
      .select(group.as("group"), value.cast("double").as("_v"))
    val bounds = nn.groupBy(col("group"))
      .agg(min(col("_v")).as("mn"), max(col("_v")).as("mx"))
    val width = (col("mx") - col("mn")) / lit(bins.toDouble)
    val bin = when(col("mx") === col("mn"), lit(0L))
      .otherwise(least(lit(bins - 1L), floor((col("_v") - col("mn")) / width)))
    val counts = nn.join(bounds, Seq("group"))
      .groupBy(col("group"), bin.as("bin")).agg(count(lit(1)).as("n"))
    bounds
      .select(col("group"), col("mn"), col("mx"),
        explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
      .join(counts, Seq("group", "bin"), "left")
      .select(
        col("group"), col("bin"),
        (col("mn") + col("bin") * width).as("lo"),
        (col("mn") + (col("bin") + lit(1L)) * width).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Fixed-bounds equi-width histogram — the MERGEABLE variant of
    * [[histogram]]: with `lo`/`hi`/`bins` fixed by the caller instead
    * of derived from the data, two shards' histograms merge by plain
    * integer addition of per-bin counts (union + groupBy(bin) + sum —
    * the Count-Min / [[Incremental]] partials discipline), so the
    * at-rest distribution census rolls forward per ingest batch with
    * no history rescans. The price of mergeability is the fixed
    * domain: values outside [lo, hi) CLAMP into the edge bins rather
    * than dropping, so bin totals always cover the whole non-null
    * population and quantiles over the merged table
    * ([[histogramQuantile]]) stay defined — degraded only inside the
    * edge bins, which is visible as edge-bin mass. NaN and null are
    * fenced like [[histogram]].
    *
    * One scan, map-side partial aggregation to ≤ `bins` rows; the
    * bin-edge arithmetic is the same literal-width IEEE expression on
    * both engines, so assignments hash-match the oracle.
    */
  def histogramFixed(
      df: DataFrame, value: Column, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val width = (hi - lo) / bins
    val nn = df.filter(value.isNotNull && !isnan(value.cast("double")))
    val bin = least(lit(bins - 1L),
      greatest(lit(0L), floor((value.cast("double") - lit(lo)) / lit(width))))
    val counts = nn.groupBy(bin.as("bin")).agg(count(lit(1)).as("n"))
    df.sparkSession.range(0, bins).select(col("id").as("bin"))
      .join(counts, Seq("bin"), "left")
      .select(
        col("bin"),
        (lit(lo) + col("bin") * lit(width)).as("lo"),
        (lit(lo) + (col("bin") + lit(1L)) * lit(width)).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-group [[histogramFixed]] — every group bucketed over the
    * SAME caller-fixed domain, so per-(group, bin) counts merge by
    * integer addition across shards AND compare directly across
    * groups (unlike [[histogramByGroup]], whose per-group bounds make
    * bins incomparable between groups — the right tool for shape
    * inspection, the wrong one for cross-source drift). One scan,
    * map-side partials to ≤ groups × bins rows; the spine keeps empty
    * bins per group present in the data.
    */
  def histogramFixedByGroup(
      df: DataFrame, group: Column, value: Column, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val width = (hi - lo) / bins
    val nn = df.filter(value.isNotNull && !isnan(value.cast("double")))
      .select(group.as("group"), value.cast("double").as("_v"))
    val bin = least(lit(bins - 1L),
      greatest(lit(0L), floor((col("_v") - lit(lo)) / lit(width))))
    val counts = nn.groupBy(col("group"), bin.as("bin")).agg(count(lit(1)).as("n"))
    nn.select(col("group")).distinct()
      .select(col("group"), explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
      .join(counts, Seq("group", "bin"), "left")
      .select(
        col("group"), col("bin"),
        (lit(lo) + col("bin") * lit(width)).as("lo"),
        (lit(lo) + (col("bin") + lit(1L)) * lit(width)).as("hi"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Per-group [[histogramQuantile]]: the same estimator with every
    * window partitioned by the `group` column the histogram carries —
    * per-(group, bin) state only, a groups-way-parallel config-sized
    * window, never a data-scale sort. Groups with zero mass emit no
    * rows.
    */
  def histogramQuantileByGroup(hist: DataFrame, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"probabilities must be in (0, 1], got $probs")
    val spark = hist.sparkSession
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    val g = W.partitionBy(col("group"))
    val cum = hist
      .withColumn("cum", sum(col("n")).over(
        g.orderBy(col("bin")).rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("_total", sum(col("n")).over(
        g.orderBy(col("bin"))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .filter(col("_total") > 0)
    cum.crossJoin(broadcast(probs.toDF("p")))
      .withColumn("target", ceil(col("p") * col("_total").cast("double")))
      .filter(col("cum") >= col("target") &&
        (col("cum") - col("n")) < col("target"))
      .select(
        col("group"), col("p"), col("bin"), col("lo"), col("hi"),
        col("n"), col("cum"),
        (col("lo") + (col("hi") - col("lo")) *
          ((col("target") - (col("cum") - col("n"))).cast("double") /
            col("n").cast("double"))).as("estimate"))
  }

  /** Quantile estimates from a histogram table (`bin, lo, hi, n` —
    * [[histogram]] or a merged [[histogramFixed]] log): for each
    * probability p, the first bin whose cumulative count reaches
    * `ceil(p · N)`, with the classic within-bin linear interpolation
    * as the point estimate. This is the approximate-quantile path
    * that costs O(bins) AFTER the one-scan census — the 100 TB
    * monitoring complement to [[quantilesByGroup]]'s exact order
    * statistics: a drift dashboard re-estimates quantiles every batch
    * from the merged partials without touching raw history.
    *
    * All arithmetic is engine-portable: targets are `ceil` of one
    * double product over exact integers, the bin walk is integer
    * cumulative sums over ≤ `bins` rows (a config-sized window, not a
    * data-scale sort), and the interpolation is a replayable chain of
    * correctly-rounded double ops. Probabilities cross to the oracle
    * as stringified literals (the [[quantilesByGroup]] convention).
    * Empty input (N = 0) returns no rows rather than NaN estimates.
    */
  def histogramQuantile(hist: DataFrame, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"probabilities must be in (0, 1], got $probs")
    val spark = hist.sparkSession
    import spark.implicits._
    val W = org.apache.spark.sql.expressions.Window
    // total rides as a second window over the SAME ≤ bins rows, so
    // the histogram input (often a full scan upstream) evaluates
    // exactly once — a separate agg would recompute it
    val cum = hist
      .withColumn("cum", sum(col("n")).over(
        W.orderBy(col("bin")).rowsBetween(W.unboundedPreceding, 0)))
      .withColumn("_total", sum(col("n")).over(
        W.orderBy(col("bin"))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .filter(col("_total") > 0)
    val ps = probs.toDF("p")
    cum.crossJoin(broadcast(ps))
      .withColumn("target", ceil(col("p") * col("_total").cast("double")))
      .filter(col("cum") >= col("target") &&
        (col("cum") - col("n")) < col("target"))
      .select(
        col("p"), col("bin"), col("lo"), col("hi"), col("n"), col("cum"),
        (col("lo") + (col("hi") - col("lo")) *
          ((col("target") - (col("cum") - col("n"))).cast("double") /
            col("n").cast("double"))).as("estimate"))
  }

  def topValues(df: DataFrame, cols: Seq[String], k: Int, salts: Int = 32): DataFrame = {
    require(cols.nonEmpty && k >= 1, "need columns and k >= 1")
    val pairs = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)).as("p"))
      .select(col("p.*"))
      .filter(col("value").isNotNull)
    val counts = pairs.groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("n_rows"))
    Sampling.saltedTopK(counts, Seq(col("column")), col("value"),
      Seq(col("n_rows").desc, col("value").asc), k, salts, "rank")
  }

  /** Class-balance profile of a label column — the one-look check
    * before training on labeled data: row count, class count, and
    * Gini impurity (1 − Σ pᵢ²; 0 = one class, → 1 − 1/k at perfect
    * balance). NULL labels count as a class of their own (unlabeled
    * mass is exactly what the check should surface, not drop).
    *
    * Engine-exact WITHOUT fixed-order float summation: Σ pᵢ² is
    * computed as an exact integer Σ nᵢ² (decimal — immune to both
    * overflow and addition order) over N², converted through a
    * string to double once (the profileEmbedding pattern), so a
    * single correctly-rounded division produces the only float in
    * the result. One scan: a map-side partial count per class, then
    * a classes-sized fold.
    */
  def classBalance(df: DataFrame, label: Column): DataFrame =
    df.groupBy(label.as("_label")).agg(count(lit(1)).as("_n"))
      .agg(
        sum(col("_n")).as("_N"),
        count(lit(1)).as("_k"),
        sum(col("_n").cast("decimal(19,0)") * col("_n").cast("decimal(19,0)"))
          .as("_ssq"))
      .select(
        coalesce(col("_N"), lit(0L)).as("n_rows"),
        col("_k").as("n_classes"),
        when(col("_N") > 0,
          lit(1.0) - col("_ssq").cast("string").cast("double")
            / (col("_N").cast("double") * col("_N").cast("double")))
          .otherwise(lit(null).cast("double")).as("gini"))

  /** Join-key skew census — the one-row planning probe to run BEFORE
    * shuffling 100 TB on a key: row/key totals, the heaviest key's
    * row count, the mean, the max/mean skew ratio, and how many keys
    * sit above 2× / 10× the mean. A skew ratio near 1 means hash
    * partitions will balance; a ratio in the thousands means the hot
    * key owns a straggler task and the join wants salting
    * ([[graft.operators.Skew]]) or AQE skew splitting first.
    *
    * Reports the hot key's COUNT, deliberately not its identity —
    * several keys can tie at the max, and an arbitrary pick would be
    * nondeterministic; [[topValues]] is the identity-bearing
    * drill-down. Physically one scan: the key census subtree feeds
    * both the one-row totals and the final fold, and Spark's
    * exchange reuse dedupes the identical shuffle (the same
    * 1-row-broadcast-totals shape as the Checks drift queries). The
    * over-mean comparisons are exact decimal cross-products
    * (`n·K > m·N` ⇔ `n > m·N/K`), so no float enters the counts;
    * the two reported doubles are single correctly-rounded
    * divisions of exact longs and hash-match across engines.
    */
  def keySkew(df: DataFrame, key: Column): DataFrame = {
    val census = df.groupBy(key.as("_k")).agg(count(lit(1)).as("_n"))
    val totals = census.agg(
      sum(col("_n")).as("_tot"), count(lit(1)).as("_nk"))
    val over = (m: Long) =>
      col("_n").cast("decimal(20,0)") * col("_nk").cast("decimal(20,0)") >
        lit(m).cast("decimal(20,0)") * col("_tot").cast("decimal(20,0)")
    census.crossJoin(broadcast(totals))
      .agg(
        max(col("_tot")).as("n_rows"),
        max(col("_nk")).as("n_keys"),
        max(col("_n")).as("max_per_key"),
        sum(when(over(2L), 1L).otherwise(0L)).as("n_keys_over_2x_mean"),
        sum(when(over(10L), 1L).otherwise(0L)).as("n_keys_over_10x_mean"))
      .select(
        col("n_rows"), col("n_keys"), col("max_per_key"),
        (col("n_rows").cast("double") / col("n_keys").cast("double"))
          .as("avg_per_key"),
        (col("max_per_key").cast("double")
          / (col("n_rows").cast("double") / col("n_keys").cast("double")))
          .as("skew_ratio"),
        col("n_keys_over_2x_mean"), col("n_keys_over_10x_mean"))
  }

  /** Exact equal-frequency binning (distributed ntile): assign each
    * row its n-quantile bucket over `value` with a deterministic
    * `tiebreak` total order, without the single-task global sort
    * that `ntile() OVER (ORDER BY …)` plans. The feature-binning /
    * per-decile-report primitive where equi-WIDTH ([[histogram]])
    * puts 99% of a skewed column in one bar.
    *
    * Distributed-rank shape (the [[graft.operators.Sampling.sampleToBudget]]
    * prefix-sum, in value space): rows bucket by equi-width cells
    * over the broadcast [min, max] (exactly [[histogram]]'s edge
    * arithmetic, so cell assignment is engine-exact); per-cell
    * counts cumulate in a ≤ `cells`-row window; each row's global
    * rank is its cell's offset plus a row_number within the cell —
    * the only per-row window is PARTITIONED by cell, so no task ever
    * holds more than one cell's rows (a heavily repeated single
    * value concentrates its cell — same documented hazard as the
    * budget-sample boundary bucket). The SQL-standard ntile split
    * (first N mod n bins get one extra row) is then a closed-form
    * expression of the rank.
    *
    * Nulls and NaNs are excluded (the [[histogram]] fence); `bin`
    * is 1-based like ntile.
    *
    * Three passes over the input by necessity ([[histogram]]'s
    * two-pass argument plus one): bounds, cell census, and bin
    * assignment — cell ids depend on bounds, offsets on the census.
    * Each pass is scan + map-side partial work; nothing row-scale
    * crosses a shuffle except the final cell-partitioned rank.
    */
  def equalFrequencyBins(
      df: DataFrame, value: Column, tiebreak: Column, nBins: Int,
      cells: Int = 4096): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val W = org.apache.spark.sql.expressions.Window
    val nn = df.filter(value.isNotNull && !isnan(value.cast("double")))
      .withColumn("_v", value.cast("double"))
    val bounds = nn.agg(min(col("_v")).as("mn"), max(col("_v")).as("mx")).head()
    if (bounds.isNullAt(0))
      return nn.drop("_v").withColumn("bin", lit(1L)).limit(0)
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    val base = nn.withColumn("_c", RankedPrefix.cellIndex(col("_v"), mn, mx, cells))
    val perCell = base.groupBy(col("_c")).agg(count(lit(1)).as("_nc"))
    val wCells = W.orderBy(col("_c")).rowsBetween(W.unboundedPreceding, -1)
    val offs = perCell
      .withColumn("_off", coalesce(sum(col("_nc")).over(wCells), lit(0L)))
      .withColumn("_N", sum(col("_nc")).over(
        W.orderBy(col("_c")).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val wRows = W.partitionBy(col("_c")).orderBy(col("_v").asc, tiebreak.asc)
    // long-through-double divisions are exact below 2^52 rows — four
    // orders of magnitude above a 100 TB corpus's row count; the
    // truncating cast is floor (all operands non-negative)
    val q = col("_N").divide(lit(nBins)).cast("long") // floor bin size
    val r = col("_N") % lit(nBins)                    // first r bins get q+1
    val rank0 = col("_off") + row_number().over(wRows) - lit(1L) // 0-based
    val bin = when(q === 0L, rank0 + lit(1L)) // N < nBins: ntile gives row i bin i
      .when(rank0 < r * (q + lit(1L)), rank0.divide(q + lit(1L)).cast("long") + lit(1L))
      .otherwise(r + (rank0 - r * (q + lit(1L))).divide(q).cast("long") + lit(1L))
    base.join(broadcast(offs), Seq("_c"))
      .withColumn("bin", bin)
      .drop("_c", "_nc", "_off", "_N", "_v")
  }

  /** Exact per-group order statistics — (group, p, n, quantile) for
    * each requested probability — computed WITHOUT a per-group
    * global sort: [[equalFrequencyBins]]' cell-partitioned prefix-sum
    * rank machinery with the group key threaded through, so a group
    * holding 90% of the corpus still ranks `cells`-way parallel.
    * This is the p50/p90/p99 latency/size/score report at 100 TB:
    * the naive `PARTITION BY group ORDER BY v` window (which the
    * oracle deliberately states) sorts each group in ONE task;
    * approx_percentile trades exactness away entirely. Here the
    * quantile is the true order statistic: the row of group rank
    * `max(1, ceil(p·N))` under the (value, tiebreak) total order —
    * SQL-standard discrete quantile, deterministic via the tiebreak.
    *
    * Shuffles: a (group, cell) census whose prefix-sum window runs
    * over census rows (groups × occupied cells, aggregate-scale), the
    * (group, cell)-partitioned rank, and a broadcast of the
    * groups × probs target table. Nulls/NaN values are fenced
    * ([[histogram]]'s rationale); a NULL GROUP is a real group
    * (null-safe joins throughout). `ceil(p·N)` is one IEEE multiply
    * + ceil of exact operands — identical in any engine stating the
    * same expression.
    */
  def quantilesByGroup(
      df: DataFrame, value: Column, tiebreak: Column, group: Column,
      probs: Seq[Double], cells: Int = 4096): DataFrame = {
    require(probs.nonEmpty, "at least one probability required")
    require(probs.forall(p => p > 0.0 && p <= 1.0),
      s"probabilities must be in (0, 1], got $probs")
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val W = org.apache.spark.sql.expressions.Window
    val nn = df.filter(value.isNotNull && !isnan(value.cast("double")))
      .select(group.as("_g"), value.cast("double").as("_v"),
        tiebreak.as("_tb"))
    val bounds = nn.agg(min(col("_v")).as("mn"), max(col("_v")).as("mx")).head()
    if (bounds.isNullAt(0))
      return nn.select(col("_g").as("group_key"),
        lit(0.0).as("p"), lit(0L).as("n"), col("_v").as("quantile")).limit(0)
    val (mn, mx) = (bounds.getDouble(0), bounds.getDouble(1))
    val base = nn.withColumn("_c", RankedPrefix.cellIndex(col("_v"), mn, mx, cells))
    val wCells = W.partitionBy(col("_og")).orderBy(col("_oc"))
      .rowsBetween(W.unboundedPreceding, -1)
    val offs = base
      .groupBy(col("_g").as("_og"), col("_c").as("_oc"))
      .agg(count(lit(1)).as("_nc"))
      .withColumn("_off", coalesce(sum(col("_nc")).over(wCells), lit(0L)))
      .withColumn("_N", sum(col("_nc")).over(
        W.partitionBy(col("_og"))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
    val wRows = W.partitionBy(col("_g"), col("_c"))
      .orderBy(col("_v").asc, col("_tb").asc)
    val ranked = base
      .join(broadcast(offs),
        col("_g") <=> col("_og") && col("_c") === col("_oc"))
      .withColumn("_rank", col("_off") + row_number().over(wRows)) // 1-based
    val targets = offs.select(col("_og").as("_tg"), col("_N").as("_tN"))
      .distinct()
      .select(col("_tg"), col("_tN"),
        explode(array(probs.map(lit(_)): _*)).as("p"))
      .withColumn("_target",
        greatest(lit(1L), ceil(col("p") * col("_tN").cast("double"))))
    ranked
      .join(broadcast(targets),
        col("_g") <=> col("_tg") && col("_rank") === col("_target"))
      .select(col("_g").as("group_key"), col("p"), col("_tN").as("n"),
        col("_v").as("quantile"))
  }

  /** Spearman rank correlation between two numeric columns, EXACT
    * with midrank tie handling — "do my two quality signals agree?" /
    * "is the gate just a proxy for length?" answered as a number, and
    * robust where Pearson is not (any monotone relation scores ±1;
    * outliers move ranks by one step, not by their magnitude).
    *
    * Engine-exactness: ρ is Pearson over the rank vectors, and with
    * DOUBLED midranks (2·cumBelow + cnt + 1 — integers even where a
    * tie's midrank is x.5) every deviation is an exact integer:
    * doubled ranks have mean exactly N+1, so the centered sums
    * Σa′b′, Σa′², Σb′² accumulate in DECIMAL(38,0) — order-free,
    * associative, exact to N < 10¹² — and the doubling cancels in the
    * ratio. The only floats are the final stated expression
    * `CAST(Σab AS DOUBLE) / sqrt(Σaa · Σbb)` — three correctly-rounded
    * IEEE ops both engines state identically (the single sqrt keeps
    * ρ = ±1 exact whenever Σaa·Σbb squares without rounding).
    *
    * Distribution: each column ranks via an exclusive [[RankedPrefix]]
    * over its distinct-value census — cell-partitioned past the
    * direct-window gate, so a billion distinct values rank `cells`-way
    * parallel with no global sort; rows then join their value's midrank back
    * by equi-join. Rows with NULL/NaN in EITHER column are excluded
    * (a pair is ranked or it isn't). Output: one row (n, spearman_rho);
    * rho NULL when either column is constant (undefined, not 0) or
    * the input is empty.
    */
  def spearmanCorr(
      df: DataFrame, x: Column, y: Column, cells: Int = 4096): DataFrame =
    spearmanCorr(df, x, y, cells, RankedPrefix.DefaultDirectWindowRows)

  /** [[spearmanCorr]] with the direct-path gate exposed, so specs can
    * force either [[RankedPrefix]] path.
    */
  private[graft] def spearmanCorr(
      df: DataFrame, x: Column, y: Column, cells: Int,
      directWindowRows: Long): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    // persist the raw PROJECTION and filter ABOVE the cache: the
    // pairwise null/NaN exclusion references the derived columns, and
    // a raw-row filter on them would push below the projection with
    // the (possibly expensive) x/y expression trees inlined —
    // evaluating each twice per row (the eval family's
    // single-evaluation discipline; PlanShapeSpec pins it for q139)
    val raw = df
      .select(x.cast("double").as("_x"), y.cast("double").as("_y"))
      .persistFresh()
    val nn = raw.filter(col("_x").isNotNull && !isnan(col("_x")) &&
      col("_y").isNotNull && !isnan(col("_y")))
    // doubled-midrank table for one column: distinct-value census →
    // cell-partitioned cumulative-below → 2·cumBelow + cnt + 1
    def midranks2(c: String, outV: String, outR: String): DataFrame = {
      val census = nn.groupBy(col(c).as("_v")).agg(count(lit(1)).as("_cnt"))
      val bounds = census.agg(min(col("_v")).as("mn"), max(col("_v")).as("mx"),
        count(lit(1)).as("k")).head()
      if (bounds.getLong(2) == 0L)
        return census.select(col("_v").as(outV), lit(0L).as(outR)).limit(0)
      RankedPrefix(census, Nil, Seq("_cumBelow" -> col("_cnt")),
          direct = bounds.getLong(2) <= directWindowRows,
          mn = bounds.getDouble(0), mx = bounds.getDouble(1), cells = cells,
          offsetRows = _ => cells.toLong, exclusive = true)
        .select(col("_v").as(outV),
          (lit(2L) * col("_cumBelow") + col("_cnt") + lit(1L)).as(outR))
    }
    val xr = midranks2("_x", "_xv", "_ax")
    val yr = midranks2("_y", "_yv", "_ay")
    val totals = nn.agg(count(lit(1)).as("_n"))
    val joined = nn
      .join(xr, col("_x") === col("_xv"))
      .join(yr, col("_y") === col("_yv"))
      .crossJoin(broadcast(totals))
    val dev = joined.select(
      (col("_ax") - col("_n") - lit(1L)).cast("decimal(38,0)").as("_da"),
      (col("_ay") - col("_n") - lit(1L)).cast("decimal(38,0)").as("_db"))
    val out = dev.agg(
      count(lit(1)).as("n"),
      sum(col("_da") * col("_db")).cast("decimal(38,0)").as("_sab"),
      sum(col("_da") * col("_da")).cast("decimal(38,0)").as("_saa"),
      sum(col("_db") * col("_db")).cast("decimal(38,0)").as("_sbb"))
      .select(
        coalesce(col("n"), lit(0L)).as("n"),
        when(col("_saa") > 0 && col("_sbb") > 0,
          col("_sab").cast("double") /
            sqrt(col("_saa").cast("double") * col("_sbb").cast("double")))
          .as("spearman_rho"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(raw))
    out
  }

  /** Per-group exact Spearman ρ — [[spearmanCorr]] keyed by a group
    * column: "is the gate a length proxy on SOME source?" answered
    * per source. Same doubled-midrank exactness, per group: the
    * (group, value) census ranks within its group via a group-keyed
    * [[RankedPrefix]] (global value bounds set the cells — they only
    * control parallelism), the per-group doubled-rank mean
    * is exactly N_g + 1, and the centered sums accumulate per group
    * in DECIMAL(38,0). Offsets/rank broadcasts are cardinality-
    * adaptive on a census-derived groups×cells upper bound (the
    * grouped-family convention). Output: one row per group
    * (group_key, n, spearman_rho); rho NULL for a constant column
    * within the group; NULL-group rows and NULL/NaN pairs excluded.
    */
  def spearmanCorrBy(
      df: DataFrame, group: Column, x: Column, y: Column,
      cells: Int = 4096,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit): DataFrame =
    spearmanCorrBy(df, group, x, y, cells, broadcastRowLimit,
      RankedPrefix.DefaultDirectWindowRows)

  /** [[spearmanCorrBy]] with the direct-path gate exposed, so specs can
    * force either [[RankedPrefix]] path.
    */
  private[graft] def spearmanCorrBy(
      df: DataFrame, group: Column, x: Column, y: Column, cells: Int,
      broadcastRowLimit: Long, directWindowRows: Long): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val raw = df
      .select(group.as("_g"), x.cast("double").as("_x"), y.cast("double").as("_y"))
      .persistFresh()
    val nn = raw.filter(col("_g").isNotNull &&
      col("_x").isNotNull && !isnan(col("_x")) &&
      col("_y").isNotNull && !isnan(col("_y")))
    // ONE stats job feeds both columns' cells, the empty check, and
    // the adaptive-broadcast group count (probe-folding discipline)
    val stats = nn.agg(
      min(col("_x")).as("mnx"), max(col("_x")).as("mxx"),
      min(col("_y")).as("mny"), max(col("_y")).as("mxy"),
      count(lit(1)).as("k"), countDistinct(col("_g")).as("ng")).head()
    if (stats.getLong(4) == 0L) {
      raw.unpersist(blocking = false)
      return nn.limit(0).select(col("_g").as("group_key"),
        lit(0L).as("n"), lit(null).cast("double").as("spearman_rho"))
    }
    val ng = stats.getLong(5)
    // per-group doubled-midrank table for one column
    def midranks2By(c: String, mn: Double, mx: Double,
        gOut: String, outV: String, outR: String): DataFrame = {
      val census = nn.groupBy(col("_g"), col(c).as("_v"))
        .agg(count(lit(1)).as("_cnt"))
      // the row count k (≥ census rows) rode the stats job: the direct
      // gate costs no extra probe
      RankedPrefix(census, Seq("_g"), Seq("_cumBelow" -> col("_cnt")),
          direct = stats.getLong(4) <= directWindowRows, mn = mn, mx = mx,
          cells = cells, offsetRows = _ => ng * cells, exclusive = true,
          broadcastRowLimit = broadcastRowLimit)
        .select(col("_g").as(gOut), col("_v").as(outV),
          (lit(2L) * col("_cumBelow") + col("_cnt") + lit(1L)).as(outR))
    }
    val xr = midranks2By("_x", stats.getDouble(0), stats.getDouble(1),
      "_gx", "_xv", "_ax")
    val yr = midranks2By("_y", stats.getDouble(2), stats.getDouble(3),
      "_gy", "_yv", "_ay")
    val totals = nn.groupBy(col("_g").as("_gt")).agg(count(lit(1)).as("_n"))
    val joined = nn
      .join(xr, col("_g") === col("_gx") && col("_x") === col("_xv"))
      .join(yr, col("_g") === col("_gy") && col("_y") === col("_yv"))
      .join(Limits.broadcastIfSmall(totals, ng, broadcastRowLimit),
        col("_g") === col("_gt"))
    val dev = joined.select(col("_g"),
      (col("_ax") - col("_n") - lit(1L)).cast("decimal(38,0)").as("_da"),
      (col("_ay") - col("_n") - lit(1L)).cast("decimal(38,0)").as("_db"))
    val out = dev.groupBy(col("_g").as("group_key")).agg(
      count(lit(1)).as("n"),
      sum(col("_da") * col("_db")).cast("decimal(38,0)").as("_sab"),
      sum(col("_da") * col("_da")).cast("decimal(38,0)").as("_saa"),
      sum(col("_db") * col("_db")).cast("decimal(38,0)").as("_sbb"))
      .select(
        col("group_key"), col("n"),
        when(col("_saa") > 0 && col("_sbb") > 0,
          col("_sab").cast("double") /
            sqrt(col("_saa").cast("double") * col("_sbb").cast("double")))
          .as("spearman_rho"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(raw))
    out
  }

  /** Banded Kendall τ-b: the concordance-based rank correlation over a
    * fixed 2-D band grid — [[spearmanCorr]]'s sibling with the other
    * classical tie treatment, and the scale form of Kendall's τ:
    * exact Kendall needs 2-D dominance counts over the raw value
    * pairs (an order-statistic structure no shuffle expresses);
    * banding the domain makes every dominance sum a SUFFIX SUM over
    * the config-sized binsX × binsY census grid — two window passes,
    * nothing data-sized past the census. On data whose values ARE
    * band indices the banded τ-b IS the exact τ-b (the band-AUC
    * convention, spec-pinned against a brute-force O(n²) count).
    *
    * Census: one scan to (bx, by, n) with the edge-clamp banding of
    * the calibration family; NULL/NaN on either side excluded
    * census-side (single-evaluation discipline: the raw projection is
    * persisted and the exclusion filter sits above the cache).
    * Dominance: on the zero-filled full grid,
    * G(c) = Σ_{bx'>bx, by'>by} n and L(c) = Σ_{bx'>bx, by'<by} n via
    * a within-column suffix/prefix then an across-column suffix —
    * windows over ≤ binsX × binsY rows. Then
    *
    *   C = Σ n·G,  D = Σ n·L  (each unordered pair counted once, at
    *   its x-lower cell)
    *   τ-b = (C − D) / √((n0 − n1)(n0 − n2)),
    *   n0 = n(n−1)/2, n1/n2 = Σ t(t−1)/2 over x / y marginal ties
    *
    * with every count an exact DECIMAL(38,0) (pair sums exact to
    * ~4×10¹⁸ rows) and the final expression one IEEE dag stated
    * identically in the oracle. Output: one row — n, concordant,
    * discordant, tie_x2/tie_y2/tie_xy2 (the DOUBLED tie-pair sums
    * Σt(t−1), exact integers), tau_b (NULL when either denominator
    * leg is 0 — a constant column has no rank order). The pair
    * identity 2C + 2D + tie_x2 + tie_y2 − tie_xy2 = n(n−1) is
    * spec-pinned.
    */
  def kendallTauBanded(
      df: DataFrame, x: Column, y: Column,
      loX: Double, hiX: Double, binsX: Int,
      loY: Double, hiY: Double, binsY: Int): DataFrame = {
    require(binsX >= 1 && binsY >= 1, s"bins must be >= 1, got $binsX/$binsY")
    require(loX < hiX && loY < hiY, "need lo < hi on both axes")
    val W = org.apache.spark.sql.expressions.Window
    val wX = (hiX - loX) / binsX
    val wY = (hiY - loY) / binsY
    val raw = df
      .select(x.cast("double").as("_x"), y.cast("double").as("_y"))
      .persistFresh()
    val nn = raw.filter(col("_x").isNotNull && !isnan(col("_x")) &&
      col("_y").isNotNull && !isnan(col("_y")))
    def band(c: Column, lo: Double, w: Double, bins: Int): Column =
      least(lit(bins - 1L), greatest(lit(0L), floor((c - lit(lo)) / lit(w))))
    val census = nn
      .groupBy(band(col("_x"), loX, wX, binsX).as("_bx"),
        band(col("_y"), loY, wY, binsY).as("_by"))
      .agg(count(lit(1)).as("_n"))
    val spark = df.sparkSession
    val grid = spark.range(0, binsX).select(col("id").as("_bx"))
      .crossJoin(broadcast(spark.range(0, binsY).select(col("id").as("_by"))))
    val full = grid.join(census, Seq("_bx", "_by"), "left")
      .select(col("_bx"), col("_by"), coalesce(col("_n"), lit(0L)).as("_n"))
      .persistCensus()
    // within-column suffix (by' > by) and prefix (by' < by), then the
    // across-column suffix (bx' > bx) — all over the bounded grid
    val wCol = W.partitionBy(col("_bx")).orderBy(col("_by"))
    val s1 = full
      .withColumn("_sAbove",
        coalesce(sum(col("_n")).over(wCol.rowsBetween(1, W.unboundedFollowing)), lit(0L)))
      .withColumn("_sBelow",
        coalesce(sum(col("_n")).over(wCol.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    val wRow = W.partitionBy(col("_by")).orderBy(col("_bx"))
      .rowsBetween(1, W.unboundedFollowing)
    val dom = s1
      .withColumn("_g", coalesce(sum(col("_sAbove")).over(wRow), lit(0L)))
      .withColumn("_l", coalesce(sum(col("_sBelow")).over(wRow), lit(0L)))
    val nDec = col("_n").cast("decimal(38,0)")
    val concDisc = dom.agg(
      sum(col("_n")).as("n"),
      sum(nDec * col("_g").cast("decimal(38,0)")).cast("decimal(38,0)").as("_c"),
      sum(nDec * col("_l").cast("decimal(38,0)")).cast("decimal(38,0)").as("_d"),
      sum(nDec * (nDec - lit(1L).cast("decimal(38,0)")))
        .cast("decimal(38,0)").as("_txy2"))
    // marginal tie sums Σt(t−1), census-derived
    def margTie2(key: String): DataFrame = {
      val t = full.groupBy(col(key)).agg(sum(col("_n")).as("_t"))
      val tDec = col("_t").cast("decimal(38,0)")
      t.agg(sum(tDec * (tDec - lit(1L).cast("decimal(38,0)")))
        .cast("decimal(38,0)").as(s"_t$key"))
    }
    val joined = concDisc
      .crossJoin(broadcast(margTie2("_bx")))
      .crossJoin(broadcast(margTie2("_by")))
    val dn = col("n").cast("double")
    val dx = (dn * (dn - lit(1.0)) - col("_t_bx").cast("double")) / lit(2.0)
    val dy = (dn * (dn - lit(1.0)) - col("_t_by").cast("double")) / lit(2.0)
    val out = joined.select(
      col("n"),
      col("_c").cast("double").as("concordant"),
      col("_d").cast("double").as("discordant"),
      col("_t_bx").cast("double").as("tie_x2"),
      col("_t_by").cast("double").as("tie_y2"),
      col("_txy2").cast("double").as("tie_xy2"),
      when(dx > lit(0.0) && dy > lit(0.0),
        (col("_c").cast("double") - col("_d").cast("double")) / sqrt(dx * dy))
        .as("tau_b"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(raw, full))
    out
  }

  /** Per-group banded Kendall τ-b — [[kendallTauBanded]] keyed by a
    * group column: each group gets its own concordance census over
    * the shared band grid (groups × binsX × binsY rows — group
    * cardinality times a config-sized grid), dominance windows
    * partitioned by (group, band), and its own τ-b. Same exactness
    * and conventions as the solo form; NULL-group rows excluded;
    * groups with no surviving rows absent.
    */
  def kendallTauBandedBy(
      df: DataFrame, group: Column, x: Column, y: Column,
      loX: Double, hiX: Double, binsX: Int,
      loY: Double, hiY: Double, binsY: Int,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit): DataFrame = {
    require(binsX >= 1 && binsY >= 1, s"bins must be >= 1, got $binsX/$binsY")
    require(loX < hiX && loY < hiY, "need lo < hi on both axes")
    val W = org.apache.spark.sql.expressions.Window
    val wX = (hiX - loX) / binsX
    val wY = (hiY - loY) / binsY
    val raw = df
      .select(group.as("_g"), x.cast("double").as("_x"), y.cast("double").as("_y"))
      .persistFresh()
    val nn = raw.filter(col("_g").isNotNull &&
      col("_x").isNotNull && !isnan(col("_x")) &&
      col("_y").isNotNull && !isnan(col("_y")))
    def band(c: Column, lo: Double, w: Double, bins: Int): Column =
      least(lit(bins - 1L), greatest(lit(0L), floor((c - lit(lo)) / lit(w))))
    val census = nn
      .groupBy(col("_g"), band(col("_x"), loX, wX, binsX).as("_bx"),
        band(col("_y"), loY, wY, binsY).as("_by"))
      .agg(count(lit(1)).as("_n"))
      .persistCensus()
    val ng = census.agg(countDistinct(col("_g"))).head().getLong(0)
    val spark = df.sparkSession
    val grid = spark.range(0, binsX).select(col("id").as("_bx"))
      .crossJoin(broadcast(spark.range(0, binsY).select(col("id").as("_by"))))
    val full = census.select(col("_g")).distinct()
      .crossJoin(broadcast(grid))
      .join(census, Seq("_g", "_bx", "_by"), "left")
      .select(col("_g"), col("_bx"), col("_by"),
        coalesce(col("_n"), lit(0L)).as("_n"))
      .persistCensus()
    val wCol = W.partitionBy(col("_g"), col("_bx")).orderBy(col("_by"))
    val s1 = full
      .withColumn("_sAbove",
        coalesce(sum(col("_n")).over(wCol.rowsBetween(1, W.unboundedFollowing)), lit(0L)))
      .withColumn("_sBelow",
        coalesce(sum(col("_n")).over(wCol.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    val wRow = W.partitionBy(col("_g"), col("_by")).orderBy(col("_bx"))
      .rowsBetween(1, W.unboundedFollowing)
    val dom = s1
      .withColumn("_gg", coalesce(sum(col("_sAbove")).over(wRow), lit(0L)))
      .withColumn("_ll", coalesce(sum(col("_sBelow")).over(wRow), lit(0L)))
    val nDec = col("_n").cast("decimal(38,0)")
    val concDisc = dom.groupBy(col("_g")).agg(
      sum(col("_n")).as("n"),
      sum(nDec * col("_gg").cast("decimal(38,0)")).cast("decimal(38,0)").as("_c"),
      sum(nDec * col("_ll").cast("decimal(38,0)")).cast("decimal(38,0)").as("_d"),
      sum(nDec * (nDec - lit(1L).cast("decimal(38,0)")))
        .cast("decimal(38,0)").as("_txy2"))
    def margTie2(key: String, out: String): DataFrame = {
      val t = full.groupBy(col("_g").as("_gm"), col(key)).agg(sum(col("_n")).as("_t"))
      val tDec = col("_t").cast("decimal(38,0)")
      t.groupBy(col("_gm"))
        .agg(sum(tDec * (tDec - lit(1L).cast("decimal(38,0)")))
          .cast("decimal(38,0)").as(out))
    }
    val joined = concDisc
      .join(Limits.broadcastIfSmall(margTie2("_bx", "_tx2"), ng, broadcastRowLimit),
        col("_g") === col("_gm"))
      .drop("_gm")
      .join(Limits.broadcastIfSmall(margTie2("_by", "_ty2"), ng, broadcastRowLimit),
        col("_g") === col("_gm"))
      .drop("_gm")
    val dn = col("n").cast("double")
    val dx = (dn * (dn - lit(1.0)) - col("_tx2").cast("double")) / lit(2.0)
    val dy = (dn * (dn - lit(1.0)) - col("_ty2").cast("double")) / lit(2.0)
    val out = joined.select(
      col("_g").as("group_key"), col("n"),
      col("_c").cast("double").as("concordant"),
      col("_d").cast("double").as("discordant"),
      col("_tx2").cast("double").as("tie_x2"),
      col("_ty2").cast("double").as("tie_y2"),
      col("_txy2").cast("double").as("tie_xy2"),
      when(dx > lit(0.0) && dy > lit(0.0),
        (col("_c").cast("double") - col("_d").cast("double")) / sqrt(dx * dy))
        .as("tau_b"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(raw, census, full))
    out
  }

  /** EXACT Kendall τ-b over raw values — removes [[kendallTauBanded]]'s
    * quantization without a global sort or an all-pairs join. The
    * unordered pairs are partitioned by their (x-cell, y-cell)
    * relation into three disjoint classes, each counted exactly:
    *
    *   A. different x-cell AND different y-cell — cells are
    *      value-range buckets, so cell order IS value order: the
    *      banded dominance machinery on the cells×cells census grid
    *      counts these pairs exactly (suffix sums over a bounded
    *      grid, nothing data-sized past the cell census);
    *   B. same x-cell (any y) — an equi-join of the distinct-value
    *      census with itself on the x-cell, strict x order, y
    *      compared directly: Σ_c d_c² work, `cells`-way parallel;
    *   C. same y-cell AND different x-cell — the mirror join on the
    *      y-cell, strict y order, x decided by cell order.
    *
    * Tie terms come from the distinct-value census itself (marginal
    * Σt(t−1) and joint Σn(n−1)), so every count is exact — the
    * banded form's within-band blindness is gone. All pair counts
    * accumulate in DECIMAL(38,0); τ-b is the same guarded IEEE dag
    * as the banded form.
    *
    * 100 TB: one distinct-(x,y) census scan; class A is windowed
    * over ≤ cells² rows; classes B/C are cell-equi-joins costing
    * Σ_c d_c² — size `cells` to the census (d²/cells per-axis work;
    * cells ~ d/1000 keeps it linear-ish). The degenerate single-cell
    * edge (all values equal) still counts through class B. Output
    * schema matches [[kendallTauBanded]].
    */
  def kendallTauExact(
      df: DataFrame, x: Column, y: Column, cells: Int = 256): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val W = org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val raw = df
      .select(x.cast("double").as("_x"), y.cast("double").as("_y"))
      .persistFresh()
    val nn = raw.filter(col("_x").isNotNull && !isnan(col("_x")) &&
      col("_y").isNotNull && !isnan(col("_y")))
    val census = nn.groupBy(col("_x"), col("_y"))
      .agg(count(lit(1)).as("_n"))
      .persistCensus()
    val stats = census.agg(
      min(col("_x")), max(col("_x")), min(col("_y")), max(col("_y")),
      coalesce(sum(col("_n")), lit(0L))).head()
    val total = stats.getLong(4)
    if (total == 0L) {
      census.unpersist(blocking = false)
      raw.unpersist(blocking = false)
      return spark.range(1).select(
        lit(0L).as("n"),
        lit(null).cast("double").as("concordant"),
        lit(null).cast("double").as("discordant"),
        lit(null).cast("double").as("tie_x2"),
        lit(null).cast("double").as("tie_y2"),
        lit(null).cast("double").as("tie_xy2"),
        lit(null).cast("double").as("tau_b"))
    }
    val (mnX, mxX) = (stats.getDouble(0), stats.getDouble(1))
    val (mnY, mxY) = (stats.getDouble(2), stats.getDouble(3))
    val cen = census
      .withColumn("_cx", RankedPrefix.cellIndex(col("_x"), mnX, mxX, cells))
      .withColumn("_cy", RankedPrefix.cellIndex(col("_y"), mnY, mxY, cells))
      .persistFresh()
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")

    // ---- class A: cross-cell dominance on the cell grid ----------
    val cellCensus = cen.groupBy(col("_cx"), col("_cy")).agg(sum(col("_n")).as("_n"))
    val grid = spark.range(0, cells).select(col("id").as("_cx"))
      .crossJoin(broadcast(spark.range(0, cells).select(col("id").as("_cy"))))
    val full = grid.join(cellCensus, Seq("_cx", "_cy"), "left")
      .select(col("_cx"), col("_cy"), coalesce(col("_n"), lit(0L)).as("_n"))
    val wCol = W.partitionBy(col("_cx")).orderBy(col("_cy"))
    val s1 = full
      .withColumn("_sAbove",
        coalesce(sum(col("_n")).over(wCol.rowsBetween(1, W.unboundedFollowing)), lit(0L)))
      .withColumn("_sBelow",
        coalesce(sum(col("_n")).over(wCol.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    val wRow = W.partitionBy(col("_cy")).orderBy(col("_cx"))
      .rowsBetween(1, W.unboundedFollowing)
    val domA = s1
      .withColumn("_g", coalesce(sum(col("_sAbove")).over(wRow), lit(0L)))
      .withColumn("_l", coalesce(sum(col("_sBelow")).over(wRow), lit(0L)))
      .agg(
        sum(dec(col("_n")) * dec(col("_g"))).cast("decimal(38,0)").as("_cA"),
        sum(dec(col("_n")) * dec(col("_l"))).cast("decimal(38,0)").as("_dA"))

    // ---- class B: same x-cell, strict x ---------------------------
    val l = cen.select(col("_cx").as("_kcx"), col("_cy").as("_kcy"),
      col("_x").as("_x1"), col("_y").as("_y1"), col("_n").as("_n1"))
    val r = cen.select(col("_cx").as("_rcx"), col("_cy").as("_rcy"),
      col("_x").as("_x2"), col("_y").as("_y2"), col("_n").as("_n2"))
    val pairB = l.join(r, col("_kcx") === col("_rcx") && col("_x1") < col("_x2"))
    val aggB = pairB.agg(
      coalesce(sum(when(col("_y2") > col("_y1"), dec(col("_n1")) * dec(col("_n2")))),
        lit(0L).cast("decimal(38,0)")).cast("decimal(38,0)").as("_cB"),
      coalesce(sum(when(col("_y2") < col("_y1"), dec(col("_n1")) * dec(col("_n2")))),
        lit(0L).cast("decimal(38,0)")).cast("decimal(38,0)").as("_dB"))

    // ---- class C: same y-cell, different x-cell, strict y ---------
    val pairC = l.join(r, col("_kcy") === col("_rcy") &&
      col("_y1") < col("_y2") && col("_kcx") =!= col("_rcx"))
    val aggC = pairC.agg(
      coalesce(sum(when(col("_rcx") > col("_kcx"), dec(col("_n1")) * dec(col("_n2")))),
        lit(0L).cast("decimal(38,0)")).cast("decimal(38,0)").as("_cC"),
      coalesce(sum(when(col("_rcx") < col("_kcx"), dec(col("_n1")) * dec(col("_n2")))),
        lit(0L).cast("decimal(38,0)")).cast("decimal(38,0)").as("_dC"))

    // ---- exact tie terms from the distinct-value census -----------
    // three per-axis tie censuses, all exact integers: Σt(t−1) (the
    // τ-b denominator), Σt(t−1)(2t+5) and Σt(t−1)(t−2) (the
    // tie-corrected null-variance terms of the significance z)
    def margTies(key: String): DataFrame = {
      val t = census.groupBy(col(key)).agg(sum(col("_n")).as("_t"))
      val td = dec(col("_t"))
      val two = lit(2L).cast("decimal(38,0)")
      val five = lit(5L).cast("decimal(38,0)")
      val dec0 = lit(0L).cast("decimal(38,0)")
      t.agg(
        coalesce(sum(td * (td - one)), dec0)
          .cast("decimal(38,0)").as(s"_t$key"),
        coalesce(sum(td * (td - one) * (two * td + five)), dec0)
          .cast("decimal(38,0)").as(s"_tv$key"),
        coalesce(sum(td * (td - one) * (td - two)), dec0)
          .cast("decimal(38,0)").as(s"_tw$key"))
    }
    val jointTie = census.agg(
      coalesce(sum(dec(col("_n")) * (dec(col("_n")) - one)),
        lit(0L).cast("decimal(38,0)")).cast("decimal(38,0)").as("_txy2"))

    val joined = domA
      .crossJoin(broadcast(aggB)).crossJoin(broadcast(aggC))
      .crossJoin(broadcast(margTies("_x"))).crossJoin(broadcast(margTies("_y")))
      .crossJoin(broadcast(jointTie))
      .select(
        lit(total).as("n"),
        (col("_cA") + col("_cB") + col("_cC")).cast("decimal(38,0)").as("_c"),
        (col("_dA") + col("_dB") + col("_dC")).cast("decimal(38,0)").as("_d"),
        col("_t_x").as("_tx2"), col("_t_y").as("_ty2"), col("_txy2"),
        col("_tv_x"), col("_tv_y"), col("_tw_x"), col("_tw_y"))
    val dn = col("n").cast("double")
    val dx = (dn * (dn - lit(1.0)) - col("_tx2").cast("double")) / lit(2.0)
    val dy = (dn * (dn - lit(1.0)) - col("_ty2").cast("double")) / lit(2.0)
    // tie-corrected null variance of C−D (Kendall 1970 / the scipy
    // kendalltau convention): the big (v0−vt−vu) term is an EXACT
    // decimal subtraction; the three terms combine as additions of
    // DIVISION results — no fusible a·b+c float shape
    val nDecC = dec(lit(total))
    val one2 = lit(1L).cast("decimal(38,0)")
    val v0 = nDecC * (nDecC - one2) *
      (lit(2L).cast("decimal(38,0)") * nDecC + lit(5L).cast("decimal(38,0)"))
    val varNum1 = (v0 - col("_tv_x") - col("_tv_y")).cast("decimal(38,0)")
    val term1 = varNum1.cast("double") / lit(18.0)
    val term2 = (col("_tx2") * col("_ty2")).cast("decimal(38,0)").cast("double") /
      (lit(2.0) * dn * (dn - lit(1.0)))
    val term3 = (col("_tw_x") * col("_tw_y")).cast("decimal(38,0)").cast("double") /
      (lit(9.0) * dn * (dn - lit(1.0)) * (dn - lit(2.0)))
    val varCD = term1 + term2 + term3
    val out = joined.select(
      col("n"),
      col("_c").cast("double").as("concordant"),
      col("_d").cast("double").as("discordant"),
      col("_tx2").cast("double").as("tie_x2"),
      col("_ty2").cast("double").as("tie_y2"),
      col("_txy2").cast("double").as("tie_xy2"),
      when(dx > lit(0.0) && dy > lit(0.0),
        (col("_c").cast("double") - col("_d").cast("double")) / sqrt(dx * dy))
        .as("tau_b"),
      when(lit(total) > 2L && varCD > lit(0.0),
        (col("_c").cast("double") - col("_d").cast("double")) / sqrt(varCD))
        .as("z"))
      .withColumn("p_two_sided", StatTests.normalPTwoSided(col("z")))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(raw, census, cen))
    out
  }

  /** Per-group [[kendallTauExact]] — each group's exact raw-value
    * τ-b and tie-corrected z from ONE (group, x, y) census: the same
    * three-class pair partition, with the cell grid SHARED across
    * groups (cells bucket the global value range; cell order = value
    * order holds within every group, so per-group dominance on the
    * zero-filled groups × cells² spine is exact), B/C refinement
    * joins keyed by (group, cell), and per-group tie censuses.
    * Group-scale joins ride the adaptive-broadcast convention.
    * Default cells is smaller than the solo form's: the spine is
    * groups × cells², and per-group distinct counts are smaller.
    */
  def kendallTauExactBy(
      df: DataFrame, group: Column, x: Column, y: Column,
      cells: Int = 64,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit): DataFrame = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val W = org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val raw = df
      .select(group.as("_g"), x.cast("double").as("_x"), y.cast("double").as("_y"))
      .persistFresh()
    val nn = raw.filter(col("_g").isNotNull &&
      col("_x").isNotNull && !isnan(col("_x")) &&
      col("_y").isNotNull && !isnan(col("_y")))
    val census = nn.groupBy(col("_g"), col("_x"), col("_y"))
      .agg(count(lit(1)).as("_n"))
      .persistCensus()
    val stats = census.agg(
      min(col("_x")), max(col("_x")), min(col("_y")), max(col("_y")),
      countDistinct(col("_g"))).head()
    if (stats.isNullAt(0)) {
      census.unpersist(blocking = false); raw.unpersist(blocking = false)
      return spark.range(0).select(
        lit("").as("group_key"), lit(0L).as("n"),
        lit(null).cast("double").as("concordant"),
        lit(null).cast("double").as("discordant"),
        lit(null).cast("double").as("tie_x2"),
        lit(null).cast("double").as("tie_y2"),
        lit(null).cast("double").as("tie_xy2"),
        lit(null).cast("double").as("tau_b"),
        lit(null).cast("double").as("z"),
        lit(null).cast("double").as("p_two_sided"))
    }
    val (mnX, mxX) = (stats.getDouble(0), stats.getDouble(1))
    val (mnY, mxY) = (stats.getDouble(2), stats.getDouble(3))
    val ng = stats.getLong(4)
    def cellOf(c: Column, mn: Double, mx: Double): Column =
      if (mx == mn) lit(0L)
      else least(lit(cells - 1L), greatest(lit(0L),
        floor((c - lit(mn)) / lit((mx - mn) / cells))))
    val cen = census
      .withColumn("_cx", cellOf(col("_x"), mnX, mxX))
      .withColumn("_cy", cellOf(col("_y"), mnY, mxY))
      .persistFresh()
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val one = lit(1L).cast("decimal(38,0)")
    val dec0 = lit(0L).cast("decimal(38,0)")

    // class A per group: dominance on the zero-filled group spine
    val cellCensus = cen.groupBy(col("_g"), col("_cx"), col("_cy"))
      .agg(sum(col("_n")).as("_n"))
    val grid = spark.range(0, cells).select(col("id").as("_cx"))
      .crossJoin(broadcast(spark.range(0, cells).select(col("id").as("_cy"))))
    val full = census.select(col("_g")).distinct()
      .crossJoin(broadcast(grid))
      .join(cellCensus, Seq("_g", "_cx", "_cy"), "left")
      .select(col("_g"), col("_cx"), col("_cy"),
        coalesce(col("_n"), lit(0L)).as("_n"))
    val wCol = W.partitionBy(col("_g"), col("_cx")).orderBy(col("_cy"))
    val s1 = full
      .withColumn("_sAbove",
        coalesce(sum(col("_n")).over(wCol.rowsBetween(1, W.unboundedFollowing)), lit(0L)))
      .withColumn("_sBelow",
        coalesce(sum(col("_n")).over(wCol.rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
    val wRow = W.partitionBy(col("_g"), col("_cy")).orderBy(col("_cx"))
      .rowsBetween(1, W.unboundedFollowing)
    val domA = s1
      .withColumn("_gg", coalesce(sum(col("_sAbove")).over(wRow), lit(0L)))
      .withColumn("_ll", coalesce(sum(col("_sBelow")).over(wRow), lit(0L)))
      .groupBy(col("_g")).agg(
        sum(col("_n")).as("n"),
        sum(dec(col("_n")) * dec(col("_gg"))).cast("decimal(38,0)").as("_cA"),
        sum(dec(col("_n")) * dec(col("_ll"))).cast("decimal(38,0)").as("_dA"))

    // classes B and C: (group, cell)-keyed refinement joins
    val l = cen.select(col("_g").as("_lg"), col("_cx").as("_kcx"),
      col("_cy").as("_kcy"), col("_x").as("_x1"), col("_y").as("_y1"),
      col("_n").as("_n1"))
    val r = cen.select(col("_g").as("_rg"), col("_cx").as("_rcx"),
      col("_cy").as("_rcy"), col("_x").as("_x2"), col("_y").as("_y2"),
      col("_n").as("_n2"))
    val aggB = l.join(r, col("_lg") === col("_rg") &&
        col("_kcx") === col("_rcx") && col("_x1") < col("_x2"))
      .groupBy(col("_lg").as("_g")).agg(
        coalesce(sum(when(col("_y2") > col("_y1"), dec(col("_n1")) * dec(col("_n2")))),
          dec0).cast("decimal(38,0)").as("_cB"),
        coalesce(sum(when(col("_y2") < col("_y1"), dec(col("_n1")) * dec(col("_n2")))),
          dec0).cast("decimal(38,0)").as("_dB"))
    val aggC = l.join(r, col("_lg") === col("_rg") &&
        col("_kcy") === col("_rcy") &&
        col("_y1") < col("_y2") && col("_kcx") =!= col("_rcx"))
      .groupBy(col("_lg").as("_g")).agg(
        coalesce(sum(when(col("_rcx") > col("_kcx"), dec(col("_n1")) * dec(col("_n2")))),
          dec0).cast("decimal(38,0)").as("_cC"),
        coalesce(sum(when(col("_rcx") < col("_kcx"), dec(col("_n1")) * dec(col("_n2")))),
          dec0).cast("decimal(38,0)").as("_dC"))

    // per-group tie censuses (τ-b denominator + z variance terms)
    def margTies(key: String, t2: String, tv: String, tw: String): DataFrame = {
      val t = census.groupBy(col("_g").as("_gm"), col(key)).agg(sum(col("_n")).as("_t"))
      val td = dec(col("_t"))
      val two = lit(2L).cast("decimal(38,0)")
      val five = lit(5L).cast("decimal(38,0)")
      t.groupBy(col("_gm")).agg(
        coalesce(sum(td * (td - one)), dec0).cast("decimal(38,0)").as(t2),
        coalesce(sum(td * (td - one) * (two * td + five)), dec0)
          .cast("decimal(38,0)").as(tv),
        coalesce(sum(td * (td - one) * (td - two)), dec0)
          .cast("decimal(38,0)").as(tw))
    }
    val jointTie = census.groupBy(col("_g").as("_gm"))
      .agg(coalesce(sum(dec(col("_n")) * (dec(col("_n")) - one)), dec0)
        .cast("decimal(38,0)").as("_txy2"))

    def joinG(a: DataFrame, b: DataFrame): DataFrame = {
      val withKey = if (b.columns.contains("_gm")) b else b.withColumnRenamed("_g", "_gm")
      a.join(Limits.broadcastIfSmall(withKey, ng, broadcastRowLimit),
        col("_g") === col("_gm"), "left").drop("_gm")
    }
    val joined = joinG(joinG(joinG(joinG(joinG(
      domA, aggB), aggC),
      margTies("_x", "_tx2", "_tvx", "_twx")),
      margTies("_y", "_ty2", "_tvy", "_twy")), jointTie)
    // B/C absent groups: left-join NULLs are zeroed by the z0 coalesce
    val z0 = (c: String) => coalesce(col(c), dec0)
    val base = joined.select(
      col("_g").as("group_key"), col("n"),
      (col("_cA") + z0("_cB") + z0("_cC")).cast("decimal(38,0)").as("_c"),
      (col("_dA") + z0("_dB") + z0("_dC")).cast("decimal(38,0)").as("_d"),
      col("_tx2"), col("_ty2"), col("_txy2"),
      col("_tvx"), col("_tvy"), col("_twx"), col("_twy"))
    val dn = col("n").cast("double")
    val dx = (dn * (dn - lit(1.0)) - col("_tx2").cast("double")) / lit(2.0)
    val dy = (dn * (dn - lit(1.0)) - col("_ty2").cast("double")) / lit(2.0)
    val nDecC = dec(col("n"))
    val v0 = nDecC * (nDecC - one) *
      (lit(2L).cast("decimal(38,0)") * nDecC + lit(5L).cast("decimal(38,0)"))
    val varNum1 = (v0 - col("_tvx") - col("_tvy")).cast("decimal(38,0)")
    val term1 = varNum1.cast("double") / lit(18.0)
    val term2 = (col("_tx2") * col("_ty2")).cast("decimal(38,0)").cast("double") /
      (lit(2.0) * dn * (dn - lit(1.0)))
    val term3 = (col("_twx") * col("_twy")).cast("decimal(38,0)").cast("double") /
      (lit(9.0) * dn * (dn - lit(1.0)) * (dn - lit(2.0)))
    val varCD = term1 + term2 + term3
    val out = base.select(
      col("group_key"), col("n"),
      col("_c").cast("double").as("concordant"),
      col("_d").cast("double").as("discordant"),
      col("_tx2").cast("double").as("tie_x2"),
      col("_ty2").cast("double").as("tie_y2"),
      col("_txy2").cast("double").as("tie_xy2"),
      when(dx > lit(0.0) && dy > lit(0.0),
        (col("_c").cast("double") - col("_d").cast("double")) / sqrt(dx * dy))
        .as("tau_b"),
      when(col("n") > 2L && varCD > lit(0.0),
        (col("_c").cast("double") - col("_d").cast("double")) / sqrt(varCD))
        .as("z"))
      .withColumn("p_two_sided", StatTests.normalPTwoSided(col("z")))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(raw, census, cen))
    out
  }

  /** Jarque–Bera normality census — "is this metric's distribution
    * even roughly normal?" as a scored decision (residual checks,
    * anomaly-model preconditions, detecting mixture/fat-tail regimes
    * in a metric the mean/σ monitors assume Gaussian). The caller
    * quantizes to an exact integer column (`bround(x·100)` cents —
    * the shared convention).
    *
    * EXACTNESS: the central-moment NUMERATORS are computed as pure
    * integers in DECIMAL(38,0) about an integer shift m0 ≈ mean
    * (shifting keeps fourth powers small: the domain bound is
    * n³·Σ(v−m0)⁴ < 10³⁸ — deviations ≲ 10⁴ quantization units at
    * 10⁶ rows/group; the aggregate ERRORS loudly on overflow under
    * ANSI decimal rather than degrading):
    *   M2n = n·S2 − S1², M3n = n²·S3 − 3n·S1·S2 + 2S1³,
    *   M4n = n³·S4 − 4n²·S1·S3 + 6n·S1²·S2 − 3S1⁴   (Sk = Σ(v−m0)^k)
    * The float tail is FUSION-FREE by construction: skewness
    * (M3n/n³)/(m2·√m2) and kurtosis (M4n/n⁴)/(m2·m2) are pure
    * multiply/divide/sqrt chains (no a·b+c shape anywhere), and the
    * JB combination S²+((K−3)²/4) quantizes each term to 1e−9 and
    * adds EXACT decimals — because a float multiply feeding an add
    * invites FMA contraction in vectorized engines (observed: DuckDB
    * reassociates/fuses the classic m4 raw-moment dag 2 ulp away
    * from the stated left-to-right IEEE evaluation; integer
    * numerators + fusion-free floats are the portable form).
    *
    * Output: n, mean, m2, skewness, kurtosis, jb_stat (quantized
    * combination, stated), p_value = exp(−JB/2) via the exact χ²(2)
    * survival grid. Degenerate shapes → NULL.
    *
    * 100 TB: two hash aggregates over one persisted narrow
    * projection (the shift needs the mean first); 1-row output.
    */
  def normalityJarqueBera(df: DataFrame, intValue: Column): DataFrame = {
    val nn = df.select(intValue.cast("long").as("_v"))
      .filter(col("_v").isNotNull)
      .persistFresh()
    val head = nn.agg(count(lit(1)).as("n"),
      coalesce(sum(col("_v").cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("_s1")).head()
    val n = head.getLong(0)
    if (n == 0L) {
      nn.unpersist(blocking = false)
      return df.sparkSession.range(1).select(
        lit(0L).as("n"), lit(null).cast("double").as("mean"),
        lit(null).cast("double").as("m2"),
        lit(null).cast("double").as("skewness"),
        lit(null).cast("double").as("kurtosis"),
        lit(null).cast("double").as("jb_stat"),
        lit(null).cast("double").as("p_value"))
    }
    val s1 = head.getDecimal(1)
    val m0 = math.floor(s1.doubleValue() / n.toDouble).toLong
    val out = jarqueBeraFinish(
      shiftedSums(nn.withColumn("_g", lit(1)), m0).drop("group_key"),
      meanOf = Some(s1.doubleValue() / n.toDouble))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(nn))
    out
  }

  /** (group, shifted power sums) aggregate shared by the two forms. */
  private def shiftedSums(nn: DataFrame, m0: Long): DataFrame = {
    val d = (col("_v") - lit(m0)).cast("decimal(38,0)")
    nn.groupBy(col("_g").as("group_key")).agg(
      count(lit(1)).as("n"),
      sum(d).cast("decimal(38,0)").as("_s1"),
      sum(d * d).cast("decimal(38,0)").as("_s2"),
      sum(d * d * d).cast("decimal(38,0)").as("_s3"),
      sum(d * d * d * d).cast("decimal(38,0)").as("_s4"))
      .withColumn("_m0", lit(m0))
  }

  /** Shared finishing dag: exact integer central-moment numerators →
    * fusion-free float shape statistics. `meanOf` carries the solo
    * form's precomputed mean; the grouped form derives it from the
    * shift identity mean = m0 + S1/n. */
  private def jarqueBeraFinish(
      aggd: DataFrame, meanOf: Option[Double] = None,
      carry: Seq[String] = Nil): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val nDec = dec(col("n"))
    val withNum = aggd
      .withColumn("_m2n",
        (nDec * col("_s2") - col("_s1") * col("_s1"))
          .cast("decimal(38,0)"))
      .withColumn("_m3n",
        (nDec * nDec * col("_s3")
          - lit(3L).cast("decimal(38,0)") * nDec * col("_s1") * col("_s2")
          + lit(2L).cast("decimal(38,0)") * col("_s1") * col("_s1") * col("_s1"))
          .cast("decimal(38,0)"))
      .withColumn("_m4n",
        (nDec * nDec * nDec * col("_s4")
          - lit(4L).cast("decimal(38,0)") * nDec * nDec * col("_s1") * col("_s3")
          + lit(6L).cast("decimal(38,0)") * nDec * col("_s1") * col("_s1") * col("_s2")
          - lit(3L).cast("decimal(38,0)") * col("_s1") * col("_s1") * col("_s1") * col("_s1"))
          .cast("decimal(38,0)"))
    val nd = col("n").cast("double")
    val mean = meanOf.map(lit).getOrElse(
      col("_m0").cast("double") + col("_s1").cast("double") / nd)
    val shaped = withNum
      .withColumn("mean", mean)
      .withColumn("m2", col("_m2n").cast("double") / (nd * nd))
      .withColumn("skewness",
        when(col("m2") > lit(0.0),
          (col("_m3n").cast("double") / (nd * nd * nd))
            / (col("m2") * sqrt(col("m2")))))
      .withColumn("kurtosis",
        when(col("m2") > lit(0.0),
          (col("_m4n").cast("double") / (nd * nd * nd * nd))
            / (col("m2") * col("m2"))))
      .withColumn("jb_stat",
        when(col("skewness").isNotNull && col("kurtosis").isNotNull,
          (nd / lit(6.0)) *
            ((bround(col("skewness") * col("skewness") * lit(1e9))
                .cast("decimal(38,0)")
              + bround((col("kurtosis") - lit(3.0)) * (col("kurtosis") - lit(3.0))
                  / lit(4.0) * lit(1e9)).cast("decimal(38,0)"))
              .cast("double") / lit(1e9))))
      .withColumn("p_value", StatTests.chi2Df2PValue(col("jb_stat")))
    shaped.select(carry.map(col) ++ Seq(col("n"), col("mean"), col("m2"),
      col("skewness"), col("kurtosis"), col("jb_stat"), col("p_value")): _*)
  }

  /** Per-key [[normalityJarqueBera]] over a maintained MOMENTS log
    * ([[Incremental.bucketMoments]] / the streaming momentsSink):
    * the standing normality monitor — key×bucket rows in, the same
    * finishing dag out, bit-identical to the batch grouped form when
    * the log's shift equals the batch's (and exact for ANY shift by
    * numerator invariance). */
  def normalityFromMoments(moments: DataFrame): DataFrame =
    jarqueBeraFinish(
      Incremental.keyMoments(moments).select(
        col("key").as("group_key"), col("n"),
        col("s1").as("_s1"), col("s2").as("_s2"),
        col("s3").as("_s3"), col("s4").as("_s4"),
        col("shift").as("_m0")),
      carry = Seq("group_key"))

  /** Per-group [[normalityJarqueBera]] — ONE global integer shift m0
    * (any integer shift yields exact central numerators, so sharing
    * the corpus-level shift costs nothing and keeps the plan at two
    * aggregates); per-group means recovered from the shift identity.
    * NULL-group rows excluded. */
  def normalityJarqueBeraBy(
      df: DataFrame, group: Column, intValue: Column): DataFrame = {
    val nn = df.select(group.as("_g"), intValue.cast("long").as("_v"))
      .filter(col("_g").isNotNull && col("_v").isNotNull)
      .persistFresh()
    val head = nn.agg(count(lit(1)).as("n"),
      coalesce(sum(col("_v").cast("decimal(38,0)")),
        lit(0L).cast("decimal(38,0)")).as("_s1")).head()
    val n = head.getLong(0)
    if (n == 0L) {
      nn.unpersist(blocking = false)
      return df.sparkSession.emptyDataFrame
        .select()  // no groups: 0-row frame with the output schema below
        .limit(0)
        .select(lit("").as("group_key"), lit(0L).as("n"),
          lit(null).cast("double").as("mean"),
          lit(null).cast("double").as("m2"),
          lit(null).cast("double").as("skewness"),
          lit(null).cast("double").as("kurtosis"),
          lit(null).cast("double").as("jb_stat"),
          lit(null).cast("double").as("p_value"))
    }
    val m0 = math.floor(head.getDecimal(1).doubleValue() / n.toDouble).toLong
    val out = jarqueBeraFinish(shiftedSums(nn, m0), carry = Seq("group_key"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(nn))
    out
  }
}
