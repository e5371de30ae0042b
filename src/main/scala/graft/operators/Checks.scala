package graft.operators

import graft.AdaptiveCache.CensusPersist
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Limits

/** Declarative data-quality checks — the Deequ-shaped layer the
  * reference's domain implies (SURVEY.md §7.1): completeness,
  * uniqueness, referential integrity, value bounds. Each check
  * returns a tidy metrics DataFrame (one row per checked unit) so
  * results compose with the reconciliation/report sinks.
  *
  * Scale: every check is a single-pass aggregation (partial at the
  * scan, O(#checked-units) rows shuffled) or an anti-join on the key
  * columns only — payload never moves.
  */
object Checks {

  /** One declared constraint: a metrics frame, the metric column to
    * gate on, the unit-label column, and the minimum acceptable
    * value. [[evaluateSuite]] turns a set of these into one pass/fail
    * report — the "quality gate" the reference's operational scripts
    * are, expressed declaratively.
    */
  final case class Constraint(
      checkName: String,
      metrics: DataFrame,
      labelCol: String,
      metricCol: String,
      minimum: Double)

  /** Evaluate all constraints into one tidy report:
    * (check_name, unit, metric_value, threshold, passed). Each
    * constraint's metrics frame stays lazy until this union executes;
    * unions of per-check aggregates are parallel stages of one job.
    */
  def evaluateSuite(constraints: Seq[Constraint]): DataFrame =
    constraints.map { c =>
      c.metrics.select(
        lit(c.checkName).as("check_name"),
        col(c.labelCol).cast("string").as("unit"),
        col(c.metricCol).cast("double").as("metric_value"),
        lit(c.minimum).as("threshold"),
        (col(c.metricCol).cast("double") >= c.minimum).as("passed"))
    }.reduce(_ unionByName _)

  /** Per-column completeness: non-null fraction. One scan for ALL
    * columns (the per-column counts fold into one aggregate).
    */
  def completeness(df: DataFrame, cols: Seq[String]): DataFrame = {
    val agg = df.agg(
      count(lit(1)).as("n_rows"),
      cols.map(c => count(col(c)).as(s"_nn_$c")): _*)
    val stacked = explode(array(cols.map(c =>
      struct(lit(c).as("column"), col(s"_nn_$c").as("n_nonnull"))): _*))
    agg.select(col("n_rows"), stacked.as("u"))
      .select(
        col("u.column"),
        col("n_rows"),
        col("u.n_nonnull"),
        when(col("n_rows") > 0,
          col("u.n_nonnull").cast("double") / col("n_rows").cast("double"))
          .otherwise(lit(null).cast("double")).as("completeness"))
  }

  /** Key uniqueness: distinct key combinations vs rows. `label` names
    * the key set in the output (checks over several key sets union).
    */
  def uniqueness(df: DataFrame, keyCols: Seq[String], label: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      count_distinct(struct(keyCols.map(col): _*)).as("n_distinct"))
      .select(
        lit(label).as("key_set"),
        col("n_rows"), col("n_distinct"),
        when(col("n_rows") > 0,
          col("n_distinct").cast("double") / col("n_rows").cast("double"))
          .otherwise(lit(null).cast("double")).as("uniqueness"))

  /** Approximate cardinality (HLL) — the 100 TB path for uniqueness
    * profiling where exact count-distinct would shuffle every key.
    * No SQL oracle (sketch internals differ per engine); the spec
    * pins relative error against the exact count.
    */
  def approxCardinality(df: DataFrame, cols: Seq[String], rsd: Double = 0.02): DataFrame = {
    val agg = df.agg(
      count(lit(1)).as("n_rows"),
      cols.map(c => approx_count_distinct(col(c), rsd).as(s"_ac_$c")): _*)
    val stacked = explode(array(cols.map(c =>
      struct(lit(c).as("column"), col(s"_ac_$c").as("approx_distinct"))): _*))
    agg.select(col("n_rows"), stacked.as("u"))
      .select(col("u.column"), col("n_rows"), col("u.approx_distinct"))
  }

  /** Referential integrity: child keys with no parent (left anti join
    * on the key columns only). The orphaned-foreign-key check the
    * reference's reconciliation implies but never implements
    * (SURVEY.md §2.3 note on semi/anti joins).
    */
  def referentialIntegrity(
      child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column,
      label: String): DataFrame = {
    val c = child.select(childKey.as("_k"))
    val p = parent.select(parentKey.as("_k"))
    val nChild = c.agg(count(lit(1)).as("n_child"))
    val orphans = c.join(p, Seq("_k"), "left_anti")
      .agg(count(lit(1)).as("n_orphans"))
    nChild.crossJoin(orphans)
      .select(
        lit(label).as("relation"),
        col("n_child"), col("n_orphans"),
        when(col("n_child") > 0,
          lit(1.0) - col("n_orphans").cast("double") / col("n_child").cast("double"))
          .otherwise(lit(null).cast("double")).as("integrity"))
  }

  /** Run-over-run metric trend: for an accumulating report table
    * (the S8 append-by-`date_created` design, PPE:245-247), compute
    * each key's latest metric, its previous run's value, the delta,
    * and a drift flag. This is the consumer the reference's
    * accumulate-by-run-date sink implies but never implements —
    * "did this site's count change suspiciously since yesterday?".
    *
    * One window pass partitioned by key ordered by run date; at scale
    * the report table is tiny (keys × runs), so the window shuffle is
    * negligible.
    */
  def metricTrend(
      report: DataFrame,
      keyCols: Seq[String],
      metricCol: String,
      runDateCol: String,
      maxRelativeDrift: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same-day reruns of an append sink duplicate (key, run_date) rows,
    // which would make lag()/row_number() tie-break nondeterministically;
    // collapse to one row per (key, run_date) first (max = latest run's
    // value under the grow-only metrics this check targets)
    val perRun = report
      .groupBy((keyCols :+ runDateCol).map(col): _*)
      .agg(max(col(metricCol)).as(metricCol))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(runDateCol).asc)
    val withPrev = perRun
      .withColumn("_prev", lag(col(metricCol), 1).over(w))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(col(runDateCol).desc)))
      .filter(col("_rn") === 1)
    withPrev.select(
      keyCols.map(col) ++ Seq(
        col(runDateCol),
        col(metricCol).as("current_value"),
        col("_prev").as("previous_value"),
        (col(metricCol) - col("_prev")).as("delta"),
        when(col("_prev").isNotNull && col("_prev") =!= 0,
          abs((col(metricCol) - col("_prev")).cast("double") / col("_prev").cast("double"))
            > maxRelativeDrift)
          .otherwise(lit(null).cast("boolean")).as("drift_exceeded")): _*)
  }

  /** Categorical distribution drift between a current batch and a
    * baseline, by chi-square contribution per category: expected
    * count = baseline fraction × current total, contribution =
    * (observed − expected)² / expected. The overall statistic is the
    * sum of contributions; per-category rows localize WHICH value
    * drifted, which the scalar alone can't. Pure +,*,/ arithmetic —
    * no p-value transcendentals — so the result is engine-exact and
    * the caller compares against a precomputed critical value.
    *
    * Categories new to the current batch (no baseline mass) have no
    * finite contribution: expected/contribution come back null with
    * `new_category = true` — infinite drift surfaced as data, not an
    * exception. Categories that vanished contribute their full
    * expected count. Two tiny aggregates + a full outer join on the
    * category key; scales with distinct categories, not rows.
    */
  def categoricalDrift(
      current: DataFrame, baseline: DataFrame, catCol: String): DataFrame = {
    val cur = current.groupBy(col(catCol)).agg(count(lit(1)).as("n_current"))
    val base = baseline.groupBy(col(catCol)).agg(count(lit(1)).as("n_baseline"))
    // null-SAFE key equality: a join on Seq(catCol) uses null-rejecting
    // equality, so a NULL category present on both sides would split
    // into a bogus new-category row AND a bogus vanished-category row
    val joined = cur.as("c")
      .join(base.as("b"), col(s"c.$catCol") <=> col(s"b.$catCol"), "full_outer")
      .select(coalesce(col(s"c.$catCol"), col(s"b.$catCol")).as(catCol),
        coalesce(col("n_current"), lit(0L)).as("n_current"),
        coalesce(col("n_baseline"), lit(0L)).as("n_baseline"))
    val totals = joined.agg(
      sum(col("n_current")).as("_tc"), sum(col("n_baseline")).as("_tb"))
    val expected = col("n_baseline").cast("double") / col("_tb").cast("double") *
      col("_tc").cast("double")
    // guard includes _tc > 0: an EMPTY current batch makes every
    // expected count 0.0 and the contribution 0/0 — Spark yields NULL
    // but other engines yield NaN, so the defined-ness rule must be
    // explicit rather than left to division semantics
    val defined = col("n_baseline") > 0 && col("_tc") > 0
    joined.crossJoin(totals)
      .select(col(catCol), col("n_current"), col("n_baseline"),
        when(defined, expected)
          .otherwise(lit(null).cast("double")).as("expected"),
        when(defined,
          (col("n_current").cast("double") - expected)
            * (col("n_current").cast("double") - expected) / expected)
          .otherwise(lit(null).cast("double")).as("chi2_contribution"),
        (col("n_baseline") === 0).as("new_category"))
  }

  /** Numeric distribution drift: fixed-width histogram bins feed the
    * categorical chi-square machinery ([[categoricalDrift]]). Fixed
    * bins (not quantiles) keep the comparison stable run-over-run and
    * engine-exact; choose `binWidth` from the baseline's range. Null
    * values form their own bin (the null "category" survives the
    * null-safe join), so a null-rate shift also registers as drift.
    */
  def numericDrift(
      current: DataFrame, baseline: DataFrame, valueCol: String,
      binWidth: Double): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    def binned(df: DataFrame) = df.select(
      floor(col(valueCol).cast("double") / binWidth).cast("long").as("_bin"))
    categoricalDrift(binned(current), binned(baseline), "_bin")
      .withColumnRenamed("_bin", "bin")
      .withColumn("bin_start", col("bin").cast("double") * binWidth)
  }

  /** Numeric drift over the baseline's own quantiles: equal-
    * frequency edges from the baseline ([[Profiling.equalFrequencyBins]]'
    * exact ntile), both sides re-binned by those edges, chi-square
    * per bin — the PSI-shaped test. Where [[numericDrift]]'s fixed-
    * width bins put 99% of a skewed column in one bar (drift inside
    * that bar is invisible), quantile bins give every bin equal
    * baseline mass, so the test has uniform power across the
    * distribution.
    *
    * Binning rule: lowest bin whose edge is ≥ the value; values past
    * the baseline's top edge land in bin `nBins` (the open top bin —
    * a current batch drifting beyond the baseline max still
    * registers rather than falling off the census). Nulls and NaNs
    * form their own null bin through [[categoricalDrift]]'s
    * null-safe join, so a null-rate shift also registers. Ties at an
    * edge collapse to the lower bin on BOTH sides — deterministic
    * regardless of `baseTiebreak`, which only fixes the edge
    * extraction order.
    *
    * Scale: the edges are a `nBins`-row config-sized driver pull
    * (the [[Profiling.histogram]] bounds pattern) on top of the
    * binning passes; in production the baseline edge profile is
    * computed once and reused per batch, so the steady-state cost is
    * one literal-comparison scan per side feeding a bins-sized
    * aggregate.
    */
  def quantileDrift(
      current: DataFrame, baseline: DataFrame, valueCol: String,
      baseTiebreak: Column, nBins: Int): DataFrame = {
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    val edges = Profiling.equalFrequencyBins(
        baseline.select(col(valueCol), baseTiebreak.as("_tb")),
        col(valueCol), col("_tb"), nBins)
      .groupBy(col("bin")).agg(max(col(valueCol).cast("double")).as("hi"))
      .orderBy(col("bin"))
      .collect().map(_.getDouble(1)).toSeq
    require(edges.nonEmpty, "baseline has no non-null finite values to profile")
    def binned(df: DataFrame) = {
      val v = col(valueCol).cast("double")
      val fenced = when(v.isNull || isnan(v), lit(null).cast("long"))
      val chain = edges.dropRight(1).zipWithIndex.foldLeft(fenced) {
        case (acc, (e, i)) => acc.when(v <= e, (i + 1).toLong)
      }
      df.select(chain.otherwise(edges.size.toLong).as("_qbin"))
    }
    categoricalDrift(binned(current), binned(baseline), "_qbin")
      .withColumnRenamed("_qbin", "bin")
  }

  /** Representation drift between two embedding corpora, one row per
    * vector dimension: did the encoder (or the data under it) move?
    * Completes the drift family — [[categoricalDrift]] for labels,
    * [[numericDrift]]/[[quantileDrift]] for scalars, this for the
    * embedding space a curation pipeline filters and indexes by. A
    * mean shifting by sigmas in a few dimensions is a fingerprint of
    * an encoder version change or a corpus composition shift —
    * either silently invalidates an ANN index or a trained quality
    * gate downstream.
    *
    * Per dimension: both sides' n/mean/stddev
    * ([[Profiling.profileEmbedding]]'s engine-exact fixed-point
    * sums), the raw mean shift, the shift in baseline sigmas
    * (null when the baseline dimension is constant — a shift off a
    * zero-variance baseline is categorical, not scalable), and the
    * stddev ratio (same guard). All post-profile arithmetic is one
    * subtraction and two divisions of already-exact doubles in a
    * fixed expression order, so an oracle restating the q68 scheme
    * hash-matches.
    *
    * Scale: two profile passes (posexplode + one grouped aggregate
    * each, ≤ dim partial rows per task) and a dims-sized full-outer
    * join — a ragged corpus (mismatched dims) surfaces as rows with
    * one side null rather than vanishing.
    */
  def embeddingDrift(
      current: DataFrame, baseline: DataFrame, vecCol: String): DataFrame = {
    def side(df: DataFrame, tag: String) =
      Profiling.profileEmbedding(df, vecCol).select(
        col("dim"), col("n").as(s"n_$tag"),
        col("mean").as(s"mean_$tag"), col("stddev").as(s"stddev_$tag"))
    side(current, "current")
      .join(side(baseline, "baseline"), Seq("dim"), "full_outer")
      .withColumn("mean_shift", col("mean_current") - col("mean_baseline"))
      .withColumn("shift_sigmas",
        when(col("stddev_baseline") > 0.0,
          col("mean_shift") / col("stddev_baseline")))
      .withColumn("stddev_ratio",
        when(col("stddev_baseline") > 0.0,
          col("stddev_current") / col("stddev_baseline")))
      .select(col("dim"), col("n_baseline"), col("n_current"),
        col("mean_baseline"), col("mean_current"), col("mean_shift"),
        col("shift_sigmas"), col("stddev_baseline"), col("stddev_current"),
        col("stddev_ratio"))
  }

  /** Schema drift between two datasets: one row per column that was
    * added, removed, or retyped. Metadata-only — no data scan; the
    * result is a local DataFrame for uniform reporting.
    */
  def schemaDrift(
      current: DataFrame, baseline: DataFrame): DataFrame = {
    val spark = current.sparkSession
    import spark.implicits._
    val cur = current.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val base = baseline.schema.map(f => f.name -> f.dataType.simpleString).toMap
    val rows =
      (cur.keySet -- base.keySet).toSeq.sorted.map(c =>
        (c, "added", cur(c), null: String)) ++
      (base.keySet -- cur.keySet).toSeq.sorted.map(c =>
        (c, "removed", null: String, base(c))) ++
      (cur.keySet & base.keySet).toSeq.sorted
        .filter(c => cur(c) != base(c))
        .map(c => (c, "retyped", cur(c), base(c)))
    rows.toDF("column", "change", "current_type", "baseline_type")
  }

  /** Benford first-significant-digit census — the classic fabricated-
    * data / unit-mix-up screen: naturally occurring multi-magnitude
    * quantities (amounts, populations, file sizes) put digit d first
    * with probability log10(1 + 1/d); truncation, capping, synthetic
    * fill-in, or a unit change bend the curve. Output: one row per
    * digit 1–9 with the observed count, observed fraction, Benford
    * expectation, and the chi-square contribution — per-digit rows
    * localize WHICH digit deviates ([[categoricalDrift]]'s shape).
    *
    * Engine-exact by construction. The digit comes from
    * `floor(|v| / 10^floor(log10(|v|)))` with a two-sided FIXUP
    * (result 0 → shift up; result ≥ 10 → shift down): log10 is
    * transcendental and may land one ulp apart across engines at
    * exact powers of ten, but both ulp-neighbors converge to the
    * same digit after the fixup, so the census is integer-exact
    * everywhere. Benford expectations are Scala-computed literals
    * stringified into the oracle (shortest-round-trip — the BM25
    * trick), and the chi-square term is +,*,/ only. Zeros and nulls
    * carry no first digit and are excluded; at 100 TB the whole
    * census is one scan with a 9-group map-side partial aggregate.
    */
  def benfordFirstDigit(df: DataFrame, valueCol: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = abs(valueCol.cast("double"))
    val e = floor(log10(v))
    val raw = floor(v / pow(lit(10.0), e)).cast("long")
    // fixup both ulp directions: log10 rounded HIGH makes raw 0 (the
    // true digit is floor(v/10^(e−1)), e.g. 9 for v just under a
    // power of ten); rounded LOW makes raw 10..99 (integer-divide
    // back). Either engine's ulp lands on the same digit after this.
    // NB: Column `/` on longs is DOUBLE division in Spark — 31/10
    // would yield digit 3.1 and silently miss the 9-digit spine, so
    // the shift-down branch floors explicitly (same text as the
    // oracle SQL)
    val digit = when(raw >= 10L, floor(raw.cast("double") / lit(10.0)).cast("long"))
      .when(raw === 0L, floor(v / pow(lit(10.0), e - 1)).cast("long"))
      .otherwise(raw)
    val counts = df
      // ±Infinity carries no first digit either: it would pass v > 0
      // (after abs), make e and v/10^e NaN, count under a phantom
      // digit the spine drops — yet still inflate _t and deflate
      // every observed_p. Fence it like NaN.
      .filter(valueCol.isNotNull && v > 0 && !isnan(v) &&
        v =!= lit(Double.PositiveInfinity))
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
    val expected = (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))
    val spine = expected.toDF("digit_i", "expected_p")
      .select(col("digit_i").cast("long").as("digit"), col("expected_p"))
    val total = counts.agg(sum(col("n")).as("_t"))
    spine.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"), col("expected_p"))
      .crossJoin(broadcast(total))
      .select(
        col("digit"), col("n"),
        when(col("_t") > 0, col("n").cast("double") / col("_t").cast("double"))
          .otherwise(lit(null).cast("double")).as("observed_p"),
        col("expected_p"),
        when(col("_t") > 0,
          (col("n").cast("double") - col("_t").cast("double") * col("expected_p"))
            * (col("n").cast("double") - col("_t").cast("double") * col("expected_p"))
            / (col("_t").cast("double") * col("expected_p")))
          .otherwise(lit(null).cast("double")).as("chi2_contribution"))
  }

  /** Scala-literal Benford expectations for oracle generation: the
    * SAME doubles the plan embeds, stringified shortest-round-trip
    * and parsed back THROUGH A STRING cast — a bare decimal literal
    * goes through DuckDB's DECIMAL type first and its decimal→double
    * conversion is off by an ulp, while string→double parsing is
    * correctly rounded in every engine.
    */
  def benfordExpectedSql: String =
    (1 to 9).map(d =>
      s"($d, CAST('${math.log10(1.0 + 1.0 / d)}' AS DOUBLE))").mkString(", ")

  /** Privacy census — k-anonymity and l-diversity in ONE scan: rows
    * group into equivalence classes by the quasi-identifier columns
    * (the attributes a re-identification attack joins on: zip+age+
    * gender-style combinations); a class smaller than `k` makes its
    * members linkable (k-anonymity violation), and a class whose
    * `sensitive` column holds fewer than `l` distinct values leaks
    * the sensitive attribute even when k holds (homogeneity attack —
    * l-diversity violation). Output is ONE row: total rows/classes,
    * violating classes and rows-at-risk for each property. NULL
    * sensitive values count as a value of their own (the struct-
    * wrapped distinct of [[fdReport]]); NULL quasi values form their
    * own classes like any other value.
    *
    * The redaction operator masks what a regex can find; this
    * measures what a JOIN can re-identify — the release gate for
    * anything column-structured in a training corpus.
    *
    * Scale: one groupBy on the quasi columns with map-side partial
    * count + count_distinct, then a classes-sized one-row fold — no
    * row-scale state crosses the shuffle.
    */
  def privacyCensus(
      df: DataFrame, quasiCols: Seq[String], sensitive: Column,
      k: Int, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column required")
    require(k >= 1 && l >= 1, s"need k >= 1 and l >= 1, got k=$k l=$l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("_n"),
        count_distinct(struct(sensitive.as("_v"))).as("_nd"))
      .agg(
        coalesce(sum(col("_n")), lit(0L)).as("n_rows"),
        count(lit(1)).as("n_classes"),
        coalesce(sum(when(col("_n") < k, 1L).otherwise(0L)), lit(0L))
          .as("k_violating_classes"),
        coalesce(sum(when(col("_n") < k, col("_n")).otherwise(0L)), lit(0L))
          .as("k_risky_rows"),
        coalesce(sum(when(col("_nd") < l, 1L).otherwise(0L)), lit(0L))
          .as("l_violating_classes"),
        coalesce(sum(when(col("_nd") < l, col("_n")).otherwise(0L)), lit(0L))
          .as("l_risky_rows"))
  }

  /** The worklist behind [[privacyCensus]]: one row per violating
    * equivalence class — quasi values, class size, distinct sensitive
    * values, and which property failed — what a generalization /
    * suppression pass must rewrite. Same single-shuffle shape.
    */
  def privacyOffenders(
      df: DataFrame, quasiCols: Seq[String], sensitive: Column,
      k: Int, l: Int): DataFrame = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column required")
    df.groupBy(quasiCols.map(col): _*)
      .agg(
        count(lit(1)).as("class_size"),
        count_distinct(struct(sensitive.as("_v"))).as("n_sensitive_values"))
      .filter(col("class_size") < k || col("n_sensitive_values") < l)
      .withColumn("k_violation", col("class_size") < k)
      .withColumn("l_violation", col("n_sensitive_values") < l)
  }

  /** Record suppression to k-anonymity — [[privacyCensus]]'s
    * executor: `(kept, suppressed)` where every under-k equivalence
    * class moves whole to the suppressed side, so the kept frame is
    * k-anonymous over `quasiCols` by construction (every surviving
    * class kept its full ≥ k membership). The standard baseline
    * before fancier generalization; both frames are lazy filters
    * over one class-size join, the quarantine discipline.
    *
    * The class-size join is NULL-SAFE on every quasi column: a
    * null-valued class is still a class, and a null-rejecting join
    * would silently leave its rows unmatched (neither kept nor
    * counted). Class sizes are aggregate-scale; the join is a plain
    * equi-join on the quasi key (EqualNullSafe is hash-joinable),
    * broadcast when the class census is small.
    */
  def suppressUnderK(
      df: DataFrame, quasiCols: Seq[String], k: Int): (DataFrame, DataFrame) = {
    require(quasiCols.nonEmpty, "at least one quasi-identifier column required")
    require(!df.columns.contains("_class_n"),
      "input already has a '_class_n' column; rename it first")
    // the census side renames each quasi col to _q_<name>; an input
    // already carrying that name would make the join condition's
    // col("_q_<name>") resolve against BOTH sides and fail with an
    // opaque AMBIGUOUS_REFERENCE — refuse clearly instead
    val renameClashes = quasiCols.map(c => s"_q_$c").filter(df.columns.contains)
    require(renameClashes.isEmpty,
      s"input already has ${renameClashes.mkString(", ")}; rename before suppressUnderK")
    val sizes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("_class_n"))
      .select((quasiCols.map(c => col(c).as(s"_q_$c")) :+ col("_class_n")): _*)
    val cond = quasiCols.map(c => col(c) <=> col(s"_q_$c")).reduce(_ && _)
    val joined = df.join(sizes, cond)
      .drop(quasiCols.map(c => s"_q_$c"): _*)
    (joined.filter(col("_class_n") >= k).drop("_class_n"),
      joined.filter(col("_class_n") < k).drop("_class_n"))
  }

  /** Per-key order-inversion census — the sequence-sanity check for
    * anything that must not run backwards per entity: version
    * counters, balances that only accrue, odometer readings, event
    * sequence numbers. For each key, rows are walked in `orderCol`
    * order and adjacent pairs where the previous value exceeds the
    * current (`>=` under `strict`) count as inversions. Output: one
    * row per key — (key, n_rows, n_inversions, is_monotone) —
    * composable (aggregate for the corpus census, filter for the
    * offender list). A NULL value breaks no pair (comparisons with
    * NULL are not inversions) but interrupts the run on both sides.
    *
    * Scale: one key-partitioned window (lag) feeding a grouped count
    * on the SAME key — the window's partitioning satisfies the
    * aggregation, so the plan is one shuffle total, and per-key state
    * is the window frame's single lagged row. Requires unique
    * (key, orderCol) pairs for a deterministic walk (the scd2/
    * transitions input contract).
    */
  def orderInversions(
      df: DataFrame, key: Column, orderCol: Column, value: Column,
      strict: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("_k")).orderBy(col("_o").asc)
    val prev = lag(col("_v"), 1).over(w)
    val inverted =
      if (strict) prev >= col("_v") else prev > col("_v")
    df.select(key.as("_k"), orderCol.as("_o"), value.as("_v"))
      .withColumn("_inv", when(inverted, 1L).otherwise(0L))
      .groupBy(col("_k").as("key"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("_inv")).as("n_inversions"),
        (sum(col("_inv")) === 0L).as("is_monotone"))
  }

  /** Numeric profile per column: min / max / exact mean (decimal sum
    * ÷ count, so the double result is deterministic across engines).
    */
  def valueBounds(df: DataFrame, cols: Seq[String]): DataFrame = {
    val agg = df.agg(
      count(lit(1)).as("n_rows"),
      cols.flatMap(c => Seq(
        min(col(c)).as(s"_min_$c"),
        max(col(c)).as(s"_max_$c"),
        sum(col(c).cast("decimal(18,2)")).as(s"_sum_$c"))): _*)
    val stacked = explode(array(cols.map(c =>
      struct(lit(c).as("column"),
        col(s"_min_$c").cast("double").as("min_value"),
        col(s"_max_$c").cast("double").as("max_value"),
        col(s"_sum_$c").as("sum_dec"))): _*))
    agg.select(col("n_rows"), stacked.as("u"))
      .select(
        col("u.column"), col("n_rows"),
        col("u.min_value"), col("u.max_value"),
        when(col("n_rows") > 0,
          col("u.sum_dec").cast("double") / col("n_rows").cast("double"))
          .otherwise(lit(null).cast("double")).as("mean_value"))
  }

  /** Robust per-group outlier report: median / MAD fences, the
    * anomaly check that survives the anomalies (mean/stddev fences
    * move with the outliers they're supposed to catch; the median and
    * the median absolute deviation have 50% breakdown). A value is an
    * outlier when |v − median| > cutoff · 1.4826 · MAD (1.4826
    * rescales MAD to σ under normality; cutoff 3.5 is the standard
    * Iglewicz–Hoberg modified-z fence).
    *
    * Engine-exact across Spark and DuckDB even though both
    * interpolate quantiles in floating point: values are half-even
    * quantized to integers first (w = bround(v·scale), the q68
    * idiom), and linear interpolation BETWEEN INTEGER-VALUED DOUBLES
    * is exact — `a + (b−a)·q` incurs zero rounding for q ∈ {.25,.5}
    * and |w| < 2⁵¹ — so both engines compute the identical median and
    * MAD, and the fence comparison agrees row-for-row.
    *
    * Three grouped aggregates (median → MAD → fence count), but only
    * (group, w) pairs ever shuffle and the joins carry one row per
    * group. `exact=false` swaps the percentiles for
    * `approx_percentile` sketches (mergeable, bounded memory) — the
    * 100 TB path when a group's value multiset is too large for the
    * exact percentile's per-group buffer; fences are then
    * approximate, not oracle-matched.
    */
  def robustOutliers(
      df: DataFrame, valueCol: String, groupCol: String,
      cutoff: Double = 3.5, scale: Double = 1e6,
      exact: Boolean = true): DataFrame = {
    val w = bround(col(valueCol).cast("double") * lit(scale))
    val medAgg =
      if (exact) expr("percentile(_w, 0.5)")
      else percentile_approx(col("_w"), lit(0.5), lit(10000))
    val quantized = df.select(col(groupCol), w.as("_w"))
      .filter(col("_w").isNotNull)
    val medians = quantized.groupBy(col(groupCol)).agg(medAgg.as("_med"))
    val withDev = quantized.join(medians, Seq(groupCol))
      .withColumn("_dev", abs(col("_w") - col("_med")))
    val madAgg =
      if (exact) expr("percentile(_dev, 0.5)")
      else percentile_approx(col("_dev"), lit(0.5), lit(10000))
    val mads = withDev.groupBy(col(groupCol)).agg(madAgg.as("_mad"))
    withDev.join(mads, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        (first(col("_med")) / lit(scale)).as("median_value"),
        (first(col("_mad")) / lit(scale)).as("mad"),
        sum(when(col("_dev") > lit(cutoff) * lit(1.4826) * col("_mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Winsorization report: per-group discrete percentile fences
    * (rank-based, percentile_disc semantics — the smallest value
    * whose cumulative count reaches ⌈p·n⌉) plus the clipped-tail
    * census and the winsorized mean. The feature-clipping preprocessor
    * for heavy-tailed columns, stated as a report so the fences are
    * auditable before anything is rewritten.
    *
    * Rank fences instead of interpolated quantiles on purpose:
    * discrete order statistics involve NO floating interpolation, so
    * with values half-even quantized to integers (w = bround(v·scale),
    * the q68/q72 idiom) every engine computes the identical fence —
    * p·n and its ceil are single IEEE ops. The winsorized mean is an
    * exact integer sum of clamped values (decimal, converted to
    * double through a string).
    *
    * Plan shape: one (group, w) distinct-value census carries ALL the
    * work — the running-count window runs over distinct values, not
    * rows (bounded by the value cardinality, not the 10⁹-row group),
    * and the final report joins one fence row per group back onto the
    * census. Raw rows never shuffle twice.
    */
  def winsorizedStats(
      df: DataFrame, valueCol: String, groupCol: String,
      pLo: Double = 0.05, pHi: Double = 0.95,
      scale: Double = 1e6): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val W = org.apache.spark.sql.expressions.Window
    val w = bround(col(valueCol).cast("double") * lit(scale))
    val counts = df.select(col(groupCol), w.as("_w"))
      .filter(col("_w").isNotNull)
      .groupBy(col(groupCol), col("_w"))
      .agg(count(lit(1)).as("_c"))
    val cum = counts
      .withColumn("_cum", sum(col("_c")).over(
        W.partitionBy(col(groupCol)).orderBy(col("_w"))))
      .withColumn("_n", sum(col("_c")).over(W.partitionBy(col(groupCol))))
    val kLo = greatest(lit(1.0), ceil(lit(pLo) * col("_n")))
    val kHi = ceil(lit(pHi) * col("_n"))
    val fences = cum.groupBy(col(groupCol)).agg(
      max(col("_n")).as("_n"),
      min(when(col("_cum") >= kLo, col("_w"))).as("_lo"),
      min(when(col("_cum") >= kHi, col("_w"))).as("_hi"))
    val clamped = greatest(least(col("_w"), col("_hi")), col("_lo"))
    counts.join(fences, Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(
        max(col("_n")).as("n"),
        (first(col("_lo")) / lit(scale)).as("lo_fence"),
        (first(col("_hi")) / lit(scale)).as("hi_fence"),
        sum(when(col("_w") < col("_lo"), col("_c")).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("_w") > col("_hi"), col("_c")).otherwise(0L)).as("n_clipped_hi"),
        (sum(clamped.cast("decimal(20,0)") * col("_c")).cast("string").cast("double")
          / lit(scale) / max(col("_n")).cast("double")).as("mean_winsorized"))
  }

  /** One validation rule for [[quarantine]]/[[validationReport]]:
    * `valid` TRUE keeps the row; FALSE or NULL violates (a rule that
    * cannot evaluate is a failed rule — strict by design, so a
    * null-riddled column can't slip through a bounds check).
    */
  final case class ValidationRule(name: String, valid: Column)

  private def violated(r: ValidationRule): Column =
    !coalesce(r.valid, lit(false))

  /** Quarantine split — the ingest gate: `(valid, rejects)` where
    * rejects carry a `violations` array naming EVERY failed rule
    * (not just the first — triage wants the full diagnosis). Both
    * frames are lazy filters over one scan; no shuffle is introduced
    * at any input size. The reference's scripts report problems;
    * this enforces them — the quarantine-table pattern warehouse
    * loaders put in front of a curated zone.
    */
  def quarantine(
      df: DataFrame, rules: Seq[ValidationRule]): (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "at least one validation rule required")
    // `withColumn("violations", …)` would silently REPLACE a
    // pre-existing input column of that name, and the valid side
    // would then drop the user's original data. Fail loudly instead
    // of destroying a column.
    require(!df.columns.contains("violations"),
      "input already has a 'violations' column; rename it before quarantine " +
        "(the rejects side reserves that name for the failed-rule array)")
    val vios = filter(
      array(rules.map(r => when(violated(r), lit(r.name))): _*),
      x => x.isNotNull)
    val tagged = df.withColumn("violations", vios)
    (tagged.filter(size(col("violations")) === 0).drop("violations"),
      tagged.filter(size(col("violations")) > 0))
  }

  /** Per-rule violation census in ONE scan: every rule's violation
    * count and rate, plus an `ANY` row (rows failing at least one
    * rule — what [[quarantine]] would reject). All counts fold in a
    * single aggregate (map-side partial), then unpivot to one row
    * per rule — rows scale with the rule list, not the data.
    */
  def validationReport(
      df: DataFrame, rules: Seq[ValidationRule]): DataFrame = {
    require(rules.nonEmpty, "at least one validation rule required")
    // rule names become intermediate column names and the ANY row's
    // label: reject collisions and names column resolution can't take
    val names = rules.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate rule names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    require(!names.contains("ANY"), "'ANY' is reserved for the any-rule row")
    names.foreach(n => require(
      n.nonEmpty && !n.exists(c => c == '.' || c == '`'),
      s"rule name '$n' must be nonempty without '.' or '`'"))
    val any = rules.map(violated).reduce(_ || _)
    val aggs =
      rules.map(r => sum(when(violated(r), 1L).otherwise(0L)).as(s"_v_${r.name}")) :+
        sum(when(any, 1L).otherwise(0L)).as("_v_ANY") :+
        count(lit(1)).as("_n")
    val entries = (rules.map(_.name) :+ "ANY").map { n =>
      struct(lit(n).as("rule"), col(s"_v_$n").as("n_violations"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("_n"), explode(array(entries: _*)).as("_e"))
      .select(
        col("_e.rule").as("rule"),
        col("_n").as("n_rows"),
        col("_e.n_violations"),
        when(col("_n") > 0,
          col("_e.n_violations").cast("double") / col("_n").cast("double"))
          .otherwise(lit(null).cast("double")).as("violation_rate"))
  }

  /** IEEE float audit — the NaN/±Inf poisoning census for ML-bound
    * numeric columns: one row per column with counts of null, NaN,
    * +Inf, −Inf, and finite values. A single NaN silently poisons
    * every mean/stddev/matmul downstream, and `profileNumeric`'s
    * aggregates would only show it as a NaN statistic after the
    * fact; this localizes WHICH column and HOW MANY rows before the
    * data ships. One scan, all columns folded into one map-side
    * partial aggregate (the [[validationReport]] shape).
    */
  def floatAudit(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    require(cols.distinct.size == cols.size, "duplicate column names")
    cols.foreach(c => require(!c.exists(ch => ch == '.' || ch == '`'),
      s"column name '$c' must not contain '.' or '`' (intermediate-name safety)"))
    def cnt(cond: org.apache.spark.sql.Column) =
      sum(when(cond, 1L).otherwise(0L))
    val aggs = cols.flatMap { c =>
      val v = col(c).cast("double")
      Seq(
        cnt(v.isNull).as(s"_null_$c"),
        cnt(isnan(v)).as(s"_nan_$c"),
        cnt(v === Double.PositiveInfinity).as(s"_pinf_$c"),
        cnt(v === Double.NegativeInfinity).as(s"_ninf_$c"))
    } :+ count(lit(1)).as("_n")
    val entries = cols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"_null_$c").as("n_null"), col(s"_nan_$c").as("n_nan"),
        col(s"_pinf_$c").as("n_posinf"), col(s"_ninf_$c").as("n_neginf"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(col("_n"), explode(array(entries: _*)).as("_e"))
      .select(
        col("_e.col_name").as("col_name"),
        col("_n").as("n_rows"),
        col("_e.n_null"), col("_e.n_nan"),
        col("_e.n_posinf"), col("_e.n_neginf"),
        (col("_n") - col("_e.n_null") - col("_e.n_nan")
          - col("_e.n_posinf") - col("_e.n_neginf")).as("n_finite"))
  }

  /** One candidate functional dependency for [[fdReport]]:
    * `lhs → rhs` claims every lhs value determines one rhs value.
    */
  final case class FdSpec(name: String, lhs: Seq[Column], rhs: Column)

  /** Functional-dependency profile — "does A determine B, and where
    * not?": for each candidate FD, the number of distinct lhs
    * groups, how many map to MORE than one distinct rhs value
    * (violations), the violation rate, and the worst group's rhs
    * cardinality. The single-candidate core of FD discovery (TANE /
    * HyFD verify step) as a plain aggregation — uniqueness
    * ([[uniqueness]]) is the special case rhs = whole row.
    *
    * Null rhs counts as a value of its own (a lhs mapping to both
    * null and a value IS two images — that inconsistency is exactly
    * what the check exists to find), via null-safe distinct counting.
    *
    * Scale: one shuffle per candidate keyed on the lhs (map-side
    * partial count_distinct), then a groups-sized summary fold;
    * candidates are parallel subtrees of one job. A Zipfian-hot lhs
    * key concentrates its DISTINCT rhs set on one reducer — if a
    * single group's distinct rhs set can be huge, pre-shrink with
    * [[graft.operators.Skew.saltedDistinctCount]]'s two-level shape.
    */
  def fdReport(df: DataFrame, specs: Seq[FdSpec]): DataFrame = {
    require(specs.nonEmpty, "at least one FD candidate required")
    specs.map { s =>
      // null-safe: fold rhs into a 1-field struct so null is countable
      val groups = df
        .groupBy(s.lhs: _*)
        .agg(count_distinct(struct(s.rhs.as("_v"))).as("_nrhs"))
      groups.agg(
        lit(s.name).as("fd"),
        count(lit(1)).as("n_groups"),
        sum(when(col("_nrhs") > 1, 1L).otherwise(0L)).as("n_violating"),
        when(count(lit(1)) > 0,
          sum(when(col("_nrhs") > 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"))
          .otherwise(lit(null).cast("double")).as("violation_rate"),
        max(col("_nrhs")).as("max_rhs_per_group"))
    }.reduce(_ unionByName _)
      .select(col("fd"), col("n_groups"), col("n_violating"),
        col("violation_rate"), col("max_rhs_per_group"))
  }

  /** One candidate foreign-key edge for [[inclusionReport]]. */
  final case class InclusionSpec(
      relation: String,
      child: DataFrame, childKey: Column,
      parent: DataFrame, parentKey: Column)

  /** Inclusion-dependency profile — FK discovery over candidate
    * column pairs: for each edge, the number of DISTINCT non-null
    * child values, how many of them exist in the parent column, and
    * the inclusion coefficient (1.0 = the child column is fully
    * contained, i.e. a valid FK target).
    *
    * [[referentialIntegrity]] counts orphan ROWS of a known FK; this
    * profiles candidate edges by distinct VALUES — the signal schema-
    * discovery tools rank edges by (Bauckmann et al.'s SPIDER /
    * Sindy-family inclusion testing, here as plain Spark plans).
    *
    * Scale: per edge, two distinct-aggregations and one semi join,
    * all keyed on the value — co-partitioned shuffles that AQE
    * handles; only per-edge scalar counts leave the aggregation.
    * Edges are independent parallel subtrees of one unioned job.
    */
  def inclusionReport(specs: Seq[InclusionSpec]): DataFrame = {
    require(specs.nonEmpty, "at least one inclusion edge required")
    specs.map { s =>
      val c = s.child.select(s.childKey.as("_k"))
        .filter(col("_k").isNotNull).distinct()
      val p = s.parent.select(s.parentKey.as("_k"))
        .filter(col("_k").isNotNull).distinct()
      val total = c.agg(count(lit(1)).as("n_child_distinct"))
      val matched = c.join(p, Seq("_k"), "left_semi")
        .agg(count(lit(1)).as("n_matched"))
      total.crossJoin(matched).select(
        lit(s.relation).as("relation"),
        col("n_child_distinct"), col("n_matched"),
        when(col("n_child_distinct") > 0,
          col("n_matched").cast("double") / col("n_child_distinct").cast("double"))
          .otherwise(lit(null).cast("double")).as("inclusion"))
    }.reduce(_ unionByName _)
  }

  /** Volume-anomaly check on arrival counts: bucket rows per (group,
    * day), then flag days whose count deviates from the TRAILING
    * `trailing`-day window (previous rows only — the current day must
    * not contaminate its own baseline) by more than `threshold`
    * sample standard deviations. The day-over-day "did the feed
    * volume jump/collapse?" monitor the reference's append-by-run-
    * date census implies ([[metricTrend]] compares one run to the
    * previous; this scores against a rolling distribution).
    *
    * Engine-exact by construction: the window folds INTEGER daily
    * counts into exact long (count, sum, sum-of-squares) — immune to
    * both engines' float-summation order — and mean/stddev/flag are
    * derived from those integers with identical IEEE expressions.
    * Exactness bound: sum(n²) over the window must fit a long —
    * daily group counts up to ~10⁹ at trailing ≤ 7 (7·10¹⁸ < 2⁶³).
    * The trailing frame is ROWS-based: days with zero rows produce
    * no bucket, so after an outage the baseline is the last
    * `trailing` OBSERVED days (compose with
    * [[Temporal.arrivalGaps]] to see the outage itself).
    *
    * Days with fewer than `minPrior` prior observations report null
    * statistics (insufficient history ≠ normal); a zero-variance
    * baseline likewise yields a null flag (no scale to score on).
    * Day boundaries follow the session time zone (`to_date`) — pin
    * `spark.sql.session.timeZone` when feeds cross zones.
    *
    * One shuffle to the daily grain, then a window over (groups ×
    * days) rows — the pre-aggregation is what makes this safe at any
    * row count.
    */
  def volumeAnomalies(
      df: DataFrame, group: Column, ts: Column,
      trailing: Int = 7, threshold: Double = 3.0,
      minPrior: Int = 3, perWeekday: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(trailing >= 1 && minPrior >= 2,
      s"need trailing >= 1 and minPrior >= 2, got $trailing/$minPrior")
    val daily = df
      .groupBy(group.as("group"), to_date(ts).as("day"))
      .agg(count(lit(1)).as("n"))
    // perWeekday: Mondays score against trailing MONDAYS — weekly
    // seasonality (weekend dips, batch-job spikes) stops reading as
    // anomalies and a bad Monday stops hiding inside a weekly mean.
    // Same exact-integer machinery; the baseline partition just gains
    // the weekday. trailing then counts SAME-WEEKDAY observations.
    val baselineKeys =
      if (perWeekday) Seq(col("group"), dayofweek(col("day")))
      else Seq(col("group"))
    val w = Window.partitionBy(baselineKeys: _*).orderBy(col("day").asc)
      .rowsBetween(-trailing, -1)
    val stats = daily
      .withColumn("n_prior", count(col("n")).over(w))
      .withColumn("_s", sum(col("n")).over(w))
      .withColumn("_sq", sum(col("n") * col("n")).over(w))
    val enough = col("n_prior") >= minPrior
    val nP = col("n_prior").cast("double")
    val mean = col("_s").cast("double") / nP
    val variance = greatest(
      (col("_sq").cast("double") - col("_s").cast("double") * col("_s").cast("double") / nP)
        / (nP - lit(1.0)),
      lit(0.0))
    stats
      .withColumn("mean_prior", when(enough, mean))
      .withColumn("std_prior", when(enough, sqrt(variance)))
      .select(
        col("group"), col("day"), col("n"), col("n_prior"),
        col("mean_prior"), col("std_prior"),
        when(enough && col("std_prior") > 0.0,
          abs(col("n").cast("double") - col("mean_prior"))
            > lit(threshold) * col("std_prior"))
          .otherwise(lit(null).cast("boolean")).as("is_anomaly"))
  }

  /** Benford first-significant-digit probabilities log10(1 + 1/d),
    * d = 1..9, as the exact decimal-literal strings both engines
    * parse (the single-source-of-digits discipline — log10 is not
    * ulp-portable across engines, nine shared literals are).
    */
  val BenfordP: Seq[String] = Seq(
    "0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
    "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
    "0.05799194697768673", "0.05115252244738129", "0.04575749056067514")

  /** Benford first-digit conformance census — the classic fraud /
    * data-fabrication screen: naturally occurring multiplicative
    * quantities (amounts, populations, file sizes) follow
    * P(d) = log10(1+1/d); fabricated or truncated-range data do not.
    *
    * `intValue` must be an EXACT integer-typed (or integer-valued)
    * column — for doubles, quantize first (`bround(x * 100)` for
    * cents) so the cross-engine double→long cast divergence (DuckDB
    * rounds, Spark truncates) never sees a fractional value. Rows
    * with NULL or <= 0 values are excluded (Benford is defined on
    * positive magnitudes; a sign is not a digit).
    *
    * One scan → 9-row digit census (first digit via the BIGINT's
    * decimal string — exact in both engines, no log10 on the data
    * path). Output per digit: `n`, `observed_p`, `expected_p`,
    * `chi2_contrib` ((n − N·p)²/(N·p)), plus the summary columns
    * broadcast onto every row: `chi2_stat` (quantized
    * order-independent sum — bround·1e9 → decimal, the
    * projectionDriftKs discipline), and `mad` (mean |obs−exp| over
    * the 9 digits, the Nigrini conformity measure; < 0.006 is
    * "close conformity", > 0.015 "nonconformity").
    *
    * 100 TB: the census is a 9-group hash aggregate with map-side
    * partials; everything after is a 9-row frame. Digits absent from
    * the data still appear (zero count) via the literal digit spine —
    * a missing digit is the loudest Benford signal there is.
    */
  /** First significant digit of an exact positive integer value as a
    * column (NULL for NULL/non-positive input) — the map-side half of
    * [[benfordDigits]], exposed so a STREAMING census can key the
    * incremental partials log by digit and score batches later with
    * [[benfordFromCounts]].
    */
  def benfordFirstDigit(intValue: Column): Column = {
    val v = intValue.cast("long")
    when(v.isNotNull && v > 0L,
      substring(v.cast("string"), 1, 1).cast("int"))
  }

  def benfordDigits(df: DataFrame, intValue: Column): DataFrame = {
    val counts = df
      .select(benfordFirstDigit(intValue).as("digit"))
      .filter(col("digit").isNotNull)
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    benfordFromCounts(counts)
  }

  /** Score a (digit, n) census — the reduce half of [[benfordDigits]],
    * shared by the batch form and the streaming partials-log form
    * (digit counts are trivially mergeable: integer addition). Digits
    * absent from `counts` still report (zero count) via the literal
    * spine; the arithmetic dag is IDENTICAL to the batch form's, so
    * a streamed census scores bit-identically to one batch pass.
    */
  def benfordFromCounts(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    val spine = spark.range(1, 10).select(col("id").cast("int").as("digit"))
    val expected = spine.withColumn("expected_p",
      element_at(array(BenfordP.map(s => lit(s.toDouble)): _*), col("digit")))
    val census = expected
      .join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"), col("expected_p"))
    val tot = census.agg(sum(col("n")).as("_N"))
    val contrib = census.crossJoin(broadcast(tot))
      .withColumn("observed_p",
        when(col("_N") > 0L, col("n").cast("double") / col("_N").cast("double")))
      .withColumn("chi2_contrib",
        when(col("_N") > 0L, {
          val e = col("_N").cast("double") * col("expected_p")
          (col("n").cast("double") - e) * (col("n").cast("double") - e) / e
        }))
    val summary = contrib.agg(
      (sum(bround(col("chi2_contrib") * lit(1e9)).cast("decimal(38,0)"))
        .cast("double") / lit(1e9)).as("chi2_stat"),
      (sum(bround(abs(col("observed_p") - col("expected_p")) * lit(1e15))
        .cast("decimal(38,0)"))
        .cast("double") / lit(1e15) / lit(9.0)).as("mad"))
    contrib
      .select(col("digit"), col("n"), col("observed_p"), col("expected_p"),
        col("chi2_contrib"))
      .crossJoin(broadcast(summary))
  }

  /** Per-group Benford conformance — [[benfordDigits]] keyed by a
    * group column, so a fabrication signal localizes to the source /
    * segment that produced it instead of diluting into the corpus
    * census. One (group, digit) hash census; every group gets the
    * full 9-digit spine (groups × 9 rows — group cardinality times a
    * constant); per-group chi2/MAD with the same order-independent
    * quantized sums. NULL-group rows are excluded; groups whose rows
    * were all filtered (NULL / non-positive values) are absent.
    */
  def benfordDigitsBy(
      df: DataFrame, group: Column, intValue: Column,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit): DataFrame = {
    val counts = df
      .select(group.as("_g"), benfordFirstDigit(intValue).as("digit"))
      .filter(col("_g").isNotNull && col("digit").isNotNull)
      .groupBy(col("_g"), col("digit")).agg(count(lit(1)).as("n"))
      .persistCensus()
    val spark = df.sparkSession
    val ng = counts.agg(countDistinct(col("_g"))).head().getLong(0)
    val spine = spark.range(1, 10).select(col("id").cast("int").as("digit"))
      .withColumn("expected_p",
        element_at(array(BenfordP.map(s => lit(s.toDouble)): _*), col("digit")))
    val census = counts.select(col("_g")).distinct()
      .crossJoin(broadcast(spine))
      .join(counts, Seq("_g", "digit"), "left")
      .select(col("_g"), col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("expected_p"))
    val tot = census.groupBy(col("_g").as("_gt")).agg(sum(col("n")).as("_N"))
    val contrib = census
      .join(Limits.broadcastIfSmall(tot, ng, broadcastRowLimit), col("_g") === col("_gt"))
      .drop("_gt")
      .withColumn("observed_p",
        when(col("_N") > 0L, col("n").cast("double") / col("_N").cast("double")))
      .withColumn("chi2_contrib",
        when(col("_N") > 0L, {
          val e = col("_N").cast("double") * col("expected_p")
          (col("n").cast("double") - e) * (col("n").cast("double") - e) / e
        }))
    val summary = contrib.groupBy(col("_g").as("_gs")).agg(
      (sum(bround(col("chi2_contrib") * lit(1e9)).cast("decimal(38,0)"))
        .cast("double") / lit(1e9)).as("chi2_stat"),
      (sum(bround(abs(col("observed_p") - col("expected_p")) * lit(1e15))
        .cast("decimal(38,0)"))
        .cast("double") / lit(1e15) / lit(9.0)).as("mad"))
    val out = contrib
      .join(Limits.broadcastIfSmall(summary, ng, broadcastRowLimit), col("_g") === col("_gs"))
      .drop("_gs")
      .select(col("_g").as("group_key"), col("digit"), col("n"),
        col("observed_p"), col("expected_p"), col("chi2_contrib"),
        col("chi2_stat"), col("mad"))
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(counts))
    out
  }
}
