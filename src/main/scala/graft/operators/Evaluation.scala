package graft.operators

import graft.CacheLifecycle.FreshPersist
import graft.AdaptiveCache.CensusPersist
import graft.Limits
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-quality evaluation over corpus-scale scored data: exact ROC
  * AUC and calibration censuses for the classifiers that gate training
  * data (the q112 linear quality gate, language-ID confidence, any
  * scored filter). At 100 TB the eval set itself is big — "compute AUC"
  * must not mean "sort every score in one task".
  *
  * Both operators follow the repo's engine-exact discipline: every
  * intermediate is integer/decimal (counts, rank sums) and the only
  * floating-point steps are single correctly-rounded IEEE ops over
  * exactly-converted operands stated identically in the oracle — so a
  * distributed, partition-order-free computation still hash-matches a
  * naive single-node engine.
  */
object Evaluation {

  /** The banded-census + band-spine stage every member of the
    * calibration/sweep family shares: ONE raw scan (cheap-column
    * filters only — the score's null/NaN exclusion happens
    * census-side so an expensive score expression evaluates exactly
    * once per row, see [[aucExact]]) collapsed to a persisted
    * `(group?, band, n, n_pos)` census, left-joined onto the full
    * band spine (per distinct group when grouped) with empty bands
    * filled as zeros.
    *
    * The persist is an optimizer fence as much as a cache: the spine
    * join's null-rejecting inference (`isnotnull(band)` on the
    * aggregate side) would otherwise propagate BELOW the aggregate
    * and inline the score expression into a raw-row filter — the
    * exact multi-evaluation this family's layout avoids. A group
    * whose every score is null/NaN has no surviving census row and
    * stays absent from the spine (the family's documented exclusion).
    *
    * Returns (spine, censusAll); the caller releases `censusAll` via
    * [[graft.CacheLifecycle]] once its output plan is built.
    */
  private def bandedCensusSpine(
      df: DataFrame, group: Option[Column], score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): (DataFrame, DataFrame) = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val width = (hi - lo) / bins
    val rawFilter =
      group.map(g => label.isNotNull && g.isNotNull).getOrElse(label.isNotNull)
    val nn = df.filter(rawFilter)
      .select(group.map(_.as("_g")).toSeq ++ Seq(
        score.cast("double").as("_v"),
        when(label.cast("boolean"), 1L).otherwise(0L).as("_p")): _*)
    val bin = when(col("_v").isNotNull && !isnan(col("_v")),
      least(lit(bins - 1L),
        greatest(lit(0L), floor((col("_v") - lit(lo)) / lit(width)))))
    val gcols = group.map(_ => col("_g")).toSeq
    val censusAll = nn.groupBy(gcols :+ bin.as("band"): _*)
      .agg(count(lit(1)).as("n"), sum(col("_p")).as("n_pos"))
      .persistCensus()
    val counts = censusAll.filter(col("band").isNotNull)
    val bandSpine = df.sparkSession.range(0, bins).select(col("id").as("band"))
    val joined = group match {
      case Some(_) =>
        counts.select(col("_g")).distinct()
          .crossJoin(broadcast(bandSpine))
          .join(counts, Seq("_g", "band"), "left")
      case None =>
        bandSpine.join(counts, Seq("band"), "left")
    }
    val spine = joined.select(gcols ++ Seq(col("band"),
      coalesce(col("n"), lit(0L)).as("n"),
      coalesce(col("n_pos"), lit(0L)).as("n_pos")): _*)
    (spine, censusAll)
  }

  /** Exact ROC AUC via the Mann–Whitney U statistic with midrank tie
    * handling — the textbook trapezoidal-ROC value, computed WITHOUT a
    * global sort.
    *
    * AUC = [Σ_s pos(s) · (2·cumNegBelow(s) + neg(s))] / (2·P·N)
    * where `s` ranges over DISTINCT score values ascending: each
    * positive beats every negative strictly below it and half-ties
    * with negatives at the same score.
    *
    * Distribution: rows collapse to a (score → pos, neg) census in
    * one map-side-partial shuffle — the ONLY scan of the input, which
    * matters when the scores are an expensive upstream pipeline (the
    * q119 logit is the full text-feature extraction). Bounds and the
    * prefix-sum cells derive from the persisted census itself
    * (distinct-score scale), never from a second raw scan. The
    * cumulative-negative prefix is a [[RankedPrefix]], cell-partitioned
    * past the direct-window gate, so even a census with billions of
    * distinct scores ranks `cells`-way parallel. The rank-sum numerator
    * multiplies in DECIMAL(38,0) — each factor is cast BEFORE the
    * product, so nothing ever wraps in Long arithmetic (exact far past
    * 100 TB row counts: the factor 2·cumNeg+neg stays a Long ≤ 2N
    * < 9.2×10¹⁸ and the accumulated numerator is bounded by
    * 2·P·N < 10³⁸ for P,N < 10¹⁸); the lone division is stated as
    * `CAST(num AS DOUBLE) / (2.0 · P · N)` in both engines.
    *
    * Output: one row (n_pos, n_neg, n_distinct_scores, auc). Rows with
    * NULL/NaN score or NULL label are excluded (an undefined score
    * cannot be ranked; excluding beats silently calling it 0). Returns
    * auc NULL when either class is empty — AUC is undefined, not 0.5.
    */
  def aucExact(
      df: DataFrame, score: Column, label: Column,
      cells: Int = 4096): DataFrame = {
    // Raw-row filter on the LABEL only; the score's null/NaN
    // exclusion applies to CENSUS rows above the cache boundary.
    // Filtering raw rows on the score column re-evaluates the score
    // expression per row: predicate pushdown rewrites the filter
    // below the projection with the score's whole expression tree
    // inlined, so an expensive score (q119's logit is the full
    // text-feature pipeline) runs ~3× per row — measured 2.1 s vs
    // the 0.64 s single-evaluation scan at sf0.1. Null/NaN scores
    // census into their own group rows and are dropped there, at
    // distinct-score scale, where the filter cannot push past the
    // InMemoryRelation.
    val nn = df
      .filter(label.isNotNull)
      .select(score.cast("double").as("_v"),
        when(label.cast("boolean"), 1L).otherwise(0L).as("_pw"),
        when(label.cast("boolean"), 0L).otherwise(1L).as("_nw"))
    aucMassCore(nn, cells)
  }

  /** Weighted exact ROC AUC: [[aucExact]] where each row counts with
    * an INTEGER multiplicity `weight` — the eval form for a deduped
    * corpus (each kept representative weighted by its cluster size, so
    * the metric answers for the pre-dedup population without paying
    * pre-dedup scale) and for deterministic resampling
    * ([[aucBootstrap]]'s Poisson replicates). Integral weights keep
    * every intermediate an exact integer/decimal — the same
    * engine-exact discipline as the unweighted form; a fractional
    * weight would reintroduce order-dependent float sums, so the
    * contract is multiplicities, not arbitrary reals.
    *
    * Rows with NULL label, NULL weight, or weight ≤ 0 are excluded
    * (a zero draw IS exclusion — that is what makes Poisson bootstrap
    * work); NULL/NaN scores are excluded census-side as always.
    * n_pos/n_neg report WEIGHTED mass.
    */
  def aucExactWeighted(
      df: DataFrame, score: Column, label: Column, weight: Column,
      cells: Int = 4096): DataFrame = {
    val w = weight.cast("long")
    val nn = df
      .filter(label.isNotNull && w.isNotNull && w > 0L)
      .select(score.cast("double").as("_v"),
        when(label.cast("boolean"), w).otherwise(0L).as("_pw"),
        when(label.cast("boolean"), 0L).otherwise(w).as("_nw"))
    aucMassCore(nn, cells)
  }

  /** The rank-sum core shared by [[aucExact]] and [[aucExactWeighted]]
    * over a prepared (_v, _pw, _nw) mass frame: distinct-score census,
    * cell-partitioned cumulative-negative prefix, DECIMAL(38,0)
    * Mann–Whitney numerator. The unweighted form is the `_pw ∈ {0,1}`
    * special case — one code path, so weighted and unweighted can
    * never drift.
    */
  private def aucMassCore(nn: DataFrame, cells: Int): DataFrame =
    rankedMass(nn, grouped = false, cells) match {
      case None =>
        // empty eval set: a defined shape, not a crash
        nn.sparkSession.range(1).select(
          lit(0L).as("n_pos"), lit(0L).as("n_neg"),
          lit(0L).as("n_distinct_scores"),
          lit(null).cast("double").as("auc"))
      case Some((ranked, censusAll)) => aucFinish(ranked, censusAll)
    }

  /** The (group?, score) → (pos, neg) mass census shared by the
    * rank-statistic family, with [[RankedPrefix]] running sums on it:
    * one raw scan of the prepared frame `nn` (`_g` when `grouped`,
    * `_v`, and the columns `pos`/`neg` read) collapsed to a persisted
    * census. Bounds, cells, offsets, and the ranked branch all ride the
    * cache — the raw input (and any expensive score expression feeding
    * it) is never read again. The direct gate is the census size from
    * the bounds job; grouped cells use GLOBAL bounds (cells only
    * control window parallelism), and the grouped offsets table is
    * counted off the census on the cell path. Returns None when the
    * census is empty (no rows, or every score NULL/NaN) — the cache is
    * already released in that case; otherwise (ranked, censusAll) with
    * the caller owning the census release (key it on the RETURNED
    * plan, see [[aucFinish]]).
    */
  private def rankedCensus(
      nn: DataFrame, grouped: Boolean, pos: Column, neg: Column,
      sums: Seq[(String, Column)], descending: Boolean, exclusive: Boolean,
      cells: Int, broadcastRowLimit: Long, directWindowRows: Long)
      : Option[(DataFrame, DataFrame)] = {
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val keys = if (grouped) Seq("_g") else Nil
    val censusAll = nn.groupBy((keys :+ "_v").map(col): _*)
      .agg(sum(pos).as("_pos"), sum(neg).as("_neg"))
      .persistCensus()
    val census = censusAll.filter(col("_v").isNotNull && !isnan(col("_v")))
    val bounds = census.agg(min(col("_v")).as("mn"), max(col("_v")).as("mx"),
      count(lit(1)).as("n")).head()
    if (bounds.getLong(2) == 0L) {
      censusAll.unpersist(blocking = false)
      return None
    }
    val ranked = RankedPrefix(census, keys, sums,
      direct = bounds.getLong(2) <= directWindowRows,
      mn = bounds.getDouble(0), mx = bounds.getDouble(1), cells = cells,
      offsetRows = perCell => if (grouped) perCell.count() else cells.toLong,
      descending = descending, exclusive = exclusive,
      broadcastRowLimit = broadcastRowLimit)
    Some((ranked, censusAll))
  }

  /** The distinct-score census with the EXCLUSIVE ascending
    * cumulative-negative prefix `_cumNeg`, shared by the AUC and
    * Mann–Whitney forms ([[aucExact]], [[aucExactWeighted]],
    * [[rankSumTest]] and their grouped siblings) over a prepared
    * (_g?, _v, _pw, _nw) mass frame. See [[rankedCensus]].
    */
  private[graft] def rankedMass(
      nn: DataFrame, grouped: Boolean, cells: Int,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit,
      directWindowRows: Long = RankedPrefix.DefaultDirectWindowRows)
      : Option[(DataFrame, DataFrame)] =
    rankedCensus(nn, grouped, col("_pw"), col("_nw"), Seq("_cumNeg" -> col("_neg")),
      descending = false, exclusive = true, cells, broadcastRowLimit, directWindowRows)

  /** The AUC finisher over [[rankedMass]]'s frame: DECIMAL(38,0)
    * Mann–Whitney numerator, one stated division.
    */
  private def aucFinish(ranked: DataFrame, censusAll: DataFrame): DataFrame = {
    val out = ranked.agg(
      sum(col("_pos")).as("n_pos"),
      sum(col("_neg")).as("n_neg"),
      count(lit(1)).as("n_distinct_scores"),
      sum(col("_pos").cast("decimal(38,0)") *
          (lit(2L) * col("_cumNeg") + col("_neg")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("_num"))
      .select(
        col("n_pos"), col("n_neg"), col("n_distinct_scores"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          col("_num").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"))
    // keyed on the RETURNED frame, not the caches: the eager bounds
    // head() above CONSUMES the census, and its async listener event
    // can land after registration — releaseAfterFirstUse would drop
    // the cache before the returned plan ever ran (recomputing the
    // census from raw on both prefix-sum branches)
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll))
    out
  }

  /** Mann–Whitney U rank-sum test with tie-corrected normal
    * approximation — the SIGNIFICANCE leg of the rank-statistic family
    * ([[aucExact]] answers "how well does the score separate the
    * classes"; this answers "is that separation more than chance for
    * these sample sizes"). Same census machinery, same single scan:
    * U rides the identical DECIMAL(38,0) rank-sum numerator
    * (num = 2U), and the tie correction Σ(t³−t) accumulates in
    * DECIMAL(38,0) over per-distinct-score tie sizes t = pos+neg
    * (exact while every tie group stays under ~4.5×10¹² rows — far
    * past any real score census).
    *
    *   z = (U − n₁n₂/2) / σ,
    *   σ² = n₁n₂/12 · [(n+1) − Σ(t³−t)/(n(n−1))],  n = n₁+n₂
    *
    * stated as ONE fixed dag of IEEE ops over exactly-converted
    * integers, identical in the oracle (no continuity correction —
    * the convention is stated, not hidden). Output: one row
    * (n_pos, n_neg, n_distinct_scores, u, tie_term, z); z is NULL
    * when either class is empty or the variance is zero (all scores
    * tied) — undefined, not 0. Exclusions as [[aucExact]]: NULL
    * labels raw-side, NULL/NaN scores census-side.
    */
  def rankSumTest(
      df: DataFrame, score: Column, label: Column,
      cells: Int = 4096): DataFrame = {
    val nn = df
      .filter(label.isNotNull)
      .select(score.cast("double").as("_v"),
        when(label.cast("boolean"), 1L).otherwise(0L).as("_pw"),
        when(label.cast("boolean"), 0L).otherwise(1L).as("_nw"))
    rankedMass(nn, grouped = false, cells) match {
      case None =>
        nn.sparkSession.range(1).select(
          lit(0L).as("n_pos"), lit(0L).as("n_neg"),
          lit(0L).as("n_distinct_scores"),
          lit(null).cast("double").as("u"),
          lit(null).cast("double").as("tie_term"),
          lit(null).cast("double").as("z"),
          lit(null).cast("double").as("cliffs_delta"))
      case Some((ranked, censusAll)) =>
        val t = (col("_pos") + col("_neg")).cast("decimal(38,0)")
        val agged = ranked.agg(
          sum(col("_pos")).as("n_pos"),
          sum(col("_neg")).as("n_neg"),
          count(lit(1)).as("n_distinct_scores"),
          sum(col("_pos").cast("decimal(38,0)") *
              (lit(2L) * col("_cumNeg") + col("_neg")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("_num"),
          sum(t * t * t - t).cast("decimal(38,0)").as("_tie"))
        val dn1 = col("n_pos").cast("double")
        val dn2 = col("n_neg").cast("double")
        val dn = (col("n_pos") + col("n_neg")).cast("double")
        // σ²(U): the guard also keeps the dn−1 denominator live only
        // when n ≥ 2 (both classes non-empty)
        val varU = dn1 * dn2 / lit(12.0) *
          ((dn + lit(1.0)) - col("_tie").cast("double") / (dn * (dn - lit(1.0))))
        val out = agged.select(
          col("n_pos"), col("n_neg"), col("n_distinct_scores"),
          (col("_num").cast("double") / lit(2.0)).as("u"),
          col("_tie").cast("double").as("tie_term"),
          when(col("n_pos") > 0L && col("n_neg") > 0L && varU > lit(0.0),
            (col("_num").cast("double") - dn1 * dn2) / (lit(2.0) * sqrt(varU)))
            .as("z"),
          // Cliff's delta 2U/(n1·n2) − 1: the EFFECT SIZE the z's
          // significance needs for context (a huge sample makes a
          // trivial shift "significant"); division then subtract —
          // fusion-free, and = 2·AUC − 1 by the U/AUC identity
          when(col("n_pos") > 0L && col("n_neg") > 0L,
            col("_num").cast("double") / (dn1 * dn2) - lit(1.0))
            .as("cliffs_delta"))
        graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll))
        out
    }
  }

  /** Per-group exact ROC AUC — [[aucExact]]'s census machinery with a
    * group key carried through every stage, answering the question a
    * curation team actually asks before gating 100 TB: "is the quality
    * classifier equally trustworthy per source / per language?" (a
    * gate with AUC 0.9 overall and 0.6 on one source silently skews
    * the mixture).
    *
    * Same one-scan discipline: ONE (group, score) census, bounds from
    * the census, prefix windows partitioned by (group, cell) so no
    * group ever ranks in a single task, offsets at groups×cells rows
    * broadcast ADAPTIVELY ([[graft.Limits.broadcastIfSmall]]:
    * config-sized for the dashboard-cardinality groups this targets —
    * languages, sources, shards — and automatically a shuffled join
    * past [[graft.Limits.BroadcastRowLimit]], so a million-group
    * column degrades instead of OOMing the driver). Output: one row per group
    * (group_key, n_pos, n_neg, n_distinct_scores, auc); auc is NULL
    * for single-class groups, and groups with no surviving rows do
    * not appear.
    */
  def aucExactBy(
      df: DataFrame, group: Column, score: Column, label: Column,
      cells: Int = 4096,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit,
      directWindowRows: Long = RankedPrefix.DefaultDirectWindowRows): DataFrame = {
    // label/group filters run on raw rows (cheap columns); the score
    // null/NaN exclusion runs census-side so an expensive score
    // expression is evaluated exactly once per row — see [[aucExact]]
    val nn = df
      .filter(label.isNotNull && group.isNotNull)
      .select(group.as("_g"), score.cast("double").as("_v"),
        when(label.cast("boolean"), 1L).otherwise(0L).as("_pw"),
        when(label.cast("boolean"), 0L).otherwise(1L).as("_nw"))
    aucMassCoreBy(nn, cells, broadcastRowLimit, directWindowRows)
  }

  /** Per-group weighted exact ROC AUC — [[aucExactWeighted]] keyed by
    * a group column (the [[aucBootstrap]] engine: replicate id as the
    * group). Same exclusions as the weighted global form; same
    * cardinality-adaptive offsets broadcast as [[aucExactBy]].
    */
  def aucExactWeightedBy(
      df: DataFrame, group: Column, score: Column, label: Column,
      weight: Column, cells: Int = 4096,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit): DataFrame = {
    val w = weight.cast("long")
    val nn = df
      .filter(label.isNotNull && group.isNotNull && w.isNotNull && w > 0L)
      .select(group.as("_g"), score.cast("double").as("_v"),
        when(label.cast("boolean"), w).otherwise(0L).as("_pw"),
        when(label.cast("boolean"), 0L).otherwise(w).as("_nw"))
    aucMassCoreBy(nn, cells, broadcastRowLimit)
  }

  /** Grouped rank-sum core over a prepared (_g, _v, _pw, _nw) mass
    * frame — [[aucMassCore]] with the group key carried through every
    * stage; shared by [[aucExactBy]] and [[aucExactWeightedBy]].
    */
  private def aucMassCoreBy(
      nn: DataFrame, cells: Int, broadcastRowLimit: Long,
      directWindowRows: Long = RankedPrefix.DefaultDirectWindowRows): DataFrame =
    rankedMass(nn, grouped = true, cells, broadcastRowLimit, directWindowRows) match {
      case None =>
        nn.limit(0).select(col("_g").as("group_key"),
          lit(0L).as("n_pos"), lit(0L).as("n_neg"),
          lit(0L).as("n_distinct_scores"),
          lit(null).cast("double").as("auc"))
      case Some((ranked, censusAll)) => aucFinishBy(ranked, censusAll)
    }

  /** The per-group AUC finisher over [[rankedMass]]'s frame. */
  private def aucFinishBy(ranked: DataFrame, censusAll: DataFrame): DataFrame = {
    val out = ranked.groupBy(col("_g").as("group_key")).agg(
      sum(col("_pos")).as("n_pos"),
      sum(col("_neg")).as("n_neg"),
      count(lit(1)).as("n_distinct_scores"),
      sum(col("_pos").cast("decimal(38,0)") *
          (lit(2L) * col("_cumNeg") + col("_neg")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").as("_num"))
      .select(
        col("group_key"), col("n_pos"), col("n_neg"), col("n_distinct_scores"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          col("_num").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"))
    // keyed on the returned frame — the eager bounds head() consumes
    // the census (see [[aucExact]])
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll))
    out
  }

  /** Per-group Mann–Whitney rank-sum z — [[rankSumTest]] keyed by a
    * group column over the shared domain: "is the gate's separation
    * more than chance on EVERY source, or does one source's apparent
    * skill vanish at its sample size?" (the per-source AUC q124 says
    * how big; this says how sure). Shares [[rankedMass]] with
    * [[aucExactBy]] — one census, one prefix machinery, the grouped
    * tie term and z finished per group with the identical engine-exact
    * dag as the solo form. Output: one row per group (group_key,
    * n_pos, n_neg, n_distinct_scores, u, tie_term, z); z NULL for
    * single-class or all-tied groups; groups with no surviving rows
    * absent (the grouped-family convention).
    */
  def rankSumTestBy(
      df: DataFrame, group: Column, score: Column, label: Column,
      cells: Int = 4096,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit): DataFrame = {
    val nn = df
      .filter(label.isNotNull && group.isNotNull)
      .select(group.as("_g"), score.cast("double").as("_v"),
        when(label.cast("boolean"), 1L).otherwise(0L).as("_pw"),
        when(label.cast("boolean"), 0L).otherwise(1L).as("_nw"))
    rankedMass(nn, grouped = true, cells, broadcastRowLimit) match {
      case None =>
        nn.limit(0).select(col("_g").as("group_key"),
          lit(0L).as("n_pos"), lit(0L).as("n_neg"),
          lit(0L).as("n_distinct_scores"),
          lit(null).cast("double").as("u"),
          lit(null).cast("double").as("tie_term"),
          lit(null).cast("double").as("z"),
          lit(null).cast("double").as("cliffs_delta"))
      case Some((ranked, censusAll)) =>
        val t = (col("_pos") + col("_neg")).cast("decimal(38,0)")
        val agged = ranked.groupBy(col("_g").as("group_key")).agg(
          sum(col("_pos")).as("n_pos"),
          sum(col("_neg")).as("n_neg"),
          count(lit(1)).as("n_distinct_scores"),
          sum(col("_pos").cast("decimal(38,0)") *
              (lit(2L) * col("_cumNeg") + col("_neg")).cast("decimal(38,0)"))
            .cast("decimal(38,0)").as("_num"),
          sum(t * t * t - t).cast("decimal(38,0)").as("_tie"))
        val dn1 = col("n_pos").cast("double")
        val dn2 = col("n_neg").cast("double")
        val dn = (col("n_pos") + col("n_neg")).cast("double")
        val varU = dn1 * dn2 / lit(12.0) *
          ((dn + lit(1.0)) - col("_tie").cast("double") / (dn * (dn - lit(1.0))))
        val out = agged.select(
          col("group_key"), col("n_pos"), col("n_neg"), col("n_distinct_scores"),
          (col("_num").cast("double") / lit(2.0)).as("u"),
          col("_tie").cast("double").as("tie_term"),
          when(col("n_pos") > 0L && col("n_neg") > 0L && varU > lit(0.0),
            (col("_num").cast("double") - dn1 * dn2) / (lit(2.0) * sqrt(varU)))
            .as("z"),
          when(col("n_pos") > 0L && col("n_neg") > 0L,
            col("_num").cast("double") / (dn1 * dn2) - lit(1.0))
            .as("cliffs_delta"))
        graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll))
        out
    }
  }

  /** Calibration census: fixed score bands over [lo, hi), out-of-range
    * scores clamped to the edge bands ([[Profiling.histogramFixed]]'s
    * convention, so the census covers the full population and merges
    * by integer addition across shards). Per band: count, positives,
    * and the empirical positive rate — the reliability-diagram table,
    * and the threshold-picking table for a quality gate ("band 7 is
    * 92% positive — gate there").
    *
    * One scan, map-side partials to ≤ bins rows; the spine join keeps
    * empty bands present so diagrams align across runs. Band edges are
    * `lo + i·width` doubles — exact IEEE expressions both engines
    * state identically; pos_rate is the single division.
    */
  def calibrationReport(
      df: DataFrame, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val (spine, census) =
      bandedCensusSpine(df, None, score, label, lo, hi, bins)
    val out = spine.select(
      col("band"),
      (lit(lo) + col("band") * lit(width)).as("lo"),
      (lit(lo) + (col("band") + lit(1L)) * lit(width)).as("hi"),
      col("n"), col("n_pos"),
      when(col("n") > 0L,
        col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"))
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(census))
    out
  }

  /** Threshold-sweep census: for each candidate gate threshold
    * t = lo + band·width, the confusion counts of the gate
    * "keep if score ≥ t" — TP (kept positives), FP (kept negatives),
    * FN (dropped positives), TN (dropped negatives) — plus precision,
    * recall, and F1. The companion table to [[calibrationReport]]:
    * calibration says whether the scores mean what they claim;
    * this says WHERE to set the gate ("threshold 1.5 keeps 94% of
    * positives at 88% precision — band 11 maximizes F1").
    *
    * Same one-scan discipline as the rest of the family: cheap-column
    * raw filter, banded census with census-side null/NaN exclusion,
    * then SUFFIX sums over the ≤ bins census rows (kept mass = the
    * bands at or above the threshold). Clamp convention, matching the
    * calibration census: scores ≥ `hi` clamp to band bins−1 and are
    * kept by EVERY threshold in the table; scores below `lo` clamp to
    * band 0 and are kept only by the band-0 threshold — i.e. the table
    * deviates from the true gate "score ≥ t" only at band 0, where
    * sub-lo scores count as kept though they sit below t=lo. Stated,
    * exact, identical in the oracle. All counts are
    * integer adds; precision/recall/F1 are single divisions over
    * exact longs, stated identically in the oracle.
    *
    * Output: one row per band (threshold, tp, fp, fn, tn, precision,
    * recall, f1); precision NULL when nothing is kept, f1 NULL when
    * precision+recall is 0 or undefined.
    */
  def thresholdSweep(
      df: DataFrame, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val (spine, census) =
      bandedCensusSpine(df, None, score, label, lo, hi, bins)
    val out = sweepOverSpine(spine, group = None, lo, hi, bins)
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(census))
    out
  }

  /** Suffix-sum confusion sweep over a filled band spine — the shared
    * back half of [[thresholdSweep]] and [[thresholdSweepBy]]. Windows
    * run over ≤ bins rows (per group when grouped) — bounded by
    * construction.
    */
  private def sweepOverSpine(
      spine: DataFrame, group: Option[Column],
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val width = (hi - lo) / bins
    val (wSuffix, wAll) = group match {
      case Some(_) => (
        W.partitionBy(col("_g")).orderBy(col("band"))
          .rowsBetween(W.currentRow, W.unboundedFollowing),
        W.partitionBy(col("_g")).orderBy(col("band"))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
      case None => (
        W.orderBy(col("band"))
          .rowsBetween(W.currentRow, W.unboundedFollowing),
        W.orderBy(col("band"))
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    }
    val swept = spine
      .withColumn("tp", sum(col("n_pos")).over(wSuffix))
      .withColumn("kept", sum(col("n")).over(wSuffix))
      .withColumn("p_all", sum(col("n_pos")).over(wAll))
      .withColumn("n_all", sum(col("n")).over(wAll))
    val precision = when(col("kept") > 0L,
      col("tp").cast("double") / col("kept").cast("double"))
    val recall = when(col("p_all") > 0L,
      col("tp").cast("double") / col("p_all").cast("double"))
    swept.select(
      group.map(_ => col("_g").as("group_key")).toSeq ++ Seq(
        col("band"),
        (lit(lo) + col("band") * lit(width)).as("threshold"),
        col("tp"),
        (col("kept") - col("tp")).as("fp"),
        (col("p_all") - col("tp")).as("fn"),
        (col("n_all") - col("kept") - (col("p_all") - col("tp"))).as("tn"),
        precision.as("precision"),
        recall.as("recall"),
        when(precision.isNotNull && recall.isNotNull && (precision + recall) > 0.0,
          lit(2.0) * precision * recall / (precision + recall)).as("f1")): _*)
  }

  /** Per-group threshold sweep — [[thresholdSweep]] keyed by a group
    * column: per (group, threshold), the confusion counts and P/R/F1
    * of the gate applied WITHIN that group. Completes the per-source
    * triptych (AUC [[aucExactBy]], calibration
    * [[calibrationReportBy]], sweep): one global threshold is rarely
    * right for every source — this table shows per-source operating
    * points over the SHARED domain so they compare side by side.
    *
    * Suffix sums run in windows partitioned by group over the
    * groups×bins census — config-sized, groups-way parallel. A group
    * whose every score is null/NaN is absent (the family's exclusion
    * convention).
    */
  def thresholdSweepBy(
      df: DataFrame, group: Column, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val (spine, census) =
      bandedCensusSpine(df, Some(group), score, label, lo, hi, bins)
    val out = sweepOverSpine(spine, Some(group), lo, hi, bins)
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(census))
    out
  }

  /** [[thresholdSweepBy]] rebuilt from a MAINTAINED band census — the
    * partials-log discipline applied to the gate's operating points
    * (the r11/r12 verdicts' q130 item): instead of rescanning the
    * corpus, fold the mergeable (group_key, band, n, n_pos) integer
    * partials a standing census emits
    * ([[graft.streaming.StreamingCalibration.windowedBandCensusBy]]'s
    * sink, a nightly append table, or any union of both) and run the
    * same suffix-sum sweep over the filled spine. Partials at ANY
    * granularity fold to the identical table (integer sums are
    * order-free), so streamed == batch exactly — spec-pinned.
    *
    * `lo`/`hi`/`bins` must be the census's own banding (they
    * reconstruct thresholds and the spine; a mismatch is a config
    * error, caught by the band-range check). Output: exactly the
    * [[thresholdSweepBy]] schema. Groups present in the log always
    * have ≥1 surviving census row by construction, matching the batch
    * raw-filter convention.
    */
  def sweepFromBandCensus(
      bandCounts: DataFrame, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val counts = bandCounts
      .select(col("group_key").as("_g"), col("band"), col("n"), col("n_pos"))
      .groupBy(col("_g"), col("band"))
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"))
      .persistCensus()
    // release the cache BEFORE throwing: a failed config check must
    // not leak a persisted frame across repeated failing calls
    val badBand =
      try counts.filter(col("band") < 0L || col("band") >= bins).count()
      catch { case t: Throwable => counts.unpersist(blocking = false); throw t }
    if (badBand != 0L) {
      counts.unpersist(blocking = false)
      throw new IllegalArgumentException(
        s"$badBand census rows carry bands outside [0, $bins) — the census " +
          "was built with a different lo/hi/bins than this sweep")
    }
    val bandSpine = bandCounts.sparkSession.range(0, bins)
      .select(col("id").as("band"))
    val spine = counts.select(col("_g")).distinct()
      .crossJoin(broadcast(bandSpine))
      .join(counts, Seq("_g", "band"), "left")
      .select(col("_g"), col("band"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"))
    val out = sweepOverSpine(spine, Some(col("_g")), lo, hi, bins)
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(counts))
    out
  }

  /** Apply per-group operating points — the operator a curation run
    * actually EXECUTES after reading the sweep: elect each group's
    * F1-maximizing threshold from a [[thresholdSweepBy]] table
    * (lowest band wins ties; groups whose every F1 is NULL fall back
    * to the lowest threshold, i.e. keep everything at/above `lo`),
    * gate every row with the TRUE predicate `score ≥ t_group`, and
    * return the per-group kept-corpus census. [[thresholdSweepBy]]
    * says where the operating points are; this turns them into the
    * kept/dropped row counts a mixture plan is built from.
    *
    * `sweep` is a [[thresholdSweepBy]] output (materialized table or
    * cached frame — it is read once to elect points; the raw data is
    * scanned once, with the score expression in a projection, never a
    * filter). Unlike the sweep's band-0 clamp convention, the apply
    * gate is exact: NULL/NaN scores never pass `≥ t`, and sub-`lo`
    * scores are dropped by any threshold above `lo`. Rows with a NULL
    * group, and groups absent from the sweep (no surviving census
    * rows), have no operating point and produce no census row.
    *
    * Scale shape: the elected-point table is ≤ one row per group —
    * with a cached sweep its size statistics are known, so Spark
    * auto-broadcasts it into the data-side join at dashboard
    * cardinality and falls back to a shuffled join for a huge group
    * column; the census is one map-side-combining aggregate. Output:
    * (group_key, threshold, f1, n_total, n_kept, n_dropped,
    * kept_frac).
    */
  def applyOperatingPoints(
      df: DataFrame, group: Column, score: Column,
      sweep: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val op = sweep
      .select(col("group_key").as("_g"), col("band"), col("threshold"), col("f1"))
      .withColumn("_rn", row_number().over(
        W.partitionBy(col("_g"))
          .orderBy(col("f1").desc_nulls_last, col("band").asc)))
      .filter(col("_rn") === 1)
      .select(col("_g"), col("threshold"), col("f1"))
    df.filter(group.isNotNull)
      .select(group.as("_g"), score.cast("double").as("_v"))
      .join(op, Seq("_g"))
      .groupBy(col("_g"), col("threshold"), col("f1"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("_v").isNotNull && !isnan(col("_v")) &&
          col("_v") >= col("threshold"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("_g").as("group_key"), col("threshold"), col("f1"),
        col("n_total"), col("n_kept"),
        (col("n_total") - col("n_kept")).as("n_dropped"),
        (col("n_kept").cast("double") / col("n_total").cast("double"))
          .as("kept_frac"))
  }

  /** The descending-rank census core shared by [[averagePrecisionExact]]
    * and [[averagePrecisionBy]]: ONE raw scan collapsed to a persisted
    * (group?, score → pos, neg) census ([[rankedCensus]]), then the
    * descending cumulative positives/total at every distinct score —
    * the [[aucExact]] prefix run in reverse.
    *
    * Returns (ranked, censusAll) where `ranked` carries `_pos`, `_neg`,
    * `_cumPos`, `_cumN` (both INCLUSIVE of the current score block,
    * descending), plus `_g` when grouped; `censusAll` is the persisted
    * census the caller must release via [[graft.CacheLifecycle]].
    * Returns None when the census is empty (no surviving rows).
    */
  private[graft] def descRankedCensus(
      df: DataFrame, group: Option[Column], score: Column, label: Column,
      cells: Int, broadcastRowLimit: Long,
      directWindowRows: Long = RankedPrefix.DefaultDirectWindowRows)
      : Option[(DataFrame, DataFrame)] = {
    // label/group filters run on raw rows (cheap columns); the score
    // null/NaN exclusion runs census-side so an expensive score
    // expression is evaluated exactly once per row — see [[aucExact]]
    val rawFilter =
      group.map(g => label.isNotNull && g.isNotNull).getOrElse(label.isNotNull)
    val nn = df.filter(rawFilter)
      .select(group.map(_.as("_g")).toSeq ++ Seq(
        score.cast("double").as("_v"),
        when(label.cast("boolean"), 1L).otherwise(0L).as("_p")): _*)
    rankedCensus(nn, group.isDefined, col("_p"), lit(1L) - col("_p"),
      Seq("_cumPos" -> col("_pos"), "_cumN" -> (col("_pos") + col("_neg"))),
      descending = true, exclusive = false, cells, broadcastRowLimit, directWindowRows)
  }

  /** Exact average precision (area under the precision–recall curve,
    * step-wise, sklearn's uninterpolated convention) — the companion
    * scalar to [[aucExact]] for the imbalanced-label regime a quality
    * gate actually lives in (1% positives: ROC AUC barely moves when
    * precision collapses; AP does).
    *
    * AP = (1/P) · Σ_s pos(s) · precision(s), where `s` ranges over
    * DISTINCT scores descending, pos(s) is the positive count at `s`,
    * and precision(s) = cumPos(s)/cumN(s) over the mass at or above
    * `s` — ties handled block-wise, matching
    * `sklearn.average_precision_score` exactly up to the quantization
    * below.
    *
    * Engine-exactness: a per-block DOUBLE precision summed across
    * blocks would be association-order-dependent (the one thing a
    * distributed engine cannot promise). Instead each block's
    * precision is floor-quantized to 10⁻¹² by INTEGER division —
    * `(cumPos·10¹²) div cumN` — and the numerator Σ pos·prec_q
    * accumulates in DECIMAL(38,0): exact, associative, order-free,
    * overflow-safe past 10²⁴ weighted rows. The lone float steps are
    * the final correctly-rounded decimal→double cast and ONE division
    * by the exact double `10¹²·P` — stated identically in the oracle.
    * The quantization biases AP down by < 10⁻¹² absolute: far below
    * any decision threshold, and — unlike an unstated float-sum drift
    * — deterministic, portable, and documented.
    *
    * Distribution: identical shape to [[aucExact]] run in reverse —
    * one raw scan to a distinct-score census, descending prefix sums
    * via (cell)-partitioned windows, no global sort. Output: one row
    * (n_pos, n_neg, n_distinct_scores, ap); ap is NULL when there are
    * no positives (undefined, not 0). NULL/NaN scores and NULL labels
    * are excluded as in the rest of the family.
    */
  def averagePrecisionExact(
      df: DataFrame, score: Column, label: Column,
      cells: Int = 4096): DataFrame = {
    descRankedCensus(df, None, score, label, cells, Limits.BroadcastRowLimit) match {
      case None =>
        df.sparkSession.range(1).select(
          lit(0L).as("n_pos"), lit(0L).as("n_neg"),
          lit(0L).as("n_distinct_scores"),
          lit(null).cast("double").as("ap"))
      case Some((ranked, censusAll)) =>
        val out = ranked
          .withColumn("_precQ", expr(
            "(CAST(_cumPos AS DECIMAL(38,0)) * CAST(1000000000000 AS DECIMAL(38,0))) div _cumN"))
          .agg(
            sum(col("_pos")).as("n_pos"),
            sum(col("_neg")).as("n_neg"),
            count(lit(1)).as("n_distinct_scores"),
            sum(col("_pos").cast("decimal(38,0)") *
                col("_precQ").cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("_num"))
          .select(
            col("n_pos"), col("n_neg"), col("n_distinct_scores"),
            when(col("n_pos") > 0L,
              col("_num").cast("double") /
                (lit(1.0e12) * col("n_pos").cast("double"))).as("ap"))
        graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll))
        out
    }
  }

  /** Per-group exact average precision — [[averagePrecisionExact]]
    * keyed by a group column, completing the per-source eval triptych
    * on the PR side (a gate's ROC AUC can hold per source while its
    * precision collapses on the source whose base rate is 100× lower —
    * exactly the failure AP per source surfaces). Same one-scan census,
    * group-keyed descending [[RankedPrefix]] ranks, cardinality-adaptive
    * offsets broadcast. Output: one row per group (group_key, n_pos,
    * n_neg, n_distinct_scores, ap); groups with no surviving rows are
    * absent, ap NULL for positive-free groups.
    */
  def averagePrecisionBy(
      df: DataFrame, group: Column, score: Column, label: Column,
      cells: Int = 4096,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit): DataFrame = {
    descRankedCensus(df, Some(group), score, label, cells,
        broadcastRowLimit) match {
      case None =>
        df.filter(lit(false)).select(group.as("group_key"))
          .select(col("group_key"),
            lit(0L).as("n_pos"), lit(0L).as("n_neg"),
            lit(0L).as("n_distinct_scores"),
            lit(null).cast("double").as("ap"))
      case Some((ranked, censusAll)) =>
        val out = ranked
          .withColumn("_precQ", expr(
            "(CAST(_cumPos AS DECIMAL(38,0)) * CAST(1000000000000 AS DECIMAL(38,0))) div _cumN"))
          .groupBy(col("_g").as("group_key"))
          .agg(
            sum(col("_pos")).as("n_pos"),
            sum(col("_neg")).as("n_neg"),
            count(lit(1)).as("n_distinct_scores"),
            sum(col("_pos").cast("decimal(38,0)") *
                col("_precQ").cast("decimal(38,0)"))
              .cast("decimal(38,0)").as("_num"))
          .select(
            col("group_key"), col("n_pos"), col("n_neg"),
            col("n_distinct_scores"),
            when(col("n_pos") > 0L,
              col("_num").cast("double") /
                (lit(1.0e12) * col("n_pos").cast("double"))).as("ap"))
        graft.CacheLifecycle.releaseWhenExecuted(out, Seq(censusAll))
        out
    }
  }

  /** Poisson(1) CDF at k = 0..8, as the exact decimal-literal strings
    * BOTH engines parse (each becomes the nearest IEEE double): one
    * source of digits for the engine's when-chain and the oracle's
    * CASE, so the replicate weights cannot drift by a ulp between
    * engines. Draws above 8 clamp to 9 (P ≈ 1.1e-7 per row — the
    * clamp is stated, deterministic, and identical in both engines).
    */
  val PoissonOneCdf: Seq[String] = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
    "0.999916758850712", "0.9999897508033253", "0.999998874797402")

  /** Inverse-CDF Poisson(1) draw from a uniform [0,1) hash score —
    * the deterministic bootstrap-replicate weight. */
  def poissonOneDraw(u: Column): Column = {
    val chain = PoissonOneCdf.zipWithIndex.foldLeft(Option.empty[Column]) {
      case (None, (c, k)) => Some(when(u < lit(c.toDouble), lit(k.toLong)))
      case (Some(acc), (c, k)) => Some(acc.when(u < lit(c.toDouble), lit(k.toLong)))
    }
    chain.get.otherwise(lit(PoissonOneCdf.size.toLong))
  }

  /** Deterministic Poisson bootstrap of the exact AUC: `replicates`
    * resampled copies of the eval set, each row drawn Poisson(1)
    * times per replicate from an md5 hash of (id, replicate, salt),
    * each replicate's AUC computed EXACTLY by the weighted rank-sum
    * machinery. The spread across replicate AUCs is the confidence
    * interval a gate decision actually needs ("AUC 0.86 ± what?") —
    * and because the draws are hash-derived, the whole resampling
    * experiment is reproducible across runs, partitionings, and
    * engines, row for row.
    *
    * Shape: ONE narrow (id, score, label) projection — persisted, so
    * the replicate explode cannot push the score expression below
    * the generator and evaluate it `replicates`× per row (the
    * InferFiltersFromGenerate trap) — then `replicates` weighted
    * censuses ride [[aucExactWeightedBy]] with the replicate id as
    * the group: (replicate, cell)-partitioned ranks, no global sort,
    * nothing driver-side. At 100 TB the narrow frame is a
    * materialized eval table and the explode streams — the cache
    * here is a local-run convenience, not a scale requirement.
    *
    * Output: one row per replicate (replicate, n_pos, n_neg,
    * n_distinct_scores, auc) — quantiles over it are the CI; rows
    * whose draw is 0 are excluded from that replicate by the
    * weighted core's `w > 0` contract (that IS the bootstrap).
    */
  def aucBootstrap(
      df: DataFrame, id: Column, score: Column, label: Column,
      replicates: Int, salt: String, cells: Int = 4096): DataFrame = {
    require(replicates >= 1, s"replicates must be >= 1, got $replicates")
    val narrow = graft.ParallelSpread.forCpu(df.filter(label.isNotNull),
      id)
      .select(id.cast("string").as("_id"),
        score.cast("double").as("_v"),
        label.cast("boolean").as("_y"))
      .persistFresh()
    val reps = narrow
      .withColumn("_r", explode(sequence(lit(0), lit(replicates - 1))))
      .withColumn("replicate", col("_r").cast("long"))
    val u = Sampling.hashScore(
      concat(col("_id"), lit("|"), col("replicate").cast("string"),
        lit("|"), lit(salt)))
    val out = aucExactWeightedBy(
        reps, col("replicate"), col("_v"), col("_y"), poissonOneDraw(u), cells)
      .withColumnRenamed("group_key", "replicate")
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(narrow))
    out
  }

  /** Brier-score decomposition (Murphy 1973) over the banded forecast:
    * treats each band's midpoint — in min-max-scaled units, p_b =
    * (2b+1)/(2·bins) over the stated [lo, hi) domain — as the forecast
    * probability (exactly what a reliability diagram plots) and
    * decomposes the banded Brier score into
    *
    *   brier = reliability − resolution + uncertainty
    *
    * reliability = (1/N)·Σ_b n_b·(p_b − ȳ_b)²   (how far each band's
    * claimed probability sits from its empirical rate — 0 is
    * perfectly calibrated), resolution = (1/N)·Σ_b n_b·(ȳ_b − ȳ)²
    * (how much the bands actually separate outcomes — higher is
    * better), uncertainty = ȳ·(1−ȳ) (the no-skill floor, a property
    * of the labels alone). [[calibrationReport]] shows the per-band
    * table; this is its one-row scalar summary — the number a gate
    * dashboard tracks per run.
    *
    * Engine-exactness: every band mass is integer. The banded Brier
    * numerator Σ_b [(2b+1)²·n_b − 4·bins·(2b+1)·pos_b + 4·bins²·pos_b]
    * is a pure integer sum (y² = y for 0/1 labels — no quantization at
    * all); reliability and resolution terms are per-band rationals
    * floor-quantized to 10⁻⁶ by integer division — exact, associative,
    * order-free DECIMAL sums (the [[averagePrecisionExact]] discipline;
    * LONG-safe per band to ~9×10¹² rows). The only floats are the
    * final stated divisions. Quantization bias is < bins·10⁻⁶/N
    * absolute per metric (resolution may dip below zero by that much
    * on a perfectly-flat census); the decomposition identity holds to
    * the same tolerance.
    *
    * The expected calibration error rides along EXACTLY: ece =
    * (1/N)·Σ_b n_b·|p_b − ȳ_b| = Σ_b |A_b| / (2·bins·N) — the
    * absolute-value integers sum with NO quantization at all, so the
    * dashboard's headline calibration number is engine-exact to the
    * last bit of its single division.
    *
    * One scan ([[bandedCensusSpine]]'s single-evaluation layout);
    * out-of-range scores clamp to edge bands; NULL/NaN scores and NULL
    * labels are excluded census-side. Output: one row (n, n_pos,
    * brier, reliability, resolution, uncertainty, ece); metrics NULL
    * on an empty eval set.
    */
  def brierDecomposition(
      df: DataFrame, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val (spine, census) =
      bandedCensusSpine(df, None, score, label, lo, hi, bins)
    val out = brierOverSpine(spine, group = None, bins)
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(census))
    out
  }

  /** Per-group Brier decomposition — [[brierDecomposition]] keyed by
    * a group column: per source/language, the reliability / resolution
    * / uncertainty / ECE split over the SHARED [lo, hi) domain (the
    * q117 convention), completing the per-source eval triptych on the
    * calibration-scalar side — a gate can hold its global ECE while
    * one source's reliability quietly collapses. Same one-scan census,
    * groups×bins integer sums; groups with no surviving rows are
    * absent.
    */
  def brierDecompositionBy(
      df: DataFrame, group: Column, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val (spine, census) =
      bandedCensusSpine(df, Some(group), score, label, lo, hi, bins)
    val out = brierOverSpine(spine, Some(group), bins)
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(census))
    out
  }

  /** Integer-sum Brier/ECE fold over a filled band spine — the shared
    * back half of [[brierDecomposition]] and [[brierDecompositionBy]].
    * All sums run over ≤ (groups ×) bins census rows.
    */
  private def brierOverSpine(
      spine: DataFrame, group: Option[Column], bins: Int): DataFrame = {
    val q = 1000000L // 10⁻⁶ quantum: per-band LONG results to ~9e12 rows
    val b4 = 4L * bins
    val b2 = 2L * bins
    val bsq = 4L * bins * bins
    val terms = spine.select(
      group.map(_ => col("_g")).toSeq ++ Seq(
      col("n"), col("n_pos"),
      // Σ-term of the banded Brier numerator: integer, no quantization
      expr(s"(2*band+1)*(2*band+1)*n - $b4*(2*band+1)*n_pos + $bsq*n_pos")
        .cast("decimal(38,0)").as("_sb"),
      // n_b·(p_b − ȳ_b)² ≡ A_b²/($bsq·n_b), A_b = (2b+1)·n_b − 2·bins·pos_b
      coalesce(
        when(col("n") > 0L, expr(
          s"""(CAST((2*band+1)*n - $b2*n_pos AS DECIMAL(38,0))
             | * CAST((2*band+1)*n - $b2*n_pos AS DECIMAL(38,0))
             | * $q) div ($bsq * n)""".stripMargin)),
        lit(0L)).cast("decimal(38,0)").as("_rq"),
      // Σ pos_b²/n_b (resolution via Σ n_b·(ȳ_b−ȳ)² = Σ pos²/n − P²/N)
      coalesce(
        when(col("n") > 0L, expr(
          s"(CAST(n_pos AS DECIMAL(38,0)) * CAST(n_pos AS DECIMAL(38,0)) * $q) div n")),
        lit(0L)).cast("decimal(38,0)").as("_sq"),
      // Σ |A_b|: the ECE numerator — exact, unquantized
      expr(s"abs((2*band+1)*n - $b2*n_pos)").cast("decimal(38,0)").as("_se")): _*)
    val agg = group match {
      case Some(_) => terms.groupBy(col("_g").as("group_key"))
      case None => terms.groupBy()
    }
    val folded = agg.agg(
      sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"),
      sum(col("_sb")).cast("decimal(38,0)").as("_sb"),
      sum(col("_rq")).cast("decimal(38,0)").as("_rq"),
      sum(col("_sq")).cast("decimal(38,0)").as("_sq"),
      sum(col("_se")).cast("decimal(38,0)").as("_se"))
    folded.select(
      group.map(_ => col("group_key")).toSeq ++ Seq(
      col("n"), col("n_pos"),
      when(col("n") > 0L,
        col("_sb").cast("double") /
          (lit(bsq.toDouble) * col("n").cast("double"))).as("brier"),
      when(col("n") > 0L,
        col("_rq").cast("double") /
          (lit(q.toDouble) * col("n").cast("double"))).as("reliability"),
      when(col("n") > 0L,
        (col("_sq") - expr(
          s"(CAST(n_pos AS DECIMAL(38,0)) * CAST(n_pos AS DECIMAL(38,0)) * $q) div n")
          .cast("decimal(38,0)")).cast("double") /
          (lit(q.toDouble) * col("n").cast("double"))).as("resolution"),
      when(col("n") > 0L,
        col("n_pos").cast("double") * (col("n") - col("n_pos")).cast("double") /
          (col("n").cast("double") * col("n").cast("double"))).as("uncertainty"),
      when(col("n") > 0L,
        col("_se").cast("double") /
          (lit(b2.toDouble) * col("n").cast("double"))).as("ece")): _*)
  }

  /** Isotonic (pool-adjacent-violators) calibration over the band
    * census — the FIX step completing the calibration family:
    * [[calibrationReport]] diagnoses miscalibration,
    * [[thresholdSweep]] picks operating points, and this produces the
    * monotone band → probability mapping that recalibrates the score
    * (the standard isotonic-regression recalibrator, computed at band
    * granularity so it trains on a census, not on raw rows).
    *
    * Algorithm: ascending bands pool while the empirical rate
    * DECREASES (adjacent-violators merge), leaving maximal blocks
    * with non-decreasing pooled rates — the exact isotonic fit to the
    * banded data under L2. Rate comparisons cross-multiply exact
    * longs (pos_a·n_b ≥ pos_b·n_a — no float enters the pooling
    * decision), so the block structure is engine/order-exact; each
    * band's calibrated_p is the single stated division
    * pooledPos/pooledN of its block. Empty bands carry no evidence:
    * they join whatever block their position falls in (leading
    * empties take the first block's value), keeping the mapping total
    * over the band domain and monotone.
    *
    * Scale shape: ONE raw scan to the ≤ bins census
    * ([[bandedCensusSpine]]'s single-evaluation layout), then PAV
    * runs driver-side over ≤ bins rows — config-sized, the same
    * class of pull as centroids/bin-edges. Output: one row per band
    * (band, lo, hi, n, n_pos, calibrated_p), monotone non-decreasing
    * in `band`; mass is conserved exactly within each block
    * (Σ n_b·p̂_b over a block = that block's positives — the PAV
    * property that makes the recalibrated scores sum-faithful).
    * Returns the empty mapping on an empty eval set.
    */
  def isotonicCalibration(
      df: DataFrame, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val (spine, census) =
      bandedCensusSpine(df, None, score, label, lo, hi, bins)
    val rows = spine.select(col("band"), col("n"), col("n_pos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(census))
    val spark = df.sparkSession
    if (rows.forall(_._2 == 0L))
      return spark.range(0).select(
        col("id").as("band"), lit(0.0).as("lo"), lit(0.0).as("hi"),
        lit(0L).as("n"), lit(0L).as("n_pos"),
        lit(0.0).as("calibrated_p"))
    val out = pavMapping(rows.toIndexedSeq).map { case (b, n, p, cal) =>
      (b, lo + b * width, lo + (b + 1) * width, n, p, cal)
    }
    import spark.implicits._
    out.toDF("band", "lo", "hi", "n", "n_pos", "calibrated_p")
  }

  /** Per-group isotonic recalibration — [[isotonicCalibration]] keyed
    * by a group column: each source gets its OWN monotone mapping
    * over the shared [lo, hi) domain, completing the per-source
    * family on the recalibration side (a gate miscalibrated on one
    * source is fixed per source, not nudged globally). One scan to
    * the groups×bins census; PAV runs driver-side per group over the
    * collected census — a groups×bins pull, the same
    * dashboard-cardinality contract as the grouped-eval offsets
    * broadcast (for a million-group column, run the global form per
    * partition of interest instead). Groups with no surviving rows
    * are absent. Output: (group_key, band, lo, hi, n, n_pos,
    * calibrated_p), monotone within each group.
    */
  def isotonicCalibrationBy(
      df: DataFrame, group: Column, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val (spine, census) =
      bandedCensusSpine(df, Some(group), score, label, lo, hi, bins)
    val rows = spine.select(col("_g"), col("band"), col("n"), col("n_pos"))
      .collect()
      .map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(census))
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val gType = spine.schema("_g").dataType
    val schema = StructType(Seq(
      StructField("group_key", gType),
      StructField("band", LongType, nullable = false),
      StructField("lo", DoubleType, nullable = false),
      StructField("hi", DoubleType, nullable = false),
      StructField("n", LongType, nullable = false),
      StructField("n_pos", LongType, nullable = false),
      StructField("calibrated_p", DoubleType, nullable = false)))
    val out = new java.util.ArrayList[Row]()
    rows.groupBy(_._1).foreach { case (g, grows) =>
      val perBand = grows.map(t => (t._2, t._3, t._4)).sortBy(_._1).toIndexedSeq
      if (perBand.exists(_._2 > 0L))
        pavMapping(perBand).foreach { case (b, n, p, cal) =>
          out.add(Row(g, b, lo + b * width, lo + (b + 1) * width, n, p, cal))
        }
    }
    spark.createDataFrame(out, schema)
  }

  /** The PAV core over one group's band census (ascending, all bands
    * present): pool adjacent violators with exact long cross-product
    * rate comparisons, then map every band to its covering block's
    * rate (empties extend the earlier block; leading empties take the
    * first block). Returns (band, n, n_pos, calibrated_p).
    */
  private def pavMapping(
      rows: IndexedSeq[(Long, Long, Long)]): IndexedSeq[(Long, Long, Long, Double)] = {
    final case class Block(from: Long, to: Long, n: Long, pos: Long)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    rows.filter(_._2 > 0L).foreach { case (b, n, p) =>
      var cur = Block(b, b, n, p)
      // merge while the previous block's rate EXCEEDS the new one:
      // pos_prev·n_cur > pos_cur·n_prev — exact long cross-product
      while (stack.nonEmpty &&
        stack.last.pos * cur.n > cur.pos * stack.last.n) {
        val prev = stack.remove(stack.length - 1)
        cur = Block(prev.from, cur.to, prev.n + cur.n, prev.pos + cur.pos)
      }
      stack += cur
    }
    val blocks = stack.toIndexedSeq
    def blockFor(band: Long): Block = {
      val idx = blocks.lastIndexWhere(_.from <= band)
      blocks(math.max(idx, 0))
    }
    rows.map { case (b, n, p) =>
      val blk = blockFor(b)
      (b, n, p, blk.pos.toDouble / blk.n.toDouble)
    }
  }

  /** Apply an [[isotonicCalibration]] mapping to raw scores: each row
    * gets `calibrated_p` of its (clamped) band — a broadcast join
    * against the ≤ bins mapping, map-side at any scale. Rows with
    * NULL/NaN scores calibrate to NULL (no band carries them — the
    * family's exclusion convention).
    */
  def applyIsotonic(
      df: DataFrame, score: Column, mapping: DataFrame,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val v = score.cast("double")
    val band = when(v.isNotNull && !isnan(v),
      least(lit(bins - 1L), greatest(lit(0L), floor((v - lit(lo)) / lit(width)))))
    df.withColumn("_band", band)
      .join(broadcast(mapping.select(col("band").as("_band"),
        col("calibrated_p"))), Seq("_band"), "left")
      .drop("_band")
  }

  /** Per-group calibration census — [[calibrationReport]] keyed by a
    * group column, one scan + map-side partials to ≤ groups×bins rows.
    * The spine is distinct-groups × bands so every group's reliability
    * diagram has all `bins` rows (empty bands n=0), aligned across
    * groups and across runs. Shared [lo, hi) domain for every group —
    * the q117 shared-domain convention, which is what makes per-group
    * diagrams comparable side by side.
    */
  def calibrationReportBy(
      df: DataFrame, group: Column, score: Column, label: Column,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    val width = (hi - lo) / bins
    val (spine, census) =
      bandedCensusSpine(df, Some(group), score, label, lo, hi, bins)
    val out = spine.select(
      col("_g").as("group_key"),
      col("band"),
      (lit(lo) + col("band") * lit(width)).as("lo"),
      (lit(lo) + (col("band") + lit(1L)) * lit(width)).as("hi"),
      col("n"), col("n_pos"),
      when(col("n") > 0L,
        col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"))
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(census))
    out
  }
}
