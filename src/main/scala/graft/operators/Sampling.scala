package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data splits.
  *
  * `rand()`-based sampling is irreproducible across runs/engines;
  * these operators derive the sampling decision from a cryptographic
  * hash of the row's id, so the same row lands in the same split on
  * every run, on any engine, at any parallelism — the property
  * train/test splits actually need. md5 (not xxhash) so DuckDB
  * oracles can state the identical predicate.
  *
  * All per-row expression work: no shuffle, fully codegen'd.
  */
object Sampling {

  /** Uniform [0,1) sampling score from an id column: the first 8 hex
    * digits of md5(id-as-string) scaled by 2⁻³².
    */
  def hashScore(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0)

  /** Deterministic fraction sample: keep rows with score < fraction. */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    df.filter(hashScore(col(idCol)) < fraction)

  /** The salted two-phase exact top-k CORE — one implementation of
    * the exactness-critical idiom shared by [[capPerGroup]],
    * [[capPerGroupBy]], [[prioritySample]],
    * [[graft.operators.Profiling.topValues]] and
    * [[graft.operators.TextAnalysis.zipfSlopeBy]] (five
    * hand-maintained copies before r14). Phase 1 ranks within
    * (`partitionCols`, `pmod(xxhash64(saltKey), salts)`) —
    * `salts`-way parallel even for one giant partition — and keeps
    * each salt's top-k; phase 2 ranks only the ≤ salts·k survivors
    * per partition, emitting `rankName` (bigint, 1-based, ≤ k).
    * EXACT, not approximate, whenever `order` is a TOTAL order of the
    * rows: every row of the true top-k has within-salt rank ≤ its
    * global rank ≤ k, so the survivors contain the answer. Callers
    * must pass a tie-broken order (the usual pattern ends with a
    * unique id/value ascending).
    */
  private[graft] def saltedTopK(
      df: DataFrame, partitionCols: Seq[Column], saltKey: Column,
      order: Seq[Column], k: Int, salts: Int, rankName: String): DataFrame = {
    require(k >= 1, "k must be positive")
    require(salts >= 1, "salts must be positive")
    val W = org.apache.spark.sql.expressions.Window
    val perSalt = W
      .partitionBy(partitionCols :+ pmod(xxhash64(saltKey), lit(salts.toLong)): _*)
      .orderBy(order: _*)
    val whole = W.partitionBy(partitionCols: _*).orderBy(order: _*)
    df.withColumn("__salt_rank", row_number().over(perSalt))
      .filter(col("__salt_rank") <= k)
      .withColumn(rankName, row_number().over(whole).cast("bigint"))
      .filter(col(rankName) <= k)
      .drop("__salt_rank")
  }

  /** Domain balancing: keep at most `k` rows per group, chosen
    * deterministically by hash score with an id tiebreak — the
    * "cap every source/domain at N documents" mixing primitive, with
    * the same any-run/any-engine reproducibility as the splits.
    * Group keys here are Zipfian in practice (web domains), so the
    * ranking is [[saltedTopK]] — a single per-group window would
    * sort the hottest domain's 10⁸⁺ rows in one task.
    *
    * Returns the input columns plus `sample_rank` (1-based within
    * the group). Only (id, group, score) triples ride the window
    * shuffle; payload columns join back by id afterwards, so wide
    * documents never shuffle. Uniform scores mean the kept set is a
    * uniform k-subset of each group.
    */
  def capPerGroup(
      df: DataFrame, idCol: String, groupCol: String, k: Int,
      salts: Int = 32): DataFrame = {
    val winners = saltedTopK(
      df.select(col(idCol), col(groupCol)), Seq(col(groupCol)), col(idCol),
      Seq(hashScore(col(idCol)).asc, col(idCol).asc), k, salts, "sample_rank")
      .select(col(idCol), col("sample_rank"))
    df.join(winners, Seq(idCol))
  }

  /** [[capPerGroup]] ranked by an explicit score instead of the
    * uniform hash — "keep the BEST k per domain" (highest quality
    * score, longest document) rather than a random k-subset. Same
    * salted two-phase exactness argument: (score desc, id asc) is a
    * total order, so the global per-group top-k is contained in the
    * union of per-salt top-k sets. The score expression must be
    * computable on `df`'s columns; only (id, group, score) triples
    * ride the windows.
    */
  def capPerGroupBy(
      df: DataFrame, idCol: String, groupCol: String, k: Int,
      scoreCol: Column, salts: Int = 32): DataFrame = {
    val winners = saltedTopK(
      df.select(col(idCol), col(groupCol), scoreCol.as("_score")),
      Seq(col(groupCol)), col(idCol),
      Seq(col("_score").desc, col(idCol).asc), k, salts, "sample_rank")
      .select(col(idCol), col("sample_rank"))
    df.join(winners, Seq(idCol))
  }

  /** Disjoint deterministic split: assigns each row a split label by
    * cumulative fraction ranges over the hash score. Fractions must
    * sum to ≤ 1; `split` is null for rows beyond the last boundary
    * when they sum to strictly less than 1.
    *
    * Leakage-safe group-level splits fall out of the key choice: pass
    * the GROUP column (source/domain, near-dup cluster id) as `idCol`
    * and every row of a group lands in the same split — row-hashed
    * splits let near-identical documents from one domain straddle
    * train/test and inflate eval. Fractions then apportion groups,
    * so per-split ROW counts track group sizes, not fractions.
    *
    * When fractions sum to (numerically) 1, the FINAL bucket is the
    * catch-all `otherwise` branch rather than a `score < bound`
    * comparison: float accumulation can leave the last cumulative
    * bound one ulp below 1.0, and a `<` test there would silently
    * drop the top sliver of scores to split=null
    * (`__HIVE_DEFAULT_PARTITION__` in a partitioned sink).
    */
  def deterministicSplit(
      df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    val bounds = splits.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
    val score = hashScore(col(idCol))
    val sumsToOne = splits.nonEmpty && math.abs(bounds.last - 1.0) <= 1e-9
    val (chained, catchAll) =
      if (sumsToOne) (splits.init.map(_._1).zip(bounds.init), lit(splits.last._1))
      else (splits.map(_._1).zip(bounds), lit(null).cast("string"))
    // ascending when-chain over cumulative upper bounds: the first
    // matching bound wins, so conditions must be tested low-to-high
    val ascending = chained
      .foldLeft(Option.empty[Column]) {
        case (None, (name, hi)) => Some(when(score < hi, lit(name)))
        case (Some(c), (name, hi)) => Some(c.when(score < hi, lit(name)))
      }.fold(catchAll)(_.otherwise(catchAll))
    df.withColumn("split", ascending)
  }

  /** Near-dup-safe deterministic split: every member of a duplicate
    * CLUSTER lands in the same split, so near-identical documents can
    * never straddle train/test — the leakage mode [[splitLeakage]]
    * detects, prevented by construction. A row-hashed split keeps two
    * 95%-identical crawls of one page apart only by luck; this splits
    * by the cluster representative instead.
    *
    * `clusters` is a materialized duplicate-cluster table
    * ([[Dedup.duplicateClusters]] / the q128 keep-list):
    * (clusterDocCol → clusterIdCol). Rows absent from it are
    * singletons and split by their own id — same hash domain, since a
    * cluster id IS its minimum member id. The split key is
    * `coalesce(cluster_id, id)` fed to [[deterministicSplit]], so all
    * of its conventions (cumulative bounds, catch-all last bucket)
    * apply; fractions then apportion CLUSTERS, with per-split row
    * counts tracking cluster sizes.
    *
    * Scale: one equi-join against the cluster table (pair-scale,
    * ≪ corpus — broadcast at dashboard size, shuffled join beyond),
    * then a pure map-side projection. An audit
    * `splitLeakage(out, coalesce(cluster_id, id), split)` reports
    * zero leaking groups by construction.
    */
  def clusterSafeSplit(
      df: DataFrame, idCol: String,
      clusters: DataFrame, clusterDocCol: String, clusterIdCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    val reps = clusters.select(
      col(clusterDocCol).as(idCol), col(clusterIdCol).as("_rep"))
    val keyed = df.join(reps, Seq(idCol), "left")
      .withColumn("_split_key", coalesce(col("_rep"), col(idCol)))
    deterministicSplit(keyed, "_split_key", splits)
      .drop("_rep", "_split_key")
  }

  /** Budget-bounded deterministic sample: keep rows in hash-score
    * order until a cumulative `weight` budget is reached — "give me
    * ~2B training tokens of this corpus, reproducibly". A row is
    * kept iff the total weight of all hash-earlier rows is under
    * `budget`, so the kept set is an exact prefix of the (score, id)
    * order: stable across runs, engines, and partitionings, and
    * growing the corpus only ever changes the tail.
    *
    * The global prefix-sum is the scale trap here — a naive
    * `sum OVER (ORDER BY score)` is one task holding the whole
    * corpus. Two-phase instead: (1) rows bucket by
    * `floor(score·B)`; per-bucket weight totals fold map-side to ≤ B
    * rows, whose running totals are a trivially small window;
    * (2) buckets entirely under budget keep every row with no
    * per-row window at all, buckets entirely past it drop, and only
    * the BOUNDARY bucket's rows (≈ corpus/B of the data) ride a
    * bucket-partitioned window for the exact row-level cut. The
    * distributed prefix-sum shape — same answer as the global
    * window, none of the single-task state.
    */
  def sampleToBudget(
      df: DataFrame, idCol: String, weight: Column, budget: Long,
      buckets: Int = 4096): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    import org.apache.spark.sql.expressions.Window
    // NULL weight counts as 0: the row is kept whenever its position
    // is inside the budget and never consumes any of it. Without the
    // coalesce a null would poison the per-bucket sums (an all-null
    // bucket gets _wb = NULL and every row of it fails BOTH the
    // full-keep and the boundary predicate — vanishing from the
    // output with no error).
    val base = df
      .withColumn("_score", hashScore(col(idCol)))
      .withColumn("_w", coalesce(weight.cast("long"), lit(0L)))
      .withColumn("_b", floor(col("_score") * buckets).cast("long"))
    val perBucket = base.groupBy(col("_b")).agg(sum(col("_w")).as("_wb"))
    // ≤ `buckets` rows: the unpartitioned window is config-sized by
    // construction, not a data-scale single task
    val wBuckets = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = perBucket.withColumn("_cumb",
      coalesce(sum(col("_wb")).over(wBuckets), lit(0L)))
    val joined = base.join(broadcast(cum), Seq("_b"))
    val fullKeep = joined.filter(col("_cumb") + col("_wb") <= budget)
    val wRows = Window.partitionBy(col("_b"))
      .orderBy(col("_score").asc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val boundaryKeep = joined
      .filter(col("_cumb") < budget && col("_cumb") + col("_wb") > budget)
      .withColumn("_run", coalesce(sum(col("_w")).over(wRows), lit(0L)))
      .filter(col("_cumb") + col("_run") < budget)
      .drop("_run")
    fullKeep.unionByName(boundaryKeep)
      .drop("_score", "_w", "_b", "_wb", "_cumb")
  }

  /** Split-leakage audit — the eval-contamination check every
    * train/test split needs before anyone trusts the eval: a content
    * group (exact-dup hash, near-dup cluster id, source domain)
    * whose rows straddle more than one split leaks training data
    * into evaluation and inflates every metric downstream. One row
    * out: total groups, multi-row groups (the population at risk),
    * leaking groups, and leaking rows (the blast radius — what a fix
    * must reassign). A clean GROUP-keyed split audits to zero by
    * construction; this catches the row-keyed splits that weren't.
    *
    * Scale: one scan; groupBy(group) partial-aggregates map-side to
    * one row per group carrying two counters, then a one-row fold —
    * no row-scale state crosses the shuffle. NULL splits (rows the
    * split didn't assign) are not leakage on their own:
    * `count_distinct` ignores them, so a group must touch two REAL
    * splits to count.
    */
  def splitLeakage(df: DataFrame, group: Column, split: Column): DataFrame =
    df.groupBy(group.as("_g"))
      .agg(
        count(lit(1)).as("_n_rows"),
        count_distinct(split).as("_n_splits"))
      .agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("_n_rows") > 1, 1L).otherwise(0L)).as("n_multi_row_groups"),
        sum(when(col("_n_splits") > 1, 1L).otherwise(0L)).as("n_leaking_groups"),
        sum(when(col("_n_splits") > 1, col("_n_rows")).otherwise(0L))
          .as("n_leaking_rows"))

  /** The offender list behind [[splitLeakage]]'s counts: one row per
    * LEAKING group — (group, n_rows, n_splits) — the reassignment
    * worklist. Same single-shuffle shape; empty on a clean split.
    */
  def splitLeakageGroups(df: DataFrame, group: Column, split: Column): DataFrame =
    df.groupBy(group.as("group"))
      .agg(
        count(lit(1)).as("n_rows"),
        count_distinct(split).as("n_splits"))
      .filter(col("n_splits") > 1)

  /** Per-stratum deterministic sampling: different fractions per
    * stratum value (class rebalancing — downsample dominant classes).
    */
  def stratifiedSample(
      df: DataFrame, idCol: String, stratumCol: String,
      fractions: Map[String, Double], defaultFraction: Double): DataFrame = {
    val frac = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (value, f)) =>
        when(col(stratumCol) === value, lit(f)).otherwise(acc)
    }
    df.filter(hashScore(col(idCol)) < frac)
  }

  /** Weighted sample WITHOUT replacement: keep the k rows with the
    * largest priority `weight / u`, u uniform on (0,1] — priority
    * sampling (Duffield–Lund–Thorup, JACM 2007; the fixed-size
    * counterpart of Efraimidis–Spirakis exponential keys). Longer /
    * higher-quality documents are proportionally more likely to
    * survive, which is the "sample the corpus by token count, not
    * document count" mixing primitive.
    *
    * Engine-portable where the exponential-keys form is not: the
    * classic key `u^(1/w)` needs `pow`/`ln`, which libms round
    * differently; a single IEEE division is correctly rounded
    * everywhere, so the same row set survives on any engine. u is the
    * md5 hash score shifted to (0,1] — `(h+1)/2³²` — so the division
    * can never hit u=0.
    *
    * Global top-k via the same salted two-phase window as
    * [[capPerGroup]] (phase 1 ranks inside each of `salts` hash
    * shards, phase 2 ranks the ≤ salts·k survivors): no single task
    * ever sorts the full corpus, and only (id, weight) pairs ride the
    * windows — payload joins back by id. Exact by the containment
    * argument over the (priority desc, id asc) total order.
    *
    * Rows with weight ≤ 0 or null are excluded (they carry no mass).
    */
  def prioritySample(
      df: DataFrame, idCol: String, weightCol: Column, k: Int,
      salts: Int = 32): DataFrame = {
    require(k >= 1, "k must be positive")
    require(salts >= 1, "salts must be positive")
    val u = (conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("double") + lit(1.0)) / lit(4294967296.0)
    val priority = col("_w").cast("double") / u
    val winners = saltedTopK(
      df.select(col(idCol), weightCol.as("_w"))
        .filter(col("_w").isNotNull && col("_w") > lit(0)),
      Seq.empty, col(idCol),
      Seq(priority.desc, col(idCol).asc), k, salts, "priority_rank")
      .select(col(idCol), col("priority_rank"))
    df.join(winners, Seq(idCol))
  }

  /** Source mixing to a row budget: sample each group down so the
    * kept corpus approximates `budget` rows distributed by
    * `targetWeights` — "the training mix is 50% web, 30% code,
    * 20% books" as an operator. Per-group keep fraction is
    * `min(1, budget·w_g / n_g)` (a group short of its target keeps
    * everything — the shortfall is reported, not silently
    * reassigned), applied as the deterministic hash-score filter, so
    * the kept set is reproducible on any engine and any run. Groups
    * absent from `targetWeights` are dropped.
    *
    * The group census is one count-only aggregate joined back onto
    * the data broadcast-style (one row per group); the sampling
    * decision itself is a map-side filter. Kept-row counts are
    * binomially concentrated around the target (exact-k per group is
    * [[capPerGroup]]'s job; fraction-based keeps this single-pass and
    * composable with downstream dedup).
    */
  def mixToBudget(
      df: DataFrame, idCol: String, groupCol: String,
      targetWeights: Map[String, Double], budget: Long): DataFrame = {
    require(targetWeights.nonEmpty, "no target weights")
    require(budget >= 1, "budget must be positive")
    val weight = targetWeights.foldLeft(lit(null).cast("double")) {
      case (acc, (g, w)) => when(col(groupCol) === g, lit(w)).otherwise(acc)
    }
    val census = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n_group"))
    df.join(broadcast(census), Seq(groupCol))
      .withColumn("__w_target", weight)
      .filter(col("__w_target").isNotNull)
      .withColumn("keep_fraction",
        least(lit(1.0),
          lit(budget.toDouble) * col("__w_target") / col("__n_group").cast("double")))
      .filter(hashScore(col(idCol)) < col("keep_fraction"))
      .drop("__w_target", "__n_group")
  }

  /** Deterministic epoch shuffle: a seeded pseudorandom permutation
    * of the corpus for training-data ordering — same `(id, seed)`
    * always lands in the same place in the GLOBAL order, different
    * seeds give different orders (re-shuffle between epochs by
    * bumping the seed).
    *
    * Determinism contract: the concatenated global (hash, id) order
    * is stable across re-runs — it is a pure function of (id, seed).
    * The PARTITION BOUNDARIES are not: `repartitionByRange` samples
    * boundary cut-points with an RDD-id-derived seed, so which rows
    * land in which partition/file (and hence per-file batch
    * composition) can shift between sessions even though the
    * concatenated order is identical. Callers that need stable
    * per-file batches should cut the hash space explicitly (fixed
    * splits of the 64-bit range via `floor(hash / step)` as the
    * partition key) and accept the skew risk of unsampled bounds.
    *
    * Implementation: a 64-bit hash of (id, seed) range-partitions
    * the frame and orders rows within each partition — the
    * distributed sort shape (sampling-based range boundaries, no
    * single-task global sort, no driver state). Reading partitions
    * in index order yields the full permutation; writing with this
    * layout makes the at-rest file order follow the shuffle order.
    */
  def deterministicShuffle(
      df: DataFrame, idCol: String, seed: Long,
      numPartitions: Int): DataFrame = {
    require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")
    val key = xxhash64(col(idCol), lit(seed))
    df.withColumn("__shuffle_key", key)
      .repartitionByRange(numPartitions, col("__shuffle_key"))
      .sortWithinPartitions(col("__shuffle_key"), col(idCol))
      .drop("__shuffle_key")
  }

  /** Stride-scheduled mixture interleave: a deterministic curriculum
    * position per row such that reading the corpus in `sched_pos`
    * order yields every PREFIX in the target source proportions —
    * source s with weight w contributes its i-th row (in a seeded
    * pseudorandom within-source order) at position `(i + 0.5) / w`,
    * the classic stride-scheduling rule. Twice the weight → rows at
    * half the stride → twice the density in any window of the
    * schedule. This is the ORDERING half of mixture control;
    * [[Sampling.mixToBudget]]-style capping decides how MUCH of
    * each source, this decides WHERE it lands so a training run that
    * stops early has still consumed the target mix.
    *
    * The within-source rank is the [[graft.operators.Profiling.equalFrequencyBins]]
    * prefix-sum shape transposed to hash space: rows rank inside
    * (source, score-cell) cells — `cells`-way parallel even for one
    * giant source, never a whole-source window partition — and
    * per-cell offsets (sources × cells rows, config-sized) broadcast
    * back. All arithmetic is engine-exact: the md5 score is an
    * integer scaled by 2⁻³² (power-of-two divisor, exact), the cell
    * cut multiplies by a power-of-two cell count, and the position is
    * one IEEE division of an exact dividend — a DuckDB oracle
    * stating plain `row_number()` per source matches bit-for-bit.
    *
    * A null source is its own group (null-safe cell join) at
    * `defaultWeight`. Output adds `source_rank` (0-based within
    * source) and `sched_pos`; `cells` must be a power of two so the
    * cell cut stays exact.
    */
  def mixtureSchedule(
      df: DataFrame, idCol: String, sourceCol: String,
      weights: Map[String, Double], defaultWeight: Double,
      cells: Int = 1024): DataFrame = {
    require(defaultWeight > 0, "defaultWeight must be positive")
    require(weights.values.forall(_ > 0), "weights must be positive")
    require(cells >= 1 && (cells & (cells - 1)) == 0,
      s"cells must be a positive power of two, got $cells")
    val W = org.apache.spark.sql.expressions.Window
    val base = df
      .withColumn("_s", hashScore(col(idCol)))
      .withColumn("_c",
        least(lit(cells - 1L), floor(col("_s") * cells).cast("long")))
    val offs = base
      .groupBy(col(sourceCol).as("_src"), col("_c").as("_oc"))
      .agg(count(lit(1)).as("_nc"))
      .withColumn("_off", coalesce(
        sum(col("_nc")).over(W.partitionBy(col("_src")).orderBy(col("_oc"))
          .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .drop("_nc")
    val wRows = W.partitionBy(col(sourceCol), col("_c"))
      .orderBy(col("_s").asc, col(idCol).asc)
    val weightCol = weights.foldLeft(lit(defaultWeight)) {
      case (acc, (s, w)) => when(col(sourceCol) === s, lit(w)).otherwise(acc)
    }
    base
      .join(broadcast(offs),
        col(sourceCol) <=> col("_src") && col("_c") === col("_oc"))
      .withColumn("source_rank", col("_off") + row_number().over(wRows) - 1)
      .withColumn("sched_pos",
        (col("source_rank").cast("double") + lit(0.5)) / weightCol)
      .drop("_s", "_c", "_src", "_oc", "_off")
  }

  /** Temperature-reweighted mixture plan at a TOKEN budget — the
    * "how much of each source does the run consume" table a training
    * mixture is provisioned from: raw token shares are flattened by
    * temperature sampling (source weight ∝ share^(1/τ), the
    * multilingual-pretraining standard that keeps small sources from
    * vanishing), then a token `budget` is apportioned and expressed as
    * per-source EPOCHS (budget·w_s / tokens_s — >1 means the source
    * repeats, <1 means it is subsampled).
    *
    * τ is fixed at 2: share^(1/2) is IEEE `sqrt`, exactly rounded and
    * identical in every engine, so the whole table stays on the hashed
    * oracle surface; a general `pow` is a transcendental the
    * portability rule bans. The sqrt is quantized to 1e-9 (floor of
    * ×1e9, an exact-integer q) BEFORE the cross-source sum, so the
    * normalizing denominator is an order-free integer sum, not a
    * float reduction (the JB/q173 discipline).
    *
    * Scale shape: one map-side-combining aggregate to per-source
    * totals (sources rows — config-sized), a broadcast of the 1-row
    * normalizer, pure column arithmetic after. Rows with a NULL
    * source or NULL/negative token count are excluded (stated).
    * Output: (group_key, n_docs, total_tokens, token_share,
    * temp_weight, target_tokens, epochs).
    */
  def temperatureMixturePlan(
      df: DataFrame, source: Column, tokens: Column,
      budgetTokens: Long): DataFrame = {
    // raw rows are filtered ONLY on the cheap group column: a raw
    // filter on the token expression would push below the projection
    // with the whole tokenizer inlined (the aucExact trap — 2-3x
    // per-row evaluation; PlanShapeSpec pins this family). The token
    // expression evaluates once, in the projection; null/negative
    // token rows are excluded inside when-guarded aggregates, and a
    // group with no valid row drops on the post-aggregate filter
    // (aggregate-output predicate — cannot push below).
    val rows = df.filter(source.isNotNull)
      .select(source.as("group_key"), tokens.cast("long").as("_tk"))
    val valid = col("_tk").isNotNull && col("_tk") >= 0L
    val per = rows.groupBy(col("group_key"))
      .agg(
        sum(when(valid, 1L).otherwise(0L)).as("n_docs"),
        sum(when(valid, col("_tk")).otherwise(0L)).as("total_tokens"))
      .filter(col("n_docs") > 0L)
    mixturePlanFromTotals(per, budgetTokens)
  }

  /** The quantize → normalize → apportion back half shared by
    * [[temperatureMixturePlan]] and [[mixturePlanFromTokenCensus]] —
    * one arithmetic path, so the batch and maintained forms can never
    * drift. `per` is (group_key, n_docs, total_tokens). */
  private def mixturePlanFromTotals(
      per: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be positive, got $budgetTokens")
    val q = per.withColumn("_q",
      floor(sqrt(col("total_tokens").cast("double")) * lit(1e9)).cast("long"))
    // the cross-source sums accumulate as DECIMAL(38,0): per-row _q is
    // ~1e16 at 100 TB-per-source scale (up to ~3e18 at Long.MAX
    // tokens), so a LongType sum across sources can wrap — the same
    // wrap-proof discipline as the entropy Σc·lg c sum
    val tot = q.agg(
      sum(col("total_tokens").cast("decimal(38,0)")).as("_ttk"),
      sum(col("_q").cast("decimal(38,0)")).as("_sq"))
    val w = col("_q").cast("double") / col("_sq").cast("double")
    q.crossJoin(broadcast(tot))
      .select(
        col("group_key"), col("n_docs"), col("total_tokens"),
        (col("total_tokens").cast("double") / col("_ttk").cast("double"))
          .as("token_share"),
        w.as("temp_weight"),
        (lit(budgetTokens.toDouble) * w).as("target_tokens"),
        ((lit(budgetTokens.toDouble) * w)
          / col("total_tokens").cast("double")).as("epochs"))
  }

  /** [[temperatureMixturePlan]] rebuilt from a MAINTAINED token
    * census — the partials-log discipline on the mixture surface
    * (the [[graft.operators.Evaluation.sweepFromBandCensus]]
    * analog): fold the mergeable (group_key, n_docs, total_tokens)
    * integer partials a standing census emits
    * ([[graft.streaming.StreamingCuration.windowedTokenCensus]]'s
    * sink, or any append log) and apply the identical quantize →
    * normalize → apportion arithmetic. Partials at any granularity
    * fold to the same table (integer sums are order-free; the sqrt
    * quantization happens AFTER the fold, on the exact totals) —
    * streamed == batch exactly, spec-pinned.
    */
  def mixturePlanFromTokenCensus(
      censusLog: DataFrame, budgetTokens: Long): DataFrame =
    mixturePlanFromTotals(
      censusLog
        .select(col("group_key"), col("n_docs"), col("total_tokens"))
        .groupBy(col("group_key"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("total_tokens")).as("total_tokens")),
      budgetTokens)

  /** The NEAR-DUP-adjusted mixture plan (the q200 surface) rebuilt
    * from MAINTAINED state: a per-doc token log (`idCol`, source,
    * tokens — appended once per ingest batch, so each document is
    * tokenized exactly once, at arrival) and the maintained cluster
    * keep-list decision table ([[graft.operators.Dedup
    * .foldIntoClusterKeepList]]'s output: any row with `keep = false`
    * is discounted; docs absent from the list are unclustered and
    * implicitly kept).
    *
    * The window/source granularity trick the token census uses does
    * NOT work here: a near-dup arriving in batch k can demote a doc
    * admitted in batch 1, so the discount must re-resolve per doc —
    * which is exactly why the log is per-doc. Everything else is the
    * one shared quantize → normalize → apportion core, so the
    * maintained form equals the batch [[temperatureMixturePlan]]-
    * over-kept-docs composition exactly (spec-pinned). Cost per plan:
    * one anti-join of the token log against the config-×-corpus-dup-
    * rate-sized drop list + the group-sized aggregate — no text
    * rescan, no re-tokenization.
    */
  def mixturePlanFromKeepList(
      tokenLog: DataFrame, keepList: DataFrame, idCol: String,
      source: Column, tokens: Column, budgetTokens: Long): DataFrame = {
    val dropped = keepList.filter(!col("keep")).select(col(idCol))
    temperatureMixturePlan(
      tokenLog.join(dropped, Seq(idCol), "left_anti"),
      source, tokens, budgetTokens)
  }

  /** Deterministic uniform negative sampling for contrastive training:
    * `k` pseudo-random non-self corpus rows per anchor, reproducible
    * on any engine at any parallelism (no `rand()`, no `TABLESAMPLE`).
    *
    * Draw j of anchor a targets corpus INDEX
    * `md5_prefix(a ++ ":" ++ j) mod N` — a uniform, seedable pick a
    * DuckDB oracle states verbatim. The corpus gets a dense 0..N−1
    * index over the id order WITHOUT a global sort: ids cell-bucket by
    * range, per-cell counts prefix-sum into broadcast offsets
    * (config-sized window), and `row_number` runs inside each cell —
    * the q102 rank machinery. The draw→row resolution is then a plain
    * equi-join on the 8-byte index: anchors×k rows against N rows,
    * hash-partitioned, never a cartesian; self-collisions (an anchor
    * drawing itself) are filtered, so an anchor yields k or rarely
    * fewer pairs — uniformity over the other N−1 rows is exact either
    * way per draw.
    *
    * At 100 TB: the index table is built once per corpus snapshot and
    * is worth persisting alongside it; every epoch's negatives then
    * cost one hash expression + one co-partitionable join. Bump `salt`
    * to re-draw fresh negatives per epoch.
    *
    * Id types: numeric/timestamp ids range-bucket on their cast
    * double; date ids on their epoch-day ordinal and timestamp_ntz ids
    * via a TIMESTAMP hop (Spark's Cast disallows DATE/TIMESTAMP_NTZ →
    * numeric directly); string/binary ids range-bucket on the first-8-bytes
    * value (zero-padded big-endian — order-preserving under Spark's
    * byte-lexicographic string comparison, so cells still respect the
    * global id order and the dense index equals `row_number() OVER
    * (ORDER BY id)` either way). Ids sharing a long common prefix
    * degrade cell SPREAD (fewer distinct cells), never correctness.
    * Any other id type is rejected loudly — the old behavior
    * (cast-to-double producing all-null buckets) silently returned an
    * EMPTY result for string corpora.
    */
  def negativePairs(
      corpus: DataFrame, idCol: String, k: Int,
      salt: String = "", cells: Int = 4096): DataFrame = {
    import org.apache.spark.sql.types._
    require(k >= 1, s"k must be >= 1, got $k")
    require(cells >= 1, s"cells must be >= 1, got $cells")
    val W = org.apache.spark.sql.expressions.Window
    val ids = corpus.select(col(idCol).as("_id")).filter(col("_id").isNotNull)
    // order-preserving numeric key for range-cell bucketing
    val orderKey: Column = ids.schema("_id").dataType match {
      case _: NumericType | TimestampType =>
        col("_id").cast("double")
      case DateType =>
        // Cast.canCast disallows DATE -> DOUBLE; the day ordinal is the
        // same order-preserving value the direct cast would have given.
        datediff(col("_id"), lit("1970-01-01")).cast("double")
      case TimestampNTZType =>
        // TIMESTAMP_NTZ -> numeric is not castable either; hop through
        // TIMESTAMP. The session-zone reinterpretation is monotonic
        // non-decreasing, which is all range-cell bucketing needs.
        col("_id").cast(TimestampType).cast("double")
      case StringType =>
        expr("CAST(conv(hex(rpad(encode(_id, 'UTF-8'), 8, x'00')), 16, 10) AS DOUBLE)")
      case BinaryType =>
        expr("CAST(conv(hex(rpad(_id, 8, x'00')), 16, 10) AS DOUBLE)")
      case t => throw new IllegalArgumentException(
        s"negativePairs: unsupported id type $t for column $idCol — " +
          "need a numeric, date/timestamp, string, or binary id")
    }
    val bounds = ids.agg(
      min(orderKey).as("mn"), max(orderKey).as("mx"),
      count(lit(1)).as("n")).head()
    if (bounds.getLong(2) == 0L)
      return ids.select(col("_id").as("anchor_id"), lit(0L).as("draw"),
        col("_id").as("neg_id")).limit(0)
    val (mn, mx, n) = (bounds.getDouble(0), bounds.getDouble(1), bounds.getLong(2))
    val base = ids.withColumn("_c", RankedPrefix.cellIndex(orderKey, mn, mx, cells))
    val offs = base.groupBy(col("_c")).agg(count(lit(1)).as("_nc"))
      .withColumn("_off", coalesce(sum(col("_nc")).over(
        W.orderBy(col("_c")).rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
      .select(col("_c"), col("_off"))
    val wCell = W.partitionBy(col("_c")).orderBy(col("_id"))
    val indexed = base.join(broadcast(offs), Seq("_c"))
      .select(col("_id").as("neg_id"),
        (col("_off") + row_number().over(wCell) - lit(1L)).as("_idx"))
    val draws = ids.select(col("_id").as("anchor_id"))
      .select(col("anchor_id"),
        explode(sequence(lit(0L), lit(k - 1L))).as("draw"))
      .withColumn("_tgt",
        graft.functions.Md5Expressions.md5PrefixLong(
          concat(col("anchor_id").cast("string"), lit(":"),
            col("draw").cast("string"), lit(salt)), 15, n))
    draws.join(indexed, col("_tgt") === col("_idx"))
      .filter(col("neg_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("draw"), col("neg_id"))
  }
}
