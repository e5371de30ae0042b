package graft.sql

import graft.CacheLifecycle.FreshPersist
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Checks, Freshness, QuantileSketch, Reconciliation, StatTests}

/** SQL-callable check surface — the reference's native idiom restored.
  *
  * The reference's users drive everything by SQL text pushed at a
  * database (data_consistency_checks.py:43-77,
  * pre_and_post_etl_checks.py:45-110); this engine's operators were
  * Scala-only (the r10 verdict's largest usability gap). This
  * registry exposes the check/test operators as NAMED entry points
  * whose inputs are resolved from the session catalog BY TABLE NAME
  * (temp views, catalog tables — whatever `spark.table` sees) and
  * whose column arguments are SQL expression strings — so a SQL-side
  * user never touches a DataFrame:
  *
  *  - from Scala/notebooks: `GraftChecks.run(spark, "ks_two_sample",
  *    Map("table" -> "documents", "value" -> "length(text)",
  *    "cohort" -> "lang = 'en'"))`
  *  - from PURE SQL via the injected parser ([[GraftSqlParser]],
  *    enabled by `spark.sql.extensions=graft.GraftExtensions`):
  *    {{{
  *      CALL graft.ks_two_sample(
  *        `table` => 'documents', value => 'length(text)',
  *        cohort => 'lang = ''en''')
  *    }}}
  *
  * Argument convention: every check takes a Map[String, String];
  * multi-valued arguments are comma-separated; expression-valued
  * arguments go through `expr(...)` against the named table, so any
  * SQL the session can compile is accepted. Unknown check or missing
  * argument fails with a message listing what IS available — a SQL
  * user has no stack trace to read.
  */
object GraftChecks {

  type Check = (SparkSession, Map[String, String]) => DataFrame

  private def need(args: Map[String, String], key: String, check: String): String =
    args.getOrElse(key, throw new IllegalArgumentException(
      s"graft.$check: missing required argument '$key' " +
        s"(given: ${args.keys.toSeq.sorted.mkString(", ")})"))

  private def cols(csv: String): Seq[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** The registry. Each entry documents its arguments inline; `list`
    * renders them for SQL-side discovery (`CALL graft.help()`).
    */
  val registry: Map[String, (String, Check)] = Map(
    "completeness" -> (("table, cols",
      (s: SparkSession, a: Map[String, String]) =>
        Checks.completeness(
          s.table(need(a, "table", "completeness")),
          cols(need(a, "cols", "completeness"))))),

    "uniqueness" -> (("table, keys[, label]",
      (s: SparkSession, a: Map[String, String]) =>
        Checks.uniqueness(
          s.table(need(a, "table", "uniqueness")),
          cols(need(a, "keys", "uniqueness")),
          a.getOrElse("label", need(a, "keys", "uniqueness"))))),

    "referential_integrity" -> (("child, child_key, parent, parent_key[, label]",
      (s: SparkSession, a: Map[String, String]) =>
        Checks.referentialIntegrity(
          s.table(need(a, "child", "referential_integrity")),
          expr(need(a, "child_key", "referential_integrity")),
          s.table(need(a, "parent", "referential_integrity")),
          expr(need(a, "parent_key", "referential_integrity")),
          a.getOrElse("label",
            s"${a("child")}->${a("parent")}")))),

    "categorical_drift" -> (("current, baseline, key",
      (s: SparkSession, a: Map[String, String]) =>
        Checks.categoricalDrift(
          s.table(need(a, "current", "categorical_drift")),
          s.table(need(a, "baseline", "categorical_drift")),
          need(a, "key", "categorical_drift")))),

    "ks_two_sample" -> (("table, value, cohort (boolean expr)",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.ksTwoSample(
          s.table(need(a, "table", "ks_two_sample")),
          expr(need(a, "value", "ks_two_sample")),
          expr(need(a, "cohort", "ks_two_sample"))))),

    "ks_by" -> (("table, group, value  (per-group KS vs rest)",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.ksGroupVsRest(
          s.table(need(a, "table", "ks_by")),
          expr(need(a, "group", "ks_by")),
          expr(need(a, "value", "ks_by"))))),

    "benford" -> (("table, value (exact integer expr — quantize doubles first)",
      (s: SparkSession, a: Map[String, String]) =>
        Checks.benfordDigits(
          s.table(need(a, "table", "benford")),
          expr(need(a, "value", "benford"))))),

    "ks_p" -> (("table, value, cohort (boolean expr)  (KS + p-value)",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.ksTwoSample(
          s.table(need(a, "table", "ks_p")),
          expr(need(a, "value", "ks_p")),
          expr(need(a, "cohort", "ks_p")))
          .withColumn("p_value", StatTests.kolmogorovPValue(col("ks_z"))))),

    "mean_diff_z" -> (("table, value (exact integer expr), cohort (boolean expr)",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.meanDiffZ(
          s.table(need(a, "table", "mean_diff_z")),
          expr(need(a, "value", "mean_diff_z")),
          expr(need(a, "cohort", "mean_diff_z"))))),

    "proportion_z" -> (("table, success (boolean expr), cohort (boolean expr)",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.proportionZ(
          s.table(need(a, "table", "proportion_z")),
          expr(need(a, "success", "proportion_z")),
          expr(need(a, "cohort", "proportion_z"))))),

    "normality" -> (("table, value (exact integer expr)",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Profiling.normalityJarqueBera(
          s.table(need(a, "table", "normality")),
          expr(need(a, "value", "normality"))))),

    "trend" -> (("table, ts (timestamp expr)[, bucket_seconds]  (Theil-Sen robust slope)",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.theilSenTrend(
          s.table(need(a, "table", "trend")),
          expr(need(a, "ts", "trend")),
          a.get("bucket_seconds").map(_.toLong).getOrElse(86400L)))),

    "fdr_gate" -> (("table, p (expr), tie_break (expr)[, alpha]",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.benjaminiHochberg(
          s.table(need(a, "table", "fdr_gate")),
          expr(need(a, "p", "fdr_gate")),
          expr(need(a, "tie_break", "fdr_gate")),
          a.get("alpha").map(_.toDouble).getOrElse(0.05)))),

    "chi_square" -> (("table, row_key, col_key",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.contingencyChiSquare(
          s.table(need(a, "table", "chi_square")),
          expr(need(a, "row_key", "chi_square")),
          expr(need(a, "col_key", "chi_square"))))),

    "quantiles" -> (("table, value, id, probs (csv)[, k]",
      (s: SparkSession, a: Map[String, String]) =>
        QuantileSketch.quantiles(
          QuantileSketch.sketchPartials(
            s.table(need(a, "table", "quantiles")),
            expr(need(a, "value", "quantiles")),
            expr(need(a, "id", "quantiles")),
            a.getOrElse("k", "4096").trim.toInt),
          cols(need(a, "probs", "quantiles")).map(_.toDouble)))),

    // the DCC freshness report end to end: tables is a csv of
    // `name:event_ts_expr` pairs; group_by is the facility key
    "freshness" -> (("tables ('name:ts_expr' csv), group_by, cutoff (ts), date_created (date)",
      (s: SparkSession, a: Map[String, String]) => {
        val specs = cols(need(a, "tables", "freshness")).map { pair =>
          val Array(n, ts) = pair.split(":", 2)
          Freshness.FreshnessSpec(n.trim, s.table(n.trim), expr(ts.trim),
            lit(need(a, "cutoff", "freshness")).cast("timestamp"))
        }
        val names = specs.map(_.tableName)
        val key = need(a, "group_by", "freshness")
        Freshness.freshnessReport(
          Freshness.pivotMaxDates(
            Freshness.datedRows(Seq(expr(key).cast("int").as("facility_id")), specs),
            Seq("facility_id"), names),
          Seq("facility_id"), names,
          lit(need(a, "date_created", "freshness")).cast("date"))
      })),

    // the PPE reconciliation: both sides are (site_id, table_name,
    // record_count) frames — typically census views
    "reconcile" -> (("source, destination, date_created (date)",
      (s: SparkSession, a: Map[String, String]) =>
        Reconciliation.reconcile(
          s.table(need(a, "source", "reconcile")),
          s.table(need(a, "destination", "reconcile")),
          lit(need(a, "date_created", "reconcile")).cast("date")))),

    // real-token accounting per group (q181 surface; embedded vocab,
    // or a custom vocabulary passed INLINE in merges.txt format —
    // the loader surface from pure SQL)
    "bpe_token_stats" -> (("table, text, group_by (expr)[, merges (merges.txt text)]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "bpe_token_stats"))
        val merges = a.get("merges")
          .map(graft.functions.BpeVocab.fromMergesText)
          .getOrElse(graft.functions.BpeVocab.default)
        t.groupBy(expr(need(a, "group_by", "bpe_token_stats")).as("group_key"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(graft.functions.Bpe.bpeTokenCount(
              expr(need(a, "text", "bpe_token_stats")), merges).cast("long"))
              .as("total_bpe_tokens"))
      })),

    // the LM perplexity quality gate (q185 surface): train on the
    // rows matching train_pred, score the rest
    "lm_quality_gate" -> (("table, id, text, train_pred (boolean expr)[, threshold_q16]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.LanguageModel.lmQualityGate(
          s.table(need(a, "table", "lm_quality_gate")),
          need(a, "id", "lm_quality_gate"),
          need(a, "text", "lm_quality_gate"),
          expr(need(a, "train_pred", "lm_quality_gate")),
          a.get("threshold_q16").map(_.trim.toLong).getOrElse(-344064L)))),

    // ----- the DECISION family (q119-q130/q146/q151/q139 surfaces):
    // every entry takes an optional `group` expression that switches
    // to the per-group form, the eval family's convention -----

    "auc" -> (("table, score (expr), label (boolean expr)[, group]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "auc"))
        a.get("group") match {
          case Some(g) => graft.operators.Evaluation.aucExactBy(
            t, expr(g), expr(need(a, "score", "auc")),
            expr(need(a, "label", "auc")))
          case None => graft.operators.Evaluation.aucExact(
            t, expr(need(a, "score", "auc")), expr(need(a, "label", "auc")))
        }
      })),

    "calibration" -> (("table, score, label, lo, hi, bins[, group]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "calibration"))
        val (lo, hi, bins) = (need(a, "lo", "calibration").toDouble,
          need(a, "hi", "calibration").toDouble,
          need(a, "bins", "calibration").toInt)
        a.get("group") match {
          case Some(g) => graft.operators.Evaluation.calibrationReportBy(
            t, expr(g), expr(need(a, "score", "calibration")),
            expr(need(a, "label", "calibration")), lo, hi, bins)
          case None => graft.operators.Evaluation.calibrationReport(
            t, expr(need(a, "score", "calibration")),
            expr(need(a, "label", "calibration")), lo, hi, bins)
        }
      })),

    "threshold_sweep" -> (("table, score, label, lo, hi, bins[, group]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "threshold_sweep"))
        val (lo, hi, bins) = (need(a, "lo", "threshold_sweep").toDouble,
          need(a, "hi", "threshold_sweep").toDouble,
          need(a, "bins", "threshold_sweep").toInt)
        a.get("group") match {
          case Some(g) => graft.operators.Evaluation.thresholdSweepBy(
            t, expr(g), expr(need(a, "score", "threshold_sweep")),
            expr(need(a, "label", "threshold_sweep")), lo, hi, bins)
          case None => graft.operators.Evaluation.thresholdSweep(
            t, expr(need(a, "score", "threshold_sweep")),
            expr(need(a, "label", "threshold_sweep")), lo, hi, bins)
        }
      })),

    // elect per-group F1-max operating points from an internal sweep
    // and execute the gate (the q130 decision table)
    "gate_apply" -> (("table, group, score, label, lo, hi, bins",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "gate_apply"))
        val g = expr(need(a, "group", "gate_apply"))
        val sc = expr(need(a, "score", "gate_apply"))
        val sweep = graft.operators.Evaluation.thresholdSweepBy(
          t, g, sc, expr(need(a, "label", "gate_apply")),
          need(a, "lo", "gate_apply").toDouble,
          need(a, "hi", "gate_apply").toDouble,
          need(a, "bins", "gate_apply").toInt).persistFresh()
        val out = graft.operators.Evaluation.applyOperatingPoints(t, g, sc, sweep)
        graft.CacheLifecycle.releaseWhenExecuted(out, Seq(sweep))
        out
      })),

    "rank_sum" -> (("table, value (expr), cohort (boolean expr)[, group]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "rank_sum"))
        a.get("group") match {
          case Some(g) => graft.operators.Evaluation.rankSumTestBy(
            t, expr(g), expr(need(a, "value", "rank_sum")),
            expr(need(a, "cohort", "rank_sum")))
          case None => graft.operators.Evaluation.rankSumTest(
            t, expr(need(a, "value", "rank_sum")),
            expr(need(a, "cohort", "rank_sum")))
        }
      })),

    "kendall" -> (("table, x (expr), y (expr)[, group]  (exact tau-b)",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "kendall"))
        a.get("group") match {
          case Some(g) => graft.operators.Profiling.kendallTauExactBy(
            t, expr(g), expr(need(a, "x", "kendall")),
            expr(need(a, "y", "kendall")))
          case None => graft.operators.Profiling.kendallTauExact(
            t, expr(need(a, "x", "kendall")), expr(need(a, "y", "kendall")))
        }
      })),

    "spearman" -> (("table, x (expr), y (expr)[, group]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "spearman"))
        a.get("group") match {
          case Some(g) => graft.operators.Profiling.spearmanCorrBy(
            t, expr(g), expr(need(a, "x", "spearman")),
            expr(need(a, "y", "spearman")))
          case None => graft.operators.Profiling.spearmanCorr(
            t, expr(need(a, "x", "spearman")), expr(need(a, "y", "spearman")))
        }
      })),

    "ap" -> (("table, score (expr), label (boolean expr)[, group]  (exact average precision)",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "ap"))
        a.get("group") match {
          case Some(g) => graft.operators.Evaluation.averagePrecisionBy(
            t, expr(g), expr(need(a, "score", "ap")),
            expr(need(a, "label", "ap")))
          case None => graft.operators.Evaluation.averagePrecisionExact(
            t, expr(need(a, "score", "ap")), expr(need(a, "label", "ap")))
        }
      })),

    "brier" -> (("table, score, label, lo, hi, bins[, group]  (Brier + decomposition)",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "brier"))
        val (lo, hi, bins) = (need(a, "lo", "brier").toDouble,
          need(a, "hi", "brier").toDouble, need(a, "bins", "brier").toInt)
        a.get("group") match {
          case Some(g) => graft.operators.Evaluation.brierDecompositionBy(
            t, expr(g), expr(need(a, "score", "brier")),
            expr(need(a, "label", "brier")), lo, hi, bins)
          case None => graft.operators.Evaluation.brierDecomposition(
            t, expr(need(a, "score", "brier")),
            expr(need(a, "label", "brier")), lo, hi, bins)
        }
      })),

    "cusum" -> (("table, ts (timestamp expr)[, bucket_seconds][, group]  (change-point census)",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "cusum"))
        val ts = expr(need(a, "ts", "cusum"))
        val bucket = a.get("bucket_seconds").map(_.toLong).getOrElse(86400L)
        a.get("group") match {
          case Some(g) => graft.operators.StatTests
            .cusumChangePointBy(t, ts, expr(g), bucket)
          case None => graft.operators.StatTests.cusumChangePoint(t, ts, bucket)
        }
      })),

    // temperature-sampled mixture/epoch plan at a token budget (q193);
    // pass drop_ids (a catalog table whose `id` column lists docs a
    // dedup keep-list DROPPED) + id to provision on surviving docs
    // only — the q200 near-dup-adjusted composition from pure SQL
    "mixture_plan" -> (("table, source (expr), tokens (expr), budget_tokens[, drop_ids (table) + id]",
      (s: SparkSession, a: Map[String, String]) => {
        val base = s.table(need(a, "table", "mixture_plan"))
        val t = a.get("drop_ids") match {
          case Some(dt) =>
            val idCol = need(a, "id", "mixture_plan")
            // drop lists are keep-list-scale — broadcast them (the
            // takedownPlan convention), never shuffle the corpus
            base.join(broadcast(s.table(dt).select(col(idCol))),
              Seq(idCol), "left_anti")
          case None => base
        }
        graft.operators.Sampling.temperatureMixturePlan(
          t,
          expr(need(a, "source", "mixture_plan")),
          expr(need(a, "tokens", "mixture_plan")),
          need(a, "budget_tokens", "mixture_plan").trim.toLong)
      })),

    // per-group token-diversity census, exact Q16 entropy (q194)
    "token_entropy" -> (("table, group_by (expr), text (expr)[, merges (merges.txt text)]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.TextAnalysis.tokenEntropyBy(
          s.table(need(a, "table", "token_entropy")),
          expr(need(a, "group_by", "token_entropy")),
          expr(need(a, "text", "token_entropy")),
          a.get("merges").map(graft.functions.BpeVocab.fromMergesText)
            .getOrElse(graft.functions.BpeVocab.default)))),

    // per-group Zipf rank-frequency slope over the top-k head (q195)
    "zipf_slope" -> (("table, group_by (expr), text (expr)[, k][, merges (merges.txt text)]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.TextAnalysis.zipfSlopeBy(
          s.table(need(a, "table", "zipf_slope")),
          expr(need(a, "group_by", "zipf_slope")),
          expr(need(a, "text", "zipf_slope")),
          a.get("k").map(_.trim.toInt).getOrElse(256),
          a.get("merges").map(graft.functions.BpeVocab.fromMergesText)
            .getOrElse(graft.functions.BpeVocab.default)))),

    // monotone-trend evidence; seasons > 1 stratifies the weekday
    // cycle out (the q189 seasonal form)
    "mann_kendall" -> (("table, ts (timestamp expr)[, bucket_seconds][, seasons]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "mann_kendall"))
        val ts = expr(need(a, "ts", "mann_kendall"))
        val bucket = a.get("bucket_seconds").map(_.toLong).getOrElse(86400L)
        a.get("seasons").map(_.toInt) match {
          case Some(k) => graft.operators.StatTests
            .seasonalMannKendallTrend(t, ts, bucket, k)
          case None => graft.operators.StatTests
            .mannKendallTrend(t, ts, bucket)
        }
      })),

    // ----- the dedup / similarity family (q128/q44/q95/q141
    // surfaces) — the curation decisions, CALL-able -----

    // near-dup cluster keep-list (the q128 decision table): MinHash-
    // LSH pairs -> connected components -> keep the best-scoring
    // member per cluster (id-ascending tiebreak; omit `score` for the
    // min-id election). Portable hashing, so results match the oracle
    // convention everywhere.
    "near_dedup" -> (("table, id, text[, score (expr)][, n][, hashes][, bands][, threshold][, unit ('char'|'word')]",
      (s: SparkSession, a: Map[String, String]) => {
        import org.apache.spark.sql.expressions.Window
        val t = s.table(need(a, "table", "near_dedup"))
        val id = need(a, "id", "near_dedup")
        val unit = a.get("unit").map(_.trim.toLowerCase).getOrElse("char")
        require(unit == "char" || unit == "word",
          s"near_dedup unit must be 'char' or 'word', got '$unit'")
        // caller-managed signature cache (the q213 discipline):
        // duplicateClusters consumes the pair plan eagerly, so the
        // cache can be dropped synchronously after it returns
        val (pairs, sigs) = graft.operators.Dedup.lshNearDupPairsWithSignatures(
          t, id, need(a, "text", "near_dedup"),
          n = a.get("n").map(_.trim.toInt)
            .getOrElse(if (unit == "word") 4 else 5),
          numHashes = a.get("hashes").map(_.trim.toInt).getOrElse(64),
          bands = a.get("bands").map(_.trim.toInt).getOrElse(16),
          threshold = a.get("threshold").map(_.trim.toDouble).getOrElse(0.8),
          portable = true, words = unit == "word")
        val clusters = graft.operators.Dedup
          .duplicateClusters(pairs, "id_a", "id_b")
          .select(col("id").as(id), col("cluster_id"), col("cluster_size"))
        sigs.unpersist(blocking = false)
        val score = a.get("score").map(expr).getOrElse(lit(0L))
        val w = Window.partitionBy(col("cluster_id"))
          .orderBy(col("_score").desc, col(id).asc)
        clusters.join(t.select(col(id), score.as("_score")), Seq(id))
          .withColumn("keep", row_number().over(w) === 1)
          .select(col(id), col("cluster_id"), col("cluster_size"),
            col("_score").as("score"), col("keep"))
      })),

    // incremental near-dedup (the production daily-increment shape):
    // drop from `table` every row whose estimated jaccard against the
    // EXISTING corpus reaches `threshold`. The corpus arrives as its
    // materialized signature table `sigs` (id, sig ARRAY<BIGINT>) —
    // signed once, persisted between runs — and the band join is
    // asymmetric new × corpus, so an increment costs O(increment),
    // not O(corpus). n/hashes/unit MUST match how `sigs` was signed
    // (the width check catches a hashes mismatch loudly; a unit/n
    // mismatch silently empties the buckets — state them explicitly).
    // `sigs_out` closes the loop FROM SQL: append the KEPT rows'
    // signatures (the docs that actually enter the corpus) to a
    // caller-named parquet store, so the next increment's `sigs`
    // table is this store re-registered — appending into the files
    // backing the CURRENT `sigs` table is refused loudly (the
    // takedown_execute write discipline; see Dedup.appendSignatures).
    // `banded` supplies the corpus BAND table from its materialized
    // store (re-banding the corpus per run is the measured dominant
    // screen cost — see Dedup.bandedSignatures); `banded_out` appends
    // the kept rows' band rows, maintaining the two artifacts together
    "near_dedup_incremental" -> (("table, sigs, id, text[, n][, hashes][, bands][, threshold][, unit ('char'|'word')][, sigs_out (parquet path)][, banded (catalog table)][, banded_out (parquet path)]",
      (s: SparkSession, a: Map[String, String]) => {
        val unit = a.get("unit").map(_.trim.toLowerCase).getOrElse("char")
        require(unit == "char" || unit == "word",
          s"near_dedup_incremental unit must be 'char' or 'word', got '$unit'")
        val corpusSigs = s.table(need(a, "sigs", "near_dedup_incremental"))
        val id = need(a, "id", "near_dedup_incremental")
        val numHashes = a.get("hashes").map(_.trim.toInt).getOrElse(64)
        val bands = a.get("bands").map(_.trim.toInt).getOrElse(16)
        val bandedOpt = a.get("banded").map(t => s.table(t))
        // the two stores are ONE artifact pair: growing the signature
        // store while leaving the band store stale (or vice versa)
        // passes the bands-count check on the next increment yet
        // silently misses that increment's keepers — so with `banded`
        // supplied, sigs_out and banded_out must travel together
        require(!bandedOpt.isDefined ||
            a.contains("sigs_out") == a.contains("banded_out"),
          "near_dedup_incremental: with `banded` supplied, sigs_out and " +
            "banded_out must be passed together (both or neither) — " +
            "appending to one store but not the other leaves them " +
            "drifted, and the next increment's screen silently misses " +
            "duplicates of this increment's keepers")
        def screen(newDocs: org.apache.spark.sql.DataFrame) = bandedOpt match {
          case Some(cb) =>
            graft.operators.Dedup.dropNearDuplicatesAgainstBanded(
              corpusSigs, cb, newDocs, id,
              need(a, "text", "near_dedup_incremental"),
              n = a.get("n").map(_.trim.toInt)
                .getOrElse(if (unit == "word") 4 else 5),
              numHashes = numHashes, bands = bands,
              threshold = a.get("threshold").map(_.trim.toDouble).getOrElse(0.8),
              portable = true, words = unit == "word")
          case None =>
            graft.operators.Dedup.dropNearDuplicatesAgainstWithSignatures(
              corpusSigs, newDocs, id,
              need(a, "text", "near_dedup_incremental"),
              n = a.get("n").map(_.trim.toInt)
                .getOrElse(if (unit == "word") 4 else 5),
              numHashes = numHashes, bands = bands,
              threshold = a.get("threshold").map(_.trim.toDouble).getOrElse(0.8),
              portable = true, words = unit == "word")
        }
        val (kept, newSigs) =
          screen(s.table(need(a, "table", "near_dedup_incremental")))
        val outs = Seq("sigs_out", "banded_out").flatMap(k => a.get(k).map(k -> _.trim))
        if (outs.isEmpty) {
          graft.CacheLifecycle.releaseAfterFirstUse(Seq(newSigs))
          kept
        } else {
          // the appends are eager jobs over both caches-to-be: pin
          // the kept rows so the caller's consumption replays the
          // cache, not the screen; release newSigs synchronously
          // once the writes (its only consumers) have completed
          val keptP = kept.persistFresh()
          val keptSigs = newSigs
            .join(keptP.select(col(id).as("id")), Seq("id"), "left_semi")
          val guards = corpusSigs +: bandedOpt.toSeq
          outs.foreach {
            case ("sigs_out", out) =>
              graft.operators.Dedup.appendArtifact(guards, keptSigs, out)
            case (_, out) =>
              graft.operators.Dedup.appendArtifact(guards,
                graft.operators.Dedup.bandedSignatures(
                  keptSigs, numHashes, bands, portable = true), out)
          }
          newSigs.unpersist(blocking = false)
          graft.CacheLifecycle.releaseWhenExecuted(keptP, Seq(keptP))
          keptP
        }
      })),

    // approximate nearest neighbors (the q44/q58 surface): IVF cell
    // equi-join of a query table against a corpus table on an
    // Array[Float] embedding column — never a cartesian. nlist '0'
    // derives the sqrt(n) cell count (Similarity.autoNlist); pass
    // `centroids` (a catalog table of cell INT, centroid ARRAY) to
    // use a persisted codebook instead of k-means — the form that
    // scales past the literal-centroid cap
    // `assigned` supplies the corpus-side cell assignment from its
    // materialized store (Similarity.ivfCellAssignments — the IVF
    // analog of near_dedup_incremental's `banded`): the per-run
    // corpus touch is then a scan, never the codebook argmax. It
    // replaces `corpus` (the store carries id, vec, cell) and
    // requires `centroids` (probing still needs the codebook, and
    // the store is validated against it).
    // `assigned_log` serves from the STREAMED maintenance log
    // (annAssignSink's directory of batch subtrees) — a path argument
    // like the provenance family's, because a catalog name cannot
    // express a directory-of-subtrees layout; only _SUCCESS-complete
    // subtrees are read (StreamingCuration.readAssignmentLog).
    "ann_topk" -> (("queries, corpus, id, vec (array<float> col), k" +
      "[, nlist (0 = auto)][, nprobe][, centroids (catalog table)]" +
      "[, assigned (catalog table: id, vec, cell)]" +
      "[, assigned_log (parquet path: annAssignSink store)]",
      (s: SparkSession, a: Map[String, String]) => {
        require(!(a.contains("assigned") && a.contains("assigned_log")),
          "ann_topk: assigned and assigned_log are two spellings of " +
            "the same corpus side — pass one")
        val assignedFrame = a.get("assigned").map(s.table)
          .orElse(a.get("assigned_log").map(p =>
            graft.streaming.StreamingCuration.readAssignmentLog(s, p.trim)))
        a.get("centroids") match {
          case Some(ct) =>
            // refuse loudly rather than silently ignore a tuning knob:
            // the centroid table fixes the cell count, so a caller
            // passing nlist alongside it would never learn their value
            // had no effect
            require(!a.contains("nlist"),
              "ann_topk: nlist has no effect when centroids is given " +
                "(the centroid table fixes the cell count) — drop nlist " +
                "or drop centroids")
            assignedFrame match {
              case Some(at) =>
                require(!a.contains("corpus"),
                  "ann_topk: corpus has no effect when assigned is given " +
                    "(the assignment store carries the corpus rows) — " +
                    "drop corpus or drop assigned")
                graft.operators.Similarity.annJoinIvfAssigned(
                  s.table(need(a, "queries", "ann_topk")),
                  at,
                  s.table(ct),
                  need(a, "id", "ann_topk"),
                  need(a, "vec", "ann_topk"),
                  need(a, "k", "ann_topk").trim.toInt,
                  nprobe = a.get("nprobe").map(_.trim.toInt).getOrElse(4))
              case None =>
                graft.operators.Similarity.annJoinIvfCentroids(
                  s.table(need(a, "queries", "ann_topk")),
                  s.table(need(a, "corpus", "ann_topk")),
                  s.table(ct),
                  need(a, "id", "ann_topk"),
                  need(a, "vec", "ann_topk"),
                  need(a, "k", "ann_topk").trim.toInt,
                  nprobe = a.get("nprobe").map(_.trim.toInt).getOrElse(4))
            }
          case None =>
            require(assignedFrame.isEmpty,
              "ann_topk: assigned/assigned_log requires centroids " +
                "(probing needs the codebook the store was built against)")
            graft.operators.Similarity.annJoinIvf(
              s.table(need(a, "queries", "ann_topk")),
              s.table(need(a, "corpus", "ann_topk")),
              need(a, "id", "ann_topk"),
              need(a, "vec", "ann_topk"),
              need(a, "k", "ann_topk").trim.toInt,
              nlist = a.get("nlist").map(_.trim.toInt).getOrElse(16),
              nprobe = a.get("nprobe").map(_.trim.toInt).getOrElse(4))
        }
      })),

    // train an IVF codebook (MLlib KMeans, cosine, fixed seed) and
    // return/persist it in the (cell, centroid) TABLE form every
    // serving and maintenance surface consumes — the first step of
    // the production loop (ann_train → ann_assign → ann_topk). With
    // `out`, the codebook is written to a NEW parquet path; an
    // existing path is refused loudly: a codebook is versioned with
    // the assignment stores built against it (the fingerprint
    // contract), so overwriting one in place is exactly the
    // retrained-codebook hazard the serve guard exists to refuse.
    "ann_train" -> (("corpus, vec, nlist (0 = auto)[, seed][, out (parquet path)]",
      (s: SparkSession, a: Map[String, String]) => {
        val cb = graft.operators.Similarity.trainIvfCodebook(
          s.table(need(a, "corpus", "ann_train")),
          need(a, "vec", "ann_train"),
          nlist = need(a, "nlist", "ann_train").trim.toInt,
          seed = a.get("seed").map(_.trim.toLong).getOrElse(42L))
        a.get("out").map(_.trim) match {
          case Some(out) =>
            val p = new org.apache.hadoop.fs.Path(out)
            val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
            require(!fs.exists(p),
              s"ann_train: out path '$out' already exists — a codebook " +
                "is versioned with the assignment stores built against " +
                "it, so overwriting in place is refused; write a new " +
                "path and rebuild/re-assign the stores")
            cb.write.parquet(out)
            s.read.parquet(out)
          case None => cb
        }
      })),

    // build or grow the materialized IVF cell-assignment store (the
    // `assigned` table ann_topk consumes — Similarity
    // .ivfCellAssignments): assign `corpus` (the full corpus once, or
    // a daily batch) against the persisted codebook and, with `out`,
    // append the (id, vec, cell) rows to the cell-partitioned parquet
    // store — growing the store costs assigning the BATCH, never a
    // corpus pass. Appending into files backing the current `corpus`
    // or `centroids` tables is refused loudly (the sigs_out write
    // discipline). The assignment frame is returned either way.
    "ann_assign" -> (("corpus, centroids (catalog table), id, vec" +
      "[, out (parquet path)]",
      (s: SparkSession, a: Map[String, String]) => {
        val corpus = s.table(need(a, "corpus", "ann_assign"))
        val cents = s.table(need(a, "centroids", "ann_assign"))
        val assigned = graft.operators.Similarity.ivfCellAssignments(
          corpus, cents,
          need(a, "id", "ann_assign"), need(a, "vec", "ann_assign"))
        a.get("out").map(_.trim) match {
          case Some(out) =>
            // pin so the caller's consumption replays the cache the
            // append job materialized, not a second assignment pass;
            // drop the pin if the write-guard refuses before any job
            val pinned = assigned.persistFresh()
            try graft.operators.Similarity.appendCellAssignments(
              Seq(corpus, cents), pinned, cents, out)
            catch { case e: Throwable =>
              pinned.unpersist(blocking = false); throw e
            }
            // the append job's plan CONTAINS `pinned`, and its
            // listener event is delivered asynchronously — keyed on
            // `pinned` itself it could land after registration and
            // free the cache before the caller consumed it. The
            // trigger is therefore a marker projection only the
            // RETURNED frame carries: the write job's already-executed
            // plan has no such node, so it can never match
            val returned = pinned.select(pinned.columns.toIndexedSeq.map(col): _*)
            graft.CacheLifecycle.releaseWhenExecuted(returned, Seq(pinned))
            returned
          case None => assigned
        }
      })),

    // compact the streamed ANN assignment LOG (annAssignSink's
    // directory of batch subtrees) into ONE cell-partitioned serving
    // table — the layout whose probe scan dynamic-partition-prunes to
    // probed cells (a union-of-subtrees read cannot). The ann-family
    // sibling of `compact`: side-by-side only (writing into the log's
    // own files is refused loudly by the operator); returns the
    // 1-row (n_rows, n_cells) report read back from the compacted
    // store — the write-verification discipline (S9)
    "ann_compact" -> (("log (parquet path), out (parquet path)",
      (s: SparkSession, a: Map[String, String]) => {
        val out = need(a, "out", "ann_compact")
        graft.streaming.StreamingCuration.compactAssignmentLog(
          s, need(a, "log", "ann_compact"), out)
        s.read.parquet(out).agg(
          count(lit(1)).as("n_rows"),
          count_distinct(col("cell")).as("n_cells"))
      })),

    // the ANN family's RETRAIN TRIGGER (the q224 surface): chi-square
    // cell-occupancy drift of an incoming batch against the
    // assignment store's baseline, both under the serving codebook
    // (Similarity.codebookDrift — categoricalDrift's engine-exact
    // arithmetic over `cell`, version contract enforced on both
    // frames). Pass a raw `batch` + `id` + `vec` to assign it here
    // (the same assignment the append path needs — argmax paid once),
    // or `assigned_batch` when it was already assigned (ann_assign's
    // return, a served log). The caller sums chi2_contribution
    // against a critical value on the retrain cadence.
    "ann_drift" -> (("batch, id, vec (or assigned_batch), store, " +
      "centroids (catalog tables)",
      (s: SparkSession, a: Map[String, String]) => {
        val store = s.table(need(a, "store", "ann_drift"))
        val cents = s.table(need(a, "centroids", "ann_drift"))
        val batchAssigned = a.get("assigned_batch") match {
          case Some(ab) =>
            for (ig <- Seq("batch", "id", "vec") if a.contains(ig))
              throw new IllegalArgumentException(
                s"ann_drift: $ig has no effect when assigned_batch is " +
                  "given (the batch already carries its cells) — drop one")
            s.table(ab)
          case None =>
            graft.operators.Similarity.ivfCellAssignments(
              s.table(need(a, "batch", "ann_drift")), cents,
              need(a, "id", "ann_drift"), need(a, "vec", "ann_drift"))
        }
        graft.operators.Similarity.codebookDrift(batchAssigned, store, cents)
      })),

    // kNN label agreement (the q59/q92/q221 surface): per-label exact
    // counts of same-label neighbors among each query's k nearest —
    // the embedding-space label-noise diagnostic. Default is the
    // BRUTE diagnostic (exact — the verifier baseline); `nlist`
    // routes candidates through the sampled IVF plan (q92's scale
    // path); `assigned` + `centroids` serves from the materialized
    // store with labels at rest (ivfCellAssignments carry) — the
    // production spelling. Ignored-knob combinations refused, the
    // ann_topk discipline.
    "knn_agreement" -> (("queries, corpus (or assigned + centroids), " +
      "id, vec, label, k[, nlist][, nprobe]",
      (s: SparkSession, a: Map[String, String]) => {
        val id = need(a, "id", "knn_agreement")
        val vec = need(a, "vec", "knn_agreement")
        val label = need(a, "label", "knn_agreement")
        val k = need(a, "k", "knn_agreement").trim.toInt
        a.get("assigned") match {
          case Some(at) =>
            require(a.contains("centroids"),
              "knn_agreement: assigned requires centroids (probing " +
                "needs the codebook the store was built against)")
            require(!a.contains("corpus"),
              "knn_agreement: corpus has no effect when assigned is " +
                "given (the store carries the corpus rows) — drop one")
            require(!a.contains("nlist"),
              "knn_agreement: nlist has no effect when assigned is " +
                "given (the centroid table fixes the cell count)")
            graft.operators.Similarity.knnLabelAgreementIvfAssigned(
              s.table(need(a, "queries", "knn_agreement")), s.table(at),
              s.table(a("centroids")), id, vec, label, k,
              nprobe = a.get("nprobe").map(_.trim.toInt).getOrElse(4))
          case None =>
            require(!a.contains("centroids"),
              "knn_agreement: centroids requires assigned (the " +
                "recompute form samples its own codebook)")
            a.get("nlist").map(_.trim.toInt) match {
              case Some(nl) =>
                graft.operators.Similarity.knnLabelAgreementIvf(
                  s.table(need(a, "queries", "knn_agreement")),
                  s.table(need(a, "corpus", "knn_agreement")),
                  id, vec, label, k, nlist = nl,
                  nprobe = a.get("nprobe").map(_.trim.toInt).getOrElse(4))
              case None =>
                require(!a.contains("nprobe"),
                  "knn_agreement: nprobe has no effect on the brute " +
                    "diagnostic — pass nlist for the IVF plan")
                graft.operators.Similarity.knnLabelAgreement(
                  s.table(need(a, "queries", "knn_agreement")),
                  s.table(need(a, "corpus", "knn_agreement")),
                  id, vec, label, k)
            }
        }
      })),

    // hard-negative mining (the q123/q222 surface): per query, the k
    // most-similar corpus rows with a DIFFERENT label (the filter
    // runs BEFORE the top-k, so every slot is a negative) through the
    // IVF candidate plan. `assigned` + `centroids` is the
    // stored-assignment production spelling (labels at rest).
    "hard_negatives" -> (("queries, corpus (or assigned + centroids), " +
      "id, vec, label, k[, nlist (default 16)][, nprobe]",
      (s: SparkSession, a: Map[String, String]) => {
        val id = need(a, "id", "hard_negatives")
        val vec = need(a, "vec", "hard_negatives")
        val label = need(a, "label", "hard_negatives")
        val k = need(a, "k", "hard_negatives").trim.toInt
        val nprobe = a.get("nprobe").map(_.trim.toInt).getOrElse(4)
        a.get("assigned") match {
          case Some(at) =>
            require(a.contains("centroids"),
              "hard_negatives: assigned requires centroids (probing " +
                "needs the codebook the store was built against)")
            require(!a.contains("corpus"),
              "hard_negatives: corpus has no effect when assigned is " +
                "given (the store carries the corpus rows) — drop one")
            require(!a.contains("nlist"),
              "hard_negatives: nlist has no effect when assigned is " +
                "given (the centroid table fixes the cell count)")
            graft.operators.Similarity.hardNegativesIvfAssigned(
              s.table(need(a, "queries", "hard_negatives")), s.table(at),
              s.table(a("centroids")), id, vec, label, k, nprobe)
          case None =>
            require(!a.contains("centroids"),
              "hard_negatives: centroids requires assigned (the " +
                "recompute form samples its own codebook)")
            graft.operators.Similarity.hardNegativesIvf(
              s.table(need(a, "queries", "hard_negatives")),
              s.table(need(a, "corpus", "hard_negatives")),
              id, vec, label, k,
              nlist = a.get("nlist").map(_.trim.toInt).getOrElse(16),
              nprobe = nprobe)
        }
      })),

    // train/test leakage census (the q95 surface): one row of counts,
    // or the per-group offender list with offenders => 'true'. Pass
    // the near-dup cluster id (or any group key) as `group`.
    "split_leakage" -> (("table, group (expr), split (expr)[, offenders (true/false)]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "split_leakage"))
        val g = expr(need(a, "group", "split_leakage"))
        val sp = expr(need(a, "split", "split_leakage"))
        if (a.get("offenders").exists(_.trim.equalsIgnoreCase("true")))
          graft.operators.Sampling.splitLeakageGroups(t, g, sp)
        else graft.operators.Sampling.splitLeakage(t, g, sp)
      })),

    // cross-source content overlap matrix (the q141 surface):
    // mergeable per-group MinHash sketches, groups² comparison —
    // corpus scanned once however many sources
    "source_overlap" -> (("table, text, group[, n][, hashes]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Dedup.sourceOverlapMatrix(
          s.table(need(a, "table", "source_overlap")),
          need(a, "text", "source_overlap"),
          need(a, "group", "source_overlap"),
          n = a.get("n").map(_.trim.toInt).getOrElse(5),
          numHashes = a.get("hashes").map(_.trim.toInt).getOrElse(64)))),

    // ----- the provenance / layout-maintenance family (q49/q76/q111
    // surfaces) — file-level operations take a PATH argument (they
    // answer questions about physical layout, which a catalog name
    // abstracts away) -----

    // per-file row counts + min/max envelopes (the q49 manifest)
    "file_manifest" -> (("path, stat_cols (csv)",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Provenance.fileManifest(
          s.read.parquet(need(a, "path", "file_manifest")),
          cols(need(a, "stat_cols", "file_manifest"))))),

    // zone-map skip arithmetic for a range predicate, answered from
    // the manifest alone (the q111 planning estimate)
    "pruning_estimate" -> (("path, stat_col, lo (expr), hi (expr)",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Provenance.pruningEstimate(
          graft.operators.Provenance.fileManifest(
            s.read.parquet(need(a, "path", "pruning_estimate")),
            Seq(need(a, "stat_col", "pruning_estimate"))),
          need(a, "stat_col", "pruning_estimate"),
          expr(need(a, "lo", "pruning_estimate")),
          expr(need(a, "hi", "pruning_estimate"))))),

    // which physical files a takedown manifest impacts, and how hard
    // (the q76 rewrite plan); `ids` is a catalog table carrying the
    // id column
    "takedown_plan" -> (("path, id, ids (catalog table of ids)",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Provenance.takedownPlan(
          s.read.parquet(need(a, "path", "takedown_plan")),
          need(a, "id", "takedown_plan"),
          s.table(need(a, "ids", "takedown_plan"))))),

    // small-files compaction plan: rewrite groups of ~target_bytes
    "compaction_plan" -> (("path, target_bytes[, shards]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Provenance.compactionPlan(
          s,
          need(a, "path", "compaction_plan"),
          need(a, "target_bytes", "compaction_plan").trim.toLong,
          a.get("shards").map(_.trim.toInt).getOrElse(16)))),

    // EXECUTION surface for takedowns — with compact and
    // near_dedup_incremental's opt-in sigs_out, the only registry
    // entries that write. Dry-run by DEFAULT: without `execute => true` it
    // returns the takedown PLAN (which files a rewrite would touch),
    // writing nothing; with it, it runs the side-by-side write-new /
    // verify half (never in place — the operator refuses out == in
    // and mixed partition layouts loudly) and returns the verified
    // 1-row report. Any execute value other than exactly 'true' is
    // refused, not coerced.
    "takedown_execute" -> ((
      "path, out_path, id, ids (catalog table)[, execute (true)]",
      (s: SparkSession, a: Map[String, String]) => {
        val path = need(a, "path", "takedown_execute")
        val id = need(a, "id", "takedown_execute")
        val ids = s.table(need(a, "ids", "takedown_execute"))
        if (!executeArg(a, "takedown_execute")) {
          // dry run still demands the out path, so a caller cannot
          // discover the missing argument only at execution time
          need(a, "out_path", "takedown_execute")
          graft.operators.Provenance.takedownPlan(
            s.read.parquet(path), id, ids)
        } else {
          val r = graft.operators.Provenance.takedownExecute(
            s, path, need(a, "out_path", "takedown_execute"), id, ids)
          import s.implicits._
          Seq((r.filesCarried, r.filesRewritten, r.rowsBefore,
            r.rowsDropped, r.rowsAfter)).toDF(
            "files_carried", "files_rewritten", "rows_before",
            "rows_dropped", "rows_after")
        }
      })),

    // EXECUTION surface for compaction — same dry-run-default
    // discipline: without `execute => true` it returns the
    // compaction PLAN (file → (shard, pack) assignment); with it, it
    // rewrites each pack side-by-side into out_path (in-place
    // refused by the operator), verifies row counts by read-back,
    // and returns the 1-row report.
    "compact" -> ((
      "path, out_path, target_bytes[, shards][, execute (true)]",
      (s: SparkSession, a: Map[String, String]) => {
        val path = need(a, "path", "compact")
        val target = need(a, "target_bytes", "compact").trim.toLong
        val shards = a.get("shards").map(_.trim.toInt).getOrElse(16)
        if (!executeArg(a, "compact")) {
          need(a, "out_path", "compact")
          graft.operators.Provenance.compactionPlan(s, path, target, shards)
        } else {
          val r = graft.operators.Provenance.compact(
            s, path, need(a, "out_path", "compact"), target, shards)
          import s.implicits._
          Seq((r.nGroups, r.filesBefore, r.filesAfter, r.rowsTotal)).toDF(
            "n_groups", "files_before", "files_after", "rows_total")
        }
      })),

    // metadata-only schema diff between two catalog tables: one row
    // per added/removed/retyped column — the deploy-time drift check
    // a reconciliation run opens with (no data scan)
    "schema_drift" -> (("current, baseline",
      (s: SparkSession, a: Map[String, String]) =>
        Checks.schemaDrift(
          s.table(need(a, "current", "schema_drift")),
          s.table(need(a, "baseline", "schema_drift"))))),

    // the one-look corpus DATA CARD: the battery a user runs first
    // against any new corpus, as one long-format (metric, value)
    // table from ONE aggregate pass — doc counts, null/duplicate-id
    // fractions, exact-content duplication, size means. Composite by
    // design (the reference's 'data quality checks' spirit): each
    // number has a deeper dedicated check to drill into.
    "corpus_report" -> (("table, id, text",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "corpus_report"))
        val id = col(need(a, "id", "corpus_report"))
        val txt = col(need(a, "text", "corpus_report"))
        val one = t.agg(
          count(lit(1)).as("n"),
          sum(when(txt.isNull, 1L).otherwise(0L)).as("nulls"),
          // duplicate-id accounting runs over NON-NULL ids only
          // (count_distinct skips nulls, so dividing by n would
          // misreport null ids as duplicates); nulls get their own row
          sum(when(id.isNull, 1L).otherwise(0L)).as("null_ids"),
          count_distinct(id).as("ids"),
          count_distinct(md5(txt.cast("binary"))).as("contents"),
          sum(coalesce(length(txt), lit(0)).cast("long")).as("chars"),
          sum(coalesce(
            graft.functions.DqFunctions.tokenCount(txt), lit(0))
            .cast("long")).as("words"))
        val n = col("n").cast("double")
        val nonNullTxt = (col("n") - col("nulls")).cast("double")
        val nonNullIds = (col("n") - col("null_ids")).cast("double")
        one.select(explode(map(
          lit("n_docs"), n,
          lit("null_text_frac"),
          when(col("n") > 0L, col("nulls").cast("double") / n),
          lit("null_id_frac"),
          when(col("n") > 0L, col("null_ids").cast("double") / n),
          lit("duplicate_id_frac"),
          when(nonNullIds > 0.0,
            lit(1.0) - col("ids").cast("double") / nonNullIds),
          lit("exact_dup_frac"),
          when(nonNullTxt > 0.0,
            lit(1.0) - col("contents").cast("double") / nonNullTxt),
          lit("mean_chars"), when(col("n") > 0L, col("chars").cast("double") / n),
          lit("mean_words"), when(col("n") > 0L, col("words").cast("double") / n)
        )).as(Seq("metric", "value")))
      })),

    // ----- the eval / monitoring family (r15: the q45/q135/q142/
    // q147-class surfaces made CALL-able) -----

    // per-query retrieval quality of a run table against a truth
    // table (the q135 surface): precision/recall@k, first relevant
    // rank, reciprocal rank
    "retrieval_quality" -> (("run, truth (catalog tables), query, item, score, k",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Ranking.retrievalQuality(
          s.table(need(a, "run", "retrieval_quality")),
          s.table(need(a, "truth", "retrieval_quality")),
          need(a, "query", "retrieval_quality"),
          need(a, "item", "retrieval_quality"),
          need(a, "score", "retrieval_quality"),
          need(a, "k", "retrieval_quality").trim.toInt))),

    // graded-gain ranking quality: per-query DCG/IDCG/nDCG@k with
    // the quantized integer discount table (order-free exact sums)
    "ndcg" -> (("run, truth (catalog tables), query, item, score, gain, k",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Ranking.ndcgAtK(
          s.table(need(a, "run", "ndcg")),
          s.table(need(a, "truth", "ndcg")),
          need(a, "query", "ndcg"),
          need(a, "item", "ndcg"),
          need(a, "score", "ndcg"),
          need(a, "gain", "ndcg"),
          need(a, "k", "ndcg").trim.toInt))),

    // lexical top-k retrieval over a document table (the q45 BM25
    // surface); terms is a comma-separated literal term list
    "bm25_topk" -> (("table, id, text, terms (csv), k[, k1][, b][, min_score]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Retrieval.bm25TopK(
          s.table(need(a, "table", "bm25_topk")),
          need(a, "id", "bm25_topk"),
          need(a, "text", "bm25_topk"),
          cols(need(a, "terms", "bm25_topk")),
          need(a, "k", "bm25_topk").trim.toInt,
          k1 = a.get("k1").map(_.trim.toDouble).getOrElse(1.2),
          b = a.get("b").map(_.trim.toDouble).getOrElse(0.75),
          minScore = a.get("min_score").map(_.trim.toDouble).getOrElse(0.0)))),

    // isotonic (PAV) score recalibration over a banded census (the
    // q142/q143 surface); pass `group` for one monotone mapping per
    // source
    "isotonic" -> (("table, score (expr), label (expr), lo, hi, bins[, group (expr)]",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "isotonic"))
        val sc = expr(need(a, "score", "isotonic"))
        val lb = expr(need(a, "label", "isotonic"))
        val lo = need(a, "lo", "isotonic").trim.toDouble
        val hi = need(a, "hi", "isotonic").trim.toDouble
        val bins = need(a, "bins", "isotonic").trim.toInt
        a.get("group") match {
          case Some(g) => graft.operators.Evaluation
            .isotonicCalibrationBy(t, expr(g), sc, lb, lo, hi, bins)
          case None => graft.operators.Evaluation
            .isotonicCalibration(t, sc, lb, lo, hi, bins)
        }
      })),

    // adjacent-period KS drift timeline (the q149 surface): one KS
    // row per adjacent pair of time buckets — the monitoring query
    // that answers "when did the distribution move"
    "ks_timeline" -> (("table, ts (expr), value (expr), bucket_seconds[, cells]",
      (s: SparkSession, a: Map[String, String]) =>
        StatTests.ksAdjacentPeriods(
          s.table(need(a, "table", "ks_timeline")),
          expr(need(a, "ts", "ks_timeline")),
          expr(need(a, "value", "ks_timeline")),
          need(a, "bucket_seconds", "ks_timeline").trim.toLong,
          cells = a.get("cells").map(_.trim.toInt).getOrElse(4096)))),

    // per-(kind, group) media token census under each modality's
    // costing rule (the q203 surface): image rows cost ViT patches,
    // audio rows duration×rate, video rows frames×patches; rows of
    // any other kind get NULL tokens (visible, not silently priced)
    "media_census" -> (("table, kind (expr: image|audio|video), group (expr), " +
      "width (expr), height (expr), duration_ms (expr)[, patch][, rate][, frames]",
      (s: SparkSession, a: Map[String, String]) => {
        val M = graft.operators.Multimodal
        val t = s.table(need(a, "table", "media_census"))
        val kind = expr(need(a, "kind", "media_census"))
        val w = expr(need(a, "width", "media_census"))
        val h = expr(need(a, "height", "media_census"))
        val dur = expr(need(a, "duration_ms", "media_census"))
        val patch = a.get("patch").map(_.trim.toInt).getOrElse(16)
        val rate = a.get("rate").map(_.trim.toInt).getOrElse(50)
        val frames = a.get("frames").map(_.trim.toInt).getOrElse(8)
        val tokens = when(kind === "image", M.patchTokens(w, h, patch))
          .when(kind === "audio", M.audioTokens(dur, rate))
          .when(kind === "video", M.videoTokens(w, h, frames, patch))
        t.select(kind.as("kind"),
            expr(need(a, "group", "media_census")).as("group_key"),
            tokens.as("_tk"))
          .groupBy(col("kind"), col("group_key"))
          .agg(count(lit(1)).as("n_items"), sum(col("_tk")).as("total_tokens"))
      })),

    // tokenizer compression ratio — UTF-8 bytes per BPE token per
    // group (the q202 surface); vocab selects the merge table:
    // 'production' (classpath merges.txt, 1,956 merges), 'large'
    // (merges_large.txt, 15,971) or 'seed' (the small bootstrap
    // table)
    "compression" -> (("table, group (expr), text (expr)[, vocab (production|large|seed)]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.TextAnalysis.tokenizerCompressionBy(
          s.table(need(a, "table", "compression")),
          expr(need(a, "group", "compression")),
          expr(need(a, "text", "compression")),
          vocabArg(a, "compression")))),

    // n-gram-heuristic language census: docs per detected language
    "lang_id" -> (("table, text (expr)",
      (s: SparkSession, a: Map[String, String]) => {
        val t = s.table(need(a, "table", "lang_id"))
        val txt = expr(need(a, "text", "lang_id"))
        t.filter(txt.isNotNull)
          .select(graft.operators.TextAnalysis.langId(txt).as("lang"))
          .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      })),

    // per-document quality features + blended 0..1 score (the q18
    // pre-filter surface)
    "text_quality" -> (("table, id, text",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.TextAnalysis.qualityFeatures(
          s.table(need(a, "table", "text_quality")),
          need(a, "id", "text_quality"),
          need(a, "text", "text_quality")))),

    // integer fixed-point PageRank over an edge table (the q115
    // surface) — deterministic, cardinality-adaptive execution
    "pagerank" -> (("table (edges), src (expr), dst (expr)[, iterations][, damping_permille]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Graph.pageRankInt(
          s.table(need(a, "table", "pagerank")),
          expr(need(a, "src", "pagerank")),
          expr(need(a, "dst", "pagerank")),
          iterations = a.get("iterations").map(_.trim.toInt).getOrElse(3),
          dampingPermille =
            a.get("damping_permille").map(_.trim.toLong).getOrElse(850L)))),

    // ----- the curation family (r15 part 2: the q10/q42/q43/q66/q74/
    // q97 funnel stages made CALL-able) -----

    // exact-content duplicate groups (the q10 surface)
    "dedup_exact" -> (("table, id, content (expr)",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Dedup.exactDuplicateGroups(
          s.table(need(a, "table", "dedup_exact")),
          need(a, "id", "dedup_exact"),
          expr(need(a, "content", "dedup_exact"))))),

    // drop corpus docs sharing >= min_overlap exact n-gram shingles
    // with a benchmark table (the q42 decontamination surface)
    "decontaminate" -> (("corpus, bench (catalog tables), id, text, n[, min_overlap]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Decontamination.decontaminate(
          s.table(need(a, "corpus", "decontaminate")),
          s.table(need(a, "bench", "decontaminate")),
          need(a, "id", "decontaminate"),
          need(a, "text", "decontaminate"),
          need(a, "n", "decontaminate").trim.toInt,
          minOverlap = a.get("min_overlap").map(_.trim.toLong).getOrElse(1L)))),

    // ordered-rule PII redaction with per-pattern match counts (the
    // q43 surface; the shipped default pattern set)
    "redact_pii" -> (("table, id, text",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Redaction.redactPii(
          s.table(need(a, "table", "redact_pii")),
          need(a, "id", "redact_pii"),
          need(a, "text", "redact_pii")))),

    // word-boundary chunks of ~budget BPE tokens per document (the
    // q66/q183 surface); vocab as in `compression`
    "chunk_tokens" -> (("table, id, text, budget[, vocab (production|large|seed)]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.TextAnalysis.chunkByTokenBudget(
          s.table(need(a, "table", "chunk_tokens")),
          need(a, "id", "chunk_tokens"),
          need(a, "text", "chunk_tokens"),
          need(a, "budget", "chunk_tokens").trim.toInt,
          vocabArg(a, "chunk_tokens")))),

    // deterministic hash-ordered sample cut at a weight budget (the
    // q97 surface): keep rows until the budget is spent
    "sample_budget" -> (("table, id, weight (expr), budget[, buckets]",
      (s: SparkSession, a: Map[String, String]) =>
        graft.operators.Sampling.sampleToBudget(
          s.table(need(a, "table", "sample_budget")),
          need(a, "id", "sample_budget"),
          expr(need(a, "weight", "sample_budget")),
          need(a, "budget", "sample_budget").trim.toLong,
          buckets = a.get("buckets").map(_.trim.toInt).getOrElse(4096)))),

    // per-group winsorized mean/stddev (the q74 robust-stats surface)
    "winsorized_stats" -> (("table, value, group[, p_lo][, p_hi][, scale]",
      (s: SparkSession, a: Map[String, String]) =>
        Checks.winsorizedStats(
          s.table(need(a, "table", "winsorized_stats")),
          need(a, "value", "winsorized_stats"),
          need(a, "group", "winsorized_stats"),
          pLo = a.get("p_lo").map(_.trim.toDouble).getOrElse(0.05),
          pHi = a.get("p_hi").map(_.trim.toDouble).getOrElse(0.95),
          scale = a.get("scale").map(_.trim.toDouble).getOrElse(1e6)))))

  /** Shared execute-argument gate for the EXECUTION surfaces
    * (`takedown_execute`, `compact`): absent → dry run; exactly
    * 'true' (case-insensitive) → execute; anything else is refused
    * loudly rather than coerced to a boolean — a typo must not
    * trigger a filesystem rewrite, and must not silently dry-run
    * when the caller believed they executed.
    */
  private def executeArg(a: Map[String, String], check: String): Boolean =
    a.get("execute") match {
      case None => false
      case Some(v) if v.trim.equalsIgnoreCase("true") => true
      case Some(v) => throw new IllegalArgumentException(
        s"graft.$check: execute must be exactly 'true' to run the " +
          s"rewrite (got '$v'); omit it for a dry run")
    }

  /** Shared vocab-argument resolution for the token-denominated
    * checks (`compression`, `chunk_tokens`): production (default) |
    * large | seed. */
  private def vocabArg(a: Map[String, String], check: String): Seq[(String, String)] =
    a.get("vocab").map(_.trim.toLowerCase).getOrElse("production") match {
      case "production" => graft.functions.BpeVocab.production
      case "large" => graft.functions.BpeVocab.large
      case "seed" => graft.functions.BpeVocab.default
      case other => throw new IllegalArgumentException(
        s"graft.$check: unknown vocab '$other' (production, large, seed)")
    }

  /** One row per registered check: (check, arguments). */
  def list(spark: SparkSession): DataFrame = {
    import spark.implicits._
    registry.toSeq.sortBy(_._1)
      .map { case (n, (usage, _)) => (n, usage) }
      .toDF("check", "arguments")
  }

  /** Run a named check. */
  def run(spark: SparkSession, name: String, args: Map[String, String]): DataFrame =
    registry.get(name) match {
      case Some((_, check)) => check(spark, args)
      case None if name == "help" => list(spark)
      case None => throw new IllegalArgumentException(
        s"unknown check 'graft.$name'; available: " +
          (registry.keys.toSeq.sorted :+ "help").mkString(", "))
    }
}
