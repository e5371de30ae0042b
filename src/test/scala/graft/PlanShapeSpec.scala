package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{AnalyticsQueries, ExtensionQueries, ParityQueries}

/** Pins the SCALE.md plan invariants: filter pushdown, column
  * pruning, broadcast discipline, top-k shape. A regression that
  * silently drops one of these still passes value checks at test SF —
  * these specs are what catch it.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val d = TestSpark.sf

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q30: shipdate predicate pushed to parquet, schema pruned") {
    val p = plan(AnalyticsQueries.q30PricingSummary(spark, d))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    assert(!p.contains("l_orderkey"), "pricing summary must not read join keys")
    assert(p.contains("partial_sum"), "map-side combine expected")
  }

  test("q31: nation dimension joins via broadcast") {
    val p = plan(AnalyticsQueries.q31RevenueByNation(spark, d))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"))
  }

  test("q02 events branch: cutoff pushes down on the raw nanos column") {
    val p = plan(ParityQueries.q02FanoutCounts(spark, d))
    assert(p.contains("LessThan(ts,"),
      "raw-long ts predicate must reach the events scan (row-group pruning)")
  }

  test("q05/q02: the census and the loading status fold every table into one aggregate shuffle") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // shuffles fed by a (partial) aggregate, in the initial adaptive plan
    def aggregateShuffles(df: org.apache.spark.sql.DataFrame): Int = {
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      root.collect { case e: ShuffleExchangeExec if e.child.isInstanceOf[BaseAggregateExec] => e }.size
    }
    for ((name, df) <- Seq(
        "q05" -> ParityQueries.q05SourceCounts(spark, d),
        "q02" -> ParityQueries.q02FanoutCounts(spark, d)))
      assert(aggregateShuffles(df) == 1,
        s"$name: one shuffle for the union of the tables' projections:\n${plan(df)}")
  }

  test("q15: brute top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(ExtensionQueries.q15KnnBrute(spark, d))
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Sort "), "global sort would not scale")
  }

  test("q14: native vector dot product in the similarity join (codegen hot loop)") {
    val p = plan(ExtensionQueries.q14EmbeddingNearDup(spark, d))
    assert(p.contains("vectordotproduct") || p.contains("VectorDotProduct"))
  }

  test("q86: the funnel scans events ONCE and shuffles once, any stage count") {
    // string-level pin (the q80 convention): AQE wraps executedPlan,
    // but its textual form still prints the full initial plan
    val p = plan(graft.queries.TemporalQueries.q86Funnel(spark, d))
    val scans = "(?i)(?:file)?scan parquet".r.findAllIn(p).length
    assert(scans == 1,
      s"an S-stage funnel must read the events table exactly once, got $scans:\n$p")
    // all stage windows + the per-key collapse share one key partitioning
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"stacked same-partitioning windows must reuse one Exchange, got $exchanges:\n$p")
    // the any-stage prefilter reaches the scan: the event_type
    // disjunction must push down so non-funnel rows die at the reader
    assert(p.contains("PushedFilters:") && p.contains("event_type"),
      s"any-stage disjunction must reach the scan:\n$p")
  }

  test("q36: salted distinct splits the hot key across two aggregation levels") {
    val p = plan(graft.queries.ScaleQueries.q36SaltedDistinct(spark, d))
    assert(p.contains("_salt"), "salt column must appear in the grouping")
    // two-level shape: a distinct-count per (key, salt) then a sum per key
    assert(p.contains("partial_sum") || p.contains("sum(_dc"),
      "per-salt partials must recombine with a sum")
  }

  test("q37: the date filter prunes partitions at the scan (one directory read)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = graft.queries.ScaleQueries.writePartitionedEvents(spark, d)
    val q = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.col("event_date") === "2024-01-05")
    val scan = q.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.partitionFilters.nonEmpty, "filter must become a PartitionFilter")
    val nParts = scan.selectedPartitions.partitionCount
    assert(nParts == 1,
      s"exactly one of 30 date partitions should survive pruning, got $nParts")
  }

  test("JDBC table scan: filter pushed into the JDBC relation, columns pruned") {
    import graft.sources.Jdbc
    val spark2 = spark; import spark2.implicits._
    val url = Jdbc.derbyUrl()
    Jdbc.writeReplace(spark.range(0, 100)
      .select($"id".as("k"), ($"id" % 7).as("x"), $"id".cast("string").as("payload")),
      url, "t_pushdown")
    val q = Jdbc.readTable(spark, url, "t_pushdown")
      .filter($"x" > 3).select($"k", $"x")
    val p = plan(q)
    assert(p.contains("PushedFilters:") && p.contains("GreaterThan(x,3)"),
      s"x > 3 must reach the JDBC scan, not execute above it:\n$p")
    assert(!p.contains("payload"),
      "unreferenced columns must not cross the wire")
    assert(q.count() == 100 - 100 / 7 * 4 - 2) // 42 rows with id%7 > 3
  }

  test("JDBC catalog scan: aggregate pushed to the database (pushDownAggregate)") {
    import graft.sources.Jdbc
    val spark2 = spark; import spark2.implicits._
    val url = Jdbc.derbyUrl()
    Jdbc.writeReplace(spark.range(0, 100)
      .select(($"id" % 5).as("k"), $"id".as("x")), url, "t_aggpush")
    spark.conf.set("spark.sql.catalog.graftderby",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set("spark.sql.catalog.graftderby.url", url)
    spark.conf.set("spark.sql.catalog.graftderby.driver",
      "org.apache.derby.jdbc.EmbeddedDriver")
    spark.conf.set("spark.sql.catalog.graftderby.pushDownAggregate", "true")
    spark.conf.set("spark.sql.catalog.graftderby.pushDownLimit", "true")
    try {
      val t = spark.table("graftderby.APP.T_AGGPUSH")
      val agg = t.filter($"x" >= 10).groupBy($"k")
        .agg(org.apache.spark.sql.functions.count($"x").as("n"))
      val p = plan(agg)
      assert(p.contains("PushedAggregates: [COUNT"),
        s"COUNT must execute on the database, not in Spark:\n$p")
      assert(p.contains("PushedGroupByExpressions"),
        s"GROUP BY must push with the aggregate:\n$p")
      assert(p.toLowerCase.contains("pushedfilters") && p.contains("10"),
        s"the x >= 10 filter must push beneath the aggregate:\n$p")
      val rows = agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows == (0L until 5L).map(k => k -> 18L).toMap) // ids 10..99 per residue
    } finally {
      spark.conf.unset("spark.sql.catalog.graftderby")
    }
  }

  test("q42: benchmark shingle set broadcasts; corpus side semi-joins map-side") {
    val p = plan(graft.queries.PipelineQueries.q42Decontamination(spark, d))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      "benchmark n-gram set must broadcast into a semi-join, never shuffle the corpus")
    assert(!p.toLowerCase.contains("sortmergejoin"),
      "no shuffle join on the contamination path")
  }

  test("q44: query side broadcasts; per-query top-k is the only shuffle") {
    val p = plan(graft.queries.PipelineQueries.q44AnnJoin(spark, d))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the query set must broadcast against the corpus scan")
    assert(p.contains("vectordotproduct"),
      "cosine must run on the native dot-product expression")
  }

  test("q219: stored-assignment IVF scans the store under DPP, probes broadcast, no corpus argmax") {
    // The ANN artifact's structural pin: the corpus side must be a
    // plain FileScan of the materialized cell-partitioned store —
    // with DYNAMIC PARTITION PRUNING driven by the broadcast probes
    // (only probed cell= subdirectories are read), which also proves
    // no mapPartitions argmax stage crept back onto the corpus side
    // (an object stage's output cannot be a partition-filtered scan).
    // The probe flatMap (query-scale) is the only object boundary; it
    // renders once per consumer (join build + DPP subquery).
    val p = plan(graft.queries.PipelineQueries.queries("q219_ann_ivf_assigned")(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"probes must broadcast into an equi-join on cell:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the stored-assignment path must not degrade to an all-pairs join:\n$p")
    // the store scan is the one FileScan carrying the cell partition
    // column (the rendered store path truncates inside the location)
    val storeScan = p.split("\n").filter(l =>
      l.contains("FileScan parquet") && l.contains("cell#"))
    assert(storeScan.nonEmpty, s"corpus side must scan the assignment store:\n$p")
    assert(storeScan.forall(_.contains("dynamicpruningexpression")),
      "the store scan must be partition-pruned by the probe cells " +
        s"(dynamicpruningexpression on cell):\n${storeScan.mkString("\n")}")
  }

  test("q224: the drift monitor's store side reads no data pages (empty read schema)") {
    // The retrain trigger's structural pin: the baseline histogram
    // groups the store's `cell` PARTITION column only, so column
    // pruning must leave the store scan with an EMPTY data schema —
    // directory names + row counts, never vector pages. A regression
    // that drags a data column into the baseline side turns the
    // monitor into a store scan that grows with the corpus.
    val p = plan(graft.queries.PipelineQueries.queries("q224_codebook_drift")(spark, d))
    val storeScan = p.split("\n").filter(l =>
      l.contains("FileScan parquet") && l.contains("cell#"))
    assert(storeScan.nonEmpty, s"baseline side must scan the assignment store:\n$p")
    assert(storeScan.forall(_.contains("ReadSchema: struct<>")),
      "the baseline histogram must read only partition metadata " +
        s"(ReadSchema: struct<>):\n${storeScan.mkString("\n")}")
  }

  test("q45: BM25 ranking plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(graft.queries.PipelineQueries.q45Bm25(spark, d))
    assert(p.contains("TakeOrderedAndProject"),
      "top-k must be per-partition partial top-k + driver merge, not a full sort")
  }

  test("q50: snapshot compaction shuffles once on the key") {
    val p = plan(graft.queries.PipelineQueries.q50LatestSnapshot(spark, d))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"latest-per-key needs exactly one shuffle on the key, found $exchanges:\n$p")
  }

  test("q58: IVF join is a hash equi-join on cell, never a cartesian over the corpus") {
    val p = plan(graft.queries.PipelineQueries.q58AnnIvf(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"probes must broadcast into an equi-join on cell:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the IVF path must not degrade to an all-pairs join:\n$p")
  }

  test("q57: per-group cap runs as two window stages, the first keyed on (group, salt)") {
    val p = plan(graft.queries.SamplingQueries.q57SourceCap(spark, d))
    val windows = "Window ".r.findAllIn(p).length
    assert(windows == 2,
      s"expected the salted two-phase top-k (two Window nodes), found $windows:\n$p")
    // phase 1 partitions by (source, pmod(xxhash64(id), salts)) so a
    // single hot domain fans out across `salts` tasks instead of
    // sorting in one
    assert(p.contains("pmod") && p.contains("xxhash64"),
      s"first window must be keyed on (group, salt):\n$p")
  }

  test("q195: zipf head extraction is the salted two-phase top-k (no full-census window)") {
    val p = plan(graft.queries.TokenQueries.q195ZipfSlope(spark, d))
    // the head must NOT funnel a source's whole distinct-token census
    // through one per-group window task: phase 1 is keyed on
    // (group, pmod(xxhash64(token), salts)), phase 2 ranks only the
    // <= salts*k survivors
    assert(p.contains("__salt_rank"),
      s"expected the salted phase-1 rank before the per-group window:\n$p")
    assert(p.contains("pmod") && p.contains("xxhash64"),
      s"phase-1 window must be keyed on (group, salt):\n$p")
  }

  test("q59: per-query top-k runs as WindowGroupLimit (partial top-k before the shuffle)") {
    val p = plan(graft.queries.PipelineQueries.q59LabelPurity(spark, d))
    assert(p.contains("WindowGroupLimit"),
      s"top-k must prune per-partition before the exchange, not sort everything:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "agreement counts must combine map-side")
  }

  test("q60: one from_json parse at a pruned scan") {
    val p = plan(graft.queries.PipelineQueries.q60JsonProps(spark, d))
    assert("from_json".r.findAllIn(p).length == 1,
      s"all fields must come from a single parse:\n$p")
    assert(p.contains("ReadSchema: struct<event_type:string,props:string>"),
      s"scan must read only the referenced columns:\n$p")
  }

  test("q61: pack summary prunes the unused position window; text never scans") {
    val p = plan(graft.queries.SamplingQueries.q61Packing(spark, d))
    assert("Window ".r.findAllIn(p).length == 1,
      s"the pack_pos window must be pruned when only the census is consumed:\n$p")
    assert(!p.contains("text"), "packing reads sizes, never document payloads")
  }

  test("q70: priority sample is the salted two-window shape; documents never ride the windows") {
    val p = plan(graft.queries.SamplingQueries.q70PrioritySample(spark, d))
    assert("Window ".r.findAllIn(p).length == 2,
      s"expected per-salt then global rank (two Window nodes):\n$p")
    assert(p.contains("pmod") && p.contains("xxhash64"),
      s"first window must shard by salt:\n$p")
    assert(!p.contains("text"),
      "only (id, weight) pairs ride the windows; payload joins back by id")
  }

  test("q73: pair aggregate combines map-side; per-dim sums broadcast back") {
    val p = plan(graft.queries.ExtensionQueries.q73EmbeddingCov(spark, d))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"dim-pair partials must combine before the shuffle:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      s"both per-dim sum joins must broadcast (64-row frames):\n$p")
    assert(!p.contains("CartesianProduct"), "no cartesian anywhere")
  }

  test("q75: fuzzy candidates come from a token equi-join, never a cartesian") {
    val p = plan(graft.queries.ExtensionQueries.q75FuzzyPairs(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"token blocking must plan as an equi-join:\n$p")
    assert(p.contains("levenshtein"),
      "bounded-threshold levenshtein runs only on blocked candidates")
  }

  test("q77: fingerprints fold map-side; only bucket rows cross each shuffle") {
    val p = plan(graft.queries.CheckQueries.q77MerkleRecon(spark, d))
    assert(p.contains("partial_bit_xor"),
      "xor fingerprint must combine map-side before the bucket shuffle")
    assert(p.contains("partial_count"))
    // dest-side perturbation filter reaches the scan
    assert(p.contains("DataFilters: [isnotnull(o_orderkey"), p)
  }

  test("q82: skew census is TakeOrderedAndProject over partial-agg'd sides (no global sort)") {
    val p = plan(graft.queries.ScaleQueries.q82JoinSkew(spark, d))
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_count"), "per-key census must combine map-side")
    // the SMJ's per-partition key sorts are fine; what must NOT exist
    // is a Sort stage on the output-contribution ordering (that would
    // be a global sort instead of the top-k operator)
    assert(!p.contains("Sort [n_output"),
      "ordering column must only appear inside TakeOrderedAndProject")
  }

  test("q83: anomaly window rides the daily pre-aggregate, not raw rows") {
    val df = graft.queries.CheckQueries.q83VolumeAnomalies(spark, d)
    val p = plan(df)
    // the Window's child must be the (group, day) aggregate — i.e. the
    // window input is groups × days, not the event rows
    val windowIdx = p.indexOf("Window ")
    val aggIdx = p.indexOf("HashAggregate", windowIdx)
    assert(windowIdx >= 0 && aggIdx > windowIdx,
      s"expected Window over HashAggregate(daily):\n$p")
    assert(p.substring(aggIdx).contains("partial_count"))
  }

  test("q80: scd2's two windows share one exchange and one sort") {
    val p = plan(graft.queries.TemporalQueries.q80Scd2(spark, d))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly one key exchange, got $exchanges:\n$p")
    // the lead window must NOT re-sort: exactly one Sort under the exchange
    assert("\\bSort \\[".r.findAllIn(p).length == 1,
      s"lag and lead must share the (key, ts) sort:\n$p")
  }

  test("q93/q94/q96: new checks partial-aggregate map-side with pruned scans") {
    // Benford: only the audited column is read; the 9-digit census
    // folds map-side before its single tiny shuffle
    val p93 = plan(graft.queries.CheckQueries.q93Benford(spark, d))
    assert(!p93.contains("l_orderkey"),
      s"benford must not read unrelated lineitem columns:\n$p93")
    assert(p93.contains("partial_count"), "digit census must combine map-side")
    // order inversions: the window's key partitioning also serves the
    // grouped fold — exactly one hash exchange in the whole plan
    val p94 = plan(graft.queries.CheckQueries.q94OrderInversions(spark, d))
    val ex94 = "Exchange hashpartitioning".r.findAllIn(p94).length
    assert(ex94 == 1,
      s"window partitioning must be reused by the aggregate, got $ex94:\n$p94")
    // class balance: per-class counts partial-aggregate at the scan
    val p96 = plan(graft.queries.CheckQueries.q96ClassBalance(spark, d))
    assert(p96.contains("partial_count"), "class census must combine map-side")
    val readSchema96 = "ReadSchema: [^\\n]*".r.findFirstIn(p96).getOrElse("")
    assert(readSchema96.contains("label") && !readSchema96.contains("embedding"),
      s"class balance must scan the label column only, got $readSchema96")
  }

  test("q91: per-group histogram bounds fold map-side; spine join on the group key") {
    val p = plan(graft.queries.CheckQueries.q91GroupHistogram(spark, d))
    assert(p.contains("partial_min") && p.contains("partial_max"),
      "per-group bounds must partial-aggregate at the scan")
    assert(p.contains("partial_count"), "bucket counts must combine map-side")
  }

  test("q87: cohort activity collapses to distinct (key, bucket) before anything joins") {
    val p = plan(graft.queries.TemporalQueries.q87CohortRetention(spark, d))
    // the distinct is a keyed aggregate with a map-side partial phase
    assert(p.contains("HashAggregate(keys=[_k"), p)
    assert(p.contains("partial_min"), "cohort map folds map-side")
  }

  test("q100/q103: one events scan; rolling window rides the daily pre-aggregate") {
    val p100 = plan(graft.queries.TemporalQueries.q100RollingDaily(spark, d))
    assert("(?i)(?:file)?scan parquet".r.findAllIn(p100).length == 1,
      s"rolling totals must read events once:\n$p100")
    assert(p100.contains("partial_sum"), "daily totals must combine map-side")
    // the RANGE window's child chain contains the aggregate — it frames
    // the collapsed per-(key, bucket) series, never raw event rows
    assert(p100.contains("RangeFrame"), "rolling frame must be RANGE (gap-aware)")
    assert(p100.indexOf("Window ") < p100.indexOf("HashAggregate"),
      "window must sit ABOVE the daily aggregate in the plan")
    val p103 = plan(graft.queries.TemporalQueries.q103Churn(spark, d))
    assert("(?i)(?:file)?scan parquet".r.findAllIn(p103).length == 1,
      s"churn census must read events once:\n$p103")
    assert("Exchange hashpartitioning".r.findAllIn(p103).length == 1,
      s"churn census is one grouped aggregate — exactly one shuffle:\n$p103")
  }

  test("q102: bin ranks are cell-partitioned windows; offsets broadcast back") {
    val p = plan(graft.queries.CheckQueries.q102EqFreqBins(spark, d))
    assert(p.contains("row_number() windowspecdefinition(_c"),
      "the per-row rank window must be PARTITIONED by cell — an " +
        "unpartitioned rank would be the single-task global sort this " +
        "operator exists to avoid")
    assert(p.contains("BroadcastHashJoin"),
      "cell offsets (≤ cells rows) must broadcast, not shuffle the data side")
    assert(p.contains("PushedFilters: [IsNotNull(l_extendedprice)"),
      "null fence must reach the scan")
  }

  test("q101/q104: self-derived join sides reuse one exchange at runtime (one scan)") {
    // these pins need the FINAL adaptive plan: reuse materializes when
    // AQE replans at runtime, so execute first
    val skew = graft.queries.CheckQueries.q101KeySkew(spark, d)
    skew.collect()
    val pSkew = skew.queryExecution.executedPlan.toString
    assert(pSkew.contains("ReusedExchange"),
      s"keySkew totals must reuse the census exchange, not rescan orders:\n$pSkew")
    val pairs = graft.queries.TemporalQueries.q104CoPairs(spark, d)
    pairs.collect()
    val pPairs = pairs.queryExecution.executedPlan.toString
    assert(pPairs.contains("ReusedExchange"),
      s"pair self-join must reuse the distinct (group,item) exchange:\n$pPairs")
    assert(!pPairs.contains("CartesianProduct") && !pPairs.contains("NestedLoop"),
      "pair generation must stay an equi-join on the group key")
  }

  test("q114: marginals and total ride broadcast; the census exchange is still reused") {
    val lift = graft.queries.TemporalQueries.q114PairLift(spark, d)
    lift.collect()
    val p = lift.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"pairLift's three uses of distinct (group,item) must share one exchange:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "item marginals (≤ item-domain rows) must broadcast onto the pair table")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the 1-row group total must broadcast")
    assert(!p.contains("CartesianProduct"),
      "no non-broadcast cartesian anywhere in the scoring join")
  }

  test("q105: every shuffle runs on the partials key space, never raw event columns") {
    val p = plan(graft.queries.PipelineQueries.q105IncrementalTotals(spark, d))
    // two scans are the POINT (the split-history demo); what must hold
    // is that each half collapses map-side before anything moves, and
    // no shuffle ever partitions on raw event columns
    assert("(?i)(?:file)?scan parquet".r.findAllIn(p).length == 2)
    assert(p.contains("partial_sum") && p.contains("partial_count"),
      s"bucket partials must combine map-side at the scans:\n$p")
    assert("hashpartitioning\\(key".r.findAllIn(p).nonEmpty,
      s"shuffles must run on the (key, bucket) partials space:\n$p")
    assert(!p.contains("hashpartitioning(event_") && !p.contains("hashpartitioning(user_"),
      s"no shuffle may carry raw event rows:\n$p")
  }

  test("q107: CMS counters fold map-side; the probe joins the counter table by broadcast") {
    val p = plan(graft.queries.CheckQueries.q107CmsCounts(spark, d))
    assert(p.contains("partial_count"),
      s"counter increments must combine map-side before the (row, bucket) shuffle:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the depth x width counter table is config-sized and must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"probe must stay an equi-join on (row, bucket):\n$p")
  }

  test("q108: bucketed tables sort-merge-join with ZERO exchanges under the join") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.queries.ScaleQueries.q108BucketedJoin(spark, d))
      assert(p.contains("SortMergeJoin"),
        s"with broadcast off, co-located buckets should SMJ:\n$p")
      assert(p.contains("Bucketed: true"),
        s"both scans must read the bucket layout as their partitioning:\n$p")
      // the ONLY exchange allowed is the market-segment rollup above
      // the join; the join itself must reuse the at-rest bucketing
      val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(exchanges == 1,
        s"expected exactly one exchange (the segment rollup), got $exchanges:\n$p")
      assert(!p.contains("hashpartitioning(o_custkey") &&
        !p.contains("hashpartitioning(c_custkey"),
        s"the join key must never shuffle — that is what bucketing buys:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q109: schedule ranks window inside (source, cell); offsets broadcast back") {
    val p = plan(graft.queries.SamplingQueries.q109MixtureSchedule(spark, d))
    assert("windowspecdefinition\\(source#\\d+, _c#".r.findAllIn(p).nonEmpty,
      "the rank window must partition by (source, cell) — a whole-source " +
        s"window would sort the hottest source in one task:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"per-cell offsets (sources x cells rows) must broadcast:\n$p")
  }

  test("q113: group-quantile ranks window inside (group, cell); targets broadcast") {
    val p = plan(graft.queries.CheckQueries.q113GroupQuantiles(spark, d))
    assert("row_number\\(\\) windowspecdefinition\\(_g#\\d+, _c#".r.findAllIn(p).nonEmpty,
      "the rank window must partition by (group, cell) — a whole-group " +
        s"window would sort the hottest group in one task:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      s"cell offsets and quantile targets must both broadcast:\n$p")
  }

  test("runtime bloom filter: a selective dim filter reaches the fact side as a semi-join filter") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set(keys(0), "-1") // force SMJ — broadcast already prunes at the join
    spark.conf.set(keys(1), "true")
    spark.conf.set(keys(2), "0")    // sf0.1 stands in for the 10GB+ fact
    spark.conf.set(keys(3), "100MB")
    try {
      val li = graft.Tables.lineitem(spark, d)
      val pt = graft.Tables.part(spark, d).filter(col("p_partkey") % 100 === 0)
      val q = li.join(pt, col("l_partkey") === col("p_partkey"))
        .agg(count(lit(1)).as("n"))
      val p = q.queryExecution.executedPlan.toString.toLowerCase
      assert(p.contains("bloomfilter") || p.contains("bloom_filter"),
        "the optimizer must inject a bloom-filter semi-join: the dim side's " +
          "selective filter builds a bloom filter that prunes fact rows at " +
          s"the scan, before the shuffle:\n$p")
      assert(q.head().getLong(0) > 0, "the filtered join still matches rows")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q119: AUC reads documents once; the prefix window is cell-partitioned") {
    val df119 = graft.queries.EvalQueries.q119Auc(spark, d)
    val p = plan(df119)
    // structural check on the logical plan: collect() does not descend
    // into InMemoryRelation leaves, so any LogicalRelation found here
    // is a RAW scan outside the cache boundary — a dropped persist (or
    // a release fired by the eager bounds job before the main query —
    // the releaseWhenExecuted contract) shows up as exactly that.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val lp = df119.queryExecution.optimizedPlan
    val rawScans = lp.collect { case l: LogicalRelation => l }.length
    val cached = lp.collect { case c: InMemoryRelation => c }.length
    // r21 direct-window path: ONE cached-census read feeds the single
    // bounded prefix window (the cell/offset branch — two cached reads,
    // a _c-partitioned window — only appears past DefaultDirectWindowRows)
    assert(rawScans == 0 && cached == 1,
      s"the prefix branch must read the cached census " +
        s"($rawScans raw scans outside the cache, $cached cached):\n$p")
    assert("InMemoryTableScan".r.findAllIn(p).length == 1,
      s"expected exactly one cached-census read:\n$p")
    assert(p.contains("Window") && p.contains("windowspecdefinition(_v#"),
      s"cumulative negatives must be a bounded census-window:\n$p")
    assert(p.contains("partial_sum"), "census folds map-side")
  }

  test("q121: negative draws resolve via equi-join on the dense index, never a nested loop") {
    val p = plan(graft.queries.SamplingQueries.q121NegativePairs(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"draw->row resolution must be an equi-join on the 8-byte index:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), s"expected a hash equi-join:\n$p")
  }

  test("q122: containment candidate join is an equi-join on shingle hashes (no cartesian)") {
    val p = plan(graft.queries.ExtensionQueries.q122Containment(spark, d))
    assert(!p.contains("CartesianProduct"),
      s"prefix x posting join must be an equi-join on g:\n$p")
    // the candidate join keys on the 8-byte shingle hash; any
    // BroadcastNestedLoopJoin in the text is the deliberate 1-row
    // DF-cap total broadcast repeated by the cached-plan rendering
    assert("Join \\[g#\\d+L\\], \\[g#\\d+L\\]".r.findFirstIn(p).isDefined,
      s"expected a hash equi-join on the shingle hash g:\n$p")
    "BroadcastNestedLoopJoin[^\\n]*".r.findAllIn(p).foreach { l =>
      assert(l.contains("BuildLeft") || l.contains("BuildRight"),
        s"unexpected nested-loop shape: $l")
    }
  }

  test("q123: hard negatives ride the IVF cell equi-join, never a cartesian over the corpus") {
    val p = plan(graft.queries.PipelineQueries.q123HardNegatives(spark, d))
    assert(p.contains("BroadcastHashJoin"),
      s"probes must broadcast into an equi-join on cell:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"the IVF path must not degrade to an all-pairs join:\n$p")
  }

  test("eval family q119-q148: the score expression never appears in a raw-row Filter (single evaluation)") {
    // The logit feeding the eval family is the full text-feature
    // pipeline. A pushed-down score filter (or the spine join's
    // null-rejecting isnotnull inference) inlines that whole tree
    // into a Filter below the projection — the score then evaluates
    // ~3× per row. The operators' layout (cheap-column raw filters,
    // census-side score exclusion, counts persisted as a fence) keeps
    // every Filter free of the feature expression; this pins it.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def filterLines(s: String): Seq[String] =
      s.linesIterator.filter(_.contains("Filter")).toSeq
    Seq(
      graft.queries.EvalQueries.q119Auc(spark, d),
      graft.queries.EvalQueries.q120Calibration(spark, d),
      graft.queries.EvalQueries.q124GroupAuc(spark, d),
      graft.queries.EvalQueries.q125GroupCalibration(spark, d),
      graft.queries.EvalQueries.q126ThresholdSweep(spark, d),
      graft.queries.EvalQueries.q127GroupThresholdSweep(spark, d),
      graft.queries.EvalQueries.q131Ap(spark, d),
      graft.queries.EvalQueries.q132GroupAp(spark, d),
      // q133 is excluded: its keep-list input is the dedup pipeline,
      // whose scans carry CHEAP regex shingle filters by design
      // (measured not worth fencing — see the verify notes)
      graft.queries.EvalQueries.q134AucBootstrap(spark, d),
      graft.queries.EvalQueries.q137BrierDecomposition(spark, d),
      graft.queries.EvalQueries.q139LengthCorrelation(spark, d),
      graft.queries.EvalQueries.q144Ks(spark, d),
      graft.queries.EvalQueries.q146RankSum(spark, d),
      graft.queries.EvalQueries.q147GroupKs(spark, d),
      graft.queries.EvalQueries.q148GroupRankSum(spark, d)
    ).foreach { df =>
      val qe = df.queryExecution
      // the census/counts hide inside InMemoryRelation cache
      // boundaries — check those plans too, it is exactly where the
      // raw scan lives
      val cached = qe.optimizedPlan.collect {
        case imr: InMemoryRelation => imr.cachedPlan.toString
      }
      (filterLines(qe.optimizedPlan.toString) ++ cached.flatMap(filterLines))
        .foreach { line =>
          assert(!line.contains("regexp_extract_all"),
            s"score/feature expression leaked into a raw-row Filter:\n$line")
        }
    }
  }

  test("q141: sketch comparison is a broadcast join over group-scale sketches, never a cartesian") {
    val p = plan(graft.queries.ExtensionQueries.q141SourceOverlap(spark, d))
    // the inequality pair join must ride the broadcast sketch table
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"pair comparison must broadcast the group-scale sketch side:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the matrix must never degrade to a shuffled cartesian:\n$p")
  }

  test("q149/q150 timelines: every KS window is pair-partitioned; q150 needs no window at all") {
    // the KS timeline's windows must all be (pair[, cell])-partitioned
    // — an unpartitioned window would funnel the pair census through
    // one task; the chi-square timeline is window-free by design.
    val ks = plan(graft.queries.TemporalQueries.q149KsTimeline(spark, d))
    val specs = "windowspecdefinition\\(([^,)]*)".r.findAllMatchIn(ks).toSeq
    assert(specs.nonEmpty, s"expected window specs in the KS timeline:\n$ks")
    specs.foreach { m =>
      assert(m.group(1).startsWith("_p#"),
        s"window not partitioned by the pair key: ${m.matched}")
    }
    val cat = plan(graft.queries.TemporalQueries.q150CatTimeline(spark, d))
    assert(!cat.contains("windowspecdefinition"),
      s"the categorical timeline needs no ordering, so no window:\n$cat")
  }

  test("no scala UDFs anywhere in the query surface") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val p = plan(fn(spark, d))
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        s"$name must stay UDF-free")
    }
  }

  test("q169: no feature expression in any raw-row Filter (single evaluation)") {
    // the NaN guard lives inside the projected expression and NULL
    // exclusion inside the aggregate — a raw filter on the derived
    // logit would inline the whole feature tree into the scan Filter
    // and evaluate it twice per row (caught and fixed in-plan, r11)
    val q = graft.queries.EvalQueries.queries("q169_mean_diff_z")(spark, d)
    val filters = q.queryExecution.optimizedPlan.toString
      .split("\n").filter(_.contains("Filter"))
    assert(filters.nonEmpty)
    assert(!filters.exists(_.contains("text#")),
      "a Filter references the raw text column: the quality-feature " +
        "tree was inlined into a raw-row filter (double evaluation)")
  }

  test("q164/q176: exact-Kendall refinement joins are equi-joins, never nested loops") {
    for (name <- Seq("q164_exact_kendall", "q176_group_exact_kendall")) {
      val p = plan(graft.queries.EvalQueries.queries(name)(spark, d))
      assert(!p.contains("CartesianProduct"),
        s"$name: a pair-refinement join became a cartesian product")
      // BNLJ is fine ONLY as the broadcast 1-row Cross combiner of
      // the summary aggregates; a refinement join that lost its cell
      // equi-key would plan as a CONDITIONED Inner BNLJ
      val badBnlj = p.split("\n").filter(_.contains("BroadcastNestedLoopJoin"))
        .filterNot(_.contains("Cross"))
      assert(badBnlj.isEmpty,
        s"$name: non-Cross nested-loop join — a cell equi-key was lost:\n" +
          badBnlj.mkString("\n"))
    }
  }

  test("token family: no BPE/LM expression in any raw-row Filter (single evaluation)") {
    // the InferFiltersFromGenerate / derived-column-filter traps would
    // inline the whole tokenizer into the scan Filter — 2x per-row
    // tokenization with zero correctness signal. Optimized-plan pin:
    // Filters may gate only cheap source columns.
    for (name <- Seq("q187_bpe_vocab_census", "q194_source_entropy",
        "q181_bpe_token_stats", "q193_token_mixture_plan")) {
      val p = SparkEntry.queries(name)(spark, d)
        .queryExecution.optimizedPlan.toString
      val filterLines = p.split("\n").filter(_.trim.matches("^\\+?-? ?Filter .*|.*\\+- Filter .*"))
      val bad = filterLines.filter(l =>
        l.toLowerCase.contains("bpetoken") || l.toLowerCase.contains("lmscore"))
      assert(bad.isEmpty,
        s"$name: tokenizer expression inlined into a raw Filter:\n${bad.mkString("\n")}")
    }
    // q190 rides its fixture: the sweep's plan must not contain the
    // LM training pipeline (the fixture-amortization pin)
    val p190 = SparkEntry.queries("q190_lm_gate_sweep")(spark, d)
      .queryExecution.optimizedPlan.toString.toLowerCase
    assert(!p190.contains("posexplode") && !p190.contains("log2fp"),
      "q190 must read the materialized q185 scores, not retrain the LM")
  }

  test("broadcast screen: the corpus is scanned, never shuffled or sort-merge joined") {
    // The r17 scale fix's structural pin: when the increment fits the
    // broadcast gate, every corpus touch in the incremental screen is
    // a broadcast-probe scan. The only exchanges allowed are over the
    // CANDIDATE sets (keyed id_a/id_b — increment-scale by design);
    // an exchange keyed any other way, or any SortMergeJoin, means
    // someone re-introduced a corpus shuffle.
    import graft.operators.Dedup
    import org.apache.spark.sql.functions.col
    val corpus = Tables.documents(spark, d).limit(400)
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 10 =!= 0)
    val corpusSigs = Dedup.minhashSignaturesPortable(
      corpus, "doc_id", "text", n = 4, numHashes = 64, words = true)
    val banded = Dedup.bandedSignatures(corpusSigs, 64, 16, portable = true)
    val inc = Tables.documents(spark, d).limit(400)
      .select(col("doc_id"), col("text")).filter(col("doc_id") % 10 === 0)
    val (kept, sigs) = Dedup.dropNearDuplicatesAgainstBanded(
      corpusSigs, banded, inc, "doc_id", "text",
      n = 4, numHashes = 64, bands = 16, threshold = 0.8,
      portable = true, words = true)
    val p = kept.queryExecution.executedPlan.toString
    sigs.unpersist()
    assert(!p.contains("SortMergeJoin"),
      s"no corpus sort-merge join in the broadcast screen:\n$p")
    assert(p.split("BroadcastHashJoin").length - 1 >= 3,
      s"band probe, sig fetch, and anti-join must all broadcast:\n$p")
    val exchanges = p.split("\n").filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.forall(l => l.contains("id_a")),
      s"every exchange must be candidate-keyed (id_a...), got:\n${exchanges.mkString("\n")}")
  }
}
