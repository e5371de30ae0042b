package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Evaluation, Sampling, Dedup, Similarity}

class EvaluationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---------------- aucExact ----------------

  test("aucExact matches the hand-computed Mann-Whitney value with tie midranks") {
    // scores: pos at 3.0, 2.0, 1.0(x1); neg at 2.0, 0.5, 0.0
    // pairs P*N = 9: pos3.0 beats all 3; pos2.0 beats 2, ties 1 (0.5);
    // pos1.0 beats 2 -> U = 3 + 2.5 + 2 = 7.5, AUC = 7.5/9
    val df = Seq(
      (3.0, true), (2.0, true), (1.0, true),
      (2.0, false), (0.5, false), (0.0, false)).toDF("s", "y")
    val r = Evaluation.aucExact(df, $"s", $"y").head()
    assert(r.getAs[Long]("n_pos") == 3L && r.getAs[Long]("n_neg") == 3L)
    assert(r.getAs[Long]("n_distinct_scores") == 5L)
    assert(r.getAs[Double]("auc") == 7.5 / 9.0)
  }

  test("rankedMass direct-window path is bit-identical to the cell path (solo and grouped)") {
    // the r21 cardinality-adaptive direct prefix must produce the same
    // (_v, _cumNeg) rows as the cell/offset machinery — force each
    // path via directWindowRows (Long.MaxValue = direct, 0 = cell).
    // The descending AP census (_cumPos, _cumN) rides the same check.
    val rnd = new scala.util.Random(53)
    val nn = (1 to 400).map { i =>
      val pos = i % 3 == 0
      (s"g${i % 4}", math.rint(rnd.nextGaussian() * 16) / 16,
        if (pos) 1L else 0L, if (pos) 0L else 1L)
    }.toDF("_g", "_v", "_pw", "_nw")
    val scored = nn.select($"_g".as("g"), $"_v".as("s"), ($"_pw" === 1L).as("y"))
    def rows(direct: Long, grouped: Boolean, desc: Boolean) = {
      val ranked =
        if (desc)
          Evaluation.descRankedCensus(scored, if (grouped) Some($"g") else None,
            $"s", $"y", 4096, 1L << 22, direct).get._1
        else
          Evaluation.rankedMass(if (grouped) nn else nn.drop("_g"), grouped, 4096,
            1L << 22, direct).get._1
      val prefixes = if (desc) Seq("_cumPos", "_cumN") else Seq("_cumNeg")
      val cols = (if (grouped) Seq("_g", "_v") else Seq("_v")) ++ prefixes
      ranked.select(cols.map(col): _*)
    }
    for (grouped <- Seq(false, true); desc <- Seq(false, true)) {
      val d = rows(Long.MaxValue, grouped, desc)
      val c = rows(0L, grouped, desc)
      assert(d.exceptAll(c).count() == 0 && c.exceptAll(d).count() == 0,
        s"grouped=$grouped desc=$desc")
      assert(d.count() == c.count())
    }
  }

  test("aucExact: perfect separation gives 1.0, inverted gives 0.0, identical scores 0.5") {
    def auc(rows: Seq[(Double, Boolean)]): Double =
      Evaluation.aucExact(rows.toDF("s", "y"), $"s", $"y")
        .head().getAs[Double]("auc")
    assert(auc(Seq((2.0, true), (3.0, true), (0.0, false), (1.0, false))) == 1.0)
    assert(auc(Seq((0.0, true), (1.0, true), (2.0, false), (3.0, false))) == 0.0)
    // all scores equal: every pos half-ties every neg
    assert(auc(Seq((1.0, true), (1.0, true), (1.0, false))) == 0.5)
  }

  test("aucExact: single-class and empty inputs return NULL auc, not 0.5") {
    val onlyPos = Seq((1.0, true), (2.0, true)).toDF("s", "y")
    val r = Evaluation.aucExact(onlyPos, $"s", $"y").head()
    assert(r.getAs[Long]("n_pos") == 2L && r.getAs[Long]("n_neg") == 0L)
    assert(r.isNullAt(r.fieldIndex("auc")))
    val empty = Seq.empty[(Double, Boolean)].toDF("s", "y")
    val e = Evaluation.aucExact(empty, $"s", $"y").head()
    assert(e.getAs[Long]("n_pos") == 0L && e.isNullAt(e.fieldIndex("auc")))
  }

  test("aucExact: NaN/null scores and null labels are excluded, not ranked") {
    val df = Seq(
      (Some(3.0), Some(true)), (Some(0.0), Some(false)),
      (Some(Double.NaN), Some(true)), (None, Some(false)),
      (Some(9.9), None)).toDF("s", "y")
    val r = Evaluation.aucExact(df, $"s", $"y").head()
    assert(r.getAs[Long]("n_pos") == 1L && r.getAs[Long]("n_neg") == 1L)
    assert(r.getAs[Double]("auc") == 1.0)
  }

  test("aucExact is partitioning-independent (cell machinery == naive rank sum)") {
    // 200 rows, heavy ties, across several cells and partitions
    val rows = (0 until 200).map(i => ((i % 17).toDouble, i % 3 == 0))
    val few = Evaluation.aucExact(
      rows.toDF("s", "y").repartition(1), $"s", $"y", cells = 2).head()
    val many = Evaluation.aucExact(
      rows.toDF("s", "y").repartition(7), $"s", $"y", cells = 64).head()
    assert(few.getAs[Double]("auc") == many.getAs[Double]("auc"))
    // naive reference: midrank sum over positives
    val sorted = rows.map(_._1).sorted
    val rank = sorted.zipWithIndex.groupBy(_._1)
      .map { case (v, g) => v -> g.map(_._2 + 1).sum.toDouble / g.size }
    val pos = rows.filter(_._2).map(_._1)
    val u = pos.map(rank).sum - pos.size * (pos.size + 1) / 2.0
    val expected = u / (pos.size.toDouble * (rows.size - pos.size))
    assert(math.abs(few.getAs[Double]("auc") - expected) < 1e-12)
  }

  test("aucExactBy: per-group AUC equals aucExact run on each group alone; partition-independent") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"source", $"n_chars".cast("double").as("s"), ($"lang" === "en").as("y"))
    val grouped = Evaluation.aucExactBy(docs, $"source", $"s", $"y", cells = 8)
      .collect().map(r => r.getAs[String]("group_key") ->
        (r.getAs[Long]("n_pos"), r.getAs[Long]("n_neg"),
         Option(r.getAs[java.lang.Double]("auc")))).toMap
    val sources = docs.select("source").distinct().collect().map(_.getString(0))
    assert(grouped.keySet == sources.toSet)
    sources.foreach { src =>
      val solo = Evaluation.aucExact(
        docs.filter($"source" === src), $"s", $"y", cells = 3).head()
      val (np, nn2, auc) = grouped(src)
      assert(np == solo.getAs[Long]("n_pos") && nn2 == solo.getAs[Long]("n_neg"))
      assert(auc == Option(solo.getAs[java.lang.Double]("auc")),
        s"group $src AUC must equal the solo computation")
    }
    val repart = Evaluation.aucExactBy(docs.repartition(7), $"source", $"s", $"y", cells = 64)
      .collect().map(r => r.getAs[String]("group_key") ->
        Option(r.getAs[java.lang.Double]("auc"))).toMap
    assert(repart == grouped.map { case (k, (_, _, a)) => k -> a })
  }

  test("aucExactBy: past the broadcast row limit the offsets join degrades to a shuffle, results unchanged") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"source", $"n_chars".cast("double").as("s"), ($"lang" === "en").as("y"))
    // disable size-based auto-broadcast so the plans show exactly what
    // the HINT contributes: on sf-test data the offsets table is tiny
    // and Spark's own statistics would (correctly) broadcast it anyway
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // directWindowRows = 0 forces the CELL path (the offsets join
      // under test only exists there; the small-census direct path has
      // no offsets join at all)
      val hinted = Evaluation.aucExactBy(docs, $"source", $"s", $"y", cells = 8,
        directWindowRows = 0L)
      // limit 0 simulates a group column too wide to broadcast
      val adaptive = Evaluation.aucExactBy(docs, $"source", $"s", $"y",
        cells = 8, broadcastRowLimit = 0L, directWindowRows = 0L)
      val pPlan = hinted.queryExecution.executedPlan.toString
      val aPlan = adaptive.queryExecution.executedPlan.toString
      assert(pPlan.contains("BroadcastHashJoin"),
        "under the limit the offsets join must broadcast via the hint")
      assert(!aPlan.contains("BroadcastHashJoin"),
        s"past the limit no broadcast hint may survive:\n$aPlan")
      assert(aPlan.contains("SortMergeJoin") || aPlan.contains("ShuffledHashJoin"),
        s"the offsets join must degrade to a shuffled join:\n$aPlan")
      assert(adaptive.exceptAll(hinted).count() == 0 &&
        hinted.exceptAll(adaptive).count() == 0,
        "the join strategy must not change a single output row")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("calibrationReportBy: every group has all bands; counts equal the solo report") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"source", $"n_chars".cast("double").as("s"), ($"lang" === "en").as("y"))
    val by = Evaluation.calibrationReportBy(docs, $"source", $"s", $"y",
      lo = 0.0, hi = 800.0, bins = 8).collect()
    val sources = docs.select("source").distinct().collect().map(_.getString(0))
    assert(by.length == sources.length * 8)
    sources.foreach { src =>
      val mine = by.filter(_.getAs[String]("group_key") == src)
        .map(r => r.getAs[Long]("band") -> (r.getAs[Long]("n"), r.getAs[Long]("n_pos"))).toMap
      val solo = Evaluation.calibrationReport(
        docs.filter($"source" === src), $"s", $"y", lo = 0.0, hi = 800.0, bins = 8)
        .collect()
        .map(r => r.getAs[Long]("band") -> (r.getAs[Long]("n"), r.getAs[Long]("n_pos"))).toMap
      assert(mine == solo, s"group $src bands must equal the solo report")
    }
  }

  // ---------------- calibrationReport ----------------

  test("calibrationReport: hand-checked bands, edge clamp, empty bands present") {
    val df = Seq(
      (-10.0, false),         // clamps to band 0
      (0.1, false), (0.3, true), // band 0 of [0,1)x4? -> with lo=0,hi=2,bins=4: band 0
      (0.6, true), (0.9, true),  // band 1
      (1.7, false),              // band 3
      (99.0, true)).toDF("s", "y") // clamps to band 3
    val r = Evaluation.calibrationReport(df, $"s", $"y", lo = 0.0, hi = 2.0, bins = 4)
      .orderBy("band").collect()
    assert(r.length == 4)
    assert(r(0).getAs[Long]("n") == 3L && r(0).getAs[Long]("n_pos") == 1L)
    assert(r(1).getAs[Long]("n") == 2L && r(1).getAs[Long]("n_pos") == 2L)
    assert(r(2).getAs[Long]("n") == 0L && r(2).isNullAt(r(2).fieldIndex("pos_rate")))
    assert(r(3).getAs[Long]("n") == 2L && r(3).getAs[Long]("n_pos") == 1L)
    assert(r(1).getAs[Double]("pos_rate") == 1.0)
    assert(r(0).getAs[Double]("lo") == 0.0 && r(3).getAs[Double]("hi") == 2.0)
  }

  test("thresholdSweep: hand-checked confusion counts, clamp keeps low scores at band 0, F1 argmax") {
    // lo=0, hi=2, bins=4 -> thresholds 0, 0.5, 1.0, 1.5
    val df = Seq(
      (-5.0, false),          // clamps to band 0: kept only at the band-0 threshold
      (0.2, false), (0.4, true),   // band 0
      (0.7, true), (0.9, true),    // band 1
      (1.2, false),                // band 2
      (1.8, true), (9.9, true)     // band 3 (9.9 clamps down)
    ).toDF("s", "y")
    val r = Evaluation.thresholdSweep(df, $"s", $"y", lo = 0.0, hi = 2.0, bins = 4)
      .orderBy("band").collect()
    assert(r.length == 4)
    // band 0: everything kept -> tp = all 5 positives, fp = all 3 negatives
    assert(r(0).getAs[Long]("tp") == 5L && r(0).getAs[Long]("fp") == 3L)
    assert(r(0).getAs[Long]("fn") == 0L && r(0).getAs[Long]("tn") == 0L)
    assert(r(0).getAs[Double]("recall") == 1.0)
    // band 1 (t=0.5): drops the 3 band-0 rows (1 pos, 2 neg incl. clamp)
    assert(r(1).getAs[Long]("tp") == 4L && r(1).getAs[Long]("fp") == 1L)
    assert(r(1).getAs[Long]("fn") == 1L && r(1).getAs[Long]("tn") == 2L)
    assert(r(1).getAs[Double]("precision") == 4.0 / 5.0)
    // band 3 (t=1.5): keeps only the two band-3 positives
    assert(r(3).getAs[Long]("tp") == 2L && r(3).getAs[Long]("fp") == 0L)
    assert(r(3).getAs[Double]("precision") == 1.0)
    assert(r(3).getAs[Double]("recall") == 2.0 / 5.0)
    // identities hold on every row
    r.foreach { row =>
      assert(row.getAs[Long]("tp") + row.getAs[Long]("fn") == 5L)
      assert(row.getAs[Long]("fp") + row.getAs[Long]("tn") == 3L)
    }
    // F1 = harmonic mean, spot-checked at band 1
    val (p1, rc1) = (4.0 / 5.0, 4.0 / 5.0)
    assert(math.abs(r(1).getAs[Double]("f1") - 2 * p1 * rc1 / (p1 + rc1)) < 1e-15)
  }

  test("thresholdSweep: null/NaN scores and null labels are excluded; empty input gives all-zero bands") {
    val df = Seq(
      (Some(0.5), Some(true)),
      (None, Some(true)),                      // null score dropped
      (Some(Double.NaN), Some(false)),         // NaN score dropped
      (Some(0.7), None)                        // null label dropped
    ).toDF("s", "y")
    val r = Evaluation.thresholdSweep(df, $"s", $"y", lo = 0.0, hi = 1.0, bins = 2)
      .orderBy("band").collect()
    assert(r.map(_.getAs[Long]("tp")).toSeq == Seq(1L, 1L))
    assert(r.map(_.getAs[Long]("fp")).toSeq == Seq(0L, 0L))
    val empty = Evaluation.thresholdSweep(
      Seq.empty[(Double, Boolean)].toDF("s", "y"), $"s", $"y", 0.0, 1.0, 2)
      .collect()
    assert(empty.length == 2)
    assert(empty.forall(row => row.getAs[Long]("tp") == 0L &&
      row.getAs[Long]("tn") == 0L && row.isNullAt(row.fieldIndex("precision"))))
  }

  test("thresholdSweepBy: per-group sweep equals thresholdSweep run on each group alone") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select($"source", $"n_chars".cast("double").as("s"), ($"lang" === "en").as("y"))
    val by = Evaluation.thresholdSweepBy(docs, $"source", $"s", $"y",
      lo = 0.0, hi = 800.0, bins = 8).collect()
    val sources = docs.select("source").distinct().collect().map(_.getString(0))
    assert(by.length == sources.length * 8)
    sources.foreach { src =>
      val mine = by.filter(_.getAs[String]("group_key") == src)
        .map(r => r.getAs[Long]("band") ->
          (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
           r.getAs[Long]("fn"), r.getAs[Long]("tn"))).toMap
      val solo = Evaluation.thresholdSweep(
        docs.filter($"source" === src), $"s", $"y", lo = 0.0, hi = 800.0, bins = 8)
        .collect()
        .map(r => r.getAs[Long]("band") ->
          (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
           r.getAs[Long]("fn"), r.getAs[Long]("tn"))).toMap
      assert(mine == solo, s"group $src sweep must equal the solo sweep")
    }
  }

  test("applyOperatingPoints: elects the F1-max threshold per group and executes the true gate") {
    // group A: positives at high scores -> F1-max at t=1.0 (band 2)
    //   scores: (0.2,F) (0.7,F) (1.2,T) (1.7,T); at t=1.0 tp=2 fp=0 -> F1=1.0
    // group B: all positive -> every kept-nonzero band has precision 1,
    //   recall max at band 0 -> F1-max at t=0.0
    val df = Seq(
      ("A", 0.2, false), ("A", 0.7, false), ("A", 1.2, true), ("A", 1.7, true),
      ("B", 0.3, true), ("B", 1.9, true)
    ).toDF("g", "s", "y")
    val sweep = Evaluation.thresholdSweepBy(df, $"g", $"s", $"y",
      lo = 0.0, hi = 2.0, bins = 4).persist()
    // apply over a frame with extra rows the sweep never saw: a NaN
    // score (never passes the gate) and a group absent from the sweep
    val applyTo = df.unionByName(Seq(
      ("A", Double.NaN, false), ("C", 5.0, true)).toDF("g", "s", "y"))
    val r = Evaluation.applyOperatingPoints(applyTo, $"g", $"s", sweep)
      .collect().map(x => x.getAs[String]("group_key") ->
        (x.getAs[Double]("threshold"), x.getAs[Long]("n_total"),
         x.getAs[Long]("n_kept"), x.getAs[Long]("n_dropped"),
         x.getAs[Double]("kept_frac"))).toMap
    assert(r.keySet == Set("A", "B"), "no operating point for unseen group C")
    assert(r("A") == (1.0, 5L, 2L, 3L, 0.4),
      s"A gates at its F1-max 1.0; NaN never passes: ${r("A")}")
    assert(r("B") == (0.0, 2L, 2L, 0L, 1.0),
      s"B keeps everything at its F1-max 0.0: ${r("B")}")
    sweep.unpersist()
  }

  // ---------------- negativePairs ----------------

  test("negativePairs: k non-self draws per anchor, all from the corpus, reproducible") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val n = docs.count()
    val pairs = Sampling.negativePairs(docs, "doc_id", k = 4)
    val byAnchor = pairs.groupBy("anchor_id").count().collect()
    assert(byAnchor.length == n)                      // every anchor drew
    assert(byAnchor.forall(_.getLong(1) <= 4))        // ≤ k (self-collisions drop)
    assert(pairs.filter($"anchor_id" === $"neg_id").count() == 0)
    // negatives are real corpus rows
    assert(pairs.join(docs, pairs("neg_id") === docs("doc_id"), "left_anti").count() == 0)
    val again = Sampling.negativePairs(docs.repartition(5), "doc_id", k = 4)
    assert(pairs.exceptAll(again).count() == 0 && again.exceptAll(pairs).count() == 0)
  }

  test("negativePairs: string ids get k negatives per anchor via the id-order dense index") {
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(concat(lit("doc_"), lpad($"doc_id".cast("string"), 6, "0")).as("sid"))
    val n = docs.count()
    val pairs = Sampling.negativePairs(docs, "sid", k = 3)
    val byAnchor = pairs.groupBy("anchor_id").count().collect()
    assert(byAnchor.length == n, "every string-id anchor must draw (was: silently empty)")
    assert(byAnchor.forall(_.getLong(1) <= 3))
    assert(pairs.filter($"anchor_id" === $"neg_id").count() == 0)
    // the dense index must equal row_number() OVER (ORDER BY sid):
    // replay one anchor's draws against a driver-side naive index
    val idsSorted = docs.collect().map(_.getString(0)).sorted
    val anchor = idsSorted.head
    val got = pairs.filter($"anchor_id" === anchor)
      .orderBy("draw").collect().map(r => (r.getLong(1), r.getString(2)))
    val expect = (0L until 3L).map { j =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$anchor:$j".getBytes("UTF-8"))
      val hex = h.map("%02x".format(_)).mkString.take(15)
      (j, idsSorted((java.lang.Long.parseLong(hex, 16) % n).toInt))
    }.filter(_._2 != anchor)
    assert(got.toSeq == expect)
  }

  test("negativePairs: date and timestamp_ntz ids plan and draw (no AnalysisException)") {
    // DATE -> DOUBLE and TIMESTAMP_NTZ -> DOUBLE are not castable in Spark;
    // the order-key must route through datediff / a TIMESTAMP hop instead.
    val dates = Tables.documents(spark, TestSpark.sf)
      .select(date_add(lit("2020-01-01").cast("date"), $"doc_id".cast("int")).as("did"))
    val n = dates.count()
    val datePairs = Sampling.negativePairs(dates, "did", k = 2)
    assert(datePairs.groupBy("anchor_id").count().count() == n,
      "every date-id anchor must draw")
    assert(datePairs.filter($"anchor_id" === $"neg_id").count() == 0)
    // negatives are real corpus rows (the old cast produced all-null cells
    // for un-castable types, which would silently empty this join)
    assert(datePairs.join(dates, datePairs("neg_id") === dates("did"),
      "left_anti").count() == 0)

    val ntz = Tables.documents(spark, TestSpark.sf)
      .select(timestamp_seconds($"doc_id" * 60).cast("timestamp_ntz").as("tid"))
    val ntzPairs = Sampling.negativePairs(ntz, "tid", k = 2)
    assert(ntzPairs.groupBy("anchor_id").count().count() == n,
      "every timestamp_ntz-id anchor must draw")
    assert(ntzPairs.filter($"anchor_id" === $"neg_id").count() == 0)
  }

  test("negativePairs: unsupported id type is rejected loudly, not silently empty") {
    val weird = Seq((Array(1.0, 2.0), 1)).toDF("v", "x")
    val e = intercept[IllegalArgumentException] {
      Sampling.negativePairs(weird, "v", k = 2)
    }
    assert(e.getMessage.contains("unsupported id type"))
  }

  test("negativePairs: salt re-draws; draws are near-uniform over the corpus") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val a = Sampling.negativePairs(docs, "doc_id", k = 2)
    val b = Sampling.negativePairs(docs, "doc_id", k = 2, salt = "#epoch2")
    assert(a.exceptAll(b).count() > 0, "salted epoch must draw different negatives")
    // uniformity smoke test: no corpus row hogs the draws
    val maxHit = a.groupBy("neg_id").count().agg(max("count")).head().getLong(0)
    assert(maxHit <= 12, s"uniform draws should not concentrate, max=$maxHit")
  }

  // ---------------- ngramContainmentPairs ----------------

  test("containment catches an excerpt pair Jaccard misses; values are exact") {
    val long =
      "the quick brown fox jumps over the lazy dog while seventeen astronauts " +
        "practice orbital mechanics and the committee debates parquet encodings " +
        "at length with citations and appendices"
    val short = "seventeen astronauts practice orbital mechanics"
    val docs = Seq((1L, long), (2L, short), (3L, "completely unrelated zebra text"))
      .toDF("doc_id", "text")
    val pairs = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.8, maxDfFraction = None).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("id_a") == 1L && p.getAs[Long]("id_b") == 2L)
    // the short side is (near-)contained; naive recompute must agree exactly
    def shingles(s: String): Set[String] =
      if (s.length <= 3) Set(s) else (0 to s.length - 3).map(i => s.substring(i, i + 3)).toSet
    val (sa, sb) = (shingles(long), shingles(short))
    val inter = (sa intersect sb).size.toDouble
    assert(p.getAs[Double]("containment_a_in_b") == inter / sa.size)
    assert(p.getAs[Double]("containment_b_in_a") == inter / sb.size)
    assert(p.getAs[Double]("containment_b_in_a") >= 0.8)
    // and Jaccard would NOT have flagged it at the same bar
    assert(inter / (sa ++ sb).size < 0.8)
  }

  test("containment prefix+DF-cap path equals the uncapped naive pair set on the corpus") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(120)
    val got = Dedup.ngramContainmentPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.62, maxDfFraction = None)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // naive reference over the same shingle universe
    val sets = docs.select($"doc_id", $"text").collect().map { r =>
      val t = r.getString(1)
      val sh =
        if (t.length <= 3) Set(t)
        else (0 to t.length - 3).map(i => t.substring(i, i + 3)).toSet
      r.getLong(0) -> sh
    }
    val expect = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa intersect sb).size.toDouble
      if inter / math.min(sa.size, sb.size) >= 0.62
    } yield (ia, ib)).toSet
    assert(got == expect)
  }

  test("word-shingle containment catches the excerpt pair at the q122 parameters") {
    val long =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val short = "zeta eta theta iota kappa lambda mu nu"
    val docs = Seq((1L, long), (2L, short), (3L, "one two three four five six seven"))
      .toDF("doc_id", "text")
    // no DF cap at 3 docs: the q122 cap (0.4·N) would drop every
    // df=2 shingle below N=5 — the cap is a corpus-scale backstop
    val pairs = Dedup.wordShingleContainmentPairs(docs, "doc_id", "text",
      n = 4, threshold = 0.62, maxDfFraction = None).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("id_a") == 1L && p.getAs[Long]("id_b") == 2L)
    // exact values: the short doc's 5 word-4-shingles are all inside
    // the long doc's 17
    assert(p.getAs[Double]("containment_b_in_a") == 1.0)
    assert(p.getAs[Double]("containment_a_in_b") == 5.0 / 17.0)
  }

  test("word-shingle containment prefix+positional path equals the naive pair set on the corpus") {
    val docs = Tables.documents(spark, TestSpark.sf).limit(120)
    val got = Dedup.wordShingleContainmentPairs(docs, "doc_id", "text",
      n = 4, threshold = 0.62, maxDfFraction = None)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = docs.select($"doc_id", $"text").collect().map { r =>
      val ws = r.getString(1).split(" ").filter(_.nonEmpty)
      val sh = if (ws.length < 4) Set.empty[String]
        else ws.sliding(4).map(_.mkString(" ")).toSet
      r.getLong(0) -> sh
    }.filter(_._2.nonEmpty)
    val expect = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa intersect sb).size.toDouble
      if inter / math.min(sa.size, sb.size) >= 0.62
    } yield (ia, ib)).toSet
    assert(got == expect)
  }

  // ---------------- hardNegativesIvf ----------------

  test("hard negatives: every slot is a different-label neighbor, k per query, full-probe == brute-filtered") {
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val queries = emb.filter($"vec_id" % 20 === 0)
    val corpus = emb.filter($"vec_id" % 20 =!= 0)
    val hard = Similarity.hardNegativesIvf(queries, corpus,
      "vec_id", "embedding", "label", k = 3, nlist = 8, nprobe = 8)
    val rows = hard.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Int]("query_label") != r.getAs[Int]("neighbor_label")))
    val perQuery = hard.groupBy("query_id").count().collect()
    assert(perQuery.forall(_.getLong(1) <= 3))
    // nprobe == nlist probes every cell -> identical to brute filtered top-k
    val brute = Similarity.annJoinBrute(
        queries.withColumnRenamed("label", "_ql"), corpus, "vec_id", "embedding",
        k = Int.MaxValue) // all scored pairs, we re-rank after the label filter
      .join(queries.select($"vec_id".as("query_id"), $"label".as("_qlab")), "query_id")
      .join(corpus.select($"vec_id".as("neighbor_id"), $"label".as("_nlab")),
        "neighbor_id")
      .filter($"_qlab" =!= $"_nlab")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy($"cosine".desc, $"neighbor_id".asc)
    val bruteTop = brute.withColumn("rank", row_number().over(w)).filter($"rank" <= 3)
      .select($"query_id", $"neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hardSet = rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(hardSet == bruteTop)
  }

  // ---------------- averagePrecisionExact ----------------

  test("averagePrecisionExact matches the hand-computed step-wise AP with block ties") {
    // same eval set as the AUC hand-check: pos at 3.0, 2.0, 1.0; neg
    // at 2.0, 0.5, 0.0. Distinct scores DESC:
    //   3.0: pos=1 cumPos=1 cumN=1 prec=1
    //   2.0: pos=1 cumPos=2 cumN=3 prec=2/3
    //   1.0: pos=1 cumPos=3 cumN=4 prec=3/4
    // prec quantized by floor(cumPos*1e12/cumN):
    //   1e12, 666666666666, 750000000000 -> num = 2416666666666
    val df = Seq(
      (3.0, true), (2.0, true), (1.0, true),
      (2.0, false), (0.5, false), (0.0, false)).toDF("s", "y")
    val r = Evaluation.averagePrecisionExact(df, $"s", $"y").head()
    assert(r.getAs[Long]("n_pos") == 3L && r.getAs[Long]("n_neg") == 3L)
    assert(r.getAs[Long]("n_distinct_scores") == 5L)
    assert(r.getAs[Double]("ap") == 2416666666666.0 / 3.0e12)
    // and the quantized value sits within 1e-12 of the true 29/36
    assert(math.abs(r.getAs[Double]("ap") - 29.0 / 36.0) < 1e-12)
  }

  test("averagePrecisionExact: perfect ranking gives exactly 1.0; positives-last gives P/N-shaped collapse") {
    def ap(rows: Seq[(Double, Boolean)]): Double =
      Evaluation.averagePrecisionExact(rows.toDF("s", "y"), $"s", $"y")
        .head().getAs[Double]("ap")
    // every prefix above the last positive is pure positive: prec == 1
    // at every positive block, quantization exact
    assert(ap(Seq((3.0, true), (2.0, true), (1.0, false), (0.0, false))) == 1.0)
    // single positive ranked last of 3: prec = 1/3 -> floor(1e12/3)
    assert(ap(Seq((0.0, true), (1.0, false), (2.0, false)))
      == 333333333333.0 / 1.0e12)
  }

  test("averagePrecisionExact: no positives or empty input give NULL ap, not 0") {
    val onlyNeg = Seq((1.0, false), (2.0, false)).toDF("s", "y")
    val r = Evaluation.averagePrecisionExact(onlyNeg, $"s", $"y").head()
    assert(r.getAs[Long]("n_pos") == 0L && r.getAs[Long]("n_neg") == 2L)
    assert(r.isNullAt(r.fieldIndex("ap")))
    val empty = Seq.empty[(Double, Boolean)].toDF("s", "y")
    val e = Evaluation.averagePrecisionExact(empty, $"s", $"y").head()
    assert(e.getAs[Long]("n_pos") == 0L && e.isNullAt(e.fieldIndex("ap")))
    // all-positive degenerate case: prec == 1 at every block -> AP 1
    val onlyPos = Seq((1.0, true), (2.0, true)).toDF("s", "y")
    assert(Evaluation.averagePrecisionExact(onlyPos, $"s", $"y")
      .head().getAs[Double]("ap") == 1.0)
  }

  test("averagePrecisionExact: NaN/null scores and null labels are excluded") {
    val df = Seq(
      (Some(3.0), Some(true)), (Some(0.0), Some(false)),
      (Some(Double.NaN), Some(true)), (None, Some(false)),
      (Some(9.9), None)).toDF("s", "y")
    val r = Evaluation.averagePrecisionExact(df, $"s", $"y").head()
    assert(r.getAs[Long]("n_pos") == 1L && r.getAs[Long]("n_neg") == 1L)
    assert(r.getAs[Double]("ap") == 1.0)
  }

  test("averagePrecisionExact is partitioning- and cell-count-independent, and tracks the naive double AP") {
    val rows = (0 until 200).map(i => ((i % 17).toDouble, i % 3 == 0))
    val few = Evaluation.averagePrecisionExact(
      rows.toDF("s", "y").repartition(1), $"s", $"y", cells = 1).head()
    val many = Evaluation.averagePrecisionExact(
      rows.toDF("s", "y").repartition(13), $"s", $"y", cells = 64).head()
    assert(few.getAs[Double]("ap") == many.getAs[Double]("ap"))
    // naive single-threaded step-wise AP over distinct scores desc
    val byScore = rows.groupBy(_._1).map { case (s, g) =>
      (s, g.count(_._2).toLong, g.size.toLong) }.toSeq.sortBy(-_._1)
    val p = byScore.map(_._2).sum
    var (cumPos, cumN, num) = (0L, 0L, 0.0)
    byScore.foreach { case (_, pos, tot) =>
      cumPos += pos; cumN += tot
      num += pos.toDouble * cumPos.toDouble / cumN.toDouble
    }
    assert(math.abs(many.getAs[Double]("ap") - num / p) < 1e-9)
  }

  test("averagePrecisionBy: per-group AP equals averagePrecisionExact per group; shuffle path past the broadcast limit agrees") {
    val rows = (0 until 300).map { i =>
      (s"g${i % 3}", (i % 23).toDouble + (i % 7) * 0.1, i % 4 == 0)
    }
    val df = rows.toDF("g", "s", "y")
    val by = Evaluation.averagePrecisionBy(df, $"g", $"s", $"y", cells = 16)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(by.keySet == Set("g0", "g1", "g2"))
    for (g <- Seq("g0", "g1", "g2")) {
      val solo = Evaluation.averagePrecisionExact(
        df.filter($"g" === g), $"s", $"y", cells = 16).head()
      assert(by(g).getAs[Double]("ap") == solo.getAs[Double]("ap"), g)
      assert(by(g).getAs[Long]("n_pos") == solo.getAs[Long]("n_pos"), g)
    }
    // degrade path: a 1-row broadcast limit forces the shuffled
    // offsets join; results must be identical
    val shuffled = Evaluation.averagePrecisionBy(
      df, $"g", $"s", $"y", cells = 16, broadcastRowLimit = 1L)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("ap")).toMap
    for (g <- Seq("g0", "g1", "g2"))
      assert(shuffled(g) == by(g).getAs[Double]("ap"), g)
  }

  // ---------------- aucExactWeighted / aucBootstrap ----------------

  test("aucExactWeighted: weight w is exact row multiplicity (== aucExact on the expanded frame)") {
    val weighted = Seq(
      (3.0, true, 3L), (2.0, true, 1L), (1.0, true, 2L),
      (2.0, false, 2L), (0.5, false, 4L), (0.0, false, 1L)).toDF("s", "y", "w")
    val expanded = weighted.as[(Double, Boolean, Long)].collect()
      .flatMap { case (s, y, w) => Seq.fill(w.toInt)((s, y)) }.toSeq
      .toDF("s", "y")
    val a = Evaluation.aucExactWeighted(weighted, $"s", $"y", $"w").head()
    val b = Evaluation.aucExact(expanded, $"s", $"y").head()
    assert(a.getAs[Long]("n_pos") == b.getAs[Long]("n_pos"))
    assert(a.getAs[Long]("n_neg") == b.getAs[Long]("n_neg"))
    assert(a.getAs[Double]("auc") == b.getAs[Double]("auc"))
    // and all-ones weights reproduce the unweighted value exactly
    val ones = Evaluation.aucExactWeighted(
      weighted.withColumn("w", lit(1L)), $"s", $"y", $"w").head()
    val plain = Evaluation.aucExact(weighted, $"s", $"y").head()
    assert(ones.getAs[Double]("auc") == plain.getAs[Double]("auc"))
  }

  test("aucExactWeighted: null/zero/negative weights exclude the row") {
    val df = Seq(
      (3.0, true, Some(1L)), (0.0, false, Some(1L)),
      (9.0, false, Some(0L)), (8.0, false, Some(-2L)), (7.0, false, None))
      .toDF("s", "y", "w")
    val r = Evaluation.aucExactWeighted(df, $"s", $"y", $"w").head()
    assert(r.getAs[Long]("n_pos") == 1L && r.getAs[Long]("n_neg") == 1L)
    assert(r.getAs[Double]("auc") == 1.0)
  }

  test("aucExactWeightedBy: per-group weighted AUC equals the weighted solo per group") {
    val rows = (0 until 240).map { i =>
      (s"g${i % 2}", (i % 19).toDouble, i % 3 == 0, (i % 4 + 1).toLong)
    }
    val df = rows.toDF("g", "s", "y", "w")
    val by = Evaluation.aucExactWeightedBy(df, $"g", $"s", $"y", $"w", cells = 8)
      .collect().map(r => r.getString(0) -> r).toMap
    for (g <- Seq("g0", "g1")) {
      val solo = Evaluation.aucExactWeighted(
        df.filter($"g" === g), $"s", $"y", $"w", cells = 8).head()
      assert(by(g).getAs[Double]("auc") == solo.getAs[Double]("auc"), g)
      assert(by(g).getAs[Long]("n_pos") == solo.getAs[Long]("n_pos"), g)
    }
  }

  test("poissonOneDraw: deterministic, non-negative, mean ~1 over hash-uniform input") {
    val ids = (0 until 4000).map(i => s"row$i").toDF("id")
    val u = Sampling.hashScore($"id")
    val draws = ids.select(Evaluation.poissonOneDraw(u).as("k"))
    val again = ids.select(Evaluation.poissonOneDraw(u).as("k"))
    assert(draws.collect().map(_.getLong(0)).toSeq ==
      again.collect().map(_.getLong(0)).toSeq)
    val stats = draws.agg(avg($"k"), min($"k"), max($"k")).head()
    assert(stats.getLong(1) >= 0L)
    assert(math.abs(stats.getDouble(0) - 1.0) < 0.06,
      s"Poisson(1) mean drifted: ${stats.getDouble(0)}")
  }

  test("aucBootstrap: per-replicate AUC equals the weighted AUC of the manually-drawn resample") {
    val rows = (0 until 150).map(i => (i.toLong, (i % 13).toDouble, i % 3 == 0))
    val df = rows.toDF("id", "s", "y")
    val boot = Evaluation.aucBootstrap(df, $"id", $"s", $"y",
      replicates = 4, salt = "spec-salt")
    val got = boot.collect().map(r => r.getAs[Long]("replicate") -> r).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    // replicates are genuinely resampled: not every AUC identical
    assert(got.values.map(_.getAs[Double]("auc")).toSet.size > 1)
    // pin replicate 2 against a manual draw of the same weights
    val manual = df
      .withColumn("w", Evaluation.poissonOneDraw(Sampling.hashScore(
        concat($"id".cast("string"), lit("|2|spec-salt")))))
    val solo = Evaluation.aucExactWeighted(manual, $"s", $"y", $"w").head()
    assert(got(2L).getAs[Double]("auc") == solo.getAs[Double]("auc"))
    assert(got(2L).getAs[Long]("n_pos") == solo.getAs[Long]("n_pos"))
    // and the bootstrap is reproducible run to run
    val boot2 = Evaluation.aucBootstrap(df, $"id", $"s", $"y",
      replicates = 4, salt = "spec-salt")
      .collect().map(r => r.getAs[Long]("replicate") -> r.getAs[Double]("auc")).toMap
    assert(got.view.mapValues(_.getAs[Double]("auc")).toMap == boot2)
  }

  // ---------------- brierDecomposition ----------------

  test("brierDecomposition: hand-computed two-band fixture; identity holds") {
    // domain [0,1), bins=2 -> forecasts p0=0.25, p1=0.75
    // band0: (0.1,T),(0.2,F) -> n=2, pos=1, ybar=0.5
    // band1: (0.6,T),(0.9,T),(0.7,F) -> n=3, pos=2, ybar=2/3
    // N=5, P=3, ybar=0.6
    val df = Seq(
      (0.1, true), (0.2, false),
      (0.6, true), (0.9, true), (0.7, false)).toDF("s", "y")
    val r = Evaluation.brierDecomposition(df, $"s", $"y", 0.0, 1.0, 2).head()
    assert(r.getAs[Long]("n") == 5L && r.getAs[Long]("n_pos") == 3L)
    // brier = (1/5)[(.25-1)^2+(.25-0)^2 + 2*(.75-1)^2+(.75-0)^2] = 0.2625
    assert(math.abs(r.getAs[Double]("brier") - 0.2625) < 1e-12)
    // rel = (1/5)[2*(0.25-0.5)^2 + 3*(0.75-2/3)^2] = (0.125 + 1/48)/5
    assert(math.abs(r.getAs[Double]("reliability") - (0.125 + 1.0 / 48.0) / 5.0) < 1e-6)
    // res = (1/5)[2*(0.5-0.6)^2 + 3*(2/3-0.6)^2] = (0.02 + 1/75)/5
    assert(math.abs(r.getAs[Double]("resolution") - (0.02 + 1.0 / 75.0) / 5.0) < 1e-6)
    assert(r.getAs[Double]("uncertainty") == 0.6 * 0.4)
    // ece = (1/5)[2*|0.25-0.5| + 3*|0.75-2/3|] = 0.15 — EXACT (pure
    // integer numerator Σ|A_b| = 2+1 = 3, over 2*bins*N = 20)
    assert(r.getAs[Double]("ece") == 3.0 / 20.0)
    // Murphy identity: brier = rel - res + unc (to quantization)
    assert(math.abs(r.getAs[Double]("brier") -
      (r.getAs[Double]("reliability") - r.getAs[Double]("resolution") +
        r.getAs[Double]("uncertainty"))) < 1e-6)
  }

  test("brierDecompositionBy: per-group rows equal the solo decomposition per group") {
    val rows = (0 until 300).map { i =>
      (if (i % 3 == 0) "a" else "b", ((i * 29) % 100) / 100.0, i % 4 == 0)
    }
    val df = rows.toDF("g", "s", "y")
    val by = Evaluation.brierDecompositionBy(df, $"g", $"s", $"y", 0.0, 1.0, 8)
      .collect().map(r => r.getAs[String]("group_key") -> r).toMap
    assert(by.keySet == Set("a", "b"))
    for (g <- Seq("a", "b")) {
      val solo = Evaluation.brierDecomposition(
        df.filter($"g" === g), $"s", $"y", 0.0, 1.0, 8).head()
      val got = by(g)
      for (c <- Seq("n", "n_pos"))
        assert(got.getAs[Long](c) == solo.getAs[Long](c), s"$g.$c")
      for (c <- Seq("brier", "reliability", "resolution", "uncertainty", "ece"))
        assert(got.getAs[Double](c) == solo.getAs[Double](c), s"$g.$c")
    }
    // a group whose rows are all excluded is absent, not zero
    val withNullLabel = df.select($"g", $"s", $"y".cast("boolean").as("y"))
      .union(Seq(("c", 0.5, Option.empty[Boolean])).toDF("g", "s", "y"))
    val by2 = Evaluation.brierDecompositionBy(
      withNullLabel, $"g", $"s", $"y", 0.0, 1.0, 8)
    assert(!by2.collect().map(_.getAs[String]("group_key")).contains("c"))
  }

  test("brierDecomposition: band-exact forecasts give reliability exactly 0") {
    // band0 (p=0.25): 4 rows 1 pos; band1 (p=0.75): 4 rows 3 pos —
    // A_b = (2b+1)n - 2*bins*pos = 0 in both bands, so rel is exact 0
    val df = Seq(
      (0.1, true), (0.2, false), (0.3, false), (0.4, false),
      (0.6, true), (0.7, true), (0.9, true), (0.8, false)).toDF("s", "y")
    val r = Evaluation.brierDecomposition(df, $"s", $"y", 0.0, 1.0, 2).head()
    assert(r.getAs[Double]("reliability") == 0.0)
    // with rel=0, brier = unc - res exactly (integer numerators)
    assert(math.abs(r.getAs[Double]("brier") -
      (r.getAs[Double]("uncertainty") - r.getAs[Double]("resolution"))) < 1e-6)
  }

  test("brierDecomposition: out-of-range scores clamp to edge bands; empty input NULLs") {
    val df = Seq((-5.0, true), (9.0, false), (0.5, true)).toDF("s", "y")
    val r = Evaluation.brierDecomposition(df, $"s", $"y", 0.0, 1.0, 2).head()
    assert(r.getAs[Long]("n") == 3L) // clamped rows still censused
    val e = Evaluation.brierDecomposition(
      Seq.empty[(Double, Boolean)].toDF("s", "y"), $"s", $"y", 0.0, 1.0, 2).head()
    assert(e.getAs[Long]("n") == 0L)
    assert(e.isNullAt(e.fieldIndex("brier")))
    assert(e.isNullAt(e.fieldIndex("uncertainty")))
  }

  test("isotonicCalibration: PAV pools the violator pair, mapping is total and monotone") {
    // bands on [0,1) with bins=4: rates 0.6, 0.2, 0.9, (empty) —
    // bands 0,1 violate (0.6 > 0.2) and pool to 4/10 = 0.4
    val rows =
      Seq.fill(3)((0.1, true)) ++ Seq.fill(2)((0.1, false)) ++
      Seq.fill(1)((0.3, true)) ++ Seq.fill(4)((0.3, false)) ++
      Seq.fill(9)((0.6, true)) ++ Seq.fill(1)((0.6, false))
    val m = Evaluation.isotonicCalibration(rows.toDF("s", "y"), $"s", $"y", 0.0, 1.0, 4)
      .collect().map(r => r.getAs[Long]("band") -> r).toMap
    assert(m.keySet == Set(0L, 1L, 2L, 3L))
    assert(m(0L).getAs[Double]("calibrated_p") == 0.4)
    assert(m(1L).getAs[Double]("calibrated_p") == 0.4)
    assert(m(2L).getAs[Double]("calibrated_p") == 0.9)
    // trailing empty band extends the last block
    assert(m(3L).getAs[Double]("calibrated_p") == 0.9)
    assert(m(1L).getAs[Long]("n") == 5L && m(1L).getAs[Long]("n_pos") == 1L)
    // mass conservation: sum n*p_hat == total positives (PAV property)
    val mass = m.values.map(r => r.getAs[Long]("n") * r.getAs[Double]("calibrated_p")).sum
    assert(math.abs(mass - 13.0) < 1e-9)
  }

  test("isotonicCalibration: monotone on random batches; leading empty bands take the first block") {
    val rows = (0 until 300).map(i => (((i * 37) % 100) / 100.0, (i * 13) % 7 < 3))
    val m = Evaluation.isotonicCalibration(rows.toDF("s", "y"), $"s", $"y", 0.0, 1.0, 10)
      .orderBy("band").collect().map(_.getAs[Double]("calibrated_p"))
    assert(m.length == 10)
    assert(m.sliding(2).forall(p => p(0) <= p(1)), s"not monotone: ${m.toSeq}")
    // all mass in the top band: the three leading empty bands inherit
    // the first (and only) block's value 2/3
    val hi = Seq((0.8, true), (0.9, false), (0.95, true)).toDF("s", "y")
    val mh = Evaluation.isotonicCalibration(hi, $"s", $"y", 0.0, 1.0, 4)
      .collect().map(r => r.getAs[Long]("band") -> r.getAs[Double]("calibrated_p")).toMap
    assert(Seq(0L, 1L, 2L, 3L).forall(b => mh(b) == 2.0 / 3.0), mh.toString)
    // empty input: empty mapping, not a crash
    assert(Evaluation.isotonicCalibration(
      Seq.empty[(Double, Boolean)].toDF("s", "y"), $"s", $"y", 0.0, 1.0, 4).isEmpty)
  }

  test("isotonicCalibrationBy: per-group mapping equals the solo fit per group") {
    val rows = (0 until 240).map { i =>
      val g = if (i % 2 == 0) "a" else "b"
      // different score-label structure per group
      val s = ((i * 29) % 100) / 100.0
      val y = if (g == "a") (i % 3 == 0) else ((i * 7) % 5 < 3)
      (g, s, y)
    }
    val df = rows.toDF("g", "s", "y")
    val by = Evaluation.isotonicCalibrationBy(df, $"g", $"s", $"y", 0.0, 1.0, 8)
      .collect()
      .groupBy(_.getAs[String]("group_key"))
      .view.mapValues(_.map(r => r.getAs[Long]("band") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
          r.getAs[Double]("calibrated_p"))).toMap).toMap
    assert(by.keySet == Set("a", "b"))
    for (g <- Seq("a", "b")) {
      val solo = Evaluation.isotonicCalibration(
        df.filter($"g" === g), $"s", $"y", 0.0, 1.0, 8)
        .collect().map(r => r.getAs[Long]("band") ->
          (r.getAs[Long]("n"), r.getAs[Long]("n_pos"),
            r.getAs[Double]("calibrated_p"))).toMap
      assert(by(g) == solo, s"group $g drifted from the solo fit")
      // monotone within the group
      val ordered = by(g).toSeq.sortBy(_._1).map(_._2._3)
      assert(ordered.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    }
  }

  test("applyIsotonic: rows calibrate by clamped band; null/NaN scores calibrate to NULL") {
    val train = Seq.fill(4)((0.1, false)) ++ Seq.fill(4)((0.9, true))
    val mapping = Evaluation.isotonicCalibration(
      train.toDF("s", "y"), $"s", $"y", 0.0, 1.0, 2)
    val applied = Evaluation.applyIsotonic(
      Seq(Some(0.2), Some(0.7), Some(-5.0), Some(99.0), None, Some(Double.NaN))
        .toDF("s"), $"s", mapping, 0.0, 1.0, 2)
      .select($"s", $"calibrated_p").collect()
    def calFor(p: Double => Boolean): Option[Double] = {
      val r = applied.find(r => !r.isNullAt(0) && p(r.getDouble(0))).get
      if (r.isNullAt(1)) None else Some(r.getDouble(1))
    }
    assert(calFor(_ == 0.2) == Some(0.0))
    assert(calFor(_ == 0.7) == Some(1.0))
    assert(calFor(_ == -5.0) == Some(0.0), "clamps to band 0")
    assert(calFor(_ == 99.0) == Some(1.0), "clamps to the top band")
    assert(calFor(_.isNaN).isEmpty, "NaN score calibrates to NULL")
    val nullRow = applied.find(_.isNullAt(0)).get
    assert(nullRow.isNullAt(1), "NULL score calibrates to NULL")
  }

  test("brierDecomposition is partitioning-independent") {
    val rows = (0 until 500).map(i => (((i * 37) % 100) / 100.0, i % 3 == 0))
    val a = Evaluation.brierDecomposition(
      rows.toDF("s", "y").repartition(1), $"s", $"y", 0.0, 1.0, 10).head()
    val b = Evaluation.brierDecomposition(
      rows.toDF("s", "y").repartition(13), $"s", $"y", 0.0, 1.0, 10).head()
    assert(a == b)
  }
}
