package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.functions.DqFunctions._
import graft.operators.Reconciliation

/** Property-based pins (SURVEY.md §5.2 item 3). Spark round-trips are
  * expensive per case, so properties run on small generated batches:
  * one DataFrame per property, many rows per DataFrame.
  */
class PropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("horizontal stddev equals stddev_samp of exploded rows for random null patterns") {
    // Seeded: an unseeded draw once produced a row whose stddev was
    // ~5 against values of ~1e6, where the operator's deliberate
    // one-pass form (oracle-pinned against the q04 SQL) loses
    // ~(mean/std)²·ε relative precision to cancellation and a fixed
    // 1e-6 relative tolerance flakes. The tolerance below also
    // carries the cancellation term explicitly, so even an unlucky
    // seed states the right bound: |err| ≲ n·ε·max(x²)/std.
    val rowGen = Gen.listOfN(3, Gen.option(Gen.choose(-1e6, 1e6)))
    val rows = Gen.listOfN(60, rowGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(20260816L)).get
      .map { case List(a, b, c) => (a, b, c) }
    val df = rows.toDF("a", "b", "c").withColumn("id", monotonically_increasing_id())
    val horiz = df.select($"id", horizontalStddevSamp($"a", $"b", $"c").as("h"))
    val long = df.select($"id", explode(array($"a", $"b", $"c")).as("v"))
      .filter($"v".isNotNull)
      .groupBy("id").agg(stddev_samp($"v").as("s"), max(abs($"v")).as("m"))
    val joined = horiz.join(long, Seq("id"), "left").collect()
    joined.foreach { r =>
      val h = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      val s = if (r.size < 3 || r.isNullAt(2)) None else Some(r.getDouble(2))
      (h, s) match {
        case (Some(x), Some(y)) =>
          val m = r.getDouble(3)
          val cancel = 3 * 2.3e-16 * m * m / math.max(math.abs(y), 1e-12)
          assert(math.abs(x - y) < 1e-6 * math.max(1, math.abs(y)) + cancel,
            s"horiz $x vs samp $y (max|x| $m)")
        case (None, None) => ()
        case (None, Some(y)) => assert(y.isNaN || false, s"horiz null but samp $y")
        case (Some(x), None) => fail(s"horiz $x but samp null")
      }
    }
  }

  test("thresholdSweep invariants hold on random scored batches") {
    // one generated batch, many rows; invariants checked per sweep row:
    //  - band 0 keeps everything (edge clamp): tp = P, fp = N
    //  - tp + fn = P and fp + tn = N on EVERY row
    //  - tp and kept (tp+fp) are non-increasing in the threshold
    //  - recall is non-increasing; tp/precision/recall consistent
    val rowGen = for {
      s <- Gen.choose(-10.0, 10.0)   // beyond [lo,hi) on both sides
      y <- Gen.oneOf(true, false)
    } yield (s, y)
    val rows = Gen.listOfN(120, rowGen).sample.get
    val p = rows.count(_._2).toLong
    val nneg = rows.size - p
    val r = graft.operators.Evaluation.thresholdSweep(
        rows.toDF("s", "y"), $"s", $"y", lo = -2.0, hi = 2.0, bins = 8)
      .orderBy("band").collect()
    assert(r.length == 8)
    assert(r(0).getAs[Long]("tp") == p && r(0).getAs[Long]("fp") == nneg)
    r.foreach { row =>
      assert(row.getAs[Long]("tp") + row.getAs[Long]("fn") == p)
      assert(row.getAs[Long]("fp") + row.getAs[Long]("tn") == nneg)
      val kept = row.getAs[Long]("tp") + row.getAs[Long]("fp")
      if (kept > 0)
        assert(row.getAs[Double]("precision") ==
          row.getAs[Long]("tp").toDouble / kept)
      if (p > 0)
        assert(row.getAs[Double]("recall") ==
          row.getAs[Long]("tp").toDouble / p)
    }
    val tps = r.map(_.getAs[Long]("tp"))
    val kepts = r.map(row => row.getAs[Long]("tp") + row.getAs[Long]("fp"))
    assert(tps.zip(tps.tail).forall { case (a, b) => a >= b },
      "tp must be non-increasing in the threshold")
    assert(kepts.zip(kepts.tail).forall { case (a, b) => a >= b },
      "kept mass must be non-increasing in the threshold")
  }

  test("aucExact is invariant under any strictly monotone score transform") {
    // AUC depends only on the ranking: x -> x^3 (monotone over the
    // generated range) must give the identical value, census and all
    val rowGen = for {
      s <- Gen.choose(0.1, 9.9)
      y <- Gen.oneOf(true, false)
    } yield (s, y)
    val rows = Gen.listOfN(100, rowGen).sample.get
    val base = graft.operators.Evaluation.aucExact(
      rows.toDF("s", "y"), $"s", $"y", cells = 16).head()
    val cubed = graft.operators.Evaluation.aucExact(
      rows.map { case (s, y) => (s * s * s, y) }.toDF("s", "y"),
      $"s", $"y", cells = 16).head()
    assert(base.getAs[Long]("n_distinct_scores") ==
      cubed.getAs[Long]("n_distinct_scores"))
    assert(base.getAs[Double]("auc") == cubed.getAs[Double]("auc"),
      "AUC is a rank statistic: monotone transforms must not change it")
  }

  test("saltedTopK equals the naive single-window top-k on random skewed batches") {
    // the exactness property all five riders (capPerGroup[By],
    // prioritySample, topValues, zipfSlopeBy) depend on: for ANY
    // total order and ANY salt assignment, the two-phase result is
    // identical to the naive per-group window — including heavily
    // skewed group sizes and k larger than some groups
    import org.apache.spark.sql.expressions.Window
    val rowGen = for {
      g <- Gen.frequency((8, Gen.const("hot")), (1, Gen.const("warm")),
        (1, Gen.const("cold")))
      v <- Gen.choose(0L, 40L) // narrow domain -> many ties
      id <- Gen.choose(0L, 1000000L)
    } yield (g, v, id)
    val rows = Gen.listOfN(300, rowGen).sample.get.distinctBy(_._3)
    val df = rows.toDF("g", "v", "id")
    for (k <- Seq(1, 7, 64); salts <- Seq(1, 4, 32)) {
      val got = graft.operators.Sampling.saltedTopK(
          df, Seq($"g"), $"id", Seq($"v".desc, $"id".asc), k, salts, "r")
        .select($"g", $"id", $"r")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val naive = df.withColumn("r",
          row_number().over(Window.partitionBy($"g")
            .orderBy($"v".desc, $"id".asc)).cast("bigint"))
        .filter($"r" <= k)
        .select($"g", $"id", $"r")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == naive, s"k=$k salts=$salts")
    }
    // global form (no partition columns)
    val gotGlobal = graft.operators.Sampling.saltedTopK(
        df, Seq.empty, $"id", Seq($"v".desc, $"id".asc), 10, 8, "r")
      .select($"id", $"r").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naiveGlobal = df.withColumn("r",
        row_number().over(Window.orderBy($"v".desc, $"id".asc)).cast("bigint"))
      .filter($"r" <= 10)
      .select($"id", $"r").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotGlobal == naiveGlobal)
  }

  test("union fan-out count is the sum of per-source counts") {
    val sizes = Gen.listOfN(5, Gen.choose(0, 50)).sample.get
    val frames = sizes.zipWithIndex.map { case (n, i) =>
      (0 until n).map(j => (i, j)).toDF("src", "v")
    }
    val nonEmptyTotal = sizes.sum
    val unioned = frames.reduce(_ unionByName _)
    assert(unioned.count() == nonEmptyTotal)
  }

  test("reconciliation variance is antisymmetric under source/dest swap") {
    val entries = Gen.listOfN(20,
      Gen.zip(Gen.choose(0, 5), Gen.oneOf("a", "b"), Gen.choose(0L, 100L)))
      .sample.get.distinctBy(e => (e._1, e._2))
    val (left, right) = entries.splitAt(entries.size / 2)
    def df(rows: Seq[(Int, String, Long)]) =
      rows.toDF("site_id", "table_name", "record_count")
    val ab = Reconciliation.reconcile(df(left), df(right), current_date())
      .select($"site_id", $"table_name", $"variance")
    val ba = Reconciliation.reconcile(df(right), df(left), current_date())
      .select($"site_id", $"table_name", (-$"variance").as("variance"))
    assert(ab.exceptAll(ba).count() == 0 && ba.exceptAll(ab).count() == 0)
  }

  test("pivot-max round-trips: unpivoting the wide frame recovers the long frame") {
    val rows = Gen.listOfN(30,
      Gen.zip(Gen.choose(0, 6), Gen.oneOf("t1", "t2", "t3"), Gen.choose(0, 3000)))
      .sample.get.distinctBy(e => (e._1, e._2))
      .map { case (f, t, days) => (f, t, java.sql.Date.valueOf(
        java.time.LocalDate.of(2020, 1, 1).plusDays(days))) }
    val long = rows.toDF("facility_id", "table_name", "max_date")
    val wide = graft.operators.Freshness.pivotMaxDates(
      long, Seq("facility_id"), Seq("t1", "t2", "t3"))
    val back = wide.select($"facility_id", explode(array(Seq("t1", "t2", "t3").map(t =>
        struct(lit(t).as("table_name"), col(s"${t}_max_date").as("max_date"))): _*)).as("u"))
      .select($"facility_id", $"u.table_name", $"u.max_date")
      .filter($"max_date".isNotNull)
    assert(back.exceptAll(long).count() == 0 && long.exceptAll(back).count() == 0)
  }

  test("minhash agreement tracks true jaccard (correlation on random doc pairs)") {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val docGen = Gen.chooseNum(8, 20).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val docs = Gen.listOfN(30, docGen).sample.get.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = docs.toDF("doc_id", "text")
    val exact = graft.operators.Dedup
      .ngramJaccardPairs(df, "doc_id", "text", 3, 0.0)
      .withColumnRenamed("jaccard", "true_j")
    val sigs = graft.operators.Dedup.minhashSignatures(df, "doc_id", "text", 3, 128)
    val est = sigs.as("a").join(sigs.as("b"), $"a.id" < $"b.id")
      .select($"a.id".as("id_a"), $"b.id".as("id_b"),
        minhashAgreement($"a.sig", $"b.sig").as("est_j"))
    val pairs = exact.join(est, Seq("id_a", "id_b"))
      .select("true_j", "est_j").as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    // 128 hashes → stderr ≈ sqrt(j(1-j)/128) ≤ 0.045; allow 5 sigma
    pairs.foreach { case (t, e) => assert(math.abs(t - e) < 0.25, s"true=$t est=$e") }
  }

  test("minAgreeingBands floor is pigeonhole-sound for random signature pairs") {
    // brute-force check of the combinatorial claim behind the LSH
    // prefilter: ANY pair with componentwise agreement ≥ t fully
    // agrees on at least the floor's number of bands
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val bands = Seq(4, 8, 16, 32)(rng.nextInt(4))
      val rows = Seq(1, 2, 4)(rng.nextInt(3))
      val h = bands * rows
      val t = 0.5 + rng.nextDouble() * 0.5
      val floor = graft.operators.Dedup.minAgreeingBands(h, bands, t)
      val a = Array.fill(h)(rng.nextInt(1000))
      val b = a.clone()
      // flip exactly the number of components allowed at agreement t
      val flips = h - math.ceil(t * h - 1e-9).toInt
      rng.shuffle((0 until h).toList).take(flips).foreach(i => b(i) = a(i) + 1000)
      val agreeing = (0 until bands).count { bb =>
        (bb * rows until (bb + 1) * rows).forall(i => a(i) == b(i))
      }
      // the floor's contract is relative to the LSH CANDIDATE set: a
      // pair with zero agreeing bands is invisible to banding anyway,
      // so the clamp to 1 loses nothing vs lshCandidatePairs. Every
      // qualifying pair that IS a candidate must clear the floor.
      assert(agreeing >= floor || (agreeing == 0 && floor == 1),
        s"h=$h bands=$bands t=$t flips=$flips: $agreeing bands agree, floor $floor")
    }
  }

  test("binned range join equals the naive non-equi join on random intervals") {
    import graft.operators.RangeJoin
    val rng = new scala.util.Random(11)
    val points = (1 to 150).map(i => (i.toLong, rng.nextLong() % 10000)).toDF("pid", "pt")
    val intervals = (1 to 40).map { i =>
      val s = rng.nextLong() % 10000
      (i.toLong, s, s + rng.nextInt(500))
    }.toDF("iid", "s", "e")
    for (w <- Seq(7L, 100L, 1000L)) {
      val binned = RangeJoin.pointInInterval(points, "pt", intervals, "s", "e", w)
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      val naive = points.join(intervals, col("s") <= col("pt") && col("pt") <= col("e"))
        .select("pid", "iid").as[(Long, Long)].collect().sorted.toSeq
      assert(binned === naive, s"binWidth=$w: match sets differ")
    }
  }

  test("content reconcile detects every random single-row perturbation") {
    val key = $"k".cast("string")
    val canon = concat_ws("|", $"k", $"v")
    val n = 300
    val src = (1 to n).map(i => (i.toLong, s"payload-$i")).toDF("k", "v")
    val rnd = new scala.util.Random(42)
    // ten random perturbations of each flavor; every one must surface
    (1 to 10).foreach { _ =>
      val victim = 1L + rnd.nextInt(n)
      val deleted = src.filter($"k" =!= victim)
      val modified = src.withColumn("v",
        when($"k" === victim, lit("tampered")).otherwise($"v"))
      for ((dst, expect) <- Seq(
          deleted -> "count_mismatch", modified -> "content_mismatch")) {
        val bad = Reconciliation.contentReconcile(src, dst, key, canon, 16)
          .filter($"status" =!= "ok").collect()
        assert(bad.length == 1 && bad.head.getString(5) == expect,
          s"victim=$victim expected one $expect, got ${bad.mkString(",")}")
        val diff = Reconciliation.contentDiffKeys(src, dst, key, canon, 16)
          .collect()
        assert(diff.length == 1 && diff.head.getString(1) == victim.toString)
      }
    }
  }

  test("histogram bucket counts always sum to the non-null row count; edges tile [min,max]") {
    import graft.operators.Profiling
    val rnd = new scala.util.Random(7)
    for (bins <- Seq(1, 7, 32)) {
      val vals = Seq.fill(200)(rnd.nextDouble() * 1000 - 500) ++
        Seq.fill(20)(rnd.nextGaussian())  // a second, tight cluster
      val df = vals.map(Option(_)).padTo(230, None).toDF("v")
      val h = Profiling.histogram(df, $"v", bins).orderBy("bin").collect()
      assert(h.length == bins)
      assert(h.map(_.getLong(3)).sum == 220)
      // consecutive buckets chain: hi(i) == lo(i+1) bit-for-bit
      h.sliding(2).foreach {
        case Array(a, b) => assert(a.getDouble(2) == b.getDouble(1))
        case _ => ()
      }
    }
  }

  test("volumeAnomalies integer-sum stddev equals stddev_samp over the same trailing counts") {
    import graft.operators.Checks
    val rnd = new scala.util.Random(11)
    def d(day: Int) = java.sql.Timestamp.valueOf(f"2024-02-$day%02d 03:00:00")
    val rows = (1 to 25).flatMap { day =>
      Seq.fill(5 + rnd.nextInt(40))(("g", d(day)))
    }
    val out = Checks.volumeAnomalies(rows.toDF("g", "t"), $"g", $"t",
        trailing = 7, threshold = 2.0)
      .orderBy($"day").collect()
    val daily = out.map(r => r.getLong(2))
    out.zipWithIndex.filter(_._1.getLong(3) >= 3).foreach { case (r, i) =>
      val window = daily.slice(math.max(0, i - 7), i)
      val mean = window.sum.toDouble / window.length
      val variance =
        window.map(x => (x - mean) * (x - mean)).sum / (window.length - 1)
      assert(math.abs(r.getDouble(4) - mean) < 1e-9)
      assert(math.abs(r.getDouble(5) - math.sqrt(variance)) < 1e-9,
        s"row $i: ${r.getDouble(5)} vs ${math.sqrt(variance)}")
    }
  }

  test("funnel counts are monotone non-increasing and bounded by the key census, any random stream") {
    import graft.operators.Temporal
    val rows = Gen.listOfN(400,
      Gen.zip(Gen.choose(1, 25),                 // key
        Gen.choose(0L, 10000L),                  // epoch seconds
        Gen.oneOf("a", "b", "c", "d")))          // event type
      .sample.get.distinctBy(r => (r._1, r._2))  // unique (key, ts) contract
    val df = rows.toDF("u", "sec", "e")
      .select($"u", timestamp_seconds($"sec").as("t"), $"e")
    val out = Temporal.funnel(df, $"u", $"t", Seq(
        "s1" -> ($"e" === "a"), "s2" -> ($"e" === "b"), "s3" -> ($"e" === "c")))
      .orderBy($"stage_seq").collect().map(_.getLong(2))
    assert(out.length == 3)
    assert(out.toSeq == out.toSeq.sorted.reverse, s"funnel must narrow: ${out.toSeq}")
    val nKeysWithA = rows.filter(_._3 == "a").map(_._1).distinct.size.toLong
    assert(out.head == nKeysWithA, "stage 1 is exactly the first-predicate key census")
  }

  test("benford digits always land in 1..9 and counts tile the nonzero row census") {
    import graft.operators.Checks
    val vals = Gen.listOfN(300, Gen.oneOf(
      Gen.choose(-1e12, 1e12),
      Gen.choose(-1e-9, 1e-9),
      Gen.oneOf(0.0, 1.0, 10.0, 100.0, 1000.0, 0.1, 0.001, 1e15, -1e15)))
      .sample.get.map(g => g)
    val df = vals.map(Tuple1(_)).toDF("v")
    val out = Checks.benfordFirstDigit(df, $"v").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.map(_._1).sorted.toSeq == (1L to 9L), "exactly the nine digit rows")
    val expected = vals.count(v => v != 0.0 && !v.isNaN).toLong
    assert(out.map(_._2).sum == expected,
      "every nonzero value lands in exactly one digit bucket")
  }

  test("splitLeakage invariants hold for random group/split assignments") {
    import graft.operators.Sampling
    val rows = Gen.listOfN(300,
      Gen.zip(Gen.choose(1, 60), Gen.oneOf("train", "test", "val")))
      .sample.get.zipWithIndex.map { case ((g, s), i) => (i.toLong, s"g$g", s) }
    val df = rows.toDF("id", "g", "split")
    val r = Sampling.splitLeakage(df, $"g", $"split").head()
    val (groups, multi, leaking, leakRows) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(leaking <= multi && multi <= groups,
      "leaking groups are a subset of multi-row groups")
    assert(leakRows >= 2 * leaking,
      "every leaking group contributes at least two rows")
    // reference recount driver-side
    val byGroup = rows.groupBy(_._2)
    assert(groups == byGroup.size.toLong)
    assert(leaking == byGroup.values.count(_.map(_._3).distinct.size > 1).toLong)
    assert(leakRows == byGroup.values.filter(_.map(_._3).distinct.size > 1)
      .map(_.size).sum.toLong)
  }

  test("brierDecomposition: Murphy identity and metric bounds on random banded batches") {
    import graft.operators.Evaluation
    val rowGen = for {
      s <- Gen.choose(-0.5, 1.5) // beyond [0,1) on both sides (clamp)
      y <- Gen.oneOf(true, false)
    } yield (s, y)
    for (trial <- 1 to 3) {
      val rows = Gen.listOfN(150, rowGen).sample.get
      val r = Evaluation.brierDecomposition(
        rows.toDF("s", "y"), $"s", $"y", 0.0, 1.0, 8).head()
      val (brier, rel, res, unc, ece) = (
        r.getAs[Double]("brier"), r.getAs[Double]("reliability"),
        r.getAs[Double]("resolution"), r.getAs[Double]("uncertainty"),
        r.getAs[Double]("ece"))
      assert(brier >= 0 && brier <= 1, s"trial $trial: brier $brier")
      assert(rel >= 0 && unc >= 0 && unc <= 0.25)
      assert(res >= -1e-5 && res <= unc + 1e-5,
        s"trial $trial: resolution $res must sit in [0, uncertainty=$unc] up to quanta")
      assert(ece >= 0 && ece <= 1)
      // Jensen: reliability >= ece^2 (mean of squares vs squared mean
      // of the per-band |gap| under the band-mass weighting)
      assert(rel + 1e-5 >= ece * ece,
        s"trial $trial: rel $rel < ece^2 ${ece * ece}")
      assert(math.abs(brier - (rel - res + unc)) < 1e-5,
        s"trial $trial: identity broke: $brier vs ${rel - res + unc}")
    }
  }

  test("spearmanCorr bounds and symmetry on random pair batches") {
    import graft.operators.Profiling
    val rowGen = for {
      x <- Gen.choose(-100, 100)
      y <- Gen.choose(-100, 100)
    } yield (x.toDouble, y.toDouble)
    val rows = Gen.listOfN(200, rowGen).sample.get
    val df = rows.toDF("x", "y")
    val rho = Profiling.spearmanCorr(df, $"x", $"y").head().getAs[Double]("spearman_rho")
    assert(rho >= -1.0 - 1e-12 && rho <= 1.0 + 1e-12, s"rho out of range: $rho")
    // symmetric in its arguments
    val rho2 = Profiling.spearmanCorr(df, $"y", $"x").head().getAs[Double]("spearman_rho")
    assert(rho == rho2)
    // invariant under strictly monotone transforms of either column
    val rho3 = Profiling.spearmanCorr(
      df.select(exp($"x" / 50.0).as("x"), $"y"), $"x", $"y")
      .head().getAs[Double]("spearman_rho")
    assert(math.abs(rho - rho3) < 1e-12,
      s"rank correlation must survive a monotone transform: $rho vs $rho3")
  }

  /** (key, value, mass a, mass b) census rows, or running sums over them. */
  private type Row4 = (String, Double, Long, Long)

  test("RankedPrefix: direct == cell == naive running sums on random censuses, every mode") {
    import graft.operators.RankedPrefix
    val rnd = new scala.util.Random(20261020L)
    // keyed census: distinct (key, v) rows, tied values across keys,
    // negative values, zero masses, and a key with a single row
    val keyed: Seq[Row4] =
      ((for (k <- 0 until 4; _ <- 0 until 40)
        yield (s"k$k", (rnd.nextInt(31) - 15) / 2.0)).distinct :+ ("one" -> 0.25))
        .map { case (k, v) => (k, v, rnd.nextInt(5).toLong, rnd.nextInt(3).toLong) }
    // single-value census (mx == mn: every row in cell 0)
    val flat: Seq[Row4] = Seq(("a", 1.5, 2L, 1L), ("b", 1.5, 0L, 4L), ("c", 1.5, 3L, 3L))
    def solo(rows: Seq[Row4]): Seq[Row4] =
      rows.groupBy(_._2).toSeq.map { case (v, rs) => ("", v, rs.map(_._3).sum, rs.map(_._4).sum) }
    // naive per-key running sums of `a` and (two sums) `a + b`
    def naive(rows: Seq[Row4], desc: Boolean, excl: Boolean, nSums: Int): Seq[Row4] =
      rows.groupBy(_._1).values.flatMap { rs =>
        val sorted = rs.sortBy(r => if (desc) -r._2 else r._2)
        val cum = sorted.scanLeft((0L, 0L)) { case ((a, ab), r) => (a + r._3, ab + r._3 + r._4) }
        sorted.zip(if (excl) cum.init else cum.tail).map { case (r, (a, ab)) =>
          (r._1, r._2, a, if (nSums == 2) ab else 0L)
        }
      }.toSeq.sorted
    def run(rows: Seq[Row4], isKeyed: Boolean, desc: Boolean, excl: Boolean, nSums: Int,
        direct: Boolean, cells: Int, offRows: Long): Seq[Row4] = {
      val df = rows.toDF("_k", "_v", "_a", "_b")
      val sums = Seq("_s0" -> $"_a", "_s1" -> ($"_a" + $"_b")).take(nSums)
      RankedPrefix(if (isKeyed) df else df.drop("_k"), if (isKeyed) Seq("_k") else Nil, sums,
          direct, rows.map(_._2).min, rows.map(_._2).max, cells, _ => offRows,
          descending = desc, exclusive = excl)
        .select(if (isKeyed) $"_k" else lit(""), $"_v", $"_s0",
          if (nSums == 2) $"_s1" else lit(0L))
        .as[Row4].collect().toSeq.sorted
    }
    for ((census, cellCounts) <- Seq(keyed -> Seq(1, 3, 4096), flat -> Seq(3));
         isKeyed <- Seq(false, true);
         (desc, excl) <- Seq((false, false), (false, true), (true, false));
         nSums <- Seq(1, 2)) {
      val rows = if (isKeyed) census else solo(census)
      val expect = naive(rows, desc, excl, nSums)
      val mode = s"keyed=$isKeyed desc=$desc excl=$excl sums=$nSums"
      assert(run(rows, isKeyed, desc, excl, nSums, direct = true, 4096, 0L) == expect,
        s"direct: $mode")
      // offsets under the broadcast limit (broadcast join) and over it
      // (shuffled join)
      for (cells <- cellCounts; offRows <- Seq(1L, Long.MaxValue))
        assert(run(rows, isKeyed, desc, excl, nSums, direct = false, cells, offRows) == expect,
          s"cell: $mode cells=$cells offsetRows=$offRows")
    }
  }

  test("retrievalQuality invariants: hits monotone in k, recall/precision consistent") {
    import graft.operators.Ranking
    val runGen = for {
      q <- Gen.choose(1L, 8L)
      item <- Gen.choose(1, 40)
      s <- Gen.choose(0.0, 1.0)
    } yield (q, s"i$item", s)
    val truthGen = for {
      q <- Gen.choose(1L, 8L)
      item <- Gen.choose(1, 40)
    } yield (q, s"i$item")
    val run = Gen.listOfN(120, runGen).sample.get
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (q,item)
      .toDF("q", "item", "s")
    val truth = Gen.listOfN(40, truthGen).sample.get.distinct.toDF("q", "item")
    def byQ(k: Int) = Ranking.retrievalQuality(run, truth, "q", "item", "s", k)
      .collect().map(r => r.getAs[Long]("query_id") -> r).toMap
    val k2 = byQ(2); val k5 = byQ(5)
    assert(k2.keySet == k5.keySet, "the query set comes from truth, not the cutoff")
    k2.keySet.foreach { q =>
      val (a, b) = (k2(q), k5(q))
      assert(a.getAs[Long]("hits") <= b.getAs[Long]("hits"), s"q$q hits monotone in k")
      assert(b.getAs[Long]("hits") <= b.getAs[Long]("n_rel"))
      assert(b.getAs[Long]("n_ret") <= 5L)
      val recall = b.getAs[Double]("recall_at_k")
      assert(recall >= 0 && recall <= 1)
      assert(recall == b.getAs[Long]("hits").toDouble / b.getAs[Long]("n_rel").toDouble)
    }
  }

  test("ksTwoSample invariants: bounds, cohort symmetry, monotone-transform invariance") {
    import graft.operators.StatTests
    val rowGen = for {
      v <- Gen.choose(-50, 50)
      a <- Gen.oneOf(true, false)
    } yield (v.toDouble / 4, a)
    val rows = Gen.listOfN(250, rowGen).sample.get
    val df = rows.toDF("v", "a")
    val r = StatTests.ksTwoSample(df, $"v", $"a").head()
    val d = r.getAs[Double]("ks_stat")
    assert(d >= 0.0 && d <= 1.0, s"D out of range: $d")
    // D is symmetric in the cohorts (|F_A - F_B| = |F_B - F_A|)
    val r2 = StatTests.ksTwoSample(df, $"v", !$"a").head()
    assert(r2.getAs[Double]("ks_stat") == d)
    assert(r2.getAs[Double]("ks_at") == r.getAs[Double]("ks_at"))
    assert(r2.getAs[Long]("n_a") == r.getAs[Long]("n_b"))
    // a strictly increasing transform permutes nothing: D unchanged,
    // the attaining point maps through the transform
    val r3 = StatTests.ksTwoSample(
      df.select(($"v" * 3.0 + 100.0).as("v"), $"a"), $"v", $"a").head()
    assert(r3.getAs[Double]("ks_stat") == d,
      "KS is a rank statistic: monotone transforms cannot move D")
    assert(r3.getAs[Double]("ks_at") == r.getAs[Double]("ks_at") * 3.0 + 100.0)
  }

  test("rankSumTest: z is antisymmetric under label flip; |z| invariant under monotone transforms") {
    import graft.operators.Evaluation
    val rowGen = for {
      v <- Gen.choose(-20, 20)
      y <- Gen.frequency(1 -> true, 2 -> false)
    } yield (v.toDouble / 2, y)
    val rows = Gen.listOfN(200, rowGen).sample.get
    // ensure both classes present (frequency gen could degenerate)
    val fixed = (1.0, true) :: (2.0, false) :: rows
    val df = fixed.toDF("s", "y")
    val z = Evaluation.rankSumTest(df, $"s", $"y").head().getAs[Double]("z")
    val zFlip = Evaluation.rankSumTest(df, $"s", !$"y").head().getAs[Double]("z")
    // swapping the classes negates U - mu exactly; sigma is unchanged
    assert(z == -zFlip, s"label flip must negate z: $z vs $zFlip")
    val zMono = Evaluation.rankSumTest(
      df.select(($"s" * 5.0 - 7.0).as("s"), $"y"), $"s", $"y")
      .head().getAs[Double]("z")
    assert(z == zMono, "rank statistic: monotone transform cannot move z")
  }

  test("cusumOverSeries: invariant under arbitrary re-sharding of the partials log; telescopes to zero") {
    import graft.operators.StatTests
    val rnd = new scala.util.Random(73)
    val buckets = (0 until 12).map(i => (i * 86400000000L, 5L + rnd.nextInt(20)))
    val compact = buckets.toDF("b", "m")
    // shard each bucket's mass into 1-4 random partial rows (an
    // uncompacted append log); totals per bucket are preserved
    val sharded = buckets.flatMap { case (b, m) =>
      val k = 1 + rnd.nextInt(math.min(4, m.toInt))
      val cuts = (Seq(0L, m) ++ (1 until k).map(_ => rnd.nextLong(m + 1))).sorted
      cuts.sliding(2).map { case Seq(lo, hi) => (b, hi - lo) }.toSeq
    }.toDF("b", "m")
    val a = StatTests.cusumOverSeries(compact, col("b"), col("m"))
      .collect().map(r => r.getAs[Long]("bucket_start_us") -> r).toMap
    val s = StatTests.cusumOverSeries(sharded, col("b"), col("m"))
      .collect().map(r => r.getAs[Long]("bucket_start_us") -> r).toMap
    assert(a.keySet == s.keySet && a.size == 12)
    a.keySet.foreach { b =>
      assert(a(b).getAs[Long]("mass") == s(b).getAs[Long]("mass"))
      assert(a(b).getAs[Double]("cusum_scaled") == s(b).getAs[Double]("cusum_scaled"))
      assert(a(b).getAs[Boolean]("is_peak") == s(b).getAs[Boolean]("is_peak"))
    }
    // the deviation series telescopes: the last bucket is exactly 0
    val last = a(a.keySet.max)
    assert(last.getAs[Double]("cusum_scaled") == 0.0,
      "D*cum_D - D*T must cancel exactly at the end of the series")
  }

  test("contingencyChiSquare: contributions are non-negative and marginals tile the grand total") {
    import graft.operators.StatTests
    val rowGen = for {
      r <- Gen.oneOf("a", "b", "c")
      c <- Gen.oneOf("x", "y", "z", "w")
    } yield (r, c)
    val rows = Gen.listOfN(300, rowGen).sample.get
    val out = StatTests.contingencyChiSquare(rows.toDF("r", "c"), $"r", $"c")
      .collect()
    val n = rows.size.toLong
    assert(out.forall(_.getAs[Long]("grand_total") == n))
    assert(out.forall(_.getAs[Double]("contribution") >= 0.0))
    assert(out.map(_.getAs[Long]("n")).sum == n, "cells tile the population")
    // row marginals: summing n over a row recovers row_total
    out.groupBy(_.getAs[String]("row_key")).foreach { case (_, cells) =>
      assert(cells.map(_.getAs[Long]("n")).sum ==
        cells.head.getAs[Long]("row_total"))
    }
    out.groupBy(_.getAs[String]("col_key")).foreach { case (_, cells) =>
      assert(cells.map(_.getAs[Long]("n")).sum ==
        cells.head.getAs[Long]("col_total"))
    }
  }

  test("native word n-gram hashes equal the compositional pipeline over a whitespace alphabet") {
    // Standing invariant behind the r16 finding: the zero-copy fast
    // path in Md5Prefix.wordNgramHashes must hash the CANONICAL
    // single-space join regardless of which whitespace bytes (and
    // run lengths) separate the source tokens. Random texts over a
    // whitespace alphabet {' ', '\t', '\n', '\r', '', '\u000B', '\f',
    // runs, mixed runs} — including leading/trailing whitespace,
    // whitespace-only, and empty texts — so the next zero-copy
    // optimization can't silently reintroduce the class.
    import graft.functions.{DqFunctions, Md5Expressions}
    val sepGen = Gen.oneOf(
      " ", "\t", "\n", "\r", "\u000B", "\f",
      "  ", " \t ", "\n\n", "\t\n", "\r\n", " \u000B")
    val tokGen = Gen.choose(1, 5).flatMap(l =>
      Gen.listOfN(l, Gen.alphaLowerChar).map(_.mkString))
    val textGen = for {
      k    <- Gen.choose(0, 9)
      toks <- Gen.listOfN(k, tokGen)
      seps <- Gen.listOfN(math.max(k - 1, 0), sepGen)
      lead <- Gen.oneOf("", " ", "\t", "\n ")
      tail <- Gen.oneOf("", " ", "\n", "\t ")
    } yield lead + toks.zipAll(seps, "", "").map { case (t, s) => t + s }.mkString + tail
    val texts = Gen.listOfN(400, textGen).sample.get ++
      Seq("", " ", "\t", "\n\n", " \t\n ")
    for (n <- Seq(1, 2, 4)) {
      val p = DqFunctions.MinhashPrime
      val both = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(
          $"text",
          sort_array(array_distinct(
            Md5Expressions.wordNgramMd5Hashes($"text", n, 8, p))).as("native"),
          sort_array(array_distinct(DqFunctions.minhashBaseHashesPortable(
            DqFunctions.wordShingles($"text", n)))).as("composed"))
      val bad = both.filter($"native" =!= $"composed").collect()
      assert(bad.isEmpty, s"n=$n first divergent text: " +
        bad.headOption.map(r => r.getString(0).map(c =>
          if (c.isWhitespace) f"\\u${c.toInt}%04x" else c.toString).mkString))
    }
  }
}
