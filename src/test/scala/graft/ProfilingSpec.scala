package graft

import org.apache.spark.sql.functions.{col, expr, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Profiling

class ProfilingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("per-column stats with nulls, against hand-computed values") {
    val df = Seq(
      (Some(1.0), Some(10.0)),
      (Some(2.0), None),
      (Some(3.0), Some(30.0)),
      (None, Some(10.0))
    ).toDF("a", "b")
    val p = Profiling.profileNumeric(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r).toMap
    val a = p("a")
    assert(a.getLong(1) == 3 && a.getLong(2) == 1 && a.getLong(3) == 3)
    assert(a.getDouble(4) == 1.0 && a.getDouble(5) == 3.0)
    assert(a.getDouble(6) == 2.0)
    assert(math.abs(a.getDouble(7) - 1.0) < 1e-12) // stddev_samp of 1,2,3
    val b = p("b")
    assert(b.getLong(1) == 3 && b.getLong(2) == 1 && b.getLong(3) == 2)
    assert(math.abs(b.getDouble(6) - 50.0 / 3.0) < 1e-12)
  }

  test("empty input: n=0, null mean and stddev") {
    val df = Seq.empty[(Option[Double], Option[Double])].toDF("a", "b")
    val rows = Profiling.profileNumeric(df, Seq("a")).collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(1) == 0 && rows(0).isNullAt(6) && rows(0).isNullAt(7))
  }

  test("single value: mean defined, stddev null (n < 2)") {
    val rows = Profiling.profileNumeric(Seq(Tuple1(5.0)).toDF("a"), Seq("a")).collect()
    assert(rows(0).getDouble(6) == 5.0 && rows(0).isNullAt(7))
  }

  test("auto-discovers numeric columns from the schema") {
    val df = Seq((1L, "x", 2.5)).toDF("id", "s", "v")
    val cols = Profiling.profileNumeric(df).collect().map(_.getString(0)).toSet
    assert(cols == Set("id", "v")) // strings excluded
  }

  test("profiling matches stddev_samp/avg built-ins on decimal-exact data") {
    val df = (1 to 1000).map(i => ((i % 97).toDouble + 0.25, i)).toDF("v", "i")
    val row = Profiling.profileNumeric(df, Seq("v")).collect()(0)
    val exp = df.selectExpr("avg(v)", "stddev_samp(v)").collect()(0)
    assert(math.abs(row.getDouble(6) - exp.getDouble(0)) < 1e-9)
    assert(math.abs(row.getDouble(7) - exp.getDouble(1)) < 1e-9)
  }

  test("constant column: stddev is exactly 0.0, never NaN (clamped radicand)") {
    // large constants make sq - s*s/n a difference of huge doubles;
    // without the greatest(...,0) clamp a one-ulp-negative radicand
    // would sqrt to NaN
    val df = Seq.fill(1000)(87654321.12).toDF("v")
    val row = Profiling.profileNumeric(df, Seq("v")).collect()(0)
    assert(row.getDouble(7) == 0.0, s"stddev of a constant is 0, got ${row.getDouble(7)}")
  }

  test("approx mode: one Expand-free scan, same stats, distinct within HLL error") {
    val df = Tables.lineitem(spark, TestSpark.sf)
    val cols = Seq("l_quantity", "l_extendedprice")
    val exact = Profiling.profileNumeric(df, cols)
      .collect().map(r => r.getString(0) -> r).toMap
    val approxDf = Profiling.profileNumeric(df, cols, exactDistinct = false)
    val plan = approxDf.queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"), s"approx mode must not Expand:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      "approx mode needs no second aggregate to cross-join")
    val approx = approxDf.collect().map(r => r.getString(0) -> r).toMap
    cols.foreach { c =>
      val (e, a) = (exact(c), approx(c))
      assert(a.getLong(1) == e.getLong(1) && a.getLong(2) == e.getLong(2))
      assert(a.getDouble(4) == e.getDouble(4) && a.getDouble(5) == e.getDouble(5))
      assert(a.getDouble(6) == e.getDouble(6) && a.getDouble(7) == e.getDouble(7))
      val (ed, ad) = (e.getLong(3).toDouble, a.getLong(3).toDouble)
      assert(math.abs(ad - ed) / ed < 0.10,
        s"$c: approx distinct $ad vs exact $ed drifted past HLL tolerance")
    }
  }

  test("profileGeneral: string/date columns get n/n_null/n_distinct/min/max") {
    val df = Seq(
      (Some("b"), Some(java.sql.Date.valueOf("2024-01-02"))),
      (Some("a"), None),
      (None, Some(java.sql.Date.valueOf("2024-03-01"))),
      (Some("b"), Some(java.sql.Date.valueOf("2024-01-02")))
    ).toDF("s", "d")
    val p = Profiling.profileGeneral(df, Seq("s", "d"))
      .collect().map(r => r.getString(0) -> r).toMap
    val s = p("s")
    assert(s.getLong(1) == 3 && s.getLong(2) == 1 && s.getLong(3) == 2)
    assert(s.getString(4) == "a" && s.getString(5) == "b")
    val d = p("d")
    assert(d.getLong(1) == 3 && d.getLong(2) == 1 && d.getLong(3) == 2)
    assert(d.getString(4) == "2024-01-02" && d.getString(5) == "2024-03-01")
  }

  test("topValues: frequency-ranked with value-ascending ties; salted == unsalted") {
    val df = (Seq.fill(5)("x") ++ Seq.fill(3)("y") ++ Seq.fill(3)("a") ++ Seq("z"))
      .map(Tuple1(_)).toDF("c")
    def top(salts: Int) = Profiling.topValues(df, Seq("c"), k = 3, salts = salts)
      .select("value", "n_rows", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = Set(("x", 5L, 1L), ("a", 3L, 2L), ("y", 3L, 3L)) // tie a<y
    assert(top(32) == expected)
    assert(top(1) == expected)
  }

  test("profileEmbedding: dead dimension flags stddev 0, stats hand-checked") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.5f, 2.0f)),
      (2L, Array(1.0f, 1.5f, 4.0f)),
      (3L, Array(1.0f, 2.5f, 6.0f))).toDF("id", "embedding")
    val p = Profiling.profileEmbedding(vecs, "embedding").orderBy("dim").collect()
    assert(p.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(p.forall(_.getLong(1) === 3L))
    // dim 0 is constant: the dead-channel signature is stddev exactly 0
    assert(p(0).getDouble(4) === 1.0 && p(0).getDouble(5) === 0.0)
    // dim 1: mean of {0.5, 1.5, 2.5}; dim 2: stddev of {2,4,6} = 2
    assert(p(1).getDouble(4) === 1.5 && p(1).getDouble(5) === 1.0)
    assert(p(2).getDouble(4) === 4.0 && p(2).getDouble(5) === 2.0)
    assert(p(2).getDouble(2) === 2.0 && p(2).getDouble(3) === 6.0)
  }

  test("embeddingCovariance: matches covar_samp, duplicated dimension flags corr 1") {
    import org.apache.spark.sql.functions.{covar_samp, col}
    // dim2 duplicates dim0 (redundant channel); dim1 is independent
    val df = Seq(
      Tuple1(Array(1.0f, 2.0f, 1.0f)),
      Tuple1(Array(2.0f, 1.5f, 2.0f)),
      Tuple1(Array(3.0f, 0.5f, 3.0f)),
      Tuple1(Array(4.0f, 1.0f, 4.0f))).toDF("embedding")
    val out = Profiling.embeddingCovariance(df, "embedding").collect()
    assert(out.length == 3) // upper triangle of a 3×3 matrix
    val m = out.map(r => (r.getLong(0), r.getLong(1)) ->
      (r.getAs[Double]("cov"), r.getAs[Double]("corr"))).toMap
    assert(out.forall(_.getAs[Long]("n") == 4L))
    assert(math.abs(m((0L, 2L))._2 - 1.0) < 1e-9) // redundant channel
    val refCov = df.select(
        col("embedding")(0).cast("double").as("x"),
        col("embedding")(1).cast("double").as("y"))
      .agg(covar_samp(col("x"), col("y"))).head.getDouble(0)
    assert(math.abs(m((0L, 1L))._1 - refCov) < 1e-9)
    // symmetry of the pairing: only i < j emitted
    assert(m.keySet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("UpperTrianglePairs: native pair expansion == HOF composition, eval == codegen") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      Tuple1(Array(3L, -1L, 4L, 1L)),
      Tuple1(Array(2L, 7L)),
      Tuple1(Array(9L)),           // single element: empty expansion
      Tuple1(Array.empty[Long]),   // empty: empty expansion
      Tuple1(null.asInstanceOf[Array[Long]])).toDF("w")
    // the reference HOF spelling the expression replaces
    val idx = sequence(lit(0), size(col("w")) - 1)
    val hof = flatten(transform(idx, i =>
      transform(slice(idx, i + 2, size(col("w"))), j =>
        struct(i.cast("int").as("i"), j.cast("int").as("j"),
          (element_at(col("w"), i + 1) * element_at(col("w"), j + 1)).as("wij")))))
    val both = df.select(
      graft.functions.UpperTrianglePairs(col("w")).as("native"), hof.as("ref"))
    assert(both.filter(not(col("native") <=> col("ref"))).count() == 0)
    // interpreted eval agrees with codegen (the TestSpark session
    // runs codegen; force the interpreted path directly)
    val expr = graft.functions.UpperTrianglePairs(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3L, -1L, 4L), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)))
    val evaled = expr.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    assert(evaled.numElements() == 3)
    val r0 = evaled.getStruct(0, 3)
    assert(r0.getInt(0) == 0 && r0.getInt(1) == 1 && r0.getLong(2) == -3L)
    // null element poisons the row (dense-vector contract, loud)
    val withNullElem = df.sparkSession.sql(
      "SELECT array(1L, NULL, 2L) AS w")
      .select(graft.functions.UpperTrianglePairs(col("w")).as("p"))
    assert(withNullElem.head.isNullAt(0))
  }

  test("distinct sketches: partial-union estimates equal single-pass; accuracy within rsd") {
    import org.apache.spark.sql.functions._
    val events = graft.Tables.events(spark, TestSpark.sf)
      .select(col("user_id"), (col("event_id") % 7).as("day"))
    // daily sketch table -> month rollup
    val daily = Profiling.distinctSketch(events, Seq("day"), "user_id")
    assert(daily.count() == 7)
    val merged = Profiling.sketchEstimate(
      Profiling.mergeDistinctSketches(daily, Seq.empty))
    val single = Profiling.sketchEstimate(
      Profiling.distinctSketch(events, Seq.empty, "user_id"))
    val mEst = merged.select("n_distinct_est").head().getLong(0)
    val sEst = single.select("n_distinct_est").head().getLong(0)
    // register merge is bucketwise max: identical estimate, not just close
    assert(mEst == sEst, s"merged $mEst != single-pass $sEst")
    val exact = events.select("user_id").distinct().count()
    assert(math.abs(mEst - exact).toDouble / exact < 0.05,
      s"estimate $mEst vs exact $exact")
    // idempotence: re-merging the merged sketch with itself double-counts nothing
    val twice = Profiling.sketchEstimate(Profiling.mergeDistinctSketches(
      Profiling.mergeDistinctSketches(daily, Seq.empty)
        .unionByName(Profiling.mergeDistinctSketches(daily, Seq.empty)),
      Seq.empty)).select("n_distinct_est").head().getLong(0)
    assert(twice == mEst)
  }

  test("histogramByGroup: independent per-group ranges, counts tile, degenerate group safe") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("a", 0.0), ("a", 5.0), ("a", 10.0),   // a: range [0,10]
      ("b", 100.0), ("b", 104.0),            // b: range [100,104]
      ("c", 7.0), ("c", 7.0))                // c: constant
      .toDF("g", "v")
    val h = Profiling.histogramByGroup(df, $"g", $"v", 2)
      .orderBy("group", "bin").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))
    assert(h.toSeq == Seq(
      ("a", 0L, 0.0, 5.0, 1L), ("a", 1L, 5.0, 10.0, 2L),
      ("b", 0L, 100.0, 102.0, 1L), ("b", 1L, 102.0, 104.0, 1L),
      ("c", 0L, 7.0, 7.0, 2L), ("c", 1L, 7.0, 7.0, 0L)))
    // per-group counts tile each group's rows exactly once
    assert(h.groupBy(_._1).view.mapValues(_.map(_._5).sum).toMap ==
      Map("a" -> 3L, "b" -> 2L, "c" -> 2L))
  }

  test("histogram: hand-checked buckets, closed max edge, empty bins, nulls, constant column") {
    import org.apache.spark.sql.functions._
    // [0,10] in 5 bins of width 2: values land 0,0,1,4,4; bin 2,3 empty;
    // the max (10.0) closes into the last bin, nulls drop
    val df = Seq(Some(0.0), Some(1.9), Some(2.0), Some(8.0), Some(10.0), None)
      .toDF("v")
    val h = Profiling.histogram(df, col("v"), 5).orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(h.toSeq == Seq(
      (0L, 0.0, 2.0, 2L), (1L, 2.0, 4.0, 1L), (2L, 4.0, 6.0, 0L),
      (3L, 6.0, 8.0, 0L), (4L, 8.0, 10.0, 2L)))
    assert(h.map(_._4).sum == 5L) // every non-null row bucketed exactly once
    // constant column: width 0 must not NaN-bucket — all rows in bin 0
    val const = Seq(7.0, 7.0, 7.0).toDF("v")
    val hc = Profiling.histogram(const, col("v"), 4).orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(hc.toSeq == Seq((0L, 3L), (1L, 0L), (2L, 0L), (3L, 0L)))
  }

  test("classBalance: hand-checked gini, null labels are a class, degenerate inputs") {
    import org.apache.spark.sql.functions._
    // a,a,b,null → N=4, k=3, Σn² = 4+1+1 = 6, gini = 1 − 6/16
    val df = Seq(Some("a"), Some("a"), Some("b"), None).toDF("label")
    val r = Profiling.classBalance(df, col("label")).head()
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) == ((4L, 3L, 0.625)))
    // one class → impurity 0; empty input → 0 rows, null gini
    val one = Seq("x", "x", "x").toDF("label")
    assert(Profiling.classBalance(one, col("label")).head().getDouble(2) == 0.0)
    val empty = Profiling.classBalance(one.limit(0), col("label")).head()
    assert(empty.getLong(0) == 0L && empty.isNullAt(2))
  }

  test("histogram fences NaN: buckets stay finite and real rows stay counted") {
    import org.apache.spark.sql.functions._
    // Without the fence, max() = NaN makes every edge NaN and all
    // rows vanish from the spine join; with it, NaN drops like null.
    val df = Seq(0.0, 2.0, 4.0, Double.NaN).toDF("v")
    val h = Profiling.histogram(df, col("v"), 2).orderBy("bin")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3)))
    assert(h.toSeq == Seq((0L, 0.0, 2.0, 1L), (1L, 2.0, 4.0, 2L)))
    assert(h.forall { case (_, lo, hi, _) => !lo.isNaN && !hi.isNaN })
    // per-group variant: the NaN poisons only nothing — its group
    // still buckets its finite rows over finite edges
    val g = Seq(("a", 0.0), ("a", 2.0), ("a", Double.NaN), ("b", 1.0))
      .toDF("g", "v")
    val hg = Profiling.histogramByGroup(g, col("g"), col("v"), 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(hg.collect { case ("a", _, n) => n }.sum == 2L)
    assert(hg.collect { case ("b", _, n) => n }.sum == 1L)
  }

  test("key skew census: hand-computed hot-key profile") {
    import org.apache.spark.sql.functions._
    // counts: a=6, b=1, c=1 → N=8, K=3, mean 8/3 ≈ 2.67;
    // only a exceeds 2× mean (6 > 5.33); none exceeds 10× (26.7)
    val df = (Seq.fill(6)("a") ++ Seq("b", "c")).toDF("k")
    val r = Profiling.keySkew(df, col("k")).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (8L, 3L, 6L))
    assert(r.getDouble(3) == 8.0 / 3.0)
    assert(r.getDouble(4) == 6.0 / (8.0 / 3.0))
    assert((r.getLong(5), r.getLong(6)) == (1L, 0L))
  }

  test("equal-frequency bins: SQL ntile split, deterministic ties, null/NaN fence") {
    import org.apache.spark.sql.functions._
    // N=10, n=3 → ntile sizes 4,3,3 over the (v, id) order
    val df = (1 to 10).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    val bins = Profiling.equalFrequencyBins(df, col("v"), col("id"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert((1 to 4).forall(i => bins(i.toLong) == 1L))
    assert((5 to 7).forall(i => bins(i.toLong) == 2L))
    assert((8 to 10).forall(i => bins(i.toLong) == 3L))
    // ties broken by id: equal values split across the bin edge by id order
    val tied = (1 to 4).map(i => (i.toLong, 7.0)).toDF("id", "v")
    val tb = Profiling.equalFrequencyBins(tied, col("v"), col("id"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(tb == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
    // null and NaN rows are excluded, not binned
    val messy = Seq((1L, Some(1.0)), (2L, Some(Double.NaN)), (3L, None), (4L, Some(2.0)))
      .toDF("id", "v")
    val mb = Profiling.equalFrequencyBins(messy, col("v"), col("id"), 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(mb == Map(1L -> 1L, 4L -> 2L))
    // fewer rows than bins: row i lands in bin i (ntile semantics)
    val few = Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v")
    val fb = Profiling.equalFrequencyBins(few, col("v"), col("id"), 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fb == Map(1L -> 1L, 2L -> 2L))
    // empty input: empty output, schema intact
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val eb = Profiling.equalFrequencyBins(empty, col("v"), col("id"), 3)
    assert(eb.columns.toSeq == Seq("id", "v", "bin") && eb.count() == 0)
  }

  test("count-min sketch: estimates never undercount, shard-merge equals single pass") {
    import org.apache.spark.sql.functions.col
    val keys = (1 to 40).flatMap(i => Seq.fill(i % 5 + 1)(s"k$i"))
    val df = keys.zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "key")
    val (depth, width) = (4, 64)

    val counters = Profiling.countMinCounters(df, col("key"), depth, width)
    // depth rows of counters, each summing to the total occurrence count
    val perRow = counters.groupBy(col("row")).sum("n")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perRow.keySet == (0 until depth).toSet)
    assert(perRow.values.forall(_ == keys.size.toLong))

    // one-sided error: est >= true for EVERY key
    val truth = keys.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val est = Profiling.countMinEstimate(
        counters, df.select(col("key")).distinct(), col("key"), depth, width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == truth.keySet)
    truth.foreach { case (k, n) =>
      assert(est(k) >= n, s"CMS undercounted $k: ${est(k)} < $n")
    }

    // a probe key never seen estimates 0 unless it collides (allow either,
    // but it must not be negative and must be <= total)
    val ghost = Profiling.countMinEstimate(
        counters, Seq("never-seen").toDF("key"), col("key"), depth, width)
      .collect().head.getLong(1)
    assert(ghost >= 0L && ghost <= keys.size.toLong)

    // mergeability: counters built per shard and merged == single pass
    val merged = Profiling.mergeCountMin(
      Profiling.countMinCounters(df.filter(col("id") % 2 === 0), col("key"), depth, width),
      Profiling.countMinCounters(df.filter(col("id") % 2 === 1), col("key"), depth, width))
    val a = counters.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val b = merged.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(a == b, "shard-merged counter table must equal the single-pass table")

    // null keys are excluded, not hashed
    val withNull = Seq((1L, Some("x")), (2L, None), (3L, Some("x"))).toDF("id", "key")
    val nn = Profiling.countMinCounters(withNull, col("key"), 2, 8)
    assert(nn.agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0) == 4L)
  }

  test("quantilesByGroup: true per-group order statistics; ties and null groups behave") {
    import org.apache.spark.sql.functions.col
    val rows =
      (1 to 100).map(i => (Some("a"), i.toDouble, i.toLong)) ++
      (1 to 10).map(i => (Some("b"), i.toDouble, (100 + i).toLong)) ++
      Seq((Option.empty[String], 7.0, 200L), (Option.empty[String], 9.0, 201L))
    val df = rows.toDF("g", "v", "id")
    val probs = Seq(0.5, 0.9, 0.99)
    val out = Profiling.quantilesByGroup(df, col("v"), col("id"), col("g"), probs, cells = 8)
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1)) -> r.getDouble(3)).toMap
    // mirror of the operator's rank rule, same IEEE expression
    def expect(n: Int, p: Double, vs: Seq[Double]): Double =
      vs.sorted.apply((math.max(1L, math.ceil(p * n).toLong) - 1).toInt)
    probs.foreach { p =>
      assert(out((Some("a"), p)) == expect(100, p, (1 to 100).map(_.toDouble)),
        s"group a p=$p")
      assert(out((Some("b"), p)) == expect(10, p, (1 to 10).map(_.toDouble)),
        s"group b p=$p")
      assert(out((None, p)) == expect(2, p, Seq(7.0, 9.0)), s"null group p=$p")
    }
    assert(out.size == 9, "groups x probs rows, null group included")
    // all-tied values: the order statistic is the tied value at any p
    val tied = Seq(("t", 5.0, 1L), ("t", 5.0, 2L), ("t", 5.0, 3L)).toDF("g", "v", "id")
    val tq = Profiling.quantilesByGroup(tied, col("v"), col("id"), col("g"), Seq(0.5))
      .head()
    assert(tq.getDouble(3) == 5.0 && tq.getLong(2) == 3L)
  }

  test("streaming CMS sink: estimates over the log equal the single-pass sketch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.streaming.StreamingSketch
    implicit val sqlCtx = spark.sqlContext
    val scratch = java.nio.file.Files.createTempDirectory("graft_stream_cms").toString
    val (log, ckpt) = (s"$scratch/cms", s"$scratch/ckpt")
    val (depth, width) = (4, 64)

    val stream = MemoryStream[(Long, String)]
    val sq = StreamingSketch.cmsSink(
      stream.toDF().toDF("id", "key"), col("key"), depth, width, log, ckpt)
    val batch1 = (1 to 30).map(i => (i.toLong, s"k${i % 7}"))
    val batch2 = (31 to 50).map(i => (i.toLong, s"k${i % 4}"))
    stream.addData(batch1); sq.processAllAvailable()
    stream.addData(batch2); sq.processAllAvailable()
    sq.stop()

    val all = (batch1 ++ batch2).map { case (i, k) => (i, k) }.toDF("id", "key")
    val merged = StreamingSketch.readCounters(spark, log)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val single = Profiling.countMinCounters(all, col("key"), depth, width)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(merged == single,
      "the merged per-batch counter log must equal the single-pass sketch")

    val est = StreamingSketch.readEstimates(
        spark, log, all.select(col("key")).distinct(), col("key"), depth, width)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = (batch1 ++ batch2).groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    truth.foreach { case (k, n) => assert(est(k) >= n) }
  }
  test("histogramFixed: shard merge by integer addition equals the single pass; clamp and fences") {
    val whole = Seq(5.0, 15.0, 15.5, 25.0, 999.0, -3.0).toDF("v")
    val h = Profiling.histogramFixed(whole, col("v"), 0.0, 30.0, 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getLong(3))).toMap
    // out-of-range CLAMPS into edge bins: -3 -> bin0, 999 -> bin2
    assert(h(0L) == ((0.0, 10.0, 2L)) && h(1L) == ((10.0, 20.0, 2L)) && h(2L) == ((20.0, 30.0, 2L)))
    // null/NaN fenced, not clamped
    val fenced = Profiling.histogramFixed(
      Seq(Some(5.0), None, Some(Double.NaN)).toDF("v"), col("v"), 0.0, 30.0, 3)
    assert(fenced.agg(sum(col("n"))).head().getLong(0) == 1L)
    // the mergeability contract: integer-add two shards' bins == whole
    val s1 = Profiling.histogramFixed(whole.filter(col("v") < 15.2), col("v"), 0.0, 30.0, 3)
    val s2 = Profiling.histogramFixed(whole.filter(col("v") >= 15.2), col("v"), 0.0, 30.0, 3)
    val merged = s1.unionByName(s2)
      .groupBy(col("bin"), col("lo"), col("hi")).agg(sum(col("n")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(merged == h.map { case (b, (_, _, n)) => b -> n })
  }

  test("histogramQuantile: hand-computed targets, interpolation, empty-bin skip, empty input") {
    val hist = Seq(
      (0L, 0.0, 10.0, 4L), (1L, 10.0, 20.0, 0L), (2L, 20.0, 30.0, 6L))
      .toDF("bin", "lo", "hi", "n")
    val q = Profiling.histogramQuantile(hist, Seq(0.2, 0.5, 1.0))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getDouble(6))).toMap
    // N=10: p=.2 -> target 2 -> bin0, est 0+10*(2-0)/4 = 5.0
    assert(q(0.2) == ((0L, 5.0)))
    // p=.5 -> target 5 -> bin2 (empty bin1 skipped), est 20+10*(5-4)/6
    assert(q(0.5)._1 == 2L && math.abs(q(0.5)._2 - (20.0 + 10.0 / 6.0)) < 1e-12)
    // p=1 -> target 10 -> bin2 upper edge exactly
    assert(q(1.0) == ((2L, 30.0)))
    // all-empty histogram: no rows, not NaN
    val empty = Seq((0L, 0.0, 10.0, 0L)).toDF("bin", "lo", "hi", "n")
    assert(Profiling.histogramQuantile(empty, Seq(0.5)).count() == 0L)
  }

  test("histogramFixedByGroup + quantileByGroup: shared domain, per-group estimates, empty group fence") {
    val df = Seq(("a", 5.0), ("a", 15.0), ("a", 25.0), ("b", 25.0), ("b", 999.0))
      .toDF("g", "v")
    val h = Profiling.histogramFixedByGroup(df, col("g"), col("v"), 0.0, 30.0, 3)
    // shared [0,30) domain: bins comparable across groups; 999 clamps to b's bin2
    val rows = h.collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(4)).toMap
    assert(rows == Map(("a",0L)->1L, ("a",1L)->1L, ("a",2L)->1L,
      ("b",0L)->0L, ("b",1L)->0L, ("b",2L)->2L))
    val q = Profiling.histogramQuantileByGroup(h, Seq(0.5))
      .collect().map(r => r.getString(0) -> (r.getLong(2), r.getDouble(7))).toMap
    // a: N=3, target 2 -> bin1, est 10+10*(2-1)/1 = 20; b: N=2, target 1 -> bin2, est 20+10*(1-0)/2 = 25
    assert(q("a") == ((1L, 20.0)) && q("b") == ((2L, 25.0)))
  }

  test("join-size estimation: exact census product; CMS inner product never underestimates") {
    val a = Seq("x", "x", "x", "y", "z").toDF("k")  // fA: x:3 y:1 z:1
    val b = Seq("x", "y", "y", "w").toDF("k")       // fB: x:1 y:2 w:1
    // true |A join B| = 3*1 + 1*2 = 5
    val exact = Profiling.joinSizeExact(a, col("k"), b, col("k")).head().getLong(0)
    assert(exact == 5L)
    val wide = Profiling.countMinJoinSize(
      Profiling.countMinCounters(a, col("k"), 4, 1024),
      Profiling.countMinCounters(b, col("k"), 4, 1024)).head().getLong(0)
    assert(wide >= exact, "the CMS estimate is one-sided: never under")
    // a deliberately tiny sketch forces collisions: still one-sided
    val tiny = Profiling.countMinJoinSize(
      Profiling.countMinCounters(a, col("k"), 2, 2),
      Profiling.countMinCounters(b, col("k"), 2, 2)).head().getLong(0)
    assert(tiny >= exact)
    // disjoint key sets: exact 0 (coalesced, not null)
    val disjoint = Profiling.joinSizeExact(
      Seq("p").toDF("k"), col("k"), Seq("q").toDF("k"), col("k")).head().getLong(0)
    assert(disjoint == 0L)
  }

  // ---------------- spearmanCorr ----------------

  test("spearmanCorr: perfect monotone is 1.0, reversed -1.0 (exact while Σ² fits a double)") {
    val mono = (1 to 50).map(i => (i.toDouble, math.exp(i * 0.1))).toDF("x", "y")
    val r = Profiling.spearmanCorr(mono, col("x"), col("y")).head()
    assert(r.getAs[Long]("n") == 50L)
    assert(r.getAs[Double]("spearman_rho") == 1.0)
    val rev = (1 to 50).map(i => (i.toDouble, -i * 3.0)).toDF("x", "y")
    assert(Profiling.spearmanCorr(rev, col("x"), col("y"))
      .head().getAs[Double]("spearman_rho") == -1.0)
  }

  test("spearmanCorr: hand-computed value with tie midranks") {
    // x: 1,2,2,3  midranks 1, 2.5, 2.5, 4  (doubled: 2,5,5,8)
    // y: 10,20,30,30  midranks 1, 2, 3.5, 3.5 (doubled: 2,4,7,7)
    // N=4, mean2 = 5; da = -3,0,0,3; db = -3,-1,2,2
    // sab = 9+0+0+6 = 15; saa = 18; sbb = 9+1+4+4 = 18 -> rho = 15/18
    val df = Seq((1.0, 10.0), (2.0, 20.0), (2.0, 30.0), (3.0, 30.0)).toDF("x", "y")
    val r = Profiling.spearmanCorr(df, col("x"), col("y")).head()
    assert(r.getAs[Double]("spearman_rho") == 15.0 / math.sqrt(18.0 * 18.0))
  }

  test("spearmanCorr: null/NaN pairs excluded; constant column gives NULL rho") {
    val df = Seq(
      (Some(1.0), Some(5.0)), (Some(2.0), Some(6.0)), (Some(3.0), Some(7.0)),
      (None, Some(9.0)), (Some(4.0), None), (Some(Double.NaN), Some(1.0)))
      .toDF("x", "y")
    val r = Profiling.spearmanCorr(df, col("x"), col("y")).head()
    assert(r.getAs[Long]("n") == 3L && r.getAs[Double]("spearman_rho") == 1.0)
    val const = Seq((1.0, 1.0), (2.0, 1.0), (3.0, 1.0)).toDF("x", "y")
    val c = Profiling.spearmanCorr(const, col("x"), col("y")).head()
    assert(c.isNullAt(c.fieldIndex("spearman_rho")))
    val e = Profiling.spearmanCorr(
      Seq.empty[(Double, Double)].toDF("x", "y"), col("x"), col("y")).head()
    assert(e.getAs[Long]("n") == 0L && e.isNullAt(e.fieldIndex("spearman_rho")))
  }

  test("spearmanCorr is partitioning- and cell-count-independent") {
    val rows = (0 until 400).map(i => (((i * 31) % 97).toDouble, ((i * 17) % 23).toDouble))
    val a = Profiling.spearmanCorr(rows.toDF("x", "y").repartition(1),
      col("x"), col("y")).head()
    val b = Profiling.spearmanCorr(rows.toDF("x", "y").repartition(13),
      col("x"), col("y"), cells = 7).head()
    assert(a == b)
    // outlier robustness: blowing up one y value moves ranks, not sums
    val out = rows.updated(0, (rows(0)._1, 1e18))
    val c = Profiling.spearmanCorr(out.toDF("x", "y"), col("x"), col("y")).head()
    assert(math.abs(c.getAs[Double]("spearman_rho") -
      a.getAs[Double]("spearman_rho")) < 0.05)
  }

  test("spearmanCorr/spearmanCorrBy direct-window path is bit-identical to the cell path") {
    // force each RankedPrefix path via directWindowRows (Long.MaxValue =
    // direct, 0 = cell): the doubled midranks are exact Long prefixes,
    // so n and rho must match bit for bit, solo and per group
    val rnd = new scala.util.Random(71)
    val df = (1 to 300).map { i =>
      (s"g${i % 4}", math.rint(rnd.nextGaussian() * 8) / 4,
        if (i % 4 == 3) 1.0 else math.rint(rnd.nextGaussian() * 5))
    }.toDF("g", "x", "y")
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Unit = {
      assert(a.count() == b.count())
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    }
    for (cells <- Seq(1, 5, 4096)) {
      same(Profiling.spearmanCorr(df, col("x"), col("y"), cells, Long.MaxValue),
        Profiling.spearmanCorr(df, col("x"), col("y"), cells, 0L))
      same(Profiling.spearmanCorrBy(df, col("g"), col("x"), col("y"), cells,
          Limits.BroadcastRowLimit, Long.MaxValue),
        Profiling.spearmanCorrBy(df, col("g"), col("x"), col("y"), cells,
          Limits.BroadcastRowLimit, 0L))
    }
    // the shuffled offsets join (broadcast limit 0) changes no row either
    same(Profiling.spearmanCorrBy(df, col("g"), col("x"), col("y"), 8, 0L, 0L),
      Profiling.spearmanCorrBy(df, col("g"), col("x"), col("y")))
  }

  test("spearmanCorrBy: per-group rho equals spearmanCorr run on each group alone") {
    val rnd = new scala.util.Random(67)
    val rows = (1 to 240).map { i =>
      val g = s"g${i % 3}"
      val x = math.rint(rnd.nextGaussian() * 6) / 2
      // per-group different relationships: g0 positive, g1 negative, g2 noise
      val y = g match {
        case "g0" => x + math.rint(rnd.nextGaussian() * 2)
        case "g1" => -x + math.rint(rnd.nextGaussian() * 2)
        case _    => math.rint(rnd.nextGaussian() * 4)
      }
      (g, x, y)
    }
    val df = rows.toDF("g", "x", "y")
    val grouped = Profiling.spearmanCorrBy(df, col("g"), col("x"), col("y"))
      .collect().map(r => r.getAs[String]("group_key") -> r).toMap
    assert(grouped.keySet == Set("g0", "g1", "g2"))
    for (g <- grouped.keySet) {
      val solo = Profiling.spearmanCorr(
        df.filter(col("g") === g), col("x"), col("y")).head()
      assert(grouped(g).getAs[Long]("n") == solo.getAs[Long]("n"))
      assert(grouped(g).getAs[Double]("spearman_rho") ==
        solo.getAs[Double]("spearman_rho"), s"group $g drifted from solo")
    }
    assert(grouped("g0").getAs[Double]("spearman_rho") > 0.5)
    assert(grouped("g1").getAs[Double]("spearman_rho") < -0.5)
    // null groups excluded; a constant-x group reports NULL rho
    val withNull = rows.map { case (g, x, y) =>
      (Option(g).filter(_ != "g2"), x, y) } :+ (Some("g3"), 1.0, 5.0)
    val g2 = Profiling.spearmanCorrBy(withNull.toDF("g", "x", "y"),
      col("g"), col("x"), col("y"))
      .collect().map(r => r.getAs[String]("group_key") -> r).toMap
    assert(g2.keySet == Set("g0", "g1", "g3"))
    assert(g2("g3").isNullAt(g2("g3").fieldIndex("spearman_rho")))
  }

  // ---------------- kendallTauBanded ----------------

  test("kendallTauBanded equals brute-force tau-b when values are band indices") {
    val rnd = new scala.util.Random(59)
    val rows = (1 to 150).map { _ =>
      val x = rnd.nextInt(8)
      // correlate y with x so tau is non-trivial
      val y = math.max(0, math.min(5, x / 2 + rnd.nextInt(3) - 1))
      (x.toDouble, y.toDouble)
    }
    val r = Profiling.kendallTauBanded(rows.toDF("x", "y"), col("x"), col("y"),
      loX = 0.0, hiX = 8.0, binsX = 8, loY = 0.0, hiY = 6.0, binsY = 6).head()
    var cc = 0L; var dd = 0L; var tx = 0L; var ty = 0L; var txy = 0L
    for (i <- rows.indices; j <- i + 1 until rows.size) {
      val sx = java.lang.Double.compare(rows(i)._1, rows(j)._1)
      val sy = java.lang.Double.compare(rows(i)._2, rows(j)._2)
      if (sx == 0 && sy == 0) txy += 1
      if (sx == 0) tx += 1
      if (sy == 0) ty += 1
      if (sx * sy > 0) cc += 1
      if (sx * sy < 0) dd += 1
    }
    assert(r.getAs[Long]("n") == rows.size.toLong)
    assert(r.getAs[Double]("concordant") == cc.toDouble)
    assert(r.getAs[Double]("discordant") == dd.toDouble)
    assert(r.getAs[Double]("tie_x2") == (2L * tx).toDouble)
    assert(r.getAs[Double]("tie_y2") == (2L * ty).toDouble)
    assert(r.getAs[Double]("tie_xy2") == (2L * txy).toDouble)
    val n = rows.size.toDouble
    val tauRef = (cc - dd).toDouble /
      math.sqrt((n * (n - 1.0) - 2.0 * tx) / 2.0 * ((n * (n - 1.0) - 2.0 * ty) / 2.0))
    assert(math.abs(r.getAs[Double]("tau_b") - tauRef) < 1e-12)
    // pair identity: every unordered pair is concordant, discordant,
    // or tied on at least one axis
    assert(2 * cc + 2 * dd + 2 * tx + 2 * ty - 2 * txy ==
      rows.size.toLong * (rows.size - 1))
  }

  test("kendallTauBanded: monotone grid is +1, reversed -1; constant axis gives NULL; nulls/NaN excluded") {
    val mono = (0 until 12).map(i => (i.toDouble, i.toDouble))
    val r1 = Profiling.kendallTauBanded(mono.toDF("x", "y"), col("x"), col("y"),
      0.0, 12.0, 12, 0.0, 12.0, 12).head()
    assert(r1.getAs[Double]("tau_b") == 1.0)
    val rev = mono.map { case (a, b) => (a, 11.0 - b) }
    val r2 = Profiling.kendallTauBanded(rev.toDF("x", "y"), col("x"), col("y"),
      0.0, 12.0, 12, 0.0, 12.0, 12).head()
    assert(r2.getAs[Double]("tau_b") == -1.0)
    val const = mono.map { case (a, _) => (a, 1.0) }
    val r3 = Profiling.kendallTauBanded(const.toDF("x", "y"), col("x"), col("y"),
      0.0, 12.0, 12, 0.0, 12.0, 12).head()
    assert(r3.isNullAt(r3.fieldIndex("tau_b")))
    val withBad = mono.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((None, Some(1.0)), (Some(1.0), None), (Some(Double.NaN), Some(2.0)))
    val r4 = Profiling.kendallTauBanded(withBad.toDF("x", "y"), col("x"), col("y"),
      0.0, 12.0, 12, 0.0, 12.0, 12).head()
    assert(r4.getAs[Long]("n") == 12L && r4.getAs[Double]("tau_b") == 1.0)
  }

  test("kendallTauBandedBy: per-group tau equals kendallTauBanded run on each group alone") {
    val rnd = new scala.util.Random(71)
    val rows = (1 to 240).map { i =>
      val g = s"g${i % 3}"
      val x = rnd.nextInt(8).toDouble
      val y = g match {
        case "g0" => math.max(0, math.min(5, x / 2 + rnd.nextInt(2))).toDouble
        case "g1" => math.max(0, math.min(5, 5 - x / 2 - rnd.nextInt(2))).toDouble
        case _    => rnd.nextInt(6).toDouble
      }
      (g, x, y)
    }
    val df = rows.toDF("g", "x", "y")
    val grouped = Profiling.kendallTauBandedBy(df, col("g"), col("x"), col("y"),
        0.0, 8.0, 8, 0.0, 6.0, 6)
      .collect().map(r => r.getAs[String]("group_key") -> r).toMap
    assert(grouped.keySet == Set("g0", "g1", "g2"))
    for (g <- grouped.keySet) {
      val solo = Profiling.kendallTauBanded(
        df.filter(col("g") === g), col("x"), col("y"),
        0.0, 8.0, 8, 0.0, 6.0, 6).head()
      val gr = grouped(g)
      assert(gr.getAs[Long]("n") == solo.getAs[Long]("n"))
      assert(gr.getAs[Double]("concordant") == solo.getAs[Double]("concordant"))
      assert(gr.getAs[Double]("discordant") == solo.getAs[Double]("discordant"))
      assert(gr.getAs[Double]("tau_b") == solo.getAs[Double]("tau_b"),
        s"group $g drifted from solo")
    }
    assert(grouped("g0").getAs[Double]("tau_b") > 0.3)
    assert(grouped("g1").getAs[Double]("tau_b") < -0.3)
  }

  test("kendallTauBanded: out-of-range values clamp to edge bands; partitioning-independent") {
    val rows = Seq((-99.0, -5.0), (0.5, 0.5), (1.5, 1.5), (99.0, 99.0))
    // clamps: (-99,-5)->(0,0); (99,99)->(3,3): still strictly monotone in bands
    val r = Profiling.kendallTauBanded(rows.toDF("x", "y"), col("x"), col("y"),
      0.0, 4.0, 4, 0.0, 4.0, 4).head()
    assert(r.getAs[Double]("tau_b") == 1.0)
    val rnd = new scala.util.Random(61)
    val big = (1 to 200).map(_ => (rnd.nextGaussian(), rnd.nextGaussian()))
    val a = Profiling.kendallTauBanded(big.toDF("x", "y"), col("x"), col("y"),
      -3.0, 3.0, 16, -3.0, 3.0, 16).head()
    val b = Profiling.kendallTauBanded(big.toDF("x", "y").repartition(17),
      col("x"), col("y"), -3.0, 3.0, 16, -3.0, 3.0, 16).head()
    assert(a.getAs[Double]("tau_b") == b.getAs[Double]("tau_b"))
    assert(a.getAs[Double]("concordant") == b.getAs[Double]("concordant"))
  }

  // ---------------- kendallTauExact ----------------

  private def bruteKendall(pts: Seq[(Double, Double)]): (Long, Long, Long, Long, Long) = {
    var c = 0L; var d = 0L
    for (i <- pts.indices; j <- (i + 1) until pts.size) {
      val s = (pts(j)._1 - pts(i)._1) * (pts(j)._2 - pts(i)._2)
      if (pts(i)._1 != pts(j)._1 && pts(i)._2 != pts(j)._2) {
        if (s > 0) c += 1 else d += 1
      }
    }
    def tie2(vs: Seq[Double]): Long =
      vs.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1)).sum
    val txy2 = pts.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1)).sum
    (c, d, tie2(pts.map(_._1)), tie2(pts.map(_._2)), txy2)
  }

  test("kendallTauExact matches the brute-force pair count, any cell count") {
    // deterministic mixed data: correlation + heavy ties on both axes
    val pts = (0 until 120).map { i =>
      val x = (i * 7 % 23).toDouble
      val y = (i * 7 % 23 + i % 5 - (i * 3 % 7)).toDouble
      (x, y)
    }
    val (c, d, tx2, ty2, txy2) = bruteKendall(pts)
    val n = pts.size.toLong
    val df = pts.toDF("x", "y")
    for (cells <- Seq(1, 3, 16, 256)) {
      val r = Profiling.kendallTauExact(df, col("x"), col("y"), cells).head()
      assert(r.getAs[Long]("n") == n, s"cells=$cells")
      assert(r.getAs[Double]("concordant") == c.toDouble, s"cells=$cells")
      assert(r.getAs[Double]("discordant") == d.toDouble, s"cells=$cells")
      assert(r.getAs[Double]("tie_x2") == tx2.toDouble)
      assert(r.getAs[Double]("tie_y2") == ty2.toDouble)
      assert(r.getAs[Double]("tie_xy2") == txy2.toDouble)
      // pair identity: 2C + 2D + tx2 + ty2 - txy2 = n(n-1)
      assert(2 * c + 2 * d + tx2 + ty2 - txy2 == n * (n - 1))
      val dx = (n.toDouble * (n - 1).toDouble - tx2.toDouble) / 2.0
      val dy = (n.toDouble * (n - 1).toDouble - ty2.toDouble) / 2.0
      assert(r.getAs[Double]("tau_b") == (c.toDouble - d.toDouble) / math.sqrt(dx * dy))
      // tie-corrected significance z (the scipy kendalltau convention)
      def tieSums(vs: Seq[Double]): (BigInt, BigInt, BigInt) = {
        val ts = vs.groupBy(identity).values.map(g => BigInt(g.size)).toSeq
        (ts.map(t => t * (t - 1)).sum,
          ts.map(t => t * (t - 1) * (2 * t + 5)).sum,
          ts.map(t => t * (t - 1) * (t - 2)).sum)
      }
      val (v1x, v2x, v3x) = tieSums(pts.map(_._1))
      val (v1y, v2y, v3y) = tieSums(pts.map(_._2))
      val nB = BigInt(n)
      val nd = n.toDouble
      val varCD = (nB * (nB - 1) * (2 * nB + 5) - v2x - v2y).toDouble / 18.0 +
        (v1x * v1y).toDouble / (2.0 * nd * (nd - 1.0)) +
        (v3x * v3y).toDouble / (9.0 * nd * (nd - 1.0) * (nd - 2.0))
      val z = (c.toDouble - d.toDouble) / math.sqrt(varCD)
      assert(r.getAs[Double]("z") == z, s"cells=$cells z")
      assert(r.getAs[Double]("p_two_sided") > 0.0 &&
        r.getAs[Double]("p_two_sided") <= 1.0)
    }
  }

  test("kendallTauExact: monotone data gives tau_b = 1; constant column gives NULL; empty gives 0-row shape") {
    val mono = (1 to 50).map(i => (i.toDouble, i.toDouble * 2 + 1)).toDF("x", "y")
    val rm = Profiling.kendallTauExact(mono, col("x"), col("y")).head()
    assert(rm.getAs[Double]("tau_b") == 1.0)
    val const = (1 to 50).map(i => (i.toDouble, 7.0)).toDF("x", "y")
    val rc = Profiling.kendallTauExact(const, col("x"), col("y")).head()
    assert(rc.isNullAt(rc.fieldIndex("tau_b")))   // no y order to correlate
    val empty = Seq.empty[(Double, Double)].toDF("x", "y")
    val re = Profiling.kendallTauExact(empty, col("x"), col("y")).head()
    assert(re.getAs[Long]("n") == 0L && re.isNullAt(re.fieldIndex("tau_b")))
  }

  test("kendallTauExact sees within-band inversions the banded form misses") {
    // all points inside ONE band of a coarse grid: banded tau sees ties
    // only; exact tau resolves the inversion structure
    val pts = Seq((0.10, 0.19), (0.11, 0.17), (0.12, 0.15), (0.13, 0.13))
    val df = pts.toDF("x", "y")
    val banded = Profiling.kendallTauBanded(df, col("x"), col("y"),
      loX = 0.0, hiX = 1.0, binsX = 2, loY = 0.0, hiY = 1.0, binsY = 2).head()
    val exact = Profiling.kendallTauExact(df, col("x"), col("y")).head()
    assert(banded.isNullAt(banded.fieldIndex("tau_b"))) // everything one band: all tied
    assert(exact.getAs[Double]("tau_b") == -1.0)        // perfectly inverted
  }

  // ---------------- normalityJarqueBera ----------------

  test("normalityJarqueBera matches the exact-integer-numerator dag") {
    val vs = Seq(2L, 4L, 4L, 4L, 5L, 5L, 7L, 9L)
    val df = vs.map(Tuple1(_)).toDF("v")
    val r = Profiling.normalityJarqueBera(df, col("v")).head()
    val n = vs.size
    // replicate: integer shift m0 = floor(mean), shifted integer sums
    val m0 = math.floor(vs.sum.toDouble / n).toLong
    val d = vs.map(_ - m0)
    val (s1, s2, s3, s4) = (d.sum, d.map(x => x * x).sum,
      d.map(x => x * x * x).sum, d.map(x => x * x * x * x).sum)
    val m2n = n.toLong * s2 - s1 * s1
    val m3n = n.toLong * n * s3 - 3L * n * s1 * s2 + 2L * s1 * s1 * s1
    val m4n = n.toLong * n * n * s4 - 4L * n.toLong * n * s1 * s3 +
      6L * n * s1 * s1 * s2 - 3L * s1 * s1 * s1 * s1
    val nd = n.toDouble
    val m2 = m2n.toDouble / (nd * nd)
    val skew = (m3n.toDouble / (nd * nd * nd)) / (m2 * math.sqrt(m2))
    val kurt = (m4n.toDouble / (nd * nd * nd * nd)) / (m2 * m2)
    assert(r.getAs[Long]("n") == n.toLong)
    assert(r.getAs[Double]("m2") == m2)
    assert(r.getAs[Double]("skewness") == skew)
    assert(r.getAs[Double]("kurtosis") == kurt)
    assert(math.abs(r.getAs[Double]("mean") - 5.0) < 1e-12)
    assert(r.getAs[Double]("jb_stat") > 0.0)
    assert(r.getAs[Double]("p_value") > 0.0 && r.getAs[Double]("p_value") <= 1.0)
  }

  test("normalityJarqueBera: symmetric vs skewed; constant and empty fences") {
    // binomial(40, 0.5)-ish via popcount of the row index: symmetric,
    // near-normal -> small |skew| and JB
    val sym = spark.range(0, 4096)
      .select(expr("bit_count(id)").cast("long").as("v"))
    val rs = Profiling.normalityJarqueBera(sym, col("v")).head()
    // geometric-ish: heavily right-skewed
    val skw = spark.range(0, 4096)
      .select((col("id") % 7L) * (col("id") % 7L) * (col("id") % 7L) + 1L)
      .toDF("v")
    val rk = Profiling.normalityJarqueBera(skw, col("v")).head()
    assert(math.abs(rs.getAs[Double]("skewness")) < 0.2)
    assert(rk.getAs[Double]("skewness") > 0.5)
    assert(rs.getAs[Double]("jb_stat") < rk.getAs[Double]("jb_stat"))
    assert(rs.getAs[Double]("p_value") > rk.getAs[Double]("p_value"))
    val const = Seq(7L, 7L, 7L).map(Tuple1(_)).toDF("v")
    val rc = Profiling.normalityJarqueBera(const, col("v")).head()
    assert(rc.getAs[Double]("m2") == 0.0 && rc.isNullAt(rc.fieldIndex("skewness")))
    assert(rc.isNullAt(rc.fieldIndex("jb_stat")))
    val empty = Seq.empty[Long].map(Tuple1(_)).toDF("v")
    val re = Profiling.normalityJarqueBera(empty, col("v")).head()
    assert(re.getAs[Long]("n") == 0L && re.isNullAt(re.fieldIndex("p_value")))
  }

  test("normalityJarqueBeraBy: grouped equals solo per group (shift-invariant numerators)") {
    val df = (Seq.tabulate(300)(i => ("a", (i % 13).toLong * (i % 13) + 2)) ++
      Seq.tabulate(200)(i => ("b", 50L + (i % 11)))).toDF("g", "v")
    val grouped = Profiling.normalityJarqueBeraBy(df, col("g"), col("v"))
      .collect().map(r => r.getAs[String]("group_key") -> r).toMap
    for (g <- Seq("a", "b")) {
      val solo = Profiling.normalityJarqueBera(df.filter(col("g") === g), col("v")).head()
      val gr = grouped(g)
      assert(gr.getAs[Long]("n") == solo.getAs[Long]("n"))
      // the integer numerators are shift-invariant, so these are
      // bit-equal even though the two forms used different shifts
      for (f <- Seq("m2", "skewness", "kurtosis", "jb_stat", "p_value"))
        assert(gr.getAs[Double](f) == solo.getAs[Double](f), s"$g.$f")
      // mean rides a different (stated) float route per form: m0 + S1/n
      assert(math.abs(gr.getAs[Double]("mean") - solo.getAs[Double]("mean")) < 1e-9)
    }
  }

  test("kendallTauExactBy: grouped equals solo per group, bit for bit") {
    // groups with different relationships, shapes, and tie structure
    val pts = Seq.tabulate(150)(i => ("pos", (i % 17).toDouble, ((i % 17) + i % 3).toDouble)) ++
      Seq.tabulate(120)(i => ("neg", (i % 13).toDouble, (20 - (i % 13) + i % 2).toDouble)) ++
      Seq.tabulate(90)(i => ("tie", (i % 5).toDouble, 7.0))
    val df = pts.toDF("g", "x", "y")
    val grouped = Profiling.kendallTauExactBy(df, col("g"), col("x"), col("y"))
      .collect().map(r => r.getAs[String]("group_key") -> r).toMap
    assert(grouped.keySet == Set("pos", "neg", "tie"))
    for (g <- Seq("pos", "neg", "tie")) {
      val solo = Profiling.kendallTauExact(
        df.filter(col("g") === g), col("x"), col("y")).head()
      val gr = grouped(g)
      assert(gr.getAs[Long]("n") == solo.getAs[Long]("n"), s"$g.n")
      // exact integer pair counts are cell-layout-invariant, so the
      // grouped (global-bounds) and solo (own-bounds) forms agree
      // bit for bit on every output
      for (f <- Seq("concordant", "discordant", "tie_x2", "tie_y2", "tie_xy2",
          "tau_b", "z", "p_two_sided")) {
        val a = gr.isNullAt(gr.fieldIndex(f)); val b = solo.isNullAt(solo.fieldIndex(f))
        assert(a == b, s"$g.$f nullity")
        if (!a) assert(gr.getAs[Double](f) == solo.getAs[Double](f), s"$g.$f")
      }
    }
    // the constant-y group has no rank order: tau NULL
    assert(grouped("tie").isNullAt(grouped("tie").fieldIndex("tau_b")))
    assert(grouped("pos").getAs[Double]("tau_b") > 0.0)
    assert(grouped("neg").getAs[Double]("tau_b") < 0.0)
  }
}
