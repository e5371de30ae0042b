package graft

import java.nio.file.Files

import org.apache.spark.graftbridge.TestBus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Freshness.FreshnessSpec
import graft.operators.Reconciliation.CensusSpec
import graft.operators.{Freshness, Reconciliation}
import graft.sources.{FanOut, Sinks}

/** §2.8 semantic fine print + engine chrome (fan-out, sinks). */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("empty-input asymmetry (§2.8.1): global agg 1 row, grouped agg 0 rows") {
    val empty = Seq.empty[(Int, java.sql.Timestamp)].toDF("site", "t")
    val globalAgg = empty.agg(count(lit(1)).as("c"), max($"t").as("m"))
    assert(globalAgg.count() == 1)
    val row = globalAgg.head()
    assert(row.getLong(0) == 0 && row.isNullAt(1))
    assert(empty.groupBy($"site").agg(count(lit(1))).count() == 0)
  }

  test("freshness branch emits cutoff-filtered count and max date") {
    val df = Seq((1, ts("2020-01-01 00:00:00")), (2, ts("2020-06-15 12:00:00")),
      (3, ts("2099-01-01 00:00:00"))).toDF("id", "t") // future row excluded
    val fac = Seq((7, "site7")).toDF("facility_id", "facility_name")
    val out = Freshness.loadingStatus(fac,
      Seq(FreshnessSpec("tbl", df, $"t", to_timestamp(lit("2021-01-01 00:00:00")))),
      to_timestamp(lit("2021-01-01 00:00:00"))).head()
    assert(out.getInt(0) == 7 && out.getString(2) == "tbl")
    assert(out.getLong(3) == 2)
    assert(out.getDate(4).toString == "2020-06-15")
    assert(out.getInt(5) == 0) // Q1 2021 → quarter-1 = 0 (underflow preserved)
  }

  test("pivot produces deterministic columns incl. absent pivot values") {
    val long = Seq((1, "a", "2020-01-01"), (1, "b", "2020-02-01"))
      .toDF("facility_id", "table_name", "max_date")
      .withColumn("max_date", to_date($"max_date"))
    val wide = Freshness.pivotMaxDates(long, Seq("facility_id"), Seq("a", "b", "zzz"))
    assert(wide.columns.toSeq ==
      Seq("facility_id", "a_max_date", "b_max_date", "zzz_max_date"))
    assert(wide.head().isNullAt(3)) // absent pivot value → null column
  }

  test("reconciliation: variance sign, null propagation, key coalescing (J1/E9)") {
    val src = Seq((1, "t", 10L), (2, "t", 5L)).toDF("site_id", "table_name", "record_count")
    val dst = Seq((1, "t", 7L), (3, "t", 9L)).toDF("site_id", "table_name", "record_count")
    val out = Reconciliation.reconcile(src, dst, current_date())
      .orderBy("site_id").collect()
    assert(out.length == 3)
    // columns: site_id, table_name, record_count_source, record_count_ohdl,
    //          variance, date_created
    val bySite = out.map(r => r.getInt(0) -> r).toMap
    assert(bySite(1).getLong(4) == 3)         // 10 − 7
    assert(bySite(2).isNullAt(4))             // dest missing → null variance
    assert(bySite(3).isNullAt(2) && bySite(3).isNullAt(4)) // src missing
    assert(bySite(3).getString(1) == "t")     // key coalesced from dest side
  }

  test("census: liveRow filter applied; None reproduces no-voided quirk") {
    val df = Seq((1, 0), (1, 0), (1, 1), (2, 0)).toDF("site", "voided")
    val both = Reconciliation.censusUnion(Seq(
        CensusSpec("filtered", df, $"site", Some($"voided" === 0)),
        CensusSpec("unfiltered", df, $"site", None)))
      .collect().groupBy(_.getString(1))
      .view.mapValues(_.map(r => r.getInt(0) -> r.getLong(2)).toMap).toMap
    assert(both("filtered") == Map(1 -> 2L, 2 -> 1L))
    assert(both("unfiltered") == Map(1 -> 3L, 2 -> 1L))
  }

  test("fan-out: missing source skipped atomically, others union (S4/S5, §2.8.8)") {
    val root = Files.createTempDirectory("fanout").toFile
    def write(name: String, rows: Seq[(Int, String)]): Unit =
      rows.toDF("k", "v").write.parquet(s"$root/$name/data")
    write("openmrs_a", Seq((1, "x")))
    write("openmrs_b", Seq((2, "y"), (3, "z")))
    new java.io.File(s"$root/openmrs_broken").mkdirs() // schema with missing table
    write("other_c", Seq((9, "ignored")))              // fails prefix filter

    val res = FanOut.fanOut(FanOut.discoverSources(root.toString, "openmrs_"),
      src => spark.read.parquet(s"$root/$src/data"))
    assert(res.skipped.map(_.source) == Seq("openmrs_broken"))
    val df = res.df.get
    assert(df.count() == 3)
    assert(df.select("source_schema").distinct().as[String].collect().toSet ==
      Set("openmrs_a", "openmrs_b"))
    assert(res.telemetry(3) == "2 out of 3 sources processed successfully")
  }

  test("fan-out: non-analysis errors propagate (S6)") {
    intercept[IllegalStateException] {
      FanOut.fanOut(Seq("x"), _ => throw new IllegalStateException("boom"))
    }
  }

  test("bucketed tables: co-located join has no shuffle exchange") {
    val li = Tables.lineitem(spark, TestSpark.sf)
      .select("l_orderkey", "l_quantity")
    val or = Tables.orders(spark, TestSpark.sf)
      .select("o_orderkey", "o_totalprice")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    // drop both metadata and any leftover managed-table location from
    // an earlier aborted run (DROP alone doesn't clear an orphan dir)
    Seq("li_b", "or_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
        }
        rm(loc)
      }
    }
    assert(Sinks.writeBucketed(li, "li_b", Seq("l_orderkey"), 8) == li.count())
    assert(Sinks.writeBucketed(or, "or_b", Seq("l_orderkey"), 8) == or.count())
    // force the sort-merge path (at test SF the planner would rather
    // broadcast, which bypasses bucketing entirely) to show the
    // co-located join reads buckets directly — no shuffle exchange
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b").join(spark.table("or_b"), "l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"))
      assert(plan.contains("Bucketed: true"))
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("content reconcile: identical sides all-ok; delete and modify classify per bucket") {
    val B = 16
    val key = $"k".cast("string")
    val canon = concat_ws("|", $"k", $"v")
    val src = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")

    val same = Reconciliation.contentReconcile(src, src, key, canon, B)
    assert(same.filter($"status" =!= "ok").count() == 0)
    assert(same.count() <= B)

    // a deleted key -> count_mismatch in its bucket; a modified row
    // keeps its key bucket, so it reads as content_mismatch (same
    // count, different fingerprint) — invisible to a count-only
    // reconcile (q07's shape)
    val dst = src.filter($"k" =!= 7L)
      .withColumn("v", when($"k" === 13L, lit("CORRUPT")).otherwise($"v"))
    val rec = Reconciliation.contentReconcile(src, dst, key, canon, B)
    val byStatus = rec.filter($"status" =!= "ok")
      .groupBy($"status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // k=7 and k=13 hash to different buckets here (fixture-pinned)
    assert(byStatus == Map("count_mismatch" -> 1L, "content_mismatch" -> 1L))
  }

  test("content reconcile drilldown: diff keys recover exactly the planted rows") {
    val B = 16
    val key = $"k".cast("string")
    val canon = concat_ws("|", $"k", $"v")
    val src = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
    val dupRow = Seq((42L, "v42")).toDF("k", "v")
    // dest: drop k=5, corrupt k=9, duplicate k=42 (an identical extra
    // copy xors the fingerprint back to itself pairwise — the count
    // component must catch it)
    val dst = src.filter($"k" =!= 5L)
      .withColumn("v", when($"k" === 9L, lit("X")).otherwise($"v"))
      .unionByName(dupRow)
    val diff = Reconciliation.contentDiffKeys(src, dst, key, canon, B)
    val got = diff.select($"key", $"n_source", $"n_dest", $"status").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == Set(
      ("5", 1L, 0L, "count_mismatch"),
      ("9", 1L, 1L, "content_mismatch"),
      ("42", 1L, 2L, "count_mismatch")))
    // restricting to the localized buckets reproduces the same diff
    val buckets = Reconciliation.contentReconcile(src, dst, key, canon, B)
      .filter($"status" =!= "ok").select($"bucket")
      .collect().map(_.getLong(0)).toSeq
    val scoped =
      Reconciliation.contentDiffKeys(src, dst, key, canon, B, Some(buckets))
    assert(scoped.collect().toSet == diff.collect().toSet)
  }

  test("sinks: replace overwrites, append accumulates, verify counts (S7-S9)") {
    val dir = Files.createTempDirectory("sink").toString + "/out"
    val df = Seq((1, "a"), (2, "b")).toDF("k", "v")
    assert(Sinks.writeReplace(df, dir) == 2)
    assert(Sinks.writeReplace(df, dir) == 2)  // drop-and-replace, not append
    assert(Sinks.writeAppend(df, dir) == 2)   // rows written THIS run (S8)
    assert(spark.read.parquet(dir).count() == 4) // table accumulated
  }

  test("sinks: the read-back sums the written files' parquet footers, with no Spark job") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val out = Files.createTempDirectory("sink-footers").toString + "/out"
    val sc = spark.sparkContext
    val conf = spark.sessionState.newHadoopConf()
    def dataFiles = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-"))
    val small = Seq((-1L, 1L), (-2L, 2L)).toDF("id", "k")
    // a first append to a missing path counts from 0
    assert(TestBus.countJobs(sc)(Sinks.writeAppend(small, out)) == (2L, 1))
    // one file of many row groups (1 KB blocks)
    val big = spark.range(0, 20000, 1, 1).select($"id", ($"id" % 7).as("k"))
    spark.conf.set("parquet.block.size", "1024")
    val replaced =
      try TestBus.countJobs(sc)(Sinks.writeReplace(big, out))
      finally spark.conf.unset("parquet.block.size")
    assert(replaced == (20000L, 1))
    val rowGroups = dataFiles.map { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
      try reader.getRowGroups.size finally reader.close()
    }
    assert(rowGroups.sum > 1, rowGroups.toSeq)
    assert(replaced._1 == spark.read.parquet(out).count())
    assert(TestBus.countJobs(sc)(Sinks.writeAppend(small, out)) == (2L, 1))
    assert(spark.read.parquet(out).count() == 20002L)
    // the footers of data files only: `_SUCCESS` and `.crc` checksums are there too
    val names = new java.io.File(out).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)

    // a truncated part file fails the read-back instead of giving a count
    val victim = dataFiles.head
    new java.io.File(victim.getParent, s".${victim.getName}.crc").delete()
    val raf = new java.io.RandomAccessFile(victim, "rw")
    try raf.setLength(raf.length / 2) finally raf.close()
    intercept[Exception](Sinks.writeAppend(small, out))
  }
}
