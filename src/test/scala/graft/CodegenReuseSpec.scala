package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins generated-class REUSE across repeated invocations of the same
  * plans, the nightly fleet batch's shape: a repeated run must compile
  * no class. Counts are Spark's JVM-wide Janino compiles
  * (`CodegenMetrics`); suites run one at a time in the test JVM.
  *
  * Two session settings in [[GraftSession.configure]] make this hold.
  * With neither, the fleet spec's second run recompiled 96 and 120
  * classes in two trials. With only the larger `spark.sql.codegen.cache.maxEntries`,
  * the catalog spec's repeated q81 recompiles the stages AQE numbered
  * differently (`spark.sql.codegen.useIdInClassName=false` removes the
  * id from the class name). The cache size alone is not pinned here:
  * these fixtures compile fewer classes than Spark's 100-entry default
  * holds once ids are off.
  */
class CodegenReuseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("a repeated fleet run (DCC freshness + PPE reconciliation) compiles no generated class") {
    val root = Files.createTempDirectory("fleet").toString
    val facts = Seq("obs", "encounter", "orders")
    val sources = (1 to 5).map(i => s"openmrs_site$i")
    sources.zipWithIndex.foreach { case (src, i) =>
      // the last source misses `orders`: the DCC flow skips it
      val tables = if (i == sources.size - 1) facts.init else facts
      tables.foreach { t =>
        (1 to 20 + 7 * i).map(k => (k, ts(f"2020-${1 + k % 12}%02d-10 00:00:00"), k % 3 / 2))
          .toDF("id", "event_ts", "voided").write.parquet(s"$root/$src/$t")
      }
    }
    val dest = sources.take(3).map { src =>
      spark.range(1).select(
        pmod(xxhash64(lit(src)), lit(Int.MaxValue)).cast("int").as("site_id"),
        lit("obs").as("table_name"), lit(25L).as("record_count"))
    }.reduce(_ unionByName _)
    val out = Files.createTempDirectory("fleetout").toString

    def fleetRun(): (Pipelines.RunReport, Pipelines.RunReport) = (
      Pipelines.freshnessPipeline(spark, root, "openmrs_",
        facts.map(_ -> "event_ts"), to_timestamp(lit("2021-01-01 00:00:00")),
        s"$out/dcc"),
      Pipelines.reconciliationPipeline(spark, root, "openmrs_",
        Seq("obs" -> Some("voided"), "encounter" -> Some("voided")), dest,
        s"$out/ppe"))

    val first = fleetRun()
    assert(first._1.rowsWritten == 4 && first._1.skipped.map(_.source) == Seq(sources.last))
    assert(first._2.rowsWritten == 10 && first._2.skipped.isEmpty)

    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = fleetRun()
    val recompiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    assert(second == first, "the repeated run reports what the first did")
    assert(recompiled == 0,
      s"the repeated fleet run compiled $recompiled generated class(es): " +
        "identical stages are not served from Spark's codegen cache " +
        "(check GraftSession.configure's codegen settings)")
  }

  test("repeated passes of a catalog query with AQE re-planning (q81) compile no generated class") {
    def pass(): Long = {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      Bench.evalAll(SparkEntry.queries("q81_inclusion")(spark, TestSpark.sf))
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles
    }
    pass()
    val warm = Seq(pass(), pass())
    assert(warm == Seq(0L, 0L),
      s"warm passes of q81 compiled ${warm.mkString(" and ")} generated class(es)")
  }
}
