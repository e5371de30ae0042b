package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Freshness
import graft.operators.Freshness.FreshnessSpec
import graft.operators.Reconciliation
import graft.operators.Reconciliation.CensusSpec
import graft.sources.{FanOut, Sinks}

/** The reference's two entry-point flows (SURVEY.md §3), end to end:
  * multi-source discovery → per-source check with skip → one scan per
  * table over every planned source → one grouped aggregation → report
  * → sink with verify-count. Each run returns the persisted row count
  * and the skip/telemetry records the reference printed as log lines
  * (data_consistency_checks.py:146-147, 166-168).
  *
  * Where the reference visits sources in a sequential Python loop and
  * eagerly materializes between steps, here the fleet is one relational
  * plan: [[FanOut.planTables]] checks each source on the driver (file
  * system and parquet footers, no Spark job), each table is read once
  * over all planned sources with the source as a column, and the
  * tables' rows are unioned into ONE aggregation per check. The sink's
  * read-back sums the written files' parquet footers on the driver.
  * So the Spark jobs are fixed per flow: the aggregation's shuffle and
  * the write in DCC, plus the destination side's shuffle in PPE —
  * whatever the number of sources or tables.
  */
object Pipelines {

  final case class RunReport(
      rowsWritten: Long,
      sourcesTotal: Int,
      skipped: Seq[FanOut.SkipRecord]) {
    def telemetry: String = FanOut.telemetryLine(sourcesTotal, skipped.size)
  }

  /** Facility / site id of a source: its name's hash (the config-lookup
    * analog when no global_property-style table exists). */
  private def sourceKey(name: Column): Column =
    pmod(xxhash64(name), lit(Int.MaxValue)).cast("int")

  /** DCC freshness-consistency pipeline over a directory of source
    * "schemas" (each a subdirectory holding one parquet per table):
    * discover → per-source max date per fact table, wide, in one
    * aggregation over the tables' scans → ordinal stddev score →
    * replace-sink. Every planned source gets a report row, also one
    * whose rows all fall after the cutoff (null max dates and score).
    */
  def freshnessPipeline(
      spark: SparkSession,
      sourcesRoot: String,
      sourcePrefix: String,
      factTables: Seq[(String, String)], // (tableName, eventTsColumn)
      cutoff: Column,
      outPath: String): RunReport = {
    val sources = FanOut.discoverSources(sourcesRoot, sourcePrefix)
    val plan = FanOut.planTables(spark, sourcesRoot, sources,
      factTables.map { case (t, tsCol) => t -> Seq(tsCol) })
    val written =
      if (plan.sources.isEmpty) 0L
      else {
        val rows = Freshness.datedRows(Seq(col(FanOut.SourceColumn).as("facility_name")),
          factTables.map { case (t, tsCol) =>
            FreshnessSpec(t, plan.scan(spark, t), col(tsCol), cutoff)
          })
        // every planned source, dateless: its row survives a cutoff that drops all its rows
        val planned = spark.createDataset(plan.sources)(Encoders.STRING).toDF("facility_name")
        val wide = Freshness.pivotMaxDates(rows.unionByName(planned, allowMissingColumns = true),
          Seq("facility_name"), factTables.map(_._1))
        val report = Freshness.freshnessReport(
          wide.withColumn("facility_id", sourceKey(col("facility_name"))),
          Seq("facility_id", "facility_name"), factTables.map(_._1), current_date())
        Sinks.writeReplace(report, outPath) // S7 + S9 verify read-back
      }
    RunReport(written, sources.size, plan.skipped)
  }

  /** PPE reconciliation pipeline: source census (one aggregation by
    * site and table over the tables' scans, soft-delete filtered) vs
    * destination census →
    * full outer join → variance → append-sink (accumulate-by-run-date
    * design, S8).
    */
  def reconciliationPipeline(
      spark: SparkSession,
      sourcesRoot: String,
      sourcePrefix: String,
      censusTables: Seq[(String, Option[String])], // (table, voided-style column)
      destination: DataFrame, // (site_id, table_name, record_count)
      outPath: String): RunReport = {
    val sources = FanOut.discoverSources(sourcesRoot, sourcePrefix)
    val plan = FanOut.planTables(spark, sourcesRoot, sources,
      censusTables.map { case (t, voidedCol) => t -> voidedCol.toSeq })
    val written =
      if (plan.sources.isEmpty) 0L
      else {
        val srcCounts = Reconciliation.censusUnion(censusTables.map { case (t, voidedCol) =>
          CensusSpec(t, plan.scan(spark, t), sourceKey(col(FanOut.SourceColumn)),
            voidedCol.map(c => col(c) === 0))
        })
        Sinks.writeAppend(
          Reconciliation.reconcile(srcCounts, destination, current_date()), outPath)
      }
    RunReport(written, sources.size, plan.skipped)
  }
}
