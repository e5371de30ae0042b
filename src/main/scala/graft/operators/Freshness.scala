package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DqFunctions._

/** The DCC "loading status" / freshness-consistency pipeline
  * (SURVEY.md §2/§3, reference: data_consistency_checks.py).
  *
  * Spark-first re-expression: per table, a count + max event date
  * with a temporal sanity cutoff (a global aggregate per branch for
  * one facility, [[loadingStatus]]), pivoted wide by table, and scored
  * with a row-wise sample stddev of the max-dates' day ordinals
  * (data_consistency_checks.py:43-77, 125-141).
  *
  * Scale notes: [[groupedLoadingStatus]] projects each table's rows to
  * (facility, table, date) ([[datedRows]]), unions the projections and
  * aggregates ONCE, partial-aggregated at the scans: one shuffle and
  * one Spark job for any number of tables, and #facilities × #tables
  * rows cross it. [[pivotMaxDates]] is one aggregation too, so it goes
  * from the long frame or straight from [[datedRows]] to the wide
  * frame (max of max is max).
  */
object Freshness {

  /** One fact table to check: branch label, frame, event-time column,
    * and the temporal cutoff (reference uses NOW(); fixed literal for
    * determinism, SURVEY.md §7.5).
    */
  final case class FreshnessSpec(
      tableName: String,
      df: DataFrame,
      eventTs: Column,
      cutoff: Column)

  /** Global-aggregate branch (A1): exactly one row, even over an empty
    * input (count 0, max_date null) — data_consistency_checks.py:48-52.
    */
  private def branch(spec: FreshnessSpec, quarterOf: Column): DataFrame =
    spec.df
      .filter(spec.eventTs < spec.cutoff)                 // P2 sanity predicate
      .agg(
        count(lit(1)).as("record_count"),                 // COALESCE(COUNT(*),0) — count is never null
        max(to_date(spec.eventTs)).as("max_date"))        // E2 DATE() + A1 MAX
      .select(
        lit(spec.tableName).as("table_name"),             // P5 constant branch tag
        col("record_count"),
        col("max_date"),
        (quarter(quarterOf) - 1).cast("int").as("reporting_quarter")) // E4, incl. Q1→0 underflow

  /** The per-source loading-status query: N branches UNION ALL'd (U1),
    * each row prefixed with the facility identity resolved from a
    * 1-row config lookup (J2/J3 scalar-subquery analog, attached via
    * broadcast cross join — no collect, stays one lazy plan).
    */
  def loadingStatus(
      facility: DataFrame, // 1 row: (facility_id, facility_name)
      specs: Seq[FreshnessSpec],
      quarterOf: Column): DataFrame = {
    val long = specs.map(branch(_, quarterOf)).reduce(_ unionByName _)
    long.crossJoin(broadcast(facility))
      .select("facility_id", "facility_name", "table_name",
        "record_count", "max_date", "reporting_quarter")
  }

  /** Every spec's rows before its cutoff (P2), projected to `keys`
    * (named columns over each spec's frame), `table_name` (P5) and the
    * event date `max_date` (E2) and unioned: the input of one
    * aggregation over all tables. */
  def datedRows(keys: Seq[Column], specs: Seq[FreshnessSpec]): DataFrame =
    specs.map { spec =>
      spec.df
        .filter(spec.eventTs < spec.cutoff)
        .select(keys :+ lit(spec.tableName).as("table_name") :+
          to_date(spec.eventTs).as("max_date"): _*)
    }.reduce(_ unionByName _)

  /** Grouped (per-facility) variant of the loading status — the S4
    * fan-out re-expressed as one distributed grouped aggregation
    * instead of the reference's sequential per-schema loop: one group
    * by (facility, table) over the union of the tables' rows.
    */
  def groupedLoadingStatus(
      facilityKey: Column,
      specs: Seq[FreshnessSpec]): DataFrame =
    datedRows(Seq(facilityKey.cast("int").as("facility_id")), specs)
      .groupBy("facility_id", "table_name")
      .agg(
        count(lit(1)).as("record_count"),
        max("max_date").as("max_date"))

  /** Pivot long → wide: one row per `keyCols` value, one
    * `<table>_max_date` column per table (A4 + P8), each a
    * `max(when(table_name = t, max_date))` of ONE aggregation (Spark's
    * `pivot` would group twice). Explicit tables → deterministic
    * columns (SURVEY.md §7.5); a table with no row gives a null column,
    * and a row whose `table_name` is null or unlisted (a key unioned in
    * dateless, say) only makes its key's row.
    */
  def pivotMaxDates(
      long: DataFrame,
      keyCols: Seq[String],
      tables: Seq[String]): DataFrame = {
    val maxDates = tables.map(t =>
      max(when(col("table_name") === t, col("max_date"))).as(s"${t}_max_date"))
    long.groupBy(keyCols.map(col): _*).agg(maxDates.head, maxDates.tail: _*)
  }

  /** Final DCC report: date ordinals (E7) → row-wise sample stddev
    * (A5) → half-even rounding (E8, pandas `.round()` semantics) →
    * audit date column (E10; fixed literal for oracle determinism).
    */
  def freshnessReport(
      pivoted: DataFrame,
      keyCols: Seq[String],
      tables: Seq[String],
      dateCreated: Column): DataFrame = {
    val maxDateCols = tables.map(t => s"${t}_max_date")
    val ordinals    = maxDateCols.map(c => dateOrdinal(col(c)))
    pivoted
      .withColumn("std_dev", bround(horizontalStddevSamp(ordinals: _*), 0))
      .withColumn("date_created", dateCreated)
      .select((keyCols ++ maxDateCols ++ Seq("std_dev", "date_created")).map(col): _*)
  }
}
