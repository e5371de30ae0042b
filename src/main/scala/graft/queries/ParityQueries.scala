package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Freshness
import graft.operators.Freshness.FreshnessSpec
import graft.operators.Reconciliation
import graft.operators.Reconciliation.CensusSpec

/** Reference-parity queries (SURVEY.md §2 inventory) over the driver
  * corpus, with DuckDB oracle SQL for each (SURVEY.md §5.2).
  *
  * The reference's `NOW()` cutoffs are fixed literals here so Spark
  * and the oracle agree (SURVEY.md §7.5); `date_created` likewise.
  *
  * Corpus role mapping (FIXTURES.md §C): the obs/encounter/orders
  * fact trio → orders(o_orderdate) / lineitem(l_shipdate) /
  * events(ts); facility/site key → c_nationkey (via customer) or
  * user_id % 25; the global_property→location config lookup →
  * region→nation scalar subqueries.
  */
object ParityQueries {

  private val CutTpch   = "2000-07-01 00:00:00" // inside orders/lineitem range (1995..2001)
  private val CutEvents = "2024-01-15 00:00:00" // inside events range (2024-01)
  private val CutEmpty  = "1970-01-01 00:00:00" // before all data → empty input
  private val RunDate   = "2026-08-12"

  private def cut(s: String)  = to_timestamp(lit(s))

  // ---------------------------------------------------------------
  // q01 — DCC loading status: J2/J3 config lookup + 3 global-agg
  // branches + an empty branch (A1/P2/P5/E2-E4/U1, §2.8.1).
  // ---------------------------------------------------------------
  def q01LoadingStatus(spark: SparkSession, d: String): DataFrame = {
    // J2: uncorrelated scalar config lookup (global_property analog)
    val facilityId = Tables.region(spark, d)
      .filter(col("r_name") === "AFRICA")
      .select(col("r_regionkey").cast("int").as("facility_id"))
    // J3: nested lookup — config value keys into a dimension table
    val facility = facilityId.join(
        broadcast(Tables.nation(spark, d).select(col("n_nationkey"), col("n_name")).distinct()),
        col("facility_id") === col("n_nationkey"))
      .select(col("facility_id"), col("n_name").as("facility_name"))

    val specs = Seq(
      FreshnessSpec("orders",   Tables.orders(spark, d),   col("o_orderdate"), cut(CutTpch)),
      FreshnessSpec("lineitem", Tables.lineitem(spark, d), col("l_shipdate"),  cut(CutTpch)),
      // raw-nanos pushdown variant: row groups past the cutoff are pruned at the scan
      FreshnessSpec("events",   Tables.eventsBefore(spark, d, CutEvents), col("ts"), cut(CutEvents)),
      // empty-input branch: global agg still emits one row (count 0, null max)
      FreshnessSpec("orders_empty", Tables.orders(spark, d), col("o_orderdate"), cut(CutEmpty)))
    Freshness.loadingStatus(facility, specs, cut(CutTpch))
  }

  val q01Sql: String = {
    def branch(tbl: String, from: String, ts: String, cutoff: String) =
      s"""SELECT
         |  (SELECT CAST(r_regionkey AS INT) FROM region WHERE r_name = 'AFRICA') AS facility_id,
         |  (SELECT DISTINCT n_name FROM nation WHERE n_nationkey =
         |     (SELECT r_regionkey FROM region WHERE r_name = 'AFRICA')) AS facility_name,
         |  '$tbl' AS table_name,
         |  CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS record_count,
         |  MAX(CAST($ts AS DATE)) AS max_date,
         |  CAST(QUARTER(TIMESTAMP '$CutTpch') - 1 AS INT) AS reporting_quarter
         |FROM $from WHERE $ts < TIMESTAMP '$cutoff'""".stripMargin
    Seq(
      branch("orders", "orders", "o_orderdate", CutTpch),
      branch("lineitem", "lineitem", "l_shipdate", CutTpch),
      branch("events", "events", "ts", CutEvents),
      branch("orders_empty", "orders", "o_orderdate", CutEmpty)
    ).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------
  // q02 — per-facility fan-out census (S4 re-expressed as one
  // distributed grouped aggregation; A2-style long format).
  // ---------------------------------------------------------------
  def q02FanoutCounts(spark: SparkSession, d: String): DataFrame = {
    val orders   = Tables.orders(spark, d)
    val customer = Tables.customer(spark, d)
    val lineitem = Tables.lineitem(spark, d)
    val oc = orders.join(customer, col("o_custkey") === col("c_custkey"))
    val lc = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
    // each branch names its facility `site`, so one aggregation folds all three
    Freshness.groupedLoadingStatus(col("site"), Seq(
      FreshnessSpec("orders", oc.withColumn("site", col("c_nationkey")),
        col("o_orderdate"), cut(CutTpch)),
      FreshnessSpec("lineitem", lc.withColumn("site", col("c_nationkey")),
        col("l_shipdate"), cut(CutTpch)),
      FreshnessSpec("events", Tables.eventsBefore(spark, d, CutEvents)
        .withColumn("site", pmod(col("user_id"), lit(25))), col("ts"), cut(CutEvents))))
  }

  val q02Sql: String =
    s"""SELECT CAST(c_nationkey AS INT) AS facility_id, 'orders' AS table_name,
       |  CAST(COUNT(*) AS BIGINT) AS record_count, MAX(CAST(o_orderdate AS DATE)) AS max_date
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderdate < TIMESTAMP '$CutTpch' GROUP BY 1
       |UNION ALL
       |SELECT CAST(c_nationkey AS INT), 'lineitem', CAST(COUNT(*) AS BIGINT), MAX(CAST(l_shipdate AS DATE))
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
       |WHERE l_shipdate < TIMESTAMP '$CutTpch' GROUP BY 1
       |UNION ALL
       |SELECT CAST(user_id % 25 AS INT), 'events', CAST(COUNT(*) AS BIGINT), MAX(CAST(ts AS DATE))
       |FROM events WHERE ts < TIMESTAMP '$CutEvents' GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q03 — pivot long→wide by table with MAX (A4 + P8), explicit
  // pivot values for a single deterministic pass. The pivot key is
  // (facility_id, facility_name), exactly the reference's composite
  // key (data_consistency_checks.py:125,144): the name dimension is
  // broadcast onto the long frame before pivoting.
  // ---------------------------------------------------------------
  private val PivotTables = Seq("orders", "lineitem", "events")
  private val PivotKeys = Seq("facility_id", "facility_name")

  /** The long fan-out frame with the facility-name dimension attached
    * (nation is dim-sized → broadcast join, no shuffle).
    */
  private def longWithNames(spark: SparkSession, d: String): DataFrame = {
    val names = Tables.nation(spark, d).select(
      col("n_nationkey").cast("int").as("facility_id"),
      col("n_name").as("facility_name"))
    q02FanoutCounts(spark, d).join(broadcast(names), Seq("facility_id"), "left")
  }

  def q03PivotMax(spark: SparkSession, d: String): DataFrame =
    Freshness.pivotMaxDates(longWithNames(spark, d), PivotKeys, PivotTables)

  private val pivotSql: String =
    s"""SELECT CAST(facility_id AS INT) AS facility_id, n_name AS facility_name,
       |  MAX(CASE WHEN table_name = 'orders' THEN max_date END) AS orders_max_date,
       |  MAX(CASE WHEN table_name = 'lineitem' THEN max_date END) AS lineitem_max_date,
       |  MAX(CASE WHEN table_name = 'events' THEN max_date END) AS events_max_date
       |FROM long_fmt LEFT JOIN nation ON facility_id = n_nationkey
       |GROUP BY 1, 2""".stripMargin

  val q03Sql: String = s"WITH long_fmt AS (\n$q02Sql\n)\n$pivotSql"

  // ---------------------------------------------------------------
  // q04 — full DCC report: date ordinals (E7) → horizontal sample
  // stddev (A5) → half-even round (E8) → audit date (E10).
  // The oracle states the identical left-fold formula; ordinals are
  // exact integers in double, so both engines agree bit-for-bit.
  // ---------------------------------------------------------------
  def q04FreshnessReport(spark: SparkSession, d: String): DataFrame =
    Freshness.freshnessReport(
      q03PivotMax(spark, d), PivotKeys, PivotTables, to_date(lit(RunDate)))

  val q04Sql: String =
    s"""WITH long_fmt AS (
       |$q02Sql
       |), w AS (
       |$pivotSql
       |), o AS (
       |  SELECT *, list_filter([
       |      CAST(datediff('day', DATE '0001-01-01', orders_max_date) + 1 AS DOUBLE),
       |      CAST(datediff('day', DATE '0001-01-01', lineitem_max_date) + 1 AS DOUBLE),
       |      CAST(datediff('day', DATE '0001-01-01', events_max_date) + 1 AS DOUBLE)
       |    ], x -> x IS NOT NULL) AS xs
       |  FROM w
       |), st AS (
       |  SELECT *, CAST(len(xs) AS DOUBLE) AS n, list_sum(xs) AS s,
       |    list_sum(list_transform(xs, x -> x * x)) AS s2
       |  FROM o
       |)
       |SELECT facility_id, facility_name,
       |  orders_max_date, lineitem_max_date, events_max_date,
       |  CASE WHEN n >= 2 THEN round_even(sqrt(greatest((s2 - s * s / n) / (n - 1), 0.0)), 0)
       |       ELSE NULL END AS std_dev,
       |  DATE '$RunDate' AS date_created
       |FROM st""".stripMargin

  // ---------------------------------------------------------------
  // q05 — PPE source census: per-site live-row counts (P3 soft-delete
  // analog), 4-way UNION ALL (U2), site_name dimension lookup (J3).
  // The customer branch has no live-row predicate — the patient_state
  // "no voided column" quirk (PPE:106, §2.8.6).
  // ---------------------------------------------------------------
  private def sourceCensus(spark: SparkSession, d: String): DataFrame = {
    val orders   = Tables.orders(spark, d)
    val customer = Tables.customer(spark, d)
    val lineitem = Tables.lineitem(spark, d)
    val supplier = Tables.supplier(spark, d)
    val oc = orders.join(customer, col("o_custkey") === col("c_custkey"))
    val lc = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
    Reconciliation.censusUnion(Seq(
      CensusSpec("orders",   oc, col("c_nationkey"), Some(col("o_orderstatus") =!= "F")),
      CensusSpec("lineitem", lc, col("c_nationkey"), Some(col("l_returnflag") =!= "R")),
      CensusSpec("customer", customer, col("c_nationkey"), None),
      CensusSpec("supplier", supplier, col("s_nationkey"), None)))
  }

  def q05SourceCounts(spark: SparkSession, d: String): DataFrame = {
    val nation = Tables.nation(spark, d)
      .select(col("n_nationkey"), col("n_name").as("site_name"))
    sourceCensus(spark, d)
      .join(broadcast(nation), col("site_id") === col("n_nationkey"), "left")
      .select("site_id", "site_name", "table_name", "record_count")
  }

  private val srcCensusSql: String =
    s"""SELECT CAST(c_nationkey AS INT) AS site_id, 'orders' AS table_name,
       |  CAST(COUNT(*) AS BIGINT) AS record_count
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderstatus <> 'F' GROUP BY 1
       |UNION ALL
       |SELECT CAST(c_nationkey AS INT), 'lineitem', CAST(COUNT(*) AS BIGINT)
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
       |WHERE l_returnflag <> 'R' GROUP BY 1
       |UNION ALL
       |SELECT CAST(c_nationkey AS INT), 'customer', CAST(COUNT(*) AS BIGINT) FROM customer GROUP BY 1
       |UNION ALL
       |SELECT CAST(s_nationkey AS INT), 'supplier', CAST(COUNT(*) AS BIGINT) FROM supplier GROUP BY 1""".stripMargin

  val q05Sql: String =
    s"""WITH src AS (
       |$srcCensusSql
       |)
       |SELECT site_id, n_name AS site_name, table_name, record_count
       |FROM src LEFT JOIN nation ON site_id = n_nationkey""".stripMargin

  // ---------------------------------------------------------------
  // q06 — PPE destination census (A3) with deliberate divergences:
  // a tighter orders predicate (variance ≠ 0), customer missing
  // sites ≥ 20 (null destination side), supplier counted only for
  // site 20 (the hardcoded-partition quirk P4, PPE:219), and a
  // destination-only events branch (null source side).
  // ---------------------------------------------------------------
  def q06DestCounts(spark: SparkSession, d: String): DataFrame = {
    val orders   = Tables.orders(spark, d)
    val customer = Tables.customer(spark, d)
    val lineitem = Tables.lineitem(spark, d)
    val supplier = Tables.supplier(spark, d)
    val events   = Tables.events(spark, d)
    val oc = orders.join(customer, col("o_custkey") === col("c_custkey"))
    val lc = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
    Reconciliation.censusUnion(Seq(
      CensusSpec("orders",   oc, col("c_nationkey"),
        Some(col("o_orderstatus") =!= "F" && col("o_totalprice") < 400000.0)),
      CensusSpec("lineitem", lc, col("c_nationkey"), Some(col("l_returnflag") =!= "R")),
      CensusSpec("customer", customer.filter(col("c_nationkey") < 20), col("c_nationkey"), None),
      CensusSpec("supplier", supplier, col("s_nationkey"), Some(col("s_nationkey") === 20)),
      CensusSpec("events", events, pmod(col("user_id"), lit(25)), None)))
  }

  val q06Sql: String =
    s"""SELECT CAST(c_nationkey AS INT) AS site_id, 'orders' AS table_name,
       |  CAST(COUNT(*) AS BIGINT) AS record_count
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |WHERE o_orderstatus <> 'F' AND o_totalprice < 400000.0 GROUP BY 1
       |UNION ALL
       |SELECT CAST(c_nationkey AS INT), 'lineitem', CAST(COUNT(*) AS BIGINT)
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
       |WHERE l_returnflag <> 'R' GROUP BY 1
       |UNION ALL
       |SELECT CAST(c_nationkey AS INT), 'customer', CAST(COUNT(*) AS BIGINT)
       |FROM customer WHERE c_nationkey < 20 GROUP BY 1
       |UNION ALL
       |SELECT CAST(s_nationkey AS INT), 'supplier', CAST(COUNT(*) AS BIGINT)
       |FROM supplier WHERE s_nationkey = 20 GROUP BY 1
       |UNION ALL
       |SELECT CAST(user_id % 25 AS INT), 'events', CAST(COUNT(*) AS BIGINT) FROM events GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------
  // q07 — PPE reconciliation: full outer join on (site_id,
  // table_name) (J1), null-propagating variance (E9), audit date
  // (E10). Key columns coalesced (USING semantics, like pandas on=).
  // ---------------------------------------------------------------
  def q07Reconciliation(spark: SparkSession, d: String): DataFrame =
    Reconciliation.reconcile(
      q05SourceCounts(spark, d), q06DestCounts(spark, d), to_date(lit(RunDate)))

  val q07Sql: String =
    s"""WITH srcc AS (
       |$srcCensusSql
       |), src AS (
       |  SELECT site_id, n_name AS site_name, table_name, record_count
       |  FROM srcc LEFT JOIN nation ON site_id = n_nationkey
       |), dst AS (
       |$q06Sql
       |)
       |SELECT COALESCE(s.site_id, d2.site_id) AS site_id,
       |  COALESCE(s.table_name, d2.table_name) AS table_name,
       |  s.site_name,
       |  s.record_count AS record_count_source,
       |  d2.record_count AS record_count_ohdl,
       |  s.record_count - d2.record_count AS variance,
       |  DATE '$RunDate' AS date_created
       |FROM src s FULL OUTER JOIN dst d2
       |  ON s.site_id = d2.site_id AND s.table_name = d2.table_name""".stripMargin

  // ---------------------------------------------------------------
  // q08 — catalog enumeration + prefix filter (S1/P1/E11) and the
  // string→int coercion (E5, the reference's `*1` cast).
  // ---------------------------------------------------------------
  def q08CatalogPrefix(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("source")).distinct()
      .filter(col("source").startsWith("src1"))
      .withColumn("src_num", substring(col("source"), 4, 10).cast("int"))

  val q08Sql: String =
    """SELECT DISTINCT source, CAST(substr(source, 4, 10) AS INT) AS src_num
      |FROM documents WHERE starts_with(source, 'src1')""".stripMargin

  // ---------------------------------------------------------------
  // q09 — empty-input aggregate semantics (§2.8.1): a global agg over
  // empty input emits one row (count 0, null max); a grouped agg
  // emits zero rows. The union therefore has exactly one row.
  // ---------------------------------------------------------------
  def q09EmptySemantics(spark: SparkSession, d: String): DataFrame = {
    val empty = Tables.orders(spark, d).filter(col("o_orderdate") < cut(CutEmpty))
    val globalAgg = empty
      .agg(count(lit(1)).as("record_count"), max(to_date(col("o_orderdate"))).as("max_date"))
      .select(lit("global_agg").as("agg_mode"), col("record_count"), col("max_date"))
    val groupedAgg = empty
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("record_count"))
      .select(lit("grouped_agg").as("agg_mode"), col("record_count"),
        lit(null).cast("date").as("max_date"))
    globalAgg.unionByName(groupedAgg)
  }

  val q09Sql: String =
    s"""SELECT 'global_agg' AS agg_mode, CAST(COALESCE(COUNT(*), 0) AS BIGINT) AS record_count,
       |  MAX(CAST(o_orderdate AS DATE)) AS max_date
       |FROM orders WHERE o_orderdate < TIMESTAMP '$CutEmpty'
       |UNION ALL
       |SELECT 'grouped_agg', CAST(COUNT(*) AS BIGINT), CAST(NULL AS DATE)
       |FROM orders WHERE o_orderdate < TIMESTAMP '$CutEmpty' GROUP BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_loading_status" -> (q01LoadingStatus _),
    "q02_fanout_counts"  -> (q02FanoutCounts _),
    "q03_pivot_max"      -> (q03PivotMax _),
    "q04_freshness_report" -> (q04FreshnessReport _),
    "q05_source_counts"  -> (q05SourceCounts _),
    "q06_dest_counts"    -> (q06DestCounts _),
    "q07_reconciliation" -> (q07Reconciliation _),
    "q08_catalog_prefix" -> (q08CatalogPrefix _),
    "q09_empty_semantics" -> (q09EmptySemantics _))

  val oracleSql: Map[String, String] = Map(
    "q01_loading_status" -> q01Sql,
    "q02_fanout_counts"  -> q02Sql,
    "q03_pivot_max"      -> q03Sql,
    "q04_freshness_report" -> q04Sql,
    "q05_source_counts"  -> q05Sql,
    "q06_dest_counts"    -> q06Sql,
    "q07_reconciliation" -> q07Sql,
    "q08_catalog_prefix" -> q08Sql,
    "q09_empty_semantics" -> q09Sql)
}
