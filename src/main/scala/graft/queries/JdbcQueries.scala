package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Jdbc

/** JDBC round-trip parity (SURVEY.md S2/S3 + S7-S9 over JDBC),
  * exercised against embedded Derby.
  *
  * The pipeline is the reference's shape end-to-end: load a
  * dimension into the database (drop-and-replace sink,
  * data_consistency_checks.py:163-165), push an aggregate SQL query
  * to the database and consume its small result
  * (pre_and_post_etl_checks.py:159-222), reconcile against the
  * lake-side twin, and surface the variance. The DuckDB oracle sees
  * only the parquet side — a zero-variance result IS the assertion
  * that the JDBC write+read round-trip was faithful.
  */
object JdbcQueries {

  def q35JdbcRoundtrip(spark: SparkSession, d: String): DataFrame = {
    val url = Jdbc.derbyUrl()
    val nation = Tables.nation(spark, d)
    // S7 over JDBC: drop-and-replace load; S9: read-back count.
    Jdbc.writeReplace(nation, url, "nation_jdbc")
    // S2: the aggregate runs ON the database. Spark's JDBC writer
    // creates quoted (case-sensitive) COLUMN identifiers but an
    // unquoted table name, so the pushed SQL quotes accordingly;
    // Derby COUNT(*) is INTEGER — normalized to long to match the
    // lake side.
    val dbSide = Jdbc.readQuery(spark, url,
        """SELECT "n_regionkey", COUNT(*) AS "n_nations_jdbc" """ +
          """FROM nation_jdbc GROUP BY "n_regionkey"""")
      .select(col("n_regionkey"), col("n_nations_jdbc").cast("long"))
    val lakeSide = nation.groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("n_nations_parquet"))
    dbSide.join(lakeSide, Seq("n_regionkey"), "full_outer")
      .withColumn("variance",
        col("n_nations_jdbc") - col("n_nations_parquet"))
  }

  val q35Sql: String =
    """SELECT n_regionkey,
      |  CAST(COUNT(*) AS BIGINT) AS n_nations_jdbc,
      |  CAST(COUNT(*) AS BIGINT) AS n_nations_parquet,
      |  CAST(0 AS BIGINT) AS variance
      |FROM nation GROUP BY n_regionkey""".stripMargin

  // ---------------------------------------------------------------
  // q41 — live-connection schema enumeration + per-schema fan-out:
  // the reference's literal S1 flow (SHOW DATABASES → prefix filter →
  // per-schema COUNT, skip-on-missing-table), against Derby's
  // SYS.SYSSCHEMAS over one connection. The nation table is sharded
  // into one schema per region 0-3; a fifth prefix-matched schema
  // exists WITHOUT the table and must be skipped atomically (S5) —
  // its absence from the result is what the oracle checks.
  // ---------------------------------------------------------------
  def q41SchemaFanout(spark: SparkSession, d: String): DataFrame = {
    val url = Jdbc.derbyUrl()
    val nation = Tables.nation(spark, d)
    (0 until 4).foreach { r =>
      Jdbc.writeReplace(nation.filter(col("n_regionkey") === r),
        url, s"GRAFTS_R$r.nation_part")
    }
    Jdbc.ensureSchema(url, "GRAFTS_R4") // enumerable, but no nation_part
    val schemas = Jdbc.listSchemas(url, prefix = "GRAFTS_R")
    val res = Jdbc.fanOutSchemas(spark, url, schemas,
      s => s"""SELECT COUNT(*) AS "n_rows" FROM $s.nation_part""")
    res.df.get.select(col("source_schema"), col("n_rows").cast("long"))
  }

  val q41Sql: String =
    """SELECT 'GRAFTS_R' || CAST(n_regionkey AS VARCHAR) AS source_schema,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows
      |FROM nation WHERE n_regionkey <= 3 GROUP BY 1""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_jdbc_roundtrip" -> (q35JdbcRoundtrip _),
    "q41_schema_fanout"  -> (q41SchemaFanout _))

  val oracleSql: Map[String, String] = Map(
    "q35_jdbc_roundtrip" -> q35Sql,
    "q41_schema_fanout"  -> q41Sql)
}
