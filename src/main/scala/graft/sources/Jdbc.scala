package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source and sink (SURVEY.md S2/S3, plus S7-S9 over JDBC).
  *
  * The reference's core I/O pushes SQL text to a relational database
  * over a connection (data_consistency_checks.py:40,91;
  * pre_and_post_etl_checks.py:42,121,159-222) and writes its report
  * tables back with drop-and-replace / drop-then-append
  * (data_consistency_checks.py:163-165, pre_and_post_etl_checks.py:
  * 245-247). Spark's JDBC source is the direct mapping: the pushed
  * SQL executes ON the database ([[readQuery]]), and
  * `DataFrameWriter.jdbc` covers the sinks.
  *
  * Exercised against embedded Derby — the only database available in
  * this sandbox; the API surface is identical for MySQL/Postgres
  * (only `url`/`driver` change).
  *
  * Scale notes: a single-connection JDBC read is one partition — the
  * anti-pattern at any real size. [[readPartitioned]] takes
  * (partitionColumn, lowerBound, upperBound, numPartitions) so a big
  * table fans out to parallel bounded range-scans, one connection
  * per partition; writes batch inserts per partition the same way.
  * For 100 TB you don't scan the warehouse over JDBC at all — you
  * export to columnar files — but dimension/report tables (what the
  * reference moves over JDBC) are exactly the right payload.
  */
object Jdbc {

  /** Connection properties for embedded Derby at `dbDir`. */
  def derbyProps(): Properties = {
    val p = new Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Embedded-Derby URL rooted under the build scratch directory —
    * one database per JVM (Derby's embedded engine single-boots a
    * database directory; per-process roots keep concurrent sbt/Verify
    * JVMs from fighting over the boot lock).
    */
  def derbyUrl(): String = {
    val dir = s"target/derby/pid-${ProcessHandle.current().pid()}"
    s"jdbc:derby:$dir/graftdb;create=true"
  }

  /** Whole-table scan (S2 shape). One connection — dimension-sized
    * tables only; use [[readPartitioned]] for anything big.
    */
  def readTable(spark: SparkSession, url: String, table: String,
      props: Properties = derbyProps()): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Pushed-down SQL text (S2/S3: the reference sends aggregate SQL
    * to the database and consumes the small result). The query runs
    * ON the database; only its result crosses the wire.
    */
  def readQuery(spark: SparkSession, url: String, sql: String,
      props: Properties = derbyProps()): DataFrame = {
    // forward EVERY connection property (driver, user, password, …) —
    // dropping credentials would break any authenticated database
    val reader = spark.read
      .format("jdbc")
      .option("url", url)
      .option("query", sql)
    props.stringPropertyNames().forEach(k => reader.option(k, props.getProperty(k)))
    reader.load()
  }

  /** Parallel bounded range-scan: `numPartitions` connections each
    * reading `partitionColumn` stripes of [lowerBound, upperBound] —
    * the scalable JDBC ingest shape.
    */
  def readPartitioned(spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: Properties = derbyProps()): DataFrame =
    spark.read.jdbc(url, table, partitionColumn, lowerBound, upperBound,
      numPartitions, props)

  /** Drop-and-replace sink over JDBC (S7): `mode("overwrite")` drops
    * and recreates the table, like the reference's `if_exists=
    * 'replace'`. Returns the read-back count (S9), a `COUNT(*)` over a
    * plain connection (no Spark job).
    */
  def writeReplace(df: DataFrame, url: String, table: String,
      props: Properties = derbyProps()): Long = {
    df.write.mode(SaveMode.Overwrite).jdbc(url, table, props)
    countRows(url, table, props)
  }

  /** Accumulating sink over JDBC (S8): append to an existing table
    * (created on first write). Returns rows written by THIS run via
    * read-back delta (S9; single-writer assumption).
    */
  def writeAppend(df: DataFrame, url: String, table: String,
      props: Properties = derbyProps()): Long = {
    // Only "table does not exist" means first run / zero rows; any
    // other failure (auth, boot lock, network, syntax, privileges)
    // must propagate — it would otherwise silently corrupt the
    // rows-written delta (e.g. a SELECT-privilege failure classified
    // as first-run would report before=0 while the append and the
    // after-read succeed).
    val before =
      try countRows(url, table, props)
      catch {
        case e: Exception if missingObjectSqlState(e) => 0L
      }
    df.write.mode(SaveMode.Append).jdbc(url, table, props)
    countRows(url, table, props) - before
  }

  /** `SELECT COUNT(*)` of `table` (named as the writer names it). */
  private def countRows(url: String, table: String, props: Properties): Long =
    query(url, s"SELECT COUNT(*) FROM $table", props)(_.getLong(1)).head

  /** `sql`'s rows mapped by `row`, over a plain connection on the
    * driver: for config-sized results (a catalog list, a count), where
    * a Spark read would cost a job. */
  private def query[A](url: String, sql: String, props: Properties)(
      row: java.sql.ResultSet => A): Seq[A] =
    withConnection(url, props) { conn =>
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(sql)
        Iterator.continually(rs).takeWhile(_.next()).map(row).toVector
      } finally st.close()
    }

  private def withConnection[A](url: String, props: Properties)(f: java.sql.Connection => A): A = {
    // registers the driver, as Spark's JDBC reader does before connecting
    Option(props.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try f(conn) finally conn.close()
  }

  /** Schema-catalog SQL per JDBC URL scheme — the dialect of the
    * reference's `SHOW DATABASES` (data_consistency_checks.py:39).
    * MySQL's `SHOW DATABASES` is exactly `information_schema.
    * schemata`'s schema_name list; Postgres and most ANSI engines
    * spell it identically, so the standard view is also the fallback
    * for unrecognized schemes. Derby predates information_schema and
    * exposes `SYS.SYSSCHEMAS` instead.
    */
  def catalogSqlFor(url: String): String = {
    val scheme = url.stripPrefix("jdbc:").takeWhile(_ != ':').toLowerCase
    scheme match {
      // Derby predates information_schema entirely
      case "derby" => "SELECT SCHEMANAME FROM SYS.SYSSCHEMAS"
      // MySQL/MariaDB (where this IS the result set of SHOW
      // DATABASES), Postgres, and every other ANSI engine share the
      // standard view — one arm, so adding a truly divergent dialect
      // later means adding a case, not diffing identical strings
      case _ => "SELECT schema_name FROM information_schema.schemata"
    }
  }

  /** Schema names over the live connection — the reference's
    * `SHOW DATABASES` → prefix filter (S1 literal shape,
    * data_consistency_checks.py:39-44). The catalog query resolves
    * from the URL's dialect via [[catalogSqlFor]]; pass `catalogSql`
    * to override for engines with a nonstandard catalog. Driver-side
    * list — schema catalogs are config-sized, like the reference's
    * fetchall() — read over a plain connection, so it starts no Spark
    * job.
    */
  def listSchemas(url: String, prefix: String,
      props: Properties = derbyProps(),
      catalogSql: Option[String] = None): Seq[String] =
    query(url, catalogSql.getOrElse(catalogSqlFor(url)), props)(_.getString(1))
      .filter(_.startsWith(prefix)).sorted

  /** [[listSchemas]] with a session argument it does not use: the form
    * the benchmark harness (`perfbench`) calls, kept so that harness
    * builds unchanged against this code. */
  def listSchemas(spark: SparkSession, url: String, prefix: String): Seq[String] =
    listSchemas(url, prefix)

  /** CREATE SCHEMA if absent (plain JDBC DDL — provisioning is a
    * driver-side, config-sized act). Derby X0Y68 = already exists.
    */
  def ensureSchema(url: String, schema: String,
      props: Properties = derbyProps()): Unit =
    withConnection(url, props) { conn =>
      val st = conn.createStatement()
      try st.executeUpdate(s"CREATE SCHEMA $schema")
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y68" => () }
      finally st.close()
    }

  /** Per-schema fan-out over one connection: the reference's
    * `SHOW DATABASES` → `openmrs_%` → per-schema query flow
    * (data_consistency_checks.py:39-105). Each schema's `sqlFor(s)`
    * executes ON the database; a schema missing its table is skipped
    * atomically (the MySQL-1146 analog, classified by missing-object
    * SQLSTATE), any other failure propagates. Survivors union with a
    * `source_schema` tag — S1+S4+S5 in one connection-driven flow.
    */
  def fanOutSchemas(spark: SparkSession, url: String, schemas: Seq[String],
      sqlFor: String => String,
      props: Properties = derbyProps()): FanOut.FanOutResult =
    FanOut.fanOut(schemas,
      s => readQuery(spark, url, sqlFor(s), props),
      skipReason = jdbcMissingObjectSkip)

  private[sources] val jdbcMissingObjectSkip: Throwable => Option[String] =
    t => if (missingObjectSqlState(t)) Some(firstSqlMessage(t)) else None

  private def firstSqlMessage(t: Throwable): String = {
    var cur = t
    while (cur != null) {
      cur match {
        case s: java.sql.SQLException =>
          return Option(s.getMessage).map(_.linesIterator.next()).getOrElse(s.getSQLState)
        case _ =>
      }
      cur = if (cur.getCause eq cur) null else cur.getCause
    }
    Option(t.getMessage).getOrElse(t.getClass.getName)
  }

  /** Engine-specific missing-object SQLSTATEs: missing TABLE (Derby
    * 42X05, MySQL 42S02, Postgres 42P01) plus missing SCHEMA (Derby
    * 42Y07, Postgres 3F000) — a first append into a not-yet-created
    * schema-qualified table fails its before-read with the schema
    * state, which is just as much "first run" as a missing table.
    * Deliberately NOT the whole class 42 — it also covers syntax
    * errors (42601/42X01) and privilege violations (42501/42000),
    * which are real failures, not first-run. MySQL reports an unknown
    * database as bare 42000 (shared with syntax errors), so it cannot
    * be distinguished safely and stays out.
    */
  private val MissingObjectSqlStates =
    Set("42X05", "42S02", "42P01", "42Y07", "3F000")

  private def missingObjectSqlState(t: Throwable): Boolean = {
    var cur = t
    while (cur != null) {
      cur match {
        case s: java.sql.SQLException
            if MissingObjectSqlStates.contains(s.getSQLState) =>
          return true
        case _ =>
      }
      cur = if (cur.getCause eq cur) null else cur.getCause
    }
    false
  }
}
