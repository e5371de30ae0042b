package graft

import org.apache.spark.graftbridge.TestBus
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Jdbc

/** JDBC source/sink against embedded Derby (S2/S3 + S7-S9 over
  * JDBC): drop-and-replace, append-with-delta, pushed-down SQL, and
  * the partitioned parallel range-scan shape.
  */
class JdbcSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val url = Jdbc.derbyUrl()

  test("writeReplace drops and recreates; read-back count matches (S7+S9)") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    assert(Jdbc.writeReplace(df, url, "t_replace") == 3)
    // replace again — not append
    assert(Jdbc.writeReplace(df, url, "t_replace") == 3)
    val back = Jdbc.readTable(spark, url, "t_replace")
      .as[(Long, String)].collect().toSet
    assert(back == Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("writeAppend accumulates and returns this run's delta (S8+S9)") {
    val df = Seq((1L, 10L), (2L, 20L)).toDF("id", "x")
    Jdbc.writeReplace(df, url, "t_append")
    assert(Jdbc.writeAppend(df, url, "t_append") == 2)
    assert(Jdbc.readTable(spark, url, "t_append").count() == 4)
  }

  test("JDBC sinks read back and list schemas over a plain connection: one Spark job per write") {
    val sc = spark.sparkContext
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Jdbc.writeReplace(df, url, "t_jobs") // warm-up
    assert(TestBus.countJobs(sc)(Jdbc.writeReplace(df, url, "t_jobs")) == (2L, 1))
    assert(TestBus.countJobs(sc)(Jdbc.writeAppend(df, url, "t_jobs")) == (2L, 1))
    Jdbc.ensureSchema(url, "GRAFTJ_A")
    assert(TestBus.countJobs(sc)(Jdbc.listSchemas(url, prefix = "GRAFTJ_")) ==
      (Seq("GRAFTJ_A"), 0))
  }

  test("readQuery pushes SQL text to the database (S2): aggregate computed DB-side") {
    val df = Seq((1L, 5L), (1L, 7L), (2L, 9L)).toDF("k", "x")
    Jdbc.writeReplace(df, url, "t_query")
    // identifiers quoted: Spark's JDBC writer creates case-sensitive
    // quoted columns, which unquoted (auto-uppercased) refs miss
    val agg = Jdbc.readQuery(spark, url,
        """SELECT "k", SUM("x") AS "sx" FROM t_query GROUP BY "k"""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(agg == Map(1L -> 12L, 2L -> 9L))
  }

  test("readPartitioned fans a bounded range over N parallel scans") {
    val df = spark.range(0, 100).select($"id", ($"id" * 2).as("x"))
    Jdbc.writeReplace(df, url, "t_part")
    val part = Jdbc.readPartitioned(spark, url, "t_part", "id", 0L, 100L, 4)
    assert(part.rdd.getNumPartitions == 4)
    assert(part.count() == 100)
    assert(part.agg(sum("x")).head().getLong(0) == 9900L)
  }

  test("writeAppend: missing table counts from zero; non-missing failures propagate") {
    val df = Seq((1L, 10L)).toDF("id", "x")
    // first run: table does not exist (SQLSTATE 42X05) → before = 0
    assert(Jdbc.writeAppend(df, url, "t_first_append") == 1)
    // a connection-level failure (XJ004: database not found) must NOT
    // be swallowed as "empty table"
    assertThrows[Exception](
      Jdbc.writeAppend(df, "jdbc:derby:/nonexistent-dir-graft/db", "t_x"))
  }

  test("connection config resolves env → url/props with override precedence (S10)") {
    import graft.sources.ConnectionConfig
    val fromRefEnv = ConnectionConfig.fromEnv(env = Map(
      "DB_TYPE" -> "mysql", "DB_HOSTNAME" -> "db.example", "DB_PORT" -> "3306",
      "DB_DATABASE" -> "warehouse", "DB_USERNAME" -> "etl", "DB_PASSWORD" -> "s3cret"))
    assert(fromRefEnv.jdbcUrl == "jdbc:mysql://db.example:3306/warehouse")
    assert(fromRefEnv.jdbcDriver == "com.mysql.cj.jdbc.Driver")
    assert(fromRefEnv.jdbcProps.getProperty("user") == "etl")
    // override beats env; defaults fill the rest (embedded derby)
    val overridden = ConnectionConfig.fromEnv(
      env = Map("DB_TYPE" -> "mysql"), overrides = Map("DB_TYPE" -> "derby"))
    assert(overridden.jdbcUrl.startsWith("jdbc:derby:target/derby/"))
    assert(overridden.jdbcProps.getProperty("driver") == "org.apache.derby.jdbc.EmbeddedDriver")
  }

  test("config-resolved connection drives a real Derby round-trip (S10 end-to-end)") {
    import graft.sources.ConnectionConfig
    val cfg = ConnectionConfig.fromEnv(env = Map.empty)
    val df = Seq((1L, "x")).toDF("id", "v")
    assert(Jdbc.writeReplace(df, cfg.jdbcUrl, "t_cfg", cfg.jdbcProps) == 1)
    assert(Jdbc.readTable(spark, cfg.jdbcUrl, "t_cfg", cfg.jdbcProps).count() == 1)
  }

  test("schema enumeration + fan-out: reads over N schemas, skips the table-less one (S1+S5)") {
    // two schemas with the table, one enumerable schema without it,
    // one schema outside the prefix (must not even be attempted)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Jdbc.writeReplace(df, url, "GRAFTE_A.t_enum")
    Jdbc.writeReplace(df.limit(1), url, "GRAFTE_B.t_enum")
    Jdbc.ensureSchema(url, "GRAFTE_C")       // no t_enum → skipped
    Jdbc.writeReplace(df, url, "OTHERPFX.t_enum") // prefix-excluded
    val schemas = Jdbc.listSchemas(url, prefix = "GRAFTE_")
    assert(schemas == Seq("GRAFTE_A", "GRAFTE_B", "GRAFTE_C"))
    val res = Jdbc.fanOutSchemas(spark, url, schemas,
      s => s"""SELECT COUNT(*) AS "n" FROM $s.t_enum""")
    assert(res.skipped.map(_.source) == Seq("GRAFTE_C"))
    assert(res.telemetry(schemas.size) == "2 out of 3 sources processed successfully")
    val counts = res.df.get.collect()
      .map(r => r.getString(r.fieldIndex("source_schema")) -> r.getInt(r.fieldIndex("n")))
      .toMap
    assert(counts == Map("GRAFTE_A" -> 2, "GRAFTE_B" -> 1))
  }

  test("catalog SQL resolves per JDBC dialect; override yields the same schema-list shape") {
    import graft.sources.Jdbc
    // URL-scheme dialect routing: Derby → SYSSCHEMAS, MySQL/MariaDB/
    // Postgres → the standard information_schema view (= the result
    // set of the reference's SHOW DATABASES), unknown → the standard
    // view as the ANSI default
    assert(Jdbc.catalogSqlFor("jdbc:derby:target/x;create=true")
      == "SELECT SCHEMANAME FROM SYS.SYSSCHEMAS")
    for (u <- Seq("jdbc:mysql://host:3306/db", "jdbc:mariadb://host/db",
        "jdbc:postgresql://host:5432/db", "jdbc:exotic://host/db"))
      assert(Jdbc.catalogSqlFor(u)
        == "SELECT schema_name FROM information_schema.schemata", u)
    // live Derby resolves through the same routing with no explicit
    // catalogSql (covered again by q41's fan-out), and an explicit
    // override against a mocked information_schema-shaped catalog
    // returns the identical list shape q41 consumes
    Jdbc.ensureSchema(url, "GRAFTD_A")
    Jdbc.ensureSchema(url, "GRAFTD_B")
    val live = Jdbc.listSchemas(url, prefix = "GRAFTD_")
    assert(live == Seq("GRAFTD_A", "GRAFTD_B"))
    Jdbc.writeReplace(
      Seq("GRAFTD_A", "GRAFTD_B", "OTHER").toDF("schema_name"),
      url, "t_schemata_mock")
    val mocked = Jdbc.listSchemas(url, prefix = "GRAFTD_",
      catalogSql = Some("""SELECT "schema_name" FROM t_schemata_mock"""))
    assert(mocked == live)
  }

  test("the standard-dialect catalog SQL executes VERBATIM over a mocked information_schema") {
    // the MySQL/MariaDB/Postgres arm's literal string was asserted but
    // never executed (r10 verdict: dead-until-production). Derby
    // uppercases unquoted identifiers, so a real
    // INFORMATION_SCHEMA.SCHEMATA table resolves the standard arm's
    // `information_schema.schemata` reference case-insensitively —
    // the exact SQL text runs end to end over a live connection.
    val sql = Jdbc.catalogSqlFor("jdbc:mysql://host:3306/db")
    Jdbc.ensureSchema(url, "INFORMATION_SCHEMA")
    val conn = java.sql.DriverManager.getConnection(url, Jdbc.derbyProps())
    try {
      val st = conn.createStatement()
      try {
        try st.executeUpdate("DROP TABLE INFORMATION_SCHEMA.SCHEMATA")
        catch { case e: java.sql.SQLException if e.getSQLState == "42Y55" => () }
        st.executeUpdate(
          "CREATE TABLE INFORMATION_SCHEMA.SCHEMATA(SCHEMA_NAME VARCHAR(128))")
        for (s <- Seq("GRAFTV_A", "GRAFTV_B", "OTHER"))
          st.executeUpdate(
            s"INSERT INTO INFORMATION_SCHEMA.SCHEMATA VALUES ('$s')")
      } finally st.close()
    } finally conn.close()
    val got = Jdbc.listSchemas(url, prefix = "GRAFTV_",
      catalogSql = Some(sql))
    assert(got == Seq("GRAFTV_A", "GRAFTV_B"),
      "the standard-arm SQL string must run unmodified and feed the same prefix filter")
  }

  test("fan-out skips a table dropped AFTER listSchemas (the live-fleet race, S5)") {
    // The reference's 1146-skip fires on the QUERY, not the catalog
    // scan (data_consistency_checks.py:93-105): a table can exist at
    // SHOW DATABASES time and be gone by the per-schema read. Stage
    // the race explicitly: enumerate while all three schemas have the
    // table, then drop one table before fanning out.
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Jdbc.writeReplace(df, url, "GRAFTR_A.t_race")
    Jdbc.writeReplace(df.limit(1), url, "GRAFTR_B.t_race")
    Jdbc.writeReplace(df, url, "GRAFTR_C.t_race")
    val schemas = Jdbc.listSchemas(url, prefix = "GRAFTR_")
    assert(schemas == Seq("GRAFTR_A", "GRAFTR_B", "GRAFTR_C"))
    // the drop happens between enumeration and fan-out — the race
    val conn = java.sql.DriverManager.getConnection(url, Jdbc.derbyProps())
    try {
      val st = conn.createStatement()
      try st.executeUpdate("DROP TABLE GRAFTR_B.t_race") finally st.close()
    } finally conn.close()
    val res = Jdbc.fanOutSchemas(spark, url, schemas,
      s => s"""SELECT COUNT(*) AS "n" FROM $s.t_race""")
    // the vanished schema is skipped atomically with a recorded
    // reason; the survivors still union and attribute correctly
    assert(res.skipped.map(_.source) == Seq("GRAFTR_B"))
    assert(res.skipped.head.reason.nonEmpty)
    assert(res.telemetry(schemas.size) == "2 out of 3 sources processed successfully")
    val counts = res.df.get.collect()
      .map(r => r.getString(r.fieldIndex("source_schema")) -> r.getInt(r.fieldIndex("n")))
      .toMap
    assert(counts == Map("GRAFTR_A" -> 2, "GRAFTR_C" -> 2))
  }

  test("fan-out propagates non-missing-object failures (S6 over JDBC)") {
    Jdbc.writeReplace(Seq((1L, "a")).toDF("id", "v"), url, "GRAFTF_A.t_prop")
    // a syntax error (SQLSTATE 42X01) is NOT a missing table: it must
    // propagate, not be silently absorbed as a skipped source
    assertThrows[Exception] {
      Jdbc.fanOutSchemas(spark, url, Seq("GRAFTF_A"),
        s => s"SELEKT COUNT(*) FROM $s.t_prop")
    }
  }

  test("q35 round-trip reconciliation: zero variance on every region") {
    val out = graft.queries.JdbcQueries
      .q35JdbcRoundtrip(spark, TestSpark.sf).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getLong(r.fieldIndex("variance")) == 0L))
  }

  test("cross-system content reconcile: JDBC source vs parquet warehouse localizes a tampered row") {
    import graft.operators.Reconciliation
    // the reference's fleet-vs-warehouse compare, content-level: the
    // operational DB is the JDBC side, the warehouse copy is parquet;
    // fingerprints are computed per system and only summaries compare
    val rows = (1 to 120).map(i => (i.toLong, s"rec-$i"))
    Jdbc.writeReplace(rows.toDF("id", "payload"), url, "t_recon_src")
    val dir = java.nio.file.Files.createTempDirectory("xrecon").toString + "/wh"
    // warehouse lost row 50 and silently altered row 77's payload
    rows.filter(_._1 != 50L)
      .map { case (i, p) => (i, if (i == 77L) "rec-ALTERED" else p) }
      .toDF("id", "payload").write.parquet(dir)

    val source = Jdbc.readTable(spark, url, "t_recon_src")
    val warehouse = spark.read.parquet(dir)
    val key = col("id").cast("string")
    val canon = concat_ws("|", col("id"), col("payload"))
    val rec = Reconciliation.contentReconcile(source, warehouse, key, canon, 16)
    val bad = rec.filter(col("status") =!= "ok").collect()
    assert(bad.nonEmpty && bad.length <= 2)
    val diff = Reconciliation
      .contentDiffKeys(source, warehouse, key, canon, 16)
      .collect().map(r => (r.getString(1), r.getString(4))).toSet
    assert(diff == Set("50" -> "count_mismatch", "77" -> "content_mismatch"))
  }
}
