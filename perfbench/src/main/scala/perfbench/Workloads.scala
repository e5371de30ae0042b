package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.sql.{DriverManager, SQLException, Timestamp}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipelines, SparkEntry}
import graft.sources.{FanOut, Jdbc}

/** What one operation hands back for checking: its output as sorted
  * text lines (compared between passes inside the JVM) and a writer
  * that saves the same output for the oracle comparison made after
  * the run. The lines are read when first asked for, after the
  * passes, so that no read of the harness shares Spark's codegen
  * cache or the JIT with the timed operations. */
final class Output(read: => Seq[String], val save: String => Unit) {
  lazy val lines: Seq[String] = read
}

/** One operation of a workload: a call into the program's public
  * entry points. The harness times `run`; the function it returns
  * keeps what the call left behind (a copy of a sink, say) as an
  * [[Output]], untimed and without a Spark job. */
trait Op {
  def name: String
  def prepare(): Unit = ()
  def run(t: Tracer): () => Output
}

trait Workload {
  def ops: Seq[Op]
  /** Names of the catalog queries whose fixtures `SparkEntry.benchSetup`
    * builds during set-up. */
  def queries: Seq[String] = Nil
  /** Set-up of the workload's own inputs (not the program's fixtures). */
  def setUp(): Unit = ()
  def tearDown(): Unit = ()
  /** Per-layer figures a traced run derives from one pass's others. */
  def derive(pass: Map[String, Double]): Map[String, Double] = Map.empty
  /** Facts the oracle side needs that only Spark can state (written
    * once, after the passes). */
  def facts(out: String): Unit = ()
}

object Workloads {
  val ProbeChain = Seq("q81_inclusion", "q223_retrieval_quality_assigned")

  def apply(name: String, spark: SparkSession, data: String, tmp: String): Workload =
    name match {
      case "probe_chain"  => new Catalog(spark, data, ProbeChain)
      case "fleet_dqa"    => new Fleet(spark, data, tmp)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
}

/** Catalog queries over the generated corpus: build the DataFrame
  * (eager probes run here), then collect it. */
final class Catalog(spark: SparkSession, data: String, names: Seq[String]) extends Workload {
  override def queries: Seq[String] = names

  def ops: Seq[Op] = names.map { q =>
    new Op {
      val name = q
      def run(t: Tracer): () => Output = {
        val df = t.span(s"op.$q.build") { SparkEntry.queries(q)(spark, data) }
        val rows = t.span(s"op.$q.run") { df.collect() }
        // the output keeps the rows and their schema, not the DataFrame,
        // whose executed plan would hold its broadcasts on the heap
        val schema = df.schema
        () => new Output(rows.map(_.toString).sorted.toSeq, path =>
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.mode("overwrite").parquet(path))
      }
    }
  }
}

/** The reference's nightly batch over a fleet of facility sources:
  * DCC freshness, PPE reconciliation, and a JDBC flow over embedded
  * Derby. */
final class Fleet(spark: SparkSession, data: String, tmp: String) extends Workload {
  private val sources = s"$data/sources"
  private val prefix = "openmrs_"
  private val cutoff = "2024-01-01 00:00:00"
  private val factTables = Seq(
    "obs" -> "obs_datetime", "encounter" -> "encounter_datetime", "orders" -> "start_date")
  private val censusTables = Seq("obs", "encounter", "orders", "person", "patient")
    .map(_ -> Some("voided")) :+ ("patient_state" -> None)
  private val dccOut = s"$tmp/sinks/dcc_report"
  private val ppeOut = s"$tmp/sinks/ppe_report"
  private val kept = s"$tmp/kept"
  private val keptPasses = mutable.Map.empty[String, Int].withDefaultValue(0)
  private val url = "jdbc:derby:memory:fleet;create=true"
  private val reportTable = "APP.DQA_JDBC_REPORT"

  private def siteId(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(Int.MaxValue)).cast("int")

  private lazy val destination: DataFrame = spark.read.parquet(s"$data/dest_census.parquet")
    .select(siteId(col("site_name")).as("site_id"), col("table_name"), col("record_count"))

  override def setUp(): Unit = {
    destination
    loadDerby()
  }

  /** The facilities' databases: one schema each, holding an ENCOUNTER
    * table, loaded with plain JDBC batches. */
  private def loadDerby(): Unit = {
    val props = Jdbc.derbyProps()
    val conn = DriverManager.getConnection(url, props)
    conn.setAutoCommit(false)
    try {
      val schemas = Files.readAllLines(Paths.get(s"$data/jdbc/schemas.txt")).asScala
        .filter(_.nonEmpty)
      schemas.foreach { s =>
        Jdbc.ensureSchema(url, s, props)
        val csv = new File(s"$data/jdbc/$s.csv")
        if (csv.exists()) {
          val st = conn.createStatement()
          st.executeUpdate(s"CREATE TABLE $s.ENCOUNTER (ID INT, " +
            "ENCOUNTER_DATETIME TIMESTAMP, VOIDED INT)")
          st.close()
          val ins = conn.prepareStatement(s"INSERT INTO $s.ENCOUNTER VALUES (?, ?, ?)")
          Files.readAllLines(csv.toPath).asScala.zipWithIndex.foreach { case (line, i) =>
            val Array(secs, voided) = line.split(',')
            ins.setInt(1, i)
            ins.setTimestamp(2, new Timestamp(secs.toLong * 1000L))
            ins.setInt(3, voided.toInt)
            ins.addBatch()
          }
          ins.executeBatch()
          ins.close()
          conn.commit()
        }
      }
    } finally conn.close()
  }

  override def tearDown(): Unit =
    try DriverManager.getConnection("jdbc:derby:memory:fleet;drop=true").close()
    catch { case e: SQLException if e.getSQLState == "08006" => () } // dropped

  private def readSink(path: String): Array[Row] = spark.read.parquet(path).collect()

  private def reportJson(report: Pipelines.RunReport, rows: Array[Row], cols: Seq[String]): String =
    Json.obj(Seq(
      "rows_written" -> report.rowsWritten.toString,
      "sources_total" -> report.sourcesTotal.toString,
      "skipped" -> report.skipped.map(r => Json.str(r.source)).mkString("[", ", ", "]"),
      "telemetry" -> Json.str(report.telemetry),
      "rows" -> rows.map(r => rowJson(r, cols)).sorted.mkString("[\n", ",\n", "]")))

  private def rowJson(r: Row, cols: Seq[String]): String =
    Json.obj(cols.map(c => c -> jsonValue(r.get(r.fieldIndex(c)))))

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case d: Double => Json.num(d)
    case n: java.lang.Number => n.toString
    case t: Timestamp => (t.getTime / 1000L).toString
    case c: java.sql.Clob => Json.str(c.getSubString(1, c.length.toInt))
    case other => Json.str(other.toString)
  }

  /** A copy of the sink as this pass left it; Spark reads it after the
    * passes. */
  private def keepSink(op: String, sink: String, report: Pipelines.RunReport,
      cols: Seq[String]): Output = {
    keptPasses(op) += 1
    val copy = Paths.get(s"$kept/$op/pass-${keptPasses(op)}")
    val from = Paths.get(sink)
    Files.createDirectories(copy.getParent)
    Files.walk(from).iterator().asScala.foreach { p =>
      Files.copy(p, copy.resolve(from.relativize(p)))
    }
    fileOutput(reportJson(report, readSink(copy.toString), cols))
  }

  /** The JDBC report table as the flow left it, read with plain JDBC. */
  private def readReport(): Seq[String] = {
    val conn = DriverManager.getConnection(url, Jdbc.derbyProps())
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT * FROM $reportTable")
      val cols = (1 to rs.getMetaData.getColumnCount).map(rs.getMetaData.getColumnName)
      val rows = mutable.ArrayBuffer.empty[String]
      while (rs.next()) rows += Json.obj(cols.map(c => c -> jsonValue(rs.getObject(c))))
      rows.sorted.toSeq
    } finally conn.close()
  }

  private def writeText(path: String, s: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.writeString(Paths.get(path), s)
  }

  private def fileOutput(json: => String): Output = {
    lazy val text = json
    new Output(text.linesIterator.toSeq, path => writeText(s"$path.json", text))
  }

  /** The sources a pipeline's fan-out planned and skipped. */
  private def noteFanOut(t: Tracer, report: Pipelines.RunReport): Unit = {
    t.note("fanout.sources", report.sourcesTotal - report.skipped.size)
    t.note("fanout.skipped", report.skipped.size)
  }

  private val dccCols = Seq("facility_id", "facility_name", "obs_max_date",
    "encounter_max_date", "orders_max_date", "std_dev")
  private val ppeCols = Seq("site_id", "table_name", "record_count_source",
    "record_count_ohdl", "variance")

  def ops: Seq[Op] = Seq(
    new Op {
      val name = "dcc_freshness"
      def run(t: Tracer): () => Output = {
        val report = t.span("pipelines.dcc") {
          Pipelines.freshnessPipeline(spark, sources, prefix, factTables,
            to_timestamp(lit(cutoff)), dccOut)
        }
        noteFanOut(t, report)
        () => keepSink(name, dccOut, report, dccCols)
      }
    },
    new Op {
      val name = "ppe_reconciliation"
      // the append sink accumulates by design; each pass starts empty
      override def prepare(): Unit = deleteTree(new File(ppeOut))
      def run(t: Tracer): () => Output = {
        val report = t.span("pipelines.ppe") {
          Pipelines.reconciliationPipeline(spark, sources, prefix, censusTables,
            destination, ppeOut)
        }
        noteFanOut(t, report)
        () => keepSink(name, ppeOut, report, ppeCols)
      }
    },
    new Op {
      val name = "jdbc_flow"
      def run(t: Tracer): () => Output = {
        val schemas = t.span("jdbc.list") { Jdbc.listSchemas(spark, url, prefix.toUpperCase) }
        val fanned = t.span("jdbc.fanout") {
          Jdbc.fanOutSchemas(spark, url, schemas, s =>
            "SELECT COUNT(*) AS RECORD_COUNT, MAX(ENCOUNTER_DATETIME) AS MAX_TS " +
              s"FROM $s.ENCOUNTER WHERE VOIDED = 0 AND ENCOUNTER_DATETIME < TIMESTAMP('$cutoff')")
        }
        val written = t.span("jdbc.write") {
          fanned.df.map(Jdbc.writeReplace(_, url, reportTable)).getOrElse(0L)
        }
        () => {
          val json = Json.obj(Seq(
            "schemas" -> schemas.map(Json.str).mkString("[", ", ", "]"),
            "skipped" -> fanned.skipped.map(r => Json.str(r.source)).mkString("[", ", ", "]"),
            "rows_written" -> written.toString,
            "rows" -> readReport().mkString("[\n", ",\n", "]")))
          fileOutput(json)
        }
      }
    })

  /** The two pipelines' fan-out planning: each call's time outside SQL
    * executions (see `op.<name>.plan_s` in [[Main]]). */
  override def derive(pass: Map[String, Double]): Map[String, Double] =
    Map("fanout.plan_s" -> Seq("dcc_freshness", "ppe_reconciliation")
      .map(op => pass.getOrElse(s"op.$op.plan_s", 0.0)).sum)

  /** Site ids as Spark's own hash states them, so the oracle side can
    * name the rows of the reconciliation report. */
  override def facts(out: String): Unit = {
    import spark.implicits._
    val names = FanOut.discoverSources(sources, prefix) ++
      spark.read.parquet(s"$data/dest_census.parquet").select("site_name").distinct()
        .as[String].collect().toSeq
    val ids = names.distinct.toDF("n").select(col("n"), siteId(col("n"))).collect()
    writeText(s"$out/site_ids.json",
      Json.obj(ids.toSeq.map(r => r.getString(0) -> r.getInt(1).toString)))
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
