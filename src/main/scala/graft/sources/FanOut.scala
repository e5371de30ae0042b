package graft.sources

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** Multi-source fan-out with per-source fault isolation (SURVEY.md
  * S4/S5/S6, reference: data_consistency_checks.py:85-116).
  *
  * The reference loops over discovered `openmrs_*` schemas
  * sequentially and, on MySQL error 1146 (missing table), skips the
  * whole schema's result atomically (§2.8.8) — a missing table never
  * drops just one branch. Two re-expressions, both keeping that
  * skip-the-whole-source rule:
  *
  *  - [[planTables]] (parquet sources, the pipelines' path): a
  *    driver-side check per (source, table) against the file system
  *    and the parquet footers decides which sources are planned, with
  *    no Spark job; each table is then read by ONE scan over every
  *    planned source (one per stored-type group when the files disagree
  *    on a checked column's type), rows attributed to their source as
  *    data. The plan and its jobs grow with the tables, not with the
  *    fleet.
  *  - [[fanOut]] (JDBC sources): one lazy plan per source, analysed
  *    under Try (a missing table surfaces as an AnalysisException),
  *    failed sources recorded and skipped, the survivors unioned.
  */
object FanOut {

  /** One skipped source and why (the reference's log line, as data). */
  final case class SkipRecord(source: String, reason: String)

  /** "N out of M processed" run telemetry line (A7, DCC:146-147) —
    * single definition shared by FanOutResult and Pipelines.RunReport.
    */
  def telemetryLine(total: Int, skipped: Int): String =
    s"${total - skipped} out of $total sources processed successfully"

  final case class FanOutResult(df: Option[DataFrame], skipped: Seq[SkipRecord]) {
    def telemetry(total: Int): String = telemetryLine(total, skipped.size)
  }

  /** Enumerate source "schemas": subdirectories of a root (the
    * SHOW DATABASES analog, S1) filtered by name prefix (P1).
    */
  def discoverSources(root: String, prefix: String): Seq[String] = {
    val dir = new java.io.File(root)
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .map(_.getName)
      .filter(_.startsWith(prefix))
      .sorted
      .toSeq
  }

  /** Default skip classifier: a plan that fails to RESOLVE (missing
    * table/path → AnalysisException) is skippable; everything else is
    * a real failure.
    */
  val analysisSkip: Throwable => Option[String] = {
    case e: AnalysisException => Some(e.getSimpleMessage.linesIterator.next())
    case _ => None
  }

  /** Build one plan per source with `read`, skipping sources whose
    * failure `skipReason` classifies as benign (default: resolution
    * failures — the 1146-skip analog); anything else propagates, like
    * the reference re-raises non-1146 errors (S6, DCC:108-112). JDBC
    * fan-outs pass a SQLSTATE-based classifier instead
    * ([[Jdbc.fanOutSchemas]]).
    *
    * Each surviving frame is tagged with a `source_schema` column so
    * downstream grouping can attribute rows, then unioned by name.
    */
  def fanOut(
      sources: Seq[String], read: String => DataFrame,
      skipReason: Throwable => Option[String] = analysisSkip): FanOutResult = {
    val results = sources.map { src =>
      src -> Try {
        // force analysis now so resolution errors surface per-source
        val df = read(src)
        df.queryExecution.assertAnalyzed()
        df.withColumn(SourceColumn, lit(src))
      }
    }
    val skipped = results.collect {
      case (src, Failure(e)) if skipReason(e).isDefined =>
        SkipRecord(src, skipReason(e).get)
    }
    results.collectFirst {
      case (_, Failure(e)) if skipReason(e).isEmpty => e
    }.foreach(throw _)
    val frames = results.collect { case (_, Success(df)) => df }
    FanOutResult(frames.reduceOption(_ unionByName _), skipped)
  }

  /** The column a [[TablePlan.scan]] attributes each row's source in. */
  val SourceColumn = "source_schema"

  /** One table's shared read: the required columns at their planned
    * types (`schema`), and the planned sources' table paths grouped by
    * the types their files store those columns as, one parquet scan per
    * group (one group when the fleet agrees on the types). */
  final case class TableScan(
      table: String, schema: StructType, groups: Seq[(StructType, Seq[(String, Path)])])

  /** The planned sources (discovery order), the skipped ones with their
    * reasons (discovery order), and one scan per table. */
  final case class TablePlan(
      sources: Seq[String], skipped: Seq[SkipRecord], scans: Seq[TableScan]) {

    /** `table` read over every planned source, one parquet scan per type
      * group (a group stored in narrower types is cast up to the planned
      * ones), each row tagged with its source in [[SourceColumn]]. The
      * source comes from the row's `_metadata.file_path` (a URI-escaped
      * string) matched against each source's qualified table-path URI as
      * a prefix, so partition subdirectories and escaped names attribute
      * correctly; a row matching no source fails the scan rather than
      * reporting under a made-up source. The schemas are given, so the
      * read infers nothing (no Spark job); it holds the required columns
      * only. Past `spark.sql.sources.parallelPartitionDiscovery.threshold`
      * (32) sources, Spark lists the paths with one job per scan. */
    def scan(spark: SparkSession, table: String): DataFrame = {
      val t = scans.find(_.table == table).getOrElse(
        throw new IllegalArgumentException(s"table '$table' was not planned"))
      val file = regexp_replace(col("_metadata.file_path"), LocalUri, "file:/")
      t.groups.map { case (stored, paths) =>
        val hits = paths.map { case (src, path) =>
          val uri = path.toUri.toString.replaceFirst(LocalUri, "file:/")
          // a table stored as one file matches whole
          (file.startsWith(s"$uri/") || file === uri) -> lit(src)
        }
        val source = hits.tail.foldLeft(when(hits.head._1, hits.head._2)) {
          case (c, (hit, src)) => c.when(hit, src)
        }.otherwise(raise_error(concat(lit("unattributed file "), col("_metadata.file_path"))))
        spark.read.schema(stored)
          .option("recursiveFileLookup", "true") // no partition inference across sources
          .parquet(paths.map(_._2.toString): _*)
          .select(t.schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name)) :+
            source.as(SourceColumn): _*)
      }.reduce(_ union _)
    }
  }

  /** Decide, on the driver and with no Spark job, which sources a
    * per-table scan can read: a source is planned when, for every
    * `(table, requiredColumns)`, its `root/source/table` path exists,
    * holds a data file, and every data file's parquet footer has the
    * required columns (resolved as the session resolves names) in types
    * that widen to the planned ones. A source failing any check is
    * skipped whole, with the reason — the skip set the per-source
    * analysis gave, plus three the shared scan needs:
    *
    *  - files of one table that store a checked column in different
    *    types: the scan reads a source's files under one schema, so the
    *    odd file would fail it at run time, and every source's report
    *    with it;
    *  - a checked column that does not widen (`Cast.canUpCast`, never to
    *    a string) to its planned type, the type the most sources' files
    *    widen to (ties to the name that sorts first), so the odd source
    *    is skipped whatever its name;
    *  - a checked column held only as a partition directory (`voided=0/`):
    *    the scan lists files recursively, without partition inference,
    *    so it would read the column as null.
    *
    * A missing column is never null-filled. An unreadable footer
    * propagates, as a failing read did before.
    */
  def planTables(
      spark: SparkSession, root: String, sources: Seq[String],
      required: Seq[(String, Seq[String])]): TablePlan = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val conf = spark.sessionState.conf
    val toSpark = new ParquetToSparkSchemaConverter(conf)
    val tables = required.groupBy(_._1).view.mapValues(_.flatMap(_._2).distinct).toMap
    val order = required.map(_._1).distinct

    // a source's table: its qualified path and the stored type of each required column
    def probe(src: String, table: String): Either[String, (Path, Seq[DataType])] = {
      val path = new Path(new Path(root, src), table)
      val fs = path.getFileSystem(hadoopConf)
      val qualified = fs.makeQualified(path)
      // one file's stored types of the required columns
      def stored(file: FileStatus): Either[String, Seq[DataType]] = {
        val footer = ParquetFooters.schema(hadoopConf, file)
        val fields = footer.getFields.asScala.toSeq
        val found = tables(table).map(c => c -> fields.find(f => conf.resolver(f.getName, c)))
        found.collectFirst { case (c, None) => c } match {
          case Some(c) =>
            val partition = Iterator.iterate(file.getPath.getParent)(_.getParent)
              .takeWhile(_.depth > qualified.depth).map(_.getName)
              .find(_.split("=", 2) match { case Array(k, _) => conf.resolver(k, c); case _ => false })
            Left(partition.fold(s"table '$table' has no column '$c' (${file.getPath.getName})")(
              dir => s"table '$table' holds column '$c' only as partition directory '$dir', " +
                "which the shared scan does not read"))
          case None =>
            val cols = new MessageType(footer.getName, found.flatMap(_._2).asJava)
            try Right(toSpark.convert(cols).fields.map(_.dataType).toSeq)
            catch { case e: AnalysisException => // a type Spark cannot read
              Left(s"table '$table': ${e.getSimpleMessage.linesIterator.next()}")
            }
        }
      }
      val files = ParquetFooters.dataFiles(fs, path)
      if (files.isEmpty) Left(s"table '$table' not found or holds no data file")
      else {
        // the shared scan reads a source's files under the first file's
        // types; stop at the first file that fails or disagrees
        stored(files.head).flatMap { t0 =>
          files.tail.iterator.map(f => stored(f).flatMap { t =>
            tables(table).zip(t0.zip(t)).collectFirst { case (c, (a, b)) if a != b =>
              s"table '$table' column '$c' is ${a.simpleString} in ${files.head.getPath.getName} " +
                s"but ${b.simpleString} in ${f.getPath.getName}"
            }.toLeft(())
          }).collectFirst { case Left(reason) => reason }.toLeft(qualified -> t0)
        }
      }
    }

    // first failing table, in `required` order, names the skip reason
    val probed = sources.map { src =>
      src -> order.foldLeft[Either[String, Map[String, (Path, Seq[DataType])]]](Right(Map.empty)) {
        case (Right(ok), t) => probe(src, t).map(r => ok + (t -> r))
        case (left, _) => left
      }
    }
    val stored = probed.collect { case (_, Right(ok)) => ok }
    val planned: Map[String, Seq[DataType]] = if (stored.isEmpty) Map.empty else order.map { t =>
      t -> tables(t).indices.map { i =>
        val types = stored.map(_(t)._2(i))
        types.distinct.sortBy(to => (-types.count(widens(_, to)), to.simpleString)).head
      }
    }.toMap
    val checked = probed.map {
      case (src, Right(ok)) =>
        val mismatch = for {
          t <- order
          (c, (from, to)) <- tables(t).zip(ok(t)._2.zip(planned(t)))
          if !widens(from, to)
        } yield s"table '$t' column '$c' is ${from.simpleString}, which does not widen to " +
          s"${to.simpleString}, the type the most sources' files widen to"
        src -> mismatch.headOption.toLeft(ok)
      case other => other
    }
    def schema(t: String, types: Seq[DataType]) =
      StructType(tables(t).zip(types).map { case (c, d) => StructField(c, d) })
    val plannedSources = checked.collect { case (src, Right(_)) => src }
    TablePlan(
      plannedSources,
      checked.collect { case (src, Left(reason)) => SkipRecord(src, reason) },
      if (plannedSources.isEmpty) Nil else order.map { t =>
        val reads = checked.collect { case (src, Right(ok)) => (src, ok(t)._1, ok(t)._2) }
        TableScan(t, schema(t, planned(t)), reads.map(_._3).distinct.map { types =>
          schema(t, types) -> reads.collect { case (src, path, `types`) => src -> path }
        })
      })
  }

  /** A column stored as `from` can be read as `to`: the same type or a
    * lossless up-cast, never to a string (a scan cannot read, say, a
    * timestamp column as a string). */
  private def widens(from: DataType, to: DataType): Boolean =
    from == to || (to != StringType && Cast.canUpCast(from, to))

  /** Hadoop writes a local URI without authority as `file:/p` for a
    * listed directory's children and as `file:///p` for a qualified path;
    * both sides of a source match are normalised to `file:/p`. */
  private val LocalUri = "^file:///"
}
