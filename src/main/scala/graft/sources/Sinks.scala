package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Report sinks (SURVEY.md S7-S9).
  *
  * The reference writes its report tables with drop-and-replace
  * (data_consistency_checks.py:163-165) or explicit-drop-then-append
  * (pre_and_post_etl_checks.py:245-247 — replace in effect, append by
  * design intent: reports accumulate daily keyed by `date_created`),
  * then verifies with a COUNT(*) read-back (DCC:166-168).
  *
  * Parquet-native equivalents; `verifyCount=true` reproduces the
  * read-back assertion and returns the persisted row count. The
  * read-back sums the row counts in the written files' parquet footers
  * on the driver, so it starts no Spark job; a file that is not whole
  * parquet fails it.
  */
object Sinks {

  /** Drop-and-replace sink (S7): `mode("overwrite")`. */
  def writeReplace(df: DataFrame, path: String, verifyCount: Boolean = true): Long =
    write(df, path, SaveMode.Overwrite, verifyCount)

  /** Accumulating sink (S8): `mode("append")` — the PPE design
    * intent, daily runs accumulating keyed by `date_created`.
    * Returns rows written by THIS run (post-write total minus
    * pre-write total — the read-back verification, S9, minus what
    * was already there; single-writer assumption). A missing sink
    * path holds 0 rows; an unreadable existing file propagates, as
    * it would otherwise silently inflate the rows-written delta.
    */
  def writeAppend(df: DataFrame, path: String, verifyCount: Boolean = true): Long =
    write(df, path, SaveMode.Append, verifyCount)

  private def write(df: DataFrame, path: String, mode: SaveMode, verify: Boolean): Long = {
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val before =
      if (verify && mode == SaveMode.Append) ParquetFooters.rowCount(conf, path) else 0L
    df.write.mode(mode).parquet(path)
    if (verify) ParquetFooters.rowCount(conf, path) - before // S9 read-back
    else -1L
  }

  /** Bucketed + sorted managed table: the at-rest layout that makes
    * repeated joins/aggregations on `bucketCols` shuffle-free (both
    * sides pre-partitioned by bucket hash — Catalyst drops the
    * Exchange entirely; see SinksSpec's plan assertion). This is the
    * 100 TB answer to the fact⋈fact joins (e.g. lineitem⋈orders on
    * orderkey) that no broadcast can absorb.
    */
  def writeBucketed(
      df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int,
      verifyCount: Boolean = true): Long = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
    if (verifyCount) df.sparkSession.table(table).count() else -1L
  }
}
