package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The PPE pre/post-ETL row-count reconciliation pipeline
  * (SURVEY.md §2/§3, reference: pre_and_post_etl_checks.py).
  *
  * Source-side census: per-site, per-table live-row counts (soft-
  * delete filtered, PPE:45-110). Destination-side census: the same
  * tables grouped by site_id in the warehouse (PPE:159-222). The two
  * are reconciled with a full outer equi-join on the composite key
  * (site_id, table_name) (PPE:229-237) and a null-propagating
  * variance = source − destination (PPE:239).
  *
  * Scale notes: the census unions every table's (site, table)
  * projection into one aggregation, partial-aggregated at the scans
  * (one row per site per table per partition crosses its one
  * shuffle); both join sides are ≤ sites × tables rows, so the
  * reconciliation join is always broadcastable no matter how large
  * the underlying fact data is.
  */
object Reconciliation {

  /** One table's census: branch label, frame, site key, and the
    * optional live-row predicate (`voided = 0` analog; `None`
    * reproduces the patient_state no-voided-column quirk, PPE:106).
    */
  final case class CensusSpec(
      tableName: String,
      df: DataFrame,
      siteId: Column,
      liveRow: Option[Column])

  /** Multi-table census (A2/A3 + P3, U2/U3): each table's live rows
    * projected to (site_id, table_name), unioned, and counted in ONE
    * group by (site_id, table_name). A table or site with no live row
    * has no row — empty groups don't exist; the outer join downstream
    * is what surfaces the gap (SURVEY.md §2.8.1). The reference
    * hand-split its destination union "to optimize" (PPE:158); here
    * the union feeds one aggregation, so N tables cost one shuffle.
    */
  def censusUnion(specs: Seq[CensusSpec]): DataFrame =
    specs.map { spec =>
      spec.liveRow.fold(spec.df)(spec.df.filter)
        .select(spec.siteId.cast("int").as("site_id"), lit(spec.tableName).as("table_name")) // P5 branch tag
    }.reduce(_ unionByName _)
      .groupBy("site_id", "table_name")
      .agg(count(lit(1)).as("record_count"))

  /** Full outer reconciliation (J1): USING-join on the composite key
    * coalesces key columns (pandas `on=` semantics); the overlapping
    * `record_count` measure is pre-renamed with the `_source` /
    * `_ohdl` suffixes (PPE:231-237). Both sides are tiny aggregates;
    * no explicit broadcast hint — this Spark build rejects build-side
    * broadcast for full-outer joins (the hint only logged warnings
    * and fell back), and AQE already picks the cheapest legal
    * strategy for sub-threshold sides.
    */
  // -----------------------------------------------------------------
  // Content-level reconciliation (Merkle-style bucket fingerprints)
  // -----------------------------------------------------------------

  /** Per-bucket content fingerprints: rows bucket by the
    * engine-portable 60-bit hash ([[graft.functions.DqFunctions.md5Hash60]])
    * of `keyCol` (the row's identity — primary key), and each bucket
    * folds the hash of `canonicalRow` (a deterministic string
    * rendering of ALL compared columns) into `(count, bit_xor)`.
    *
    * Bucketing by KEY, not by row content, is load-bearing: a
    * modified row keeps its bucket, so the mismatch surfaces as a
    * same-count different-fingerprint bucket (`content_mismatch`)
    * rather than a pair of count blips in unrelated buckets — and
    * drill-down by key becomes possible at all.
    *
    * This is the 100 TB upgrade of the reference's count-only
    * reconciliation (`pre_and_post_etl_checks.py:229-239`): counts
    * say two tables have the same NUMBER of rows; fingerprints say
    * they have the same rows. The output is ≤ `buckets` rows no
    * matter how big the input — small enough to ship between
    * clusters, so each side's fingerprints are computed where that
    * data lives and only the summaries cross the wire.
    *
    * Scale: one scan, partial aggregation map-side (count and xor
    * are both commutative monoids), ≤ `buckets` rows cross the
    * shuffle. Collision bound: a corrupted bucket reads as `ok` only
    * if the multiset difference xors to zero AND the counts match —
    * probability ~2⁻⁶⁰ per bucket for independent corruption.
    */
  def contentFingerprints(
      df: DataFrame, keyCol: Column, canonicalRow: Column,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    df.select(
        graft.functions.DqFunctions.md5Hash60(keyCol).as("_kh"),
        graft.functions.DqFunctions.md5Hash60(canonicalRow).as("_h"))
      .groupBy(pmod(col("_kh"), lit(buckets.toLong)).as("bucket"))
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("_h")).as("fingerprint"))
  }

  /** Full-outer compare of the two sides' bucket fingerprints.
    * Output: one row per non-empty bucket with per-side counts and
    * fingerprints (absent side coalesced to 0 — the xor identity)
    * and a `status` of `ok` / `count_mismatch` / `content_mismatch`.
    * Mismatched buckets are where to drill down with
    * [[contentDiffHashes]]; at 100 TB that means re-scanning for
    * diffs only after the cheap summary has localized them.
    */
  def contentReconcile(
      source: DataFrame, dest: DataFrame,
      keyCol: Column, canonicalRow: Column, buckets: Int): DataFrame = {
    val s = contentFingerprints(source, keyCol, canonicalRow, buckets)
      .withColumnRenamed("n_rows", "n_source")
      .withColumnRenamed("fingerprint", "fp_source")
    val d = contentFingerprints(dest, keyCol, canonicalRow, buckets)
      .withColumnRenamed("n_rows", "n_dest")
      .withColumnRenamed("fingerprint", "fp_dest")
    val nS = coalesce(col("n_source"), lit(0L))
    val nD = coalesce(col("n_dest"), lit(0L))
    val fS = coalesce(col("fp_source"), lit(0L))
    val fD = coalesce(col("fp_dest"), lit(0L))
    s.join(d, Seq("bucket"), "full_outer")
      .select(
        col("bucket"),
        nS.as("n_source"), nD.as("n_dest"),
        fS.as("fp_source"), fD.as("fp_dest"),
        when(nS =!= nD, lit("count_mismatch"))
          .when(fS =!= fD, lit("content_mismatch"))
          .otherwise(lit("ok")).as("status"))
  }

  /** Drill-down: per-key compare, optionally restricted to an
    * already-localized bucket set (from [[contentReconcile]]'s
    * mismatch rows). Returns one row per differing key — deleted
    * (`n_dest` 0), inserted (`n_source` 0), duplicated (counts
    * differ), or modified (counts equal, fingerprints differ) —
    * so the caller can fetch the offending rows by key.
    *
    * Scale: with `onlyBuckets` set, each side's scan drops
    * non-suspect rows map-side (the bucket is a pure function of
    * the key), so only suspect-bucket `(key, hash)` pairs ever
    * shuffle; the join is keyed on the key hash.
    *
    * Pass the SAME `keyCol` expression here as to
    * [[contentReconcile]] (string-typed for cross-engine oracles) —
    * the bucket is a hash of that expression's bytes, so a different
    * rendering of the same key buckets elsewhere.
    */
  def contentDiffKeys(
      source: DataFrame, dest: DataFrame,
      keyCol: Column, canonicalRow: Column, buckets: Int,
      onlyBuckets: Option[Seq[Long]] = None): DataFrame = {
    def keyed(df: DataFrame, n: String, fp: String): DataFrame = {
      val h = df.select(
        keyCol.cast("string").as("key"),
        pmod(graft.functions.DqFunctions.md5Hash60(keyCol),
          lit(buckets.toLong)).as("bucket"),
        graft.functions.DqFunctions.md5Hash60(canonicalRow).as("_h"))
      val scoped = onlyBuckets.fold(h)(bs => h.filter(col("bucket").isin(bs: _*)))
      scoped.groupBy(col("bucket"), col("key"))
        .agg(count(lit(1)).as(n), bit_xor(col("_h")).as(fp))
    }
    val nS = coalesce(col("n_source"), lit(0L))
    val nD = coalesce(col("n_dest"), lit(0L))
    val fS = coalesce(col("fp_source"), lit(0L))
    val fD = coalesce(col("fp_dest"), lit(0L))
    keyed(source, "n_source", "fp_source")
      .join(keyed(dest, "n_dest", "fp_dest"), Seq("bucket", "key"), "full_outer")
      .filter(nS =!= nD || fS =!= fD)
      .select(col("bucket"), col("key"),
        nS.as("n_source"), nD.as("n_dest"),
        when(nS =!= nD, lit("count_mismatch"))
          .otherwise(lit("content_mismatch")).as("status"))
  }

  def reconcile(
      source: DataFrame,
      destination: DataFrame,
      dateCreated: Column): DataFrame = {
    val src = source.withColumnRenamed("record_count", "record_count_source")
    val dst = destination.withColumnRenamed("record_count", "record_count_ohdl")
    // extra descriptive columns on the source side (e.g. site_name,
    // PPE:48) ride along; null on destination-only rows, like pandas.
    val extras = src.columns.toSeq
      .filterNot(Seq("site_id", "table_name", "record_count_source").contains)
    src
      .join(dst, Seq("site_id", "table_name"), "full_outer")
      .withColumn("variance",
        col("record_count_source") - col("record_count_ohdl")) // E9 null-propagating
      .withColumn("date_created", dateCreated)                 // E10 audit column
      .select((Seq("site_id", "table_name") ++ extras ++
        Seq("record_count_source", "record_count_ohdl", "variance",
          "date_created")).map(col): _*)
  }
}
