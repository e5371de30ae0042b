package graft.operators

import graft.Limits
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Running sums over a distinct-value census: the one ranked-prefix
  * implementation behind the exact rank statistics (AUC and
  * Mann–Whitney in [[Evaluation]], average precision, the KS family in
  * [[StatTests]], Spearman midranks in [[Profiling]]).
  *
  * A census is one row per (key?, `_v`) with Long mass columns. Every
  * caller needs, at each census row, the running mass of its key in
  * `_v` order — ascending or descending, inclusive or exclusive of the
  * row itself. There are two ways to compute it:
  *
  *   - DIRECT: one window over the census, partitioned by the key (or
  *     unpartitioned) and ordered by `_v`. Cheapest in jobs, but a key
  *     with billions of distinct values ranks in ONE window task.
  *   - CELL: `_v` is cut into `cells` equi-width cells
  *     ([[cellIndex]]); per-(key, cell) totals feed an exclusive
  *     offsets window over cells (≤ keys × cells rows), the offsets
  *     are joined back (broadcast when small), and a window partitioned
  *     by (key, cell) adds the within-cell running sum to the offset.
  *     No task ever holds more than one cell of one key, so a census of
  *     any size ranks `cells`-way parallel.
  *
  * Cells are monotone in `_v` (in the same direction as the order),
  * so offset + within-cell sum is the same prefix the direct window
  * computes. Both are sums of Long columns, which are exact and
  * associative, so both paths give BIT-IDENTICAL results for any
  * partitioning (specs force each path for every caller). The caller
  * chooses the path: it already probes a census size in its bounds job
  * and compares it with [[DefaultDirectWindowRows]].
  */
object RankedPrefix {

  /** Census rows at or under which callers take the DIRECT path. Under
    * it the direct form saves, per call, the per-cell totals aggregate,
    * the offsets window, the offsets broadcast and the offset rejoin:
    * a chain of serial stage-materialization jobs worth ~50–100 ms each
    * at bench scale (JobProfile r21). 1M census rows is a few tens of
    * MB in one window task, the same order as
    * [[graft.Limits.BroadcastRowLimit]].
    */
  val DefaultDirectWindowRows: Long = 1L << 20

  /** Equi-width cell of `v` over the driver-side bounds [mn, mx]: the
    * width is the double literal `(mx - mn) / cells`, the top edge is
    * clamped into the last cell, and a single-value range is cell 0.
    */
  def cellIndex(v: Column, mn: Double, mx: Double, cells: Int): Column =
    if (mx == mn) lit(0L)
    else least(lit(cells - 1L), floor((v - lit(mn)) / lit((mx - mn) / cells)))

  /** Add one running-sum column per `sums` entry (output name → Long
    * mass expression) to `census`, which must have a `_v` column and
    * the `keys` columns.
    *
    * @param descending rank from the largest `_v` down
    * @param exclusive  sum the rows strictly before each row (0 for the
    *                   first) instead of up to and including it
    * @param direct     take the one-window path (see the object doc)
    * @param mn         census minimum of `_v` (cell path only)
    * @param mx         census maximum of `_v` (cell path only)
    * @param offsetRows row bound of the offsets table, given the
    *                   per-(key, cell) totals frame; called on the cell
    *                   path only, it picks broadcast vs shuffled join
    */
  def apply(
      census: DataFrame, keys: Seq[String], sums: Seq[(String, Column)],
      direct: Boolean, mn: Double, mx: Double, cells: Int,
      offsetRows: DataFrame => Long,
      descending: Boolean = false, exclusive: Boolean = false,
      broadcastRowLimit: Long = Limits.BroadcastRowLimit): DataFrame = {
    def window(partition: Seq[String], order: String, upper: Long): WindowSpec =
      Window.partitionBy(partition.map(col): _*)
        .orderBy(if (descending) col(order).desc else col(order))
        .rowsBetween(Window.unboundedPreceding, upper)
    def running(mass: Column, w: WindowSpec): Column =
      if (exclusive) coalesce(sum(mass).over(w), lit(0L)) else sum(mass).over(w)
    val upper = if (exclusive) -1L else Window.currentRow
    if (direct) {
      val w = window(keys, "_v", upper)
      sums.foldLeft(census) { case (df, (out, mass)) => df.withColumn(out, running(mass, w)) }
    } else {
      val cellKeys = keys :+ "_c"
      val cen = census.withColumn("_c", cellIndex(col("_v"), mn, mx, cells))
      val perCell = cen.groupBy(cellKeys.map(col): _*)
        .agg(sum(sums.head._2).as("_rpT0"),
          sums.indices.tail.map(i => sum(sums(i)._2).as(s"_rpT$i")): _*)
      val wOff = window(keys, "_c", -1L)
      val offs = perCell.select(cellKeys.map(col) ++ sums.indices.map(i =>
        coalesce(sum(col(s"_rpT$i")).over(wOff), lit(0L)).as(s"_rpOff$i")): _*)
      val wCell = window(cellKeys, "_v", upper)
      val joined = cen.join(
        Limits.broadcastIfSmall(offs, offsetRows(perCell), broadcastRowLimit), cellKeys)
      sums.zipWithIndex
        .foldLeft(joined) { case (df, ((out, mass), i)) =>
          df.withColumn(out, col(s"_rpOff$i") + running(mass, wCell))
        }
        .drop("_c" +: sums.indices.map(i => s"_rpOff$i"): _*)
    }
  }
}
