package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one distributed prefix sum — how every global order
  * statistic runs (SURVEY §5): tape offsets, global ranks and sequence
  * numbers, CDFs, event counts at a query point. It is the two-level scan
  * of Blelloch's "Prefix Sums and Their Applications" (1990):
  *
  *  1. range-partition the frame by `by ++ order`, sort each range, tag
  *     every row with its range id `rid`, and checkpoint — the offsets
  *     pass and the running pass must see ONE range partitioning (a
  *     recomputed `repartitionByRange` re-samples its bounds);
  *  2. per-(`rid`, group) totals, turned into exclusive base offsets by
  *     one window over that rid-grained frame;
  *  3. the offsets broadcast back, plus an in-range running window.
  *
  * The offsets window is deliberately unpartitioned (per group when
  * grouped): its input has one row per range, so it is bounded by cluster
  * parallelism, never by data. A literal partition key cannot state that
  * in-plan (Spark 4's `EliminateWindowPartitions` strips foldable keys),
  * so `PlanSpec`'s global pin asserts the input grain instead — `rid` is
  * on its allowlist, and this is its only producer — and the harness
  * mains silence WindowExec's single-partition warning. No task ever
  * windows a whole group or the whole frame, and the output is exact
  * integer arithmetic, so it does not depend on where the range bounds
  * land: any range count yields byte-identical results.
  *
  * Weights must be columns the frame already has and row counts use
  * `count`/`row_number`: nothing new rides the range shuffle. */
final class PrefixSum private (
    /** The range-partitioned, sorted, `rid`-tagged, checkpointed frame;
      * callers read it for other work over the same rows (group totals)
      * instead of recomputing the upstream. */
    val ranged: DataFrame,
    by: Option[String],
    order: Seq[Column]) {

  private val keys = "rid" +: by.toSeq

  /** `ranged` (minus `rid`) plus, for each `weight -> out` pair, `out` =
    * the inclusive running sum of `weight` within the group in `order`.
    * An exclusive sum is `out - weight`. */
  def runningSums(weights: (String, String)*): DataFrame =
    running(
      weights.map { case (w, out) => sum(col(w)).as(s"${out}_tot") },
      weights.map { case (w, out) =>
        out -> sum(col(w)).over(runWindow.rowsBetween(Window.unboundedPreceding, 0)) })

  /** `ranged` (minus `rid`) plus `out` = the 1-based row rank within the
    * group in `order`. */
  def runningCount(out: String): DataFrame =
    running(Seq(count(lit(1)).as(s"${out}_tot")), Seq(out -> row_number().over(runWindow)))

  private def runWindow = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)

  private def running(totals: Seq[Column], runs: Seq[(String, Column)]): DataFrame = {
    val outs = runs.map(_._1)
    val slots = Window.partitionBy(by.map(col).toSeq: _*).orderBy(col("rid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = outs.foldLeft(
        ranged.groupBy(keys.map(col): _*).agg(totals.head, totals.tail: _*)) { (f, out) =>
        f.withColumn(s"${out}_base",
          coalesce(sum(col(s"${out}_tot")).over(slots), lit(0L)))
      }
      .select((keys ++ outs.map(o => s"${o}_base")).map(col): _*)
    runs.foldLeft(ranged.join(broadcast(offsets), keys)) { case (f, (out, run)) => // hint: dial
        f.withColumn(out, col(s"${out}_base") + run)
      }
      .drop(("rid" +: outs.map(o => s"${o}_base")): _*)
  }
}

object PrefixSum {
  /** Step 1 over `df`: `order` may hold `.desc` columns; `by` is the
    * optional group key the sums restart at; `ranges` is the range count
    * (0 = the session default). */
  def apply(df: DataFrame, order: Seq[Column], by: Option[String], ranges: Int): PrefixSum = {
    val sortKeys = by.map(col).toSeq ++ order
    val ranged =
      (if (ranges > 0) df.repartitionByRange(ranges, sortKeys: _*)
       else df.repartitionByRange(sortKeys: _*))
        .sortWithinPartitions(sortKeys: _*)
        .withColumn("rid", spark_partition_id())
        .localCheckpoint(true)
    new PrefixSum(ranged, by, order)
  }
}
