package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.PrefixSum

/** [[PrefixSum]] against the single-window form it replaces: for every
  * range count the distributed running sums and counts must equal one
  * `Window.partitionBy(by).orderBy(order)` pass, row for row. */
class PrefixSumSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** ~2k seeded rows in skewed groups (1,500/400/100), with a repeating
    * sort key `k` (ties break on the unique `id`), a signed long weight
    * `w` and a small long weight `v`. */
  private lazy val input: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(20260419L)
    Seq("a" -> 1500, "b" -> 400, "c" -> 100)
      .flatMap { case (g, n) => Seq.fill(n)(g) }
      .zipWithIndex
      .map { case (g, i) =>
        (i.toLong, g, rnd.nextInt(300).toLong, rnd.nextInt(1000).toLong - 200L,
          rnd.nextInt(7).toLong)
      }
      .toDF("id", "grp", "k", "w", "v")
  }

  private val orders: Seq[(String, Seq[Column])] = Seq(
    "ascending" -> Seq(col("k"), col("id")),
    "descending" -> Seq(col("k").desc, col("id")))

  private def check(by: Option[String]): Unit =
    for ((dir, order) <- orders; ranges <- Seq(1, 3, 7, 0)) {
      val w = Window.partitionBy(by.map(col).toSeq: _*).orderBy(order: _*)
      val expected = input.select(col("id"),
          sum(col("w")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cw"),
          sum(col("v")).over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cv"),
          row_number().over(w).cast("long").as("n"))
        .orderBy(col("id")).collect().toSeq
      val ps = PrefixSum(input, order, by, ranges)
      if (ranges > 0)
        assert(ps.ranged.select(col("rid")).distinct().count() == ranges,
          s"$dir, $ranges ranges: the range partitioner did not split as asked")
      val sums = ps.runningSums("w" -> "cw", "v" -> "cv")
      val counts = ps.runningCount("n")
      assert(sums.columns.toSet == input.columns.toSet ++ Set("cw", "cv"),
        s"runningSums columns: ${sums.columns.mkString(", ")}")
      assert(counts.columns.toSet == input.columns.toSet + "n",
        s"runningCount columns: ${counts.columns.mkString(", ")}")
      val got = sums.select(col("id"), col("cw"), col("cv"))
        .join(counts.select(col("id"), col("n")), Seq("id"))
        .orderBy(col("id")).collect().toSeq
      assert(got.size == expected.size)
      val bad = got.zip(expected).filter { case (g, e) => g != e }
      assert(bad.isEmpty, s"by=$by, $dir, ranges=$ranges: ${bad.size} rows differ, " +
        s"first (got, expected): ${bad.headOption}")
    }

  test("prefix sum: ungrouped running sums and counts equal one global " +
    "window at 1, 3, 7 and the default range count, ascending and descending") {
    check(None)
  }

  test("prefix sum: grouped running sums and counts equal one per-group " +
    "window at 1, 3, 7 and the default range count, ascending and descending") {
    check(Some("grp"))
  }
}
