package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Analytics, AnalyticsExt, Behavior, Dedup, HeavyHitters, Multimodal, RunOracles, Similarity, SkewJoin, TextAnalysis, TopK}
import graft.pipeline.PipelineQueries

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1PricingSummary(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. These are the
    * VERIFIED forms — what Verify dumps and the DuckDB oracle hash-checks.
    * A few entries deliberately carry verification work beyond the
    * production operator (see [[benchQueries]] and README "Verified vs
    * production forms"). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Analytics.all ++ AnalyticsExt.all ++ Behavior.all ++ PipelineQueries.all ++
      TextAnalysis.all ++ Dedup.all ++ Similarity.all ++ Multimodal.all ++ TopK.all ++
      SkewJoin.all ++ graft.streaming.StreamQueries.all ++
      Map("t14_heavy_hitters" -> (HeavyHitters.t14HeavyHitters _))

  /** What Bench times: [[queries]] with verification-shaped entries swapped
    * for their production twins. Today that is only q18 — the verified form
    * runs the sketches PLUS the exact distinct/percentiles they are checked
    * against (three lineitem passes), while the production operator is the
    * sketch-only aggregate whose error bound `AnalyticsExtSpec` asserts. */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries ++ benchTwins

  /** The production twins [[benchQueries]] swaps in, keyed by the
    * verified name each replaces. */
  def benchTwins: Map[String, (SparkSession, String) => DataFrame] =
    Map("q18_approx_stats" -> (AnalyticsExt.q18ApproxStats _))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Analytics.oracle ++ AnalyticsExt.oracle ++ Behavior.oracle ++ PipelineQueries.oracle ++
      TextAnalysis.oracle ++ Dedup.oracle ++ Similarity.oracle ++ TopK.oracle ++
      Multimodal.oracle ++ SkewJoin.oracle ++ graft.streaming.StreamQueries.oracle ++
      Map("t14_heavy_hitters" -> HeavyHitters.t14Oracle) ++ RunOracles.published

  /** Called by Verify after a query's result parquet lands: publishes the
    * run-derived oracle (if any) that `name`'s body registered for `dir`.
    * See [[RunOracles]]. */
  def markMaterialized(name: String, dir: String): Unit =
    RunOracles.confirm(name, dir)
}
