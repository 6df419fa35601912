package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit main: print the formatted physical plan of one (or every)
  * `SparkEntry.benchQueries` entry — the `.explain("formatted")` loop the
  * performance discipline runs after every operator lands (pushdown
  * reached the scan? exchanges only where the algebra demands? codegen
  * spans wide?). `JobCountProbe` measures; this shows WHY.
  *
  * Usage: `graft.ExplainOne <query> [sfDir]` — or `all` to dump every
  * plan (grep the output for `PushedFilters` / `Arguments: hashpartitioning`
  * in bulk; note formatted mode prints an exchange as a bare `Exchange`
  * node line with the partitioning on a separate details line, so
  * `Exchange hashpartitioning` matches nothing — count nodes with the
  * `ledger` mode instead).
  *
  * `graft.ExplainOne ledger [sfDir]` is the plan-shape-ledger GENERATOR
  * (docs/PLANS_r*.txt): one line per query of [[graft.plans.PlanLedger]]
  * node counts from the executed-plan TREE — exchanges by partitioning,
  * scans, joins, windows, codegen spans — so whole-surface shuffle drift
  * is one `diff docs/PLANS_r*.txt` across rounds. Non-query stdout is
  * `#`-prefixed; redirect stdout to the docs file to regenerate.
  */
object ExplainOne {
  /** Plan-only DIAGNOSTIC frames — intra-round shapes the query loops
    * hide behind localCheckpoints (r20 verdict item 2: the committed
    * s19/s26 plan pairs were identical because every round plan was
    * checkpoint-truncated). Never benched, never verified, never part
    * of the oracle surface — reachable only by explicit name here. */
  val diagFrames: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "diag_s19_round" -> (graft.operators.Similarity.s19RoundIntraPlan _),
    "diag_hnsw_round" -> (graft.operators.Similarity.hnswRoundIntraPlan _),
    "diag_s10_round" -> (graft.operators.Similarity.s10RoundIntraPlan _))

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_pricing_summary")
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.harness("ERROR")
    // plan-audit dial: dump a plan as it would look where a side is too
    // big to auto-broadcast (e.g. -1 disables auto-broadcast so the
    // corpus-attach joins show their at-scale sort-merge shape). Explain
    // tooling only — Bench/Verify never read this.
    sys.env.get("SPARK_GRAFT_EXPLAIN_AUTOBROADCAST")
      .foreach(v => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v))
    val targets =
      if (name == "all" || name == "ledger") SparkEntry.benchQueries.toSeq.sortBy(_._1)
      else Seq(name -> diagFrames.getOrElse(name, SparkEntry.benchQueries(name)))
    if (name == "ledger") {
      // ASCII-only output: stdout may not be UTF-8 under a bare `java` run
      println(s"# Plan-shape ledger: ${graft.plans.PlanLedger.columns.size}" +
        s" node-count columns from the executed-plan tree (graft.ExplainOne ledger $sfDir)")
      println("# Counts include AQE initial plans, query stages and subquery plans;")
      println("# see graft.plans.PlanLedger for the column definitions.")
      println(graft.plans.PlanLedger.header)
      targets.foreach { case (n, fn) =>
        try println(graft.plans.PlanLedger.row(n, fn(spark, sfDir)))
        catch { case e: Throwable =>
          println(s"# $n FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
        }
      }
    } else targets.foreach { case (n, fn) =>
      println(s"===== $n")
      try fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable =>
        println(s"[explain] $n failed: ${e.getClass.getSimpleName} ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
