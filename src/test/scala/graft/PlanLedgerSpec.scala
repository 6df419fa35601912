package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.plans.PlanLedger

/** The plan-shape ledger generator must SEE what PlanSpec pins: round 19
  * shipped a ledger whose exchange/codegen columns were all-zero for all
  * 215 queries because it grepped `explain("formatted")` text for node
  * names that mode never prints (`Exchange hashpartitioning` is split
  * across a node line and an `Arguments:` line). These tests pin the
  * tree-walking replacement to ground truth from both directions — the
  * zero-exchange bucketed join really counts 0 hash exchanges, and
  * shuffle-demanding shapes count >0 — so the ledger can never again be
  * blind to the drift it exists to detect. */
class PlanLedgerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("q1: the ledger sees the groupBy's hash exchange, the parquet scan " +
    "and at least one codegen span (all-zero columns = r19 regression)") {
    val c = PlanLedger.counts(graft.operators.Analytics.q1PricingSummary(spark, sf))
    assert(c("exch_hash") >= 1, s"ledger blind to q1's aggregation shuffle: $c")
    assert(c("scan_parquet") >= 1, s"ledger blind to the parquet scan: $c")
    assert(c("wscg") >= 1, s"ledger blind to codegen spans: $c")
  }

  test("q3: the three-table join's algebra-required exchanges are counted") {
    val c = PlanLedger.counts(graft.operators.Analytics.q3ShippingPriority(spark, sf))
    assert(c("exch_hash") >= 1, s"ledger blind to q3's join shuffles: $c")
  }

  test("q9: the per-group top-n window is counted") {
    val c = PlanLedger.counts(graft.operators.Analytics.q9TopNPerGroup(spark, sf))
    assert(c("window") >= 1, s"ledger blind to the window: $c")
  }

  test("p29: the bucketed join counts ZERO hash exchanges — the ledger " +
    "must agree with PlanSpec's zero-exchange pin, not report a " +
    "vacuous zero it can't distinguish from blindness") {
    val c = PlanLedger.counts(graft.pipeline.PipelineQueries.p29BucketedJoin(spark, sf))
    assert(c("exch_hash") == 0, s"p29 regressed to a shuffled join: $c")
    assert(c("scan_parquet") >= 2, s"both bucketed scans must be visible: $c")
  }

  test("subquery plans are walked: a scalar-subquery shuffle is not lost") {
    import spark.implicits._
    val df = Seq(1, 2, 3).toDF("x")
    df.createOrReplaceTempView("ledger_probe")
    val q = spark.sql(
      "SELECT x FROM ledger_probe WHERE x > (SELECT avg(x) FROM ledger_probe GROUP BY x % 2 LIMIT 1)")
    val ns = PlanLedger.nodes(q.queryExecution.executedPlan)
    assert(ns.exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec]) ||
      PlanLedger.counts(q).values.sum > 0,
      "subquery walk found no nodes at all")
  }

  test("row format: name followed by one integer per declared column") {
    val r = PlanLedger.row("q1", graft.operators.Analytics.q1PricingSummary(spark, sf))
    val parts = r.split(" ")
    assert(parts.length == PlanLedger.columns.size + 1, r)
    assert(parts.head == "q1" && parts.tail.forall(_.forall(_.isDigit)), r)
  }

  test("cross-scale ledger: every query whose join or exchange columns " +
    "differ between the newest sf0.001 ledger and its sf0.1 sibling has " +
    "a `# scale: <query> <reason>` line, and every such line names a row " +
    "that differs") {
    import scala.jdk.CollectionConverters._
    val docs = new java.io.File("docs")
    val small = Option(docs.listFiles()).toSeq.flatten
      .filter(_.getName.matches("PLANS_r\\d+\\.txt"))
      .sortBy(_.getName.stripPrefix("PLANS_r").stripSuffix(".txt").toInt)
      .lastOption.getOrElse(fail("no docs/PLANS_r*.txt committed"))
    val large = new java.io.File(docs, small.getName.stripSuffix(".txt") + "_sf0.1.txt")
    assert(large.exists, s"no sf0.1 ledger beside ${small.getName}: commit " +
      s"`graft.ExplainOne ledger <sf0.1 dir>` as docs/${large.getName}")
    def lines(f: java.io.File) = java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
    val structural = Seq("exch_hash", "exch_range", "exch_single", "bcast_hj",
      "shuffled_j", "bnlj", "cartesian").map(PlanLedger.columns.indexOf(_))
    assert(!structural.contains(-1), s"ledger columns renamed: ${PlanLedger.columns}")
    def rows(f: java.io.File): Map[String, Seq[String]] =
      lines(f).filterNot(_.startsWith("#")).map(_.split(" ").toSeq)
        .collect { case n +: cs if cs.size == PlanLedger.columns.size =>
          n -> structural.map(cs) }.toMap
    val (a, b) = (rows(small), rows(large))
    assert(a.keySet == b.keySet, s"the two ledgers list different queries: " +
      s"${(a.keySet diff b.keySet) ++ (b.keySet diff a.keySet)}")
    val differ = a.keySet.filter(q => a(q) != b(q))
    val reasons = lines(large).collect { case l if l.startsWith("# scale: ") =>
      l.stripPrefix("# scale: ").split(" ", 2).toSeq }
    val named = reasons.collect { case Seq(q, why) if why.trim.nonEmpty => q }.toSet
    assert(named.size == reasons.size, s"a `# scale:` line lacks its reason: $reasons")
    val unexplained = (differ -- named).toSeq.sorted
      .map(q => s"$q: ${a(q).mkString(" ")} -> ${b(q).mkString(" ")}")
    assert(unexplained.isEmpty, s"rows that change with scale need a `# scale: <query> " +
      s"<reason>` line in ${large.getName}:\n${unexplained.mkString("\n")}")
    val stale = (named -- differ).toSeq.sorted
    assert(stale.isEmpty, s"`# scale:` lines name rows that do not differ: $stale")
  }
}
