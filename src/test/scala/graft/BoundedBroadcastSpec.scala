package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import graft.operators.BoundedBroadcast

/** The size-bounded broadcast hint (r20 verdict items 1+3): under the
  * bound the hint must actually force a broadcast join; over the bound
  * the hint must vanish so the planner/AQE keeps the scale-safe shuffle
  * strategy; and the join RESULT must be identical on both paths — the
  * guard can change only the physical strategy, never the rows. */
class BoundedBroadcastSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def joined(hinted: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val big = (1 to 1000).map(i => (i.toLong, i * 2L)).toDF("k", "v")
    val small = (1 to 10).map(i => (i.toLong, s"c$i")).toDF("k", "c")
    big.join(hinted(small), Seq("k"))
  }

  private def physical(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }

  test("under the bound: the hint forces a BroadcastHashJoin") {
    val df = joined(BoundedBroadcast.hintIfBounded(_, measuredRows = 10L))
    assert(physical(df).collect { case j: BroadcastHashJoinExec => j }.nonEmpty,
      s"bounded hint did not broadcast:\n${physical(df).treeString}")
  }

  test("over the bound: the frame passes through unhinted (no forced " +
    "broadcast above the scale guard)") {
    val over = BoundedBroadcast.maxRows + 1
    // strategy itself is the planner's business (auto-broadcast may still
    // fire on a genuinely tiny frame); what the guard must guarantee is
    // that the HINT is gone — assert on the analyzed plan's hints
    val df = joined(BoundedBroadcast.hintIfBounded(_, measuredRows = over))
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty,
      s"broadcast hint survived an over-bound row count ($over rows)")
  }

  test("both paths return identical rows") {
    val a = joined(BoundedBroadcast.hintIfBounded(_, measuredRows = 1L))
      .orderBy("k").collect().toSeq
    val b = joined(BoundedBroadcast.hintIfBounded(_, measuredRows = Long.MaxValue))
      .orderBy("k").collect().toSeq
    assert(a == b, "guarded and unguarded joins disagree")
  }

  test("bound dial: unset gives the 4M-row default; a non-integer or " +
    "non-positive value is rejected with the variable's name") {
    assert(BoundedBroadcast.maxRowsFrom(None) == 4000000L)
    assert(BoundedBroadcast.maxRowsFrom(Some("8")) == 8L)
    Seq("0", "-1", "", "x", "4x").foreach { v =>
      val e = intercept[IllegalArgumentException](BoundedBroadcast.maxRowsFrom(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_BROADCAST_MAX_ROWS"),
        s"'$v' rejected without naming the variable: ${e.getMessage}")
    }
    // a Long dial: values past Int.MaxValue are accepted
    assert(BoundedBroadcast.maxRowsFrom(Some("2147483648")) == 2147483648L)
    val e = intercept[IllegalArgumentException](BoundedBroadcast.maxRowsFrom(Some("0")))
    assert(e.getMessage ==
      "requirement failed: SPARK_GRAFT_BROADCAST_MAX_ROWS must be a positive integer, got '0'")
  }

  test("default bound is far under the 512M-row broadcast relation cap") {
    assert(BoundedBroadcast.DefaultMaxRows <= 512000000L / 10,
      "default bound leaves no headroom under the broadcast cap")
  }

  test("hint lint: every raw broadcast( in src/main/scala names its bound " +
    "(// hint: scalar | dial); everything else is the planner's or " +
    "hintIfBounded's call") {
    // a source scan, not a plan walk: a hint inside a checkpointed
    // sub-frame never reaches the final frame's plan
    val call = "(?<![.\\w])broadcast\\(".r
    val tag = "// hint: (scalar|dial)\\b".r
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.nonEmpty, "no sources under src/main/scala")
    val untagged = for {
      f <- files if f.getName != "BoundedBroadcast.scala" // the gated hint itself
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.toSeq
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("/*") && !code.startsWith("//")
      if call.findFirstIn(code.split("//", 2)(0)).isDefined && tag.findFirstIn(code).isEmpty
    } yield s"${f.getPath}:${i + 1}: $code"
    assert(untagged.isEmpty,
      "broadcast( hint without a reason tag — drop it (the planner sizes " +
        "the side), use BoundedBroadcast.hintIfBounded, or tag a one-row " +
        s"(scalar) or dial-bounded (dial) side:\n${untagged.mkString("\n")}")
  }
}
