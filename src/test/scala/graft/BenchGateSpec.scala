package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench validity gate's burst arm (round-14 blind spot): replay the
  * r14 signature and a clean run through `Bench.burstSuspects` — the
  * flagged run must self-identify, the clean run must stay silent, and a
  * starved rep (wall up, cpu flat — the OTHER failure mode, diagnosed by
  * the wall-vs-cpu spread columns) must NOT masquerade as burst. */
class BenchGateSpec extends AnyFunSuite {

  // the r14 shape, anchored on the verdict's recorded s12 readings: the
  // slow rep's wall AND cpu inflate together (down-clocked host), across
  // seven queries at once
  private val r14Walls = Seq(
    "s12_index_drift" -> Seq(1.61, 7.56, 4.02),
    "s13_rank_fusion" -> Seq(0.84, 3.30, 2.51),
    "s14_ivf_pq" -> Seq(2.20, 10.1, 5.30),
    "s15_hybrid_search" -> Seq(2.30, 8.90, 4.10),
    "s16_filtered_ann" -> Seq(0.52, 1.25, 1.10),
    "s17_tombstone_plan" -> Seq(1.20, 6.10, 3.30),
    "d8_dedup_incremental" -> Seq(2.20, 4.80, 3.10))
  private val r14Cpus = Map(
    "s12_index_drift" -> Seq(4.54, 9.77, 6.80),
    "s13_rank_fusion" -> Seq(2.10, 5.90, 4.40),
    "s14_ivf_pq" -> Seq(6.00, 14.2, 9.10),
    "s15_hybrid_search" -> Seq(5.10, 12.3, 7.90),
    "s16_filtered_ann" -> Seq(1.40, 2.90, 2.30),
    "s17_tombstone_plan" -> Seq(3.20, 8.10, 5.50),
    "d8_dedup_incremental" -> Seq(5.00, 9.10, 6.80))

  test("the r14 burst signature trips the gate: >= BurstMinSuspects " +
    "queries slow in wall AND proportionally expensive in cpu") {
    val suspects = Bench.burstSuspects(r14Walls, r14Cpus)
    assert(suspects.size >= Bench.BurstMinSuspects,
      s"r14 replay found only $suspects")
    assert(suspects.contains("s12_index_drift"))
  }

  test("a clean interleaved run stays unflagged: wall moves within the " +
    "documented noise, cpu stays flat") {
    val walls = (1 to 20).map(i => s"q${i}_x" -> Seq(1.00, 1.25, 1.10))
    val cpus = walls.map { case (n, _) => n -> Seq(3.00, 3.20, 3.10) }.toMap
    assert(Bench.burstSuspects(walls, cpus).isEmpty)
  }

  test("starvation (wall inflated, cpu flat) is NOT burst — it belongs " +
    "to the wall-vs-cpu columns, and flagging it here would misattribute " +
    "the mechanism") {
    val walls = Seq("s1_ann_brute" -> Seq(1.0, 3.5, 1.1))
    val cpus = Map("s1_ann_brute" -> Seq(3.0, 3.1, 3.0))
    assert(Bench.burstSuspects(walls, cpus).isEmpty)
  }

  test("unsupported cpu readings (-1 sentinel) never match: the cpu " +
    "column is diagnostics and must not be able to trip the gate") {
    val walls = Seq("q1_pricing_summary" -> Seq(1.0, 4.0, 2.0))
    val cpus = Map("q1_pricing_summary" -> Seq(-1.0, -1.0, -1.0))
    assert(Bench.burstSuspects(walls, cpus).isEmpty)
  }

  test("a rep-0 maximum never matches: first-rep JIT warmup burns cpu " +
    "in the same slow-and-proportionally-expensive signature as weather " +
    "(r15: d10 rep-0 wall 6.6/cpu 31.9 vs warm 2.7/7.5), so a rep-0-slow " +
    "query is unattributable and the gate refuses to guess") {
    val walls = Seq("d10_dedup_fuzzy" -> Seq(6.61, 2.71, 3.28))
    val cpus = Map("d10_dedup_fuzzy" -> Seq(31.9, 7.5, 8.3))
    assert(Bench.burstSuspects(walls, cpus).isEmpty)
  }

  test("a wall-time tie between rep 0 and a warm rep resolves to the " +
    "WARM rep: the tie must not hide weather behind the rep-0 rule") {
    val walls = Seq("s5_knn_join" -> Seq(4.0, 4.0, 1.0))
    val cpus = Map("s5_knn_join" -> Seq(12.0, 12.0, 3.0))
    assert(Bench.burstSuspects(walls, cpus) == Seq("s5_knn_join"))
  }

  test("an unsupported cpu reading at an UNCHOSEN rep does not blind the " +
    "query: validity is required only at the chosen slow/fast reps") {
    val walls = Seq("q23_range_join" -> Seq(2.0, 4.0, 1.0))
    val cpus = Map("q23_range_join" -> Seq(-1.0, 6.0, 1.5))
    assert(Bench.burstSuspects(walls, cpus) == Seq("q23_range_join"))
  }

  test("a single GC outlier does not flag the run: the gate needs " +
    "BurstMinSuspects simultaneous suspects") {
    val one = Seq("q18_approx_stats" -> Seq(1.4, 6.4, 2.8))
    val cpu = Map("q18_approx_stats" -> Seq(3.0, 12.0, 6.0))
    val suspects = Bench.burstSuspects(one, cpu)
    assert(suspects == Seq("q18_approx_stats"))
    assert(suspects.size < Bench.BurstMinSuspects)
  }

  // ---- preflight (the r19 self-healing arm): the gate DETECTS weather;
  // the preflight OUTLASTS it, bounded, with a logged trail.

  private val floors = Map("q1_pricing_summary" -> 0.65,
    "q6_forecast_revenue" -> 0.35, "p1_ingest_raw" -> 0.30)

  test("preflight: a clean host clears on the first probe — no sleep, " +
    "one trail entry, three canary runs") {
    var slept = 0L
    var runs = 0
    val (attempts, trail) = Bench.preflight(floors,
      { _ => runs += 1; 0.2 }, ms => slept += ms)
    assert(attempts == 1 && trail.size == 1 && runs == 3 && slept == 0L)
    assert(trail.head.contains("\"cleared\":true") && trail.head.contains("\"hot\":0"))
  }

  test("preflight: a weather window (2+ canaries over 1.5x floors) sleeps " +
    "and re-probes until the host recovers, recording every attempt") {
    var slept = 0L
    var probe = 0
    val (attempts, trail) = Bench.preflight(floors,
      { n =>
        if (n == "q1_pricing_summary") probe += 1
        // attempts 1-2: everything 3x its floor; attempt 3: clean
        if (probe <= 2) floors(n) * 3.0 else floors(n) * 0.8
      }, ms => slept += ms)
    assert(attempts == 3, s"expected recovery on attempt 3, got $attempts")
    assert(trail.size == 3 && slept == 2 * Bench.PreflightSleepMs)
    assert(trail.take(2).forall(_.contains("\"cleared\":false")))
    assert(trail.last.contains("\"cleared\":true"))
  }

  test("preflight: ONE hot canary is not weather (majority rule — a slow " +
    "single query is its own problem, not the host's)") {
    val (attempts, trail) = Bench.preflight(floors,
      { n => if (n == "q1_pricing_summary") 99.0 else 0.1 },
      _ => fail("must not sleep on a single hot canary"))
    assert(attempts == 1 && trail.head.contains("\"hot\":1"))
  }

  test("preflight: a permanently throttled host exhausts the attempt " +
    "budget and proceeds anyway (the artifact must still land, flagged)") {
    var slept = 0L
    val (attempts, trail) = Bench.preflight(floors,
      { n => floors(n) * 10 }, ms => slept += ms)
    assert(attempts == Bench.PreflightMaxAttempts)
    assert(trail.size == Bench.PreflightMaxAttempts)
    // sleeps BETWEEN attempts only — never after the last (it would waste
    // a minute of the round for nothing)
    assert(slept == (Bench.PreflightMaxAttempts - 1) * Bench.PreflightSleepMs)
    assert(trail.forall(_.contains("\"cleared\":false")))
  }

  // the r20 mid-run guard verdict: a sweep is tainted when >=2 of its
  // OWN in-sweep canary timings breach the gate — no extra probe, the
  // canaries are timed inside every sweep anyway

  private def sweep(q1: Double, q6: Double, p1: Double) = Seq(
    "q1_pricing_summary" -> ((q1, q1)), "q6_forecast_revenue" -> ((q6, q6)),
    "p1_ingest_raw" -> ((p1, p1)), "d1_dedup_exact" -> ((9.9, 9.9)))

  test("sweep taint: a sweep whose canaries sat under the gate is clean " +
    "no matter how slow its other queries ran (code, not weather)") {
    assert(Bench.sweepHotCount(sweep(0.6, 0.3, 0.25), floors) == 0)
  }

  test("sweep taint: 2+ in-sweep canary breaches mark the sweep as " +
    "weather-ridden (the r19 mid-run burst signature)") {
    assert(Bench.sweepHotCount(sweep(1.2, 0.8, 0.25), floors) == 2)
    assert(Bench.sweepHotCount(sweep(1.2, 0.8, 0.9), floors) == 3)
  }

  test("sweep taint: one hot canary is the query's problem, not the " +
    "host's — same majority rule as the preflight") {
    assert(Bench.sweepHotCount(sweep(9.9, 0.3, 0.25), floors) == 1)
  }

  test("canary floors parse from the committed BASELINE.md and match the " +
    "compiled fallback — the r20 recalibration must land in BOTH places " +
    "or a bare-classpath bench run gets a differently-calibrated gate") {
    val parsed = Bench.canaryFloors()
    assert(parsed == Bench.FallbackFloor,
      s"BASELINE.md floors $parsed != FallbackFloor ${Bench.FallbackFloor}")
  }

  test("cores dial: unset gives the default 4; a non-integer or " +
    "non-positive SPARK_GRAFT_CPUS is rejected with the variable's name") {
    assert(GraftSession.coresFrom(None, 4) == 4)
    assert(GraftSession.coresFrom(Some("8"), 4) == 8)
    // PipelineMain and StreamingMain default to 8 and validate the same way
    assert(GraftSession.coresFrom(None, 8) == 8)
    assert(GraftSession.coresFrom(Some("2"), 8) == 2)
    for (default <- Seq(4, 8); v <- Seq("0", "-1", "", "x", "4x")) {
      val e = intercept[IllegalArgumentException](GraftSession.coresFrom(Some(v), default))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"),
        s"'$v' rejected without naming the variable: ${e.getMessage}")
    }
  }
}
