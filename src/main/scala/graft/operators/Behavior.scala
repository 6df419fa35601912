package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Behavioral analytics over the `events` stream: ordered funnels and
  * cohort retention — the product-analytics operators an engine claiming
  * the reference's analytics surface gets asked for next (no reference
  * analog; extensions like SURVEY.md §2's dedup/similarity block).
  *
  * Scale design: both operators are one shuffle on user_id plus
  * group-sized aggregates. The funnel's per-session step times are window
  * minima over the SAME user_id partitioning the sessionization already
  * shuffled for (`HashPartitioning(user_id)` satisfies the
  * `(user_id, session_id)` clustering, so the extra windows add sorts,
  * never exchanges), and the final counts collapse to one row before the
  * 3-step explode. Retention is two hash aggregations (distinct
  * user-weeks, then cohort×offset counts) — both map-side partial.
  */
object Behavior {

  /** Funnel step order: a session "reaches" step k when the k-th event
    * type occurs AT OR AFTER the time it reached step k-1. */
  val FunnelSteps = Seq("view", "click", "purchase")

  /** `q20_funnel_steps`: ordered-funnel conversion over sessions.
    * Per session, step k's reach time is the min event time of step k's
    * type at-or-after step k-1's reach time; the output is one row per
    * funnel step with sessions reached and floor-e6 conversion ratios
    * (vs the previous step and vs all sessions). */
  def q20FunnelSteps(spark: SparkSession, dir: String): DataFrame = {
    val bySess = Window.partitionBy(col("user_id"), col("session_id"))
    val withT = Analytics.sessionizedEvents(spark, dir)
      .withColumn("t1",
        min(when(col("event_type") === FunnelSteps(0), col("ts_us"))).over(bySess))
      .withColumn("t2",
        min(when(col("event_type") === FunnelSteps(1) && col("ts_us") >= col("t1"),
          col("ts_us"))).over(bySess))
      .withColumn("t3",
        min(when(col("event_type") === FunnelSteps(2) && col("ts_us") >= col("t2"),
          col("ts_us"))).over(bySess))
    // one row per session (t1..t3 are session-constant window values),
    // then ONE global row of counts — group-sized, no fact-sized state
    val counts = withT
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .agg(
        count(lit(1)).as("n0"),
        count(col("t1")).as("s1"), count(col("t2")).as("s2"), count(col("t3")).as("s3"))
    def convE6(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den > 0, floor(num * lit(1000000.0) / den).cast("long"))
        .otherwise(lit(null).cast("long"))
    counts.select(explode(array(
        struct(lit("1_" + FunnelSteps(0)).as("step"), col("s1").as("n_reached"),
          convE6(col("s1"), col("n0")).as("conv_prev_e6"),
          convE6(col("s1"), col("n0")).as("conv_start_e6"),
          col("n0").as("n_sessions")),
        struct(lit("2_" + FunnelSteps(1)).as("step"), col("s2").as("n_reached"),
          convE6(col("s2"), col("s1")).as("conv_prev_e6"),
          convE6(col("s2"), col("n0")).as("conv_start_e6"),
          col("n0").as("n_sessions")),
        struct(lit("3_" + FunnelSteps(2)).as("step"), col("s3").as("n_reached"),
          convE6(col("s3"), col("s2")).as("conv_prev_e6"),
          convE6(col("s3"), col("n0")).as("conv_start_e6"),
          col("n0").as("n_sessions")))).as("f"))
      .select(col("f.*"))
      .orderBy(col("step"))
  }

  /** Calendar-free week index: floor(epoch micros / one week). Both
    * engines compute it as exact integer arithmetic — no timezone/ISO-week
    * edge cases in the oracle compare. */
  private val WeekUs = 7L * 86400L * 1000000L

  /** `q21_retention_cohorts`: weekly cohort retention — users are
    * cohorted by their first active week; each (cohort, week offset) row
    * counts users active that week and the floor-e6 retention rate vs the
    * cohort size. Offset 0 is 1e6 by construction. */
  def q21RetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(WeekUs)).cast("long").as("week"))
      .distinct()
    val cohorts = active.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    val cohortSize = cohorts.groupBy(col("cohort_week")).agg(count(lit(1)).as("cohort_n"))
    active
      .join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(cohortSize), Seq("cohort_week")) // hint: dial
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("cohort_n"),
        floor(col("n_active") * lit(1000000.0) / col("cohort_n")).cast("long")
          .as("retention_e6"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Calendar-free day index, same construction as [[WeekUs]]. */
  private val DayUs = 86400L * 1000000L

  /** q24 window width: distinct users over the trailing 7 days. */
  val RollingDays = 7

  /** `q24_rolling_distinct`: daily active users plus 7-day rolling
    * distinct users per day — the engagement statistic whose naive form
    * (a self-join `a.day BETWEEN b.day-6 AND b.day`, or a distinct-state
    * window) does not scale. The distributed shape: collapse events to
    * distinct (user, day) once (map-side-partial distinct over the only
    * fact-sized input), then explode each activity row to the ≤7 window
    * END days it contributes to — a BOUNDED fan-out of the already-tiny
    * activity table — and count distinct users per window end. Window
    * ends with no activity of their own are dropped by the inner join
    * (the report is per OBSERVED day). Day indices are floor(epoch
    * micros / day) like q21's weeks: exact integer arithmetic, no
    * timezone/calendar edge cases in the oracle compare. */
  def q24RollingDistinct(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(DayUs)).cast("long").as("day_idx"))
      .distinct()
    val dau = active.groupBy(col("day_idx")).agg(count(lit(1)).as("dau"))
    val wau = active
      .select(col("user_id"), explode(sequence(col("day_idx"),
        col("day_idx") + lit(RollingDays - 1).cast("long"))).as("win_day"))
      .groupBy(col("win_day"))
      .agg(countDistinct(col("user_id")).as("wau_7d"))
    dau.join(wau, col("day_idx") === col("win_day"))
      .select(col("day_idx"), col("dau"), col("wau_7d"))
      .orderBy(col("day_idx"))
  }

  /** q59 sketch size — deliberately small so BOTH KMV regimes fire on
    * the smallest test corpus (min daily users 11 < K=12 ≤ window users
    * 15 at sf0.001): production dials K to 1024+ for ~3% error; the
    * MECHANICS (mergeability, regime switch, exact verdict) are
    * K-independent. */
  val KmvK = 12
  /** q59 rolling window in days (the corpus spans 30 days). */
  val KmvDays = 14
  /** q59 hash width: md5_60 >> 15 = 45-bit hashes, so the KMV estimator
    * (K-1)·2^45 div kth stays inside exact BIGINT range in both engines
    * ((K-1)·2^45 ≈ 3.9e14) — no doubles, no HUGEINT, no decimal. */
  val KmvHashShift = 15
  val KmvHashSpace = 1L << 45

  /** `q59_rolling_kmv`: mergeable-sketch rolling distinct — the t14
    * discipline (sketch + exact verdict in one artifact) applied to
    * q24's windowed-distinct shape. Each day keeps a K-minimum-values
    * sketch (the [[KmvK]] smallest 45-bit md5 hashes of its distinct
    * users — one fact-sized (user, day) distinct, then days×K rows);
    * each day's trailing-[[KmvDays]] window UNIONS the daily sketches
    * and re-takes the K smallest, which is EXACTLY the window's own KMV
    * sketch (a window's k-th smallest hash is among its own day's K
    * smallest — the mergeability that makes sketch columns
    * partition-parallel at 100 TB where q24's exact explode is the
    * verification harness, not the shipped path). Estimate: n_held when
    * the union holds fewer than K hashes (the sketch IS the set —
    * exact regime), else `(K-1)·2^45 div kth` (the classic KMV
    * estimator, pure integer arithmetic in both engines). Output per
    * observed day: window exact distinct (the verdict), held size, the
    * largest retained hash, the estimate and its floor-e6 relative
    * error. Scale: the sketch path never touches user grain after the
    * one distinct — daily sketches are K rows/day, window re-rank is
    * (K·[[KmvDays]]) rows/day; the exact side is q24's bounded explode,
    * shipped here as the in-artifact recount that makes the sketch's
    * error a measured number instead of a formula claim. */
  def q59RollingKmv(spark: SparkSession, dir: String): DataFrame = {
    val active = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(DayUs)).cast("long").as("day_idx"))
      .distinct()
      .localCheckpoint(true) // consumed by sketch, exact and day spine
    val dayHash = active
      .select(col("day_idx"),
        shiftrightunsigned(graft.functions.TextFunctions
          .md5Long60(col("user_id").cast("string")), KmvHashShift).as("h"))
      .distinct()
    val wDay = Window.partitionBy(col("day_idx")).orderBy(col("h"))
    val daySketch = dayHash
      .withColumn("r", row_number().over(wDay))
      .filter(col("r") <= KmvK)
      .select(col("day_idx"), col("h"))
    val wWin = Window.partitionBy(col("win_day")).orderBy(col("h"))
    val winSketch = daySketch
      .select(explode(sequence(col("day_idx"),
        col("day_idx") + lit(KmvDays - 1).cast("long"))).as("win_day"), col("h"))
      .distinct() // the same hash may enter from several days' sketches
      .withColumn("r", row_number().over(wWin))
      .filter(col("r") <= KmvK)
      .groupBy(col("win_day"))
      .agg(count(lit(1)).as("n_held"), max(col("h")).as("kth_h"))
    val exact = active
      .select(col("user_id"), explode(sequence(col("day_idx"),
        col("day_idx") + lit(KmvDays - 1).cast("long"))).as("win_day"))
      .groupBy(col("win_day"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val days = active.select(col("day_idx").as("win_day")).distinct()
    days
      .join(winSketch, Seq("win_day"))
      .join(exact, Seq("win_day"))
      .withColumn("est",
        when(col("n_held") < KmvK, col("n_held"))
          .otherwise(expr(s"${(KmvK - 1).toLong * KmvHashSpace}L div kth_h")))
      .withColumn("err_e6",
        floor(abs(col("est") - col("n_exact")) * lit(1000000.0) / col("n_exact"))
          .cast("long"))
      .select(col("win_day"), col("n_exact"), col("n_held"), col("kth_h"),
        col("est"), col("err_e6"))
      .orderBy(col("win_day"))
  }

  /** q61 grid: $10 buckets (1000 cents), 64 of them — covers the corpus's
    * value domain ([0, $561) at sf0.1) with the tail clamped into the last
    * bucket. Production dials the grid to the metric's SLO band; the
    * MECHANICS (mergeable counts, rank selection, bounded error) are
    * grid-independent. */
  val QBucketCents = 1000L
  val QBuckets = 64L
  /** q61 rolling window in days. */
  val QDays = 7
  /** q61 quantiles reported (integer percent). */
  val QPercents = Seq(50L, 95L)

  /** `q61_rolling_quantile`: mergeable-sketch rolling QUANTILES — the q59
    * discipline (sketch + exact verdict in one artifact) applied to the
    * quantile family, the one sketch q10's global percentiles left without
    * a windowed form (a latency dashboard's rolling p95 is this exact
    * shape). Each day keeps a fixed-grid histogram of its event values
    * (bucket = cents div [[QBucketCents]], clamped to [[QBuckets]] — counts,
    * so the daily state is mergeable by ADDITION and partition-parallel at
    * 100 TB); each day's trailing-[[QDays]] window SUMS the daily
    * histograms, and the sketch's p50/p95 is the first bucket whose
    * cumulative count reaches rank `k = ceil(n·q/100)` (reported as the
    * bucket's inclusive upper edge in cents — integer arithmetic, no
    * interpolation to drift across engines). The exact disc quantile (the
    * k-th smallest cents value in the window, computed from the raw rows)
    * ships IN the artifact, so `err_c = est_c − exact_c` is a measured
    * number per window per quantile — and the grid guarantee (the k-th
    * element LIVES in the selected bucket, so 0 ≤ err < bucket width
    * whenever the clamp did not engage) is pinned by the spec, not
    * claimed in prose.
    *
    * Scale: the sketch path collapses to ≤ [[QBuckets]] rows/day at the
    * FIRST aggregation (map-side partial), window merge is (buckets ×
    * [[QDays]]) rows/day, rank selection is a per-window cumulative sum
    * over ≤ [[QBuckets]] rows. The exact side (window explode + rank) is
    * the verification harness, q24's bounded shape — not the shipped
    * path. One events scan feeds both (checkpointed). */
  def q61RollingQuantile(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(floor(unix_micros(col("ts")) / lit(DayUs)).cast("long").as("day_idx"),
        floor(col("value") * 100).cast("long").as("v_c"))
      .localCheckpoint(true) // consumed by the sketch, the exact recount
                             // and the day spine
    val hist = ev
      // clamp BOTH grid ends: Spark `div` truncates toward zero while
      // DuckDB `//` floors, so an (out-of-domain) negative cents value
      // would bucket differently in the two engines — greatest(0, ...)
      // pins the grids engine-identical for any future value domain
      .withColumn("bucket",
        greatest(lit(0L),
          least(expr(s"v_c div $QBucketCents"), lit(QBuckets - 1))).cast("long"))
      .groupBy(col("day_idx"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val winHist = hist
      .select(explode(sequence(col("day_idx"),
        col("day_idx") + lit(QDays - 1).cast("long"))).as("win_day"),
        col("bucket"), col("cnt"))
      .groupBy(col("win_day"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))
    val wCum = Window.partitionBy(col("win_day")).orderBy(col("bucket"))
    val cum = winHist
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_win", sum(col("cnt")).over(Window.partitionBy(col("win_day"))))
    // the bucket containing rank k: cum >= k and the previous cum < k —
    // exactly one row per (window, q), no window re-sort per quantile
    val est = QPercents.map { q =>
      val k = expr(s"(n_win * $q + 99) div 100")
      cum.filter(col("cum") >= k && (col("cum") - col("cnt")) < k)
        .select(col("win_day"), lit(q).as("q"), col("n_win"), col("bucket"),
          ((col("bucket") + 1) * lit(QBucketCents) - 1).as("est_c"))
    }.reduce(_ unionByName _)
    val winEv = ev.select(explode(sequence(col("day_idx"),
      col("day_idx") + lit(QDays - 1).cast("long"))).as("win_day"), col("v_c"))
    val wRank = Window.partitionBy(col("win_day")).orderBy(col("v_c"))
    val ranked = winEv
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("win_day"))))
    val exact = QPercents.map { q =>
      ranked.filter(col("rk") === expr(s"(n * $q + 99) div 100"))
        .select(col("win_day"), lit(q).as("q"), col("v_c").as("exact_c"))
    }.reduce(_ unionByName _)
    val days = ev.select(col("day_idx").as("win_day")).distinct()
    days
      .join(est, Seq("win_day"))
      .join(exact, Seq("win_day", "q"))
      .select(col("win_day"), col("q"), col("n_win"), col("exact_c"),
        col("bucket"), col("est_c"), (col("est_c") - col("exact_c")).as("err_c"))
      .orderBy(col("win_day"), col("q"))
  }

  /** `q26_lateness_audit`: out-of-order-arrival measurement over a change
    * stream — per key, how many records arrived with an EVENT time
    * earlier than something already seen, and by how much. This is the
    * statistic that sizes a streaming deployment's watermark delay
    * (`withWatermark(d)` drops exactly the records this report counts at
    * lateness > d), measured over the batch table so the number exists
    * BEFORE the stream is wired. The subject is the orders change stream
    * (p7's incremental-merge input, heavily out of order: arrival =
    * monotone o_orderkey ingest sequence, event time = o_orderdate);
    * lateness of a record is (max event time seen so far) − (its event
    * time). One shuffle on the key; the running max is O(1) window state
    * per row; the report is one map-side-partial aggregate. */
  def q26LatenessAudit(spark: SparkSession, dir: String): DataFrame = {
    val wPrev = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val perOrder = Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("ts_us"))
      .withColumn("late_us", // first arrival per key: empty frame -> 0
        greatest(coalesce(max(col("ts_us")).over(wPrev), col("ts_us")) - col("ts_us"),
          lit(0L)))
    perOrder
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum((col("late_us") > 0).cast("long")).as("n_late"),
        max(col("late_us")).as("max_late_us"))
      .select(col("o_custkey"), col("n_orders"), col("n_late"), col("max_late_us"),
        floor(col("n_late") * lit(1000000.0) / col("n_orders")).cast("long")
          .as("late_share_e6"))
      .orderBy(col("o_custkey"))
  }

  /** q27 decay window: events older than this many days (vs the corpus
    * max day) contribute nothing; also bounds the dyadic weight range. */
  val DecayDays = 30

  /** `q27_decay_score`: exponentially time-decayed engagement score per
    * user — the feature-store recency weighting (half-life = 1 day):
    * `score = Σ value · 2^(-age_days)`. Two properties make it an
    * ENGINE operator rather than a UDF: (1) the reference day is a global
    * statistic, computed as a map-side-partial max broadcast back as one
    * row (q25's two-pass shape — no sort, no driver round-trip baked
    * into the plan); (2) the decay arithmetic is EXACT — cent values
    * times dyadic weights `2^(DecayDays-1-age)` summed as BIGINT, so the
    * result is bit-identical under any partitioning / merge order (a
    * float `pow(0.5, age)` sum would differ by reduction tree). The
    * decayed sum is re-based to "cents as of the reference day" by one
    * final floor-shift. Events older than [[DecayDays]] are filtered
    * BEFORE the aggregate. The filter compares against the broadcast
    * ref_day, so it cannot reach the scan in THIS one-job plan; a 100 TB
    * deployment runs the two-job form — resolve ref_day first (trivial),
    * inject it as a literal, and the age predicate then prunes date
    * partitions at the scan. Same arithmetic either way. */
  def q27DecayScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(DayUs)).cast("long").as("day_idx"),
        // pure floor, never round: cents via floor(v*100) is the same
        // IEEE sequence in any engine; round()'s half-up vs half-even
        // differs cross-engine on exact .5 products
        floor(col("value") * lit(100)).cast("long").as("value_e2"))
    val stats = ev.agg(max(col("day_idx")).as("ref_day"))
    ev.crossJoin(broadcast(stats)) // hint: scalar
      .withColumn("age", col("ref_day") - col("day_idx"))
      .filter(col("age") < lit(DecayDays))
      .withColumn("w_contrib",
        expr(s"value_e2 * shiftleft(CAST(1 AS BIGINT), ${DecayDays - 1} - age)"))
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_recent"),
        min(col("age")).as("newest_age_days"),
        sum(col("w_contrib")).as("score_num"))
      // FLOOR division, not Spark's truncate-toward-zero `div`: the
      // oracle's `//` floors, and a negative decayed sum (refunds) must
      // land on the same integer in both engines
      .withColumn("score_today_e2", floorDiv(col("score_num"), 1L << (DecayDays - 1)))
      .orderBy(col("user_id"))
  }

  /** Integer FLOOR division of a long column by a positive constant —
    * matches DuckDB's `//` on negative operands, where Spark's `div`
    * truncates toward zero (the two differ by 1 on every negative
    * non-multiple; day/hour indices of pre-epoch timestamps and negative
    * decayed sums must floor in both engines). `c - pmod(c, d)` is an
    * exact multiple of d, so the double division is exact for any |c|
    * below 2^53 — far above every consumer's range. */
  private def floorDiv(c: org.apache.spark.sql.Column, d: Long): org.apache.spark.sql.Column =
    ((c - pmod(c, lit(d))) / lit(d)).cast("long")

  /** q29 grid granule (hours, as micros). */
  val HourUs = 3600L * 1000000L

  /** `q29_gap_fill`: time-grid resampling with last-observation-carried-
    * forward — the feature-pipeline resampler that turns an irregular
    * event stream into the dense per-entity time series models train on.
    * Per user: hourly grid rows from the user's OWN first to last active
    * hour (fan-out bounded by each entity's activity span — never a
    * global calendar cross join), each carrying the hour's observation
    * count, its last observation (deterministic (ts, event_id) tie-break),
    * the LOCF-filled value, and a gap flag.
    *
    * Shape: one window pass picks each hour's closing observation, a
    * group-sized span table explodes to the grid, one left join puts
    * observations on the grid, and ONE ordered window per user carries
    * values forward — O(1) fill state per row regardless of gap length.
    * All on the user_id partitioning; values are round-2 at the
    * observation grain so the fill copies bytes, never re-derives. */
  def q29GapFill(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events")
      .select(col("user_id"),
        floorDiv(unix_micros(col("ts")), HourUs).as("h"),
        unix_micros(col("ts")).as("tu"), col("event_id"),
        round(col("value"), 2).as("v"))
    val wHour = Window.partitionBy(col("user_id"), col("h"))
    val hob = ev
      .withColumn("rn",
        row_number().over(wHour.orderBy(col("tu").desc, col("event_id").desc)))
      .withColumn("n_obs", count(lit(1)).over(wHour))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("h"), col("n_obs"), col("v").as("obs_value"))
    val grid = hob.groupBy(col("user_id"))
      .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val wFill = Window.partitionBy(col("user_id")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hob, Seq("user_id", "h"), "left")
      .withColumn("filled_value", last(col("obs_value"), ignoreNulls = true).over(wFill))
      .select(col("user_id"), col("h").as("hour_idx"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("obs_value"), col("filled_value"),
        col("obs_value").isNull.cast("long").as("is_gap"))
      .orderBy(col("user_id"), col("hour_idx"))
  }

  /** q30: synthetic terminal state closing every session's last event. */
  val EndState = "~END"

  /** `q30_markov`: the session Markov transition matrix — for every
    * ordered pair of consecutive events WITHIN a session, how often does
    * type A hand off to type B, and with what share of A's outgoing
    * edges (floor-e6). Sessions close into a synthetic `~END` state so
    * every event emits exactly one transition and outgoing shares sum to
    * ~1e6 per source. This is the product-analytics "user flow" /
    * next-step model q20's fixed funnel can't express — the funnel asks
    * about ONE path, the matrix reports them all.
    *
    * Shape: one lead() window over the sessionization's existing
    * (user_id, session_id) clustering — same partitioning q12/q20
    * already shuffled for, so no extra exchange — then a map-side
    * partial count to the (from, to) grain (|types|² rows at most) and
    * a broadcast of the per-source totals. Event order ties break on
    * (ts_us, event_id) like every session consumer. */
  def q30Transitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("session_id"))
      .orderBy(col("ts_us"), col("event_id"))
    // |types|²-row frame consumed twice (directly + via outTotals):
    // checkpoint so the sessionization scan+window+groupBy runs once.
    val edges = Analytics.sessionizedEvents(spark, dir)
      .withColumn("to_type",
        coalesce(lead(col("event_type"), 1).over(w), lit(EndState)))
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val outTotals = edges.groupBy(col("from_type")).agg(sum(col("n")).as("n_out"))
    edges.join(broadcast(outTotals), Seq("from_type")) // hint: dial
      .select(col("from_type"), col("to_type"), col("n"),
        floor(col("n") * lit(1000000.0) / col("n_out")).cast("long").as("share_e6"))
      .orderBy(col("from_type"), col("to_type"))
  }

  // ------------------------------------------------------------- oracles

  /** The q12 oracle's session CTE with `event_type` carried through; the
    * gap literal comes from [[Analytics.SessionGapUs]] so the Spark
    * helper, this oracle and q12's stay one definition. */
  // private[graft]: st5's streaming-funnel oracle (graft.streaming
  // .StreamQueries) states per-session verdicts over the same gap split
  private[graft] val sessionCteSql =
    s"""e AS (
      | SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
      |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
      |       WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > ${Analytics.SessionGapUs} THEN 1
      |       ELSE 0 END AS new_session
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      | SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      | FROM e)""".stripMargin

  // lazy: entries interpolate vals declared LATER in this object
  // (AttrWindowUs and q32Oracle live beside their operator at the bottom);
  // a strict map would bake their still-default values in at init — the
  // oracle is only read at Verify-dump time, well after init
  lazy val oracle: Map[String, String] = Map(
    "q32_attribution" -> q32Oracle,
    "q20_funnel_steps" ->
      s"""WITH $sessionCteSql,
         |t1 AS (
         | SELECT user_id, session_id,
         |  min(CASE WHEN event_type = 'view' THEN ts_us END) AS t1
         | FROM s GROUP BY 1, 2),
         |t2 AS (
         | SELECT s.user_id, s.session_id,
         |  min(CASE WHEN s.event_type = 'click' AND s.ts_us >= t1.t1 THEN s.ts_us END) AS t2
         | FROM s JOIN t1 USING (user_id, session_id) GROUP BY 1, 2),
         |t3 AS (
         | SELECT s.user_id, s.session_id,
         |  min(CASE WHEN s.event_type = 'purchase' AND s.ts_us >= t2.t2 THEN s.ts_us END) AS t3
         | FROM s JOIN t2 USING (user_id, session_id) GROUP BY 1, 2),
         |c AS (
         | SELECT count(*) AS n0, count(t1.t1) AS s1, count(t2.t2) AS s2, count(t3.t3) AS s3
         | FROM t1 JOIN t2 USING (user_id, session_id) JOIN t3 USING (user_id, session_id))
         |SELECT step, n_reached, conv_prev_e6, conv_start_e6, n_sessions FROM (
         | SELECT '1_view' AS step, s1 AS n_reached,
         |  CASE WHEN n0 > 0 THEN CAST(floor(s1 * 1000000.0 / n0) AS BIGINT) END AS conv_prev_e6,
         |  CASE WHEN n0 > 0 THEN CAST(floor(s1 * 1000000.0 / n0) AS BIGINT) END AS conv_start_e6,
         |  n0 AS n_sessions FROM c
         | UNION ALL
         | SELECT '2_click', s2,
         |  CASE WHEN s1 > 0 THEN CAST(floor(s2 * 1000000.0 / s1) AS BIGINT) END,
         |  CASE WHEN n0 > 0 THEN CAST(floor(s2 * 1000000.0 / n0) AS BIGINT) END,
         |  n0 FROM c
         | UNION ALL
         | SELECT '3_purchase', s3,
         |  CASE WHEN s2 > 0 THEN CAST(floor(s3 * 1000000.0 / s2) AS BIGINT) END,
         |  CASE WHEN n0 > 0 THEN CAST(floor(s3 * 1000000.0 / n0) AS BIGINT) END,
         |  n0 FROM c)
         |ORDER BY step""".stripMargin,
    "q21_retention_cohorts" ->
      s"""WITH active AS (
         | SELECT DISTINCT user_id,
         |  CAST(floor(epoch_us(ts) / $WeekUs) AS BIGINT) AS week
         | FROM events),
         |cohorts AS (
         | SELECT user_id, min(week) AS cohort_week FROM active GROUP BY user_id),
         |sz AS (
         | SELECT cohort_week, count(*) AS cohort_n FROM cohorts GROUP BY cohort_week)
         |SELECT c.cohort_week AS cohort_week, a.week - c.cohort_week AS week_offset,
         | count(*) AS n_active, any_value(sz.cohort_n) AS cohort_n,
         | CAST(floor(count(*) * 1000000.0 / any_value(sz.cohort_n)) AS BIGINT) AS retention_e6
         |FROM active a JOIN cohorts c USING (user_id) JOIN sz ON sz.cohort_week = c.cohort_week
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q59_rolling_kmv" ->
      s"""WITH active AS MATERIALIZED (
         | SELECT DISTINCT user_id,
         |  CAST(floor(epoch_us(ts) / $DayUs) AS BIGINT) AS day_idx
         | FROM events),
         |dh AS (
         | SELECT DISTINCT day_idx,
         |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |   // ${1L << KmvHashShift} AS h
         | FROM active),
         |ds AS (
         | SELECT day_idx, h FROM (
         |  SELECT day_idx, h,
         |   row_number() OVER (PARTITION BY day_idx ORDER BY h) AS r
         |  FROM dh) WHERE r <= $KmvK),
         |wh AS (
         | SELECT DISTINCT day_idx + o.off AS win_day, h
         | FROM ds CROSS JOIN (SELECT unnest(range(0, $KmvDays)) AS off) o),
         |ws AS (
         | SELECT win_day, CAST(count(*) AS BIGINT) AS n_held,
         |  CAST(max(h) AS BIGINT) AS kth_h
         | FROM (SELECT win_day, h,
         |   row_number() OVER (PARTITION BY win_day ORDER BY h) AS r
         |  FROM wh) WHERE r <= $KmvK GROUP BY 1),
         |ex AS (
         | SELECT day_idx + o.off AS win_day,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
         | FROM active CROSS JOIN (SELECT unnest(range(0, $KmvDays)) AS off) o
         | GROUP BY 1),
         |est AS (
         | SELECT d.day_idx AS win_day, ex.n_exact, ws.n_held, ws.kth_h,
         |  CAST(CASE WHEN ws.n_held < $KmvK THEN ws.n_held
         |   ELSE ${(KmvK - 1).toLong * KmvHashSpace} // ws.kth_h END AS BIGINT)
         |   AS est
         | FROM (SELECT DISTINCT day_idx FROM active) d
         |  JOIN ws ON ws.win_day = d.day_idx
         |  JOIN ex ON ex.win_day = d.day_idx)
         |SELECT win_day, n_exact, n_held, kth_h, est,
         | CAST(floor(abs(est - n_exact) * 1000000.0 / n_exact) AS BIGINT)
         |  AS err_e6
         |FROM est ORDER BY win_day""".stripMargin,
    "q61_rolling_quantile" ->
      s"""WITH ev AS MATERIALIZED (
         | SELECT CAST(floor(epoch_us(ts) / $DayUs) AS BIGINT) AS day_idx,
         |  CAST(floor(value * 100) AS BIGINT) AS v_c
         | FROM events),
         |qs AS (SELECT unnest([${QPercents.map(p => s"CAST($p AS BIGINT)").mkString(",\n         |  ")}]) AS q),
         |hist AS (
         | SELECT day_idx,
         |  greatest(0, least(v_c // $QBucketCents, ${QBuckets - 1})) AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         | FROM ev GROUP BY 1, 2),
         |winhist AS (
         | SELECT day_idx + o.off AS win_day, bucket, CAST(sum(cnt) AS BIGINT) AS cnt
         | FROM hist CROSS JOIN (SELECT unnest(range(0, $QDays)) AS off) o
         | GROUP BY 1, 2),
         |cum AS (
         | SELECT win_day, bucket, cnt,
         |  CAST(sum(cnt) OVER (PARTITION BY win_day ORDER BY bucket) AS BIGINT)
         |   AS cum,
         |  CAST(sum(cnt) OVER (PARTITION BY win_day) AS BIGINT) AS n_win
         | FROM winhist),
         |est AS (
         | SELECT win_day, q, n_win, bucket,
         |  (bucket + 1) * $QBucketCents - 1 AS est_c
         | FROM cum CROSS JOIN qs
         | WHERE cum >= (n_win * q + 99) // 100
         |  AND cum - cnt < (n_win * q + 99) // 100),
         |ranked AS (
         | SELECT day_idx + o.off AS win_day, v_c,
         |  CAST(row_number() OVER (PARTITION BY day_idx + o.off ORDER BY v_c)
         |   AS BIGINT) AS rk,
         |  CAST(count(*) OVER (PARTITION BY day_idx + o.off) AS BIGINT) AS n
         | FROM ev CROSS JOIN (SELECT unnest(range(0, $QDays)) AS off) o),
         |exact AS (
         | SELECT win_day, q, v_c AS exact_c
         | FROM ranked CROSS JOIN qs
         | WHERE rk = (n * q + 99) // 100)
         |SELECT d.win_day AS win_day, e.q AS q, e.n_win AS n_win,
         | x.exact_c AS exact_c, e.bucket AS bucket, e.est_c AS est_c,
         | e.est_c - x.exact_c AS err_c
         |FROM (SELECT DISTINCT day_idx AS win_day FROM ev) d
         | JOIN est e USING (win_day)
         | JOIN exact x ON x.win_day = d.win_day AND x.q = e.q
         |ORDER BY win_day, q""".stripMargin,
    "q24_rolling_distinct" ->
      s"""WITH active AS (
         | SELECT DISTINCT user_id,
         |  CAST(floor(epoch_us(ts) / $DayUs) AS BIGINT) AS day_idx
         | FROM events),
         |dau AS (SELECT day_idx, count(*) AS dau FROM active GROUP BY 1),
         |wau AS (
         | SELECT day_idx + o.off AS win_day, count(DISTINCT user_id) AS wau_7d
         | FROM active CROSS JOIN (SELECT unnest(range(0, $RollingDays)) AS off) o
         | GROUP BY 1)
         |SELECT d.day_idx AS day_idx, d.dau AS dau, w.wau_7d AS wau_7d
         |FROM dau d JOIN wau w ON w.win_day = d.day_idx
         |ORDER BY day_idx""".stripMargin,
    "q30_markov" ->
      s"""WITH $sessionCteSql,
         |edges AS (
         | SELECT event_type AS from_type,
         |  COALESCE(lead(event_type) OVER (PARTITION BY user_id, session_id
         |    ORDER BY ts_us, event_id), '$EndState') AS to_type
         | FROM s),
         |c AS (
         | SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
         | FROM edges GROUP BY 1, 2),
         |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_out FROM c GROUP BY 1)
         |SELECT c.from_type AS from_type, c.to_type AS to_type, c.n AS n,
         | CAST(floor(c.n * 1000000.0 / t.n_out) AS BIGINT) AS share_e6
         |FROM c JOIN t USING (from_type)
         |ORDER BY from_type, to_type""".stripMargin,
    "q29_gap_fill" ->
      s"""WITH e AS (
         | SELECT user_id, epoch_us(ts) // $HourUs AS h, epoch_us(ts) AS tu,
         |  event_id, round(value, 2) AS v
         | FROM events),
         |hob AS (
         | SELECT user_id, h, n_obs, v AS obs_value FROM (
         |  SELECT user_id, h, v,
         |   row_number() OVER (PARTITION BY user_id, h ORDER BY tu DESC, event_id DESC) AS rn,
         |   count(*) OVER (PARTITION BY user_id, h) AS n_obs
         |  FROM e) WHERE rn = 1),
         |grid AS (
         | SELECT user_id, unnest(range(h0, h1 + 1)) AS h
         | FROM (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hob GROUP BY user_id)),
         |j AS (
         | SELECT g.user_id, g.h, hob.n_obs, hob.obs_value
         | FROM grid g LEFT JOIN hob ON hob.user_id = g.user_id AND hob.h = g.h)
         |SELECT user_id, h AS hour_idx,
         | CAST(COALESCE(n_obs, 0) AS BIGINT) AS n_obs, obs_value,
         | last_value(obs_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
         | CASE WHEN obs_value IS NULL THEN 1 ELSE 0 END AS is_gap
         |FROM j ORDER BY user_id, hour_idx""".stripMargin,
    "q27_decay_score" ->
      s"""WITH ev AS (
         | SELECT user_id,
         |  CAST(floor(epoch_us(ts) / $DayUs) AS BIGINT) AS day_idx,
         |  CAST(floor(value * 100) AS BIGINT) AS value_e2
         | FROM events),
         |s AS (SELECT max(day_idx) AS ref_day FROM ev),
         |w AS (
         | SELECT user_id, ref_day - day_idx AS age, value_e2
         | FROM ev CROSS JOIN s
         | WHERE ref_day - day_idx < $DecayDays)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
         | min(age) AS newest_age_days,
         | CAST(sum(value_e2 * (CAST(1 AS BIGINT) << (${DecayDays - 1} - age))) AS BIGINT)
         |   AS score_num,
         | CAST(sum(value_e2 * (CAST(1 AS BIGINT) << (${DecayDays - 1} - age))) AS BIGINT)
         |   // ${1L << (DecayDays - 1)} AS score_today_e2
         |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q26_lateness_audit" ->
      """WITH e AS (
        | SELECT o_custkey,
        |  greatest(COALESCE(max(epoch_us(o_orderdate)) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |    epoch_us(o_orderdate)) - epoch_us(o_orderdate), 0) AS late_us
        | FROM orders)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        | CAST(max(late_us) AS BIGINT) AS max_late_us,
        | CAST(floor(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) * 1000000.0
        |   / count(*)) AS BIGINT) AS late_share_e6
        |FROM e GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)

  /** q32 lookback: a purchase is credited to the latest non-purchase
    * touch within this many microseconds (6 h — hours, not days, is the
    * grain real click-to-convert attribution runs at, and on this corpus
    * it leaves a non-vacuous unattributed bucket). */
  val AttrWindowUs: Long = 6L * 3600L * 1000000L

  /** `q32_attribution`: last-touch revenue attribution — the marketing
    * analytics staple q20's fixed funnel can't express (the funnel asks
    * "did the ordered steps happen"; attribution asks "which touch gets
    * CREDIT for each conversion"): every purchase is credited to the
    * user's latest preceding non-purchase event IF it falls inside the
    * [[AttrWindowUs]] lookback, else to the `~NONE` bucket (a conversion
    * with no recent touch is a finding, not a row to drop — same
    * philosophy as p15's inferred members and d13's zero-fill). Report
    * per attributed type: conversions, revenue (exact cents), floor-e6
    * share of all conversions.
    *
    * Shape: the q13/p13 carry-window machinery pointed at event-to-event
    * attribution — ONE scan, ONE user-key shuffle, an O(1)-state
    * `last(ignoreNulls)` over the strictly-preceding frame (a
    * simultaneous touch attributes by the (ts, event_id) total order,
    * deterministic); the per-type rollup is a map-side-partial aggregate
    * to ≤|event-types| rows and the share denominator rides the
    * sanctioned broadcast-1-row-stats join. The naive formulation — a
    * per-purchase interval self-join against all prior events — never
    * appears (it explodes quadratically in touch density); the interval
    * form exists only in the oracle's semantics. */
  def q32Attribution(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(spark, dir, "events").select(
      col("user_id"), col("event_id"), col("event_type"),
      unix_micros(col("ts")).as("ts_us"),
      floor(col("value") * 100).cast("long").as("value_cents"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val attributed = ev
      .withColumn("touch",
        last(when(col("event_type") =!= "purchase",
          struct(col("ts_us").as("t"), col("event_type").as("ty"))),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("att_type",
        when(col("touch").isNotNull &&
          col("touch.t") >= col("ts_us") - AttrWindowUs, col("touch.ty"))
          .otherwise(lit("~NONE")))
    val totals = attributed.agg(count(lit(1)).as("n_total"))
    attributed.groupBy(col("att_type"))
      .agg(count(lit(1)).as("n_purchases"),
        sum(col("value_cents")).as("revenue_cents"))
      .crossJoin(broadcast(totals)) // hint: scalar
      .withColumn("share_e6",
        floor(col("n_purchases") * lit(1000000.0) / col("n_total")).cast("long"))
      .select(col("att_type"), col("n_purchases"), col("revenue_cents"),
        col("share_e6"))
      .orderBy(col("att_type"))
  }

  // lazy: referenced by the `oracle` map declared ABOVE this definition —
  // a strict val would still be null at the map's initialization
  private lazy val q32Oracle: String =
    s"""WITH e AS (
       | SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
       |  CAST(floor(value * 100) AS BIGINT) AS value_cents
       | FROM events),
       |t AS (
       | SELECT *, last_value(CASE WHEN event_type <> 'purchase'
       |    THEN struct_pack(t := ts_us, ty := event_type) END IGNORE NULLS)
       |   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
       | FROM e),
       |p AS (
       | SELECT CASE WHEN touch IS NOT NULL AND touch.t >= ts_us - $AttrWindowUs
       |   THEN touch.ty ELSE '~NONE' END AS att_type, value_cents
       | FROM t WHERE event_type = 'purchase'),
       |g AS (
       | SELECT att_type, CAST(count(*) AS BIGINT) AS n_purchases,
       |  CAST(sum(value_cents) AS BIGINT) AS revenue_cents
       | FROM p GROUP BY 1)
       |SELECT att_type, n_purchases, revenue_cents,
       | CAST(floor(n_purchases * 1000000.0 / (SELECT count(*) FROM p)) AS BIGINT) AS share_e6
       |FROM g ORDER BY att_type""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q32_attribution" -> (q32Attribution _),
    "q20_funnel_steps" -> (q20FunnelSteps _),
    "q21_retention_cohorts" -> (q21RetentionCohorts _),
    "q24_rolling_distinct" -> (q24RollingDistinct _),
    "q59_rolling_kmv" -> (q59RollingKmv _),
    "q61_rolling_quantile" -> (q61RollingQuantile _),
    "q26_lateness_audit" -> (q26LatenessAudit _),
    "q27_decay_score" -> (q27DecayScore _),
    "q29_gap_fill" -> (q29GapFill _),
    "q30_markov" -> (q30Transitions _))
}
