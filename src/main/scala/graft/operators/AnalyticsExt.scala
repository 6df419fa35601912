package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Extended analytics: operators Spark lacks as built-ins, composed from
  * existing ops the scalable way (SURVEY.md §2 brief: "compose existing ops
  * if semantics allow" before reaching for custom plans).
  *
  *  - as-of join: the union+last_value algorithm — tag both sides, one
  *    shuffle on the key, a single ordered window pass carries the latest
  *    left-side attributes forward to each right-side row. At 100 TB this
  *    is shuffle-optimal (no range explosion, no per-row probe).
  *  - JSON extraction: schema-on-read over a JSON string column, fully
  *    codegen'd via get_json_object.
  *  - rolling windows: ROWS-frame running/moving aggregates with a total
  *    deterministic order.
  */
object AnalyticsExt {

  /** `q13_asof_join`: for every event, the customer's latest order at or
    * before the event time (backward as-of). Ties in (custkey, orderdate)
    * are collapsed to max orderkey first so the match is deterministic. */
  def q13AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("event_id"), col("event_type"))
    val orders0 = Tables.load(spark, dir, "orders")
      .select(col("o_custkey").as("user_id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t_us"),
        col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
    // collapse same-timestamp orders per customer: keep max o_orderkey
    val wTie = Window.partitionBy(col("user_id"), col("t_us"))
      .orderBy(col("o_orderkey").desc)
    val orders = orders0.withColumn("_rn", row_number().over(wTie))
      .filter(col("_rn") === 1).drop("_rn")

    val tagged = orders
      .select(col("user_id"), col("t_us"), lit(0).as("src"),
        col("o_orderkey"), col("o_totalprice"),
        lit(null).cast("long").as("event_id"), lit(null).cast("string").as("event_type"))
      .unionByName(events.select(col("user_id"), col("t_us"), lit(1).as("src"),
        lit(null).cast("long").as("o_orderkey"), lit(null).cast("double").as("o_totalprice"),
        col("event_id"), col("event_type")))
    // orders sort before events at the same instant => "<=" asof semantics
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_us"), col("src"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("asof_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("src") === 1)
      .select(col("event_id"), col("user_id"), col("t_us").as("ts_us"),
        col("event_type"), col("asof_orderkey"), col("asof_totalprice"))
      .orderBy(col("event_id"))
  }

  /** `q14_json_extract`: schema-on-read over the events.props JSON column,
    * aggregated per day and type. */
  def q14JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events")
      .select(
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("day"), col("event_type"))

  /** `q15_rolling`: per-customer running total and 3-order moving average
    * over the order history (ROWS frames, deterministic total order). */
  def q15Rolling(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy(col("o_custkey"))
      .orderBy(col("orderdate_us"), col("o_orderkey"))
    // moving average via explicit lags, not a ROWS frame aggregate: sliding
    // frames are computed incrementally (segment trees in some engines), so
    // their float accumulation order is engine-specific; (x + l1 + l2) / n
    // is the same IEEE sequence everywhere.
    val l1 = lag(col("o_totalprice"), 1).over(ord)
    val l2 = lag(col("o_totalprice"), 2).over(ord)
    val mov3 = (col("o_totalprice") + coalesce(l1, lit(0.0)) + coalesce(l2, lit(0.0))) /
      (lit(1) + when(l1.isNotNull, 1).otherwise(0) + when(l2.isNotNull, 1).otherwise(0))
    Tables.load(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("orderdate_us"),
        col("o_totalprice"))
      .withColumn("running_total",
        round(sum(col("o_totalprice")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      // floor-e2 integer: (a+b)/2 of cent values lands on exact .xx5
      // thousandths, where cross-engine decimal rounding of doubles diverges
      .withColumn("moving3_avg_e2", floor(mov3 * 100).cast("long"))
      .withColumn("order_idx", row_number().over(ord).cast("long"))
      .select(col("o_custkey"), col("order_idx"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"),
        col("running_total"), col("moving3_avg_e2"))
  }

  /** `q17_grouping_sets`: multi-grain aggregate in one pass — per-region,
    * per-nation and grand-total rows from a single scan (Spark 4's
    * groupingSets API; the dims stay broadcast). */
  def q17GroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.load(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupingSets(Seq(Seq(col("r_name")), Seq(col("n_name")), Seq.empty),
        col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_customers"), col("sum_acctbal"))
      .orderBy(col("region"), col("nation"))

  /** `q18_approx_stats`: sketch-based aggregates — HyperLogLog++ distinct
    * counts and t-digest-style quantiles per group. At 100 TB these replace
    * exact distinct/percentile (whose state is unbounded) with fixed-size
    * mergeable sketches; map-side partials stay tiny. No DuckDB oracle
    * (sketch algorithms differ across engines) — the driver records a
    * rows-only check and `AnalyticsExtSpec` bounds the error vs the exact
    * q10/q11 answers. */
  def q18ApproxStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        round(expr("approx_percentile(l_extendedprice, 0.5, 10000)"), 2).as("approx_p50_price"),
        round(expr("approx_percentile(l_extendedprice, 0.95, 10000)"), 2).as("approx_p95_price"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))

  /** Driver-verifiable form of q18: runs the SAME sketches side by side
    * with the exact aggregates and asserts the error bound IN the result
    * (`*_within_5pct` booleans — the spec's 5% tolerance), so the DuckDB
    * oracle can check exact columns plus literal TRUE flags and the
    * correctness gate gets a real hash pass instead of rows-only. The
    * sketch-only [[q18ApproxStats]] stays the production shape (at 100 TB
    * the whole point is NOT paying for countDistinct/percentile state);
    * this one exists so the sketches are verified, not just trusted.
    *
    * The exact sides are separate branches joined back on the (3-row)
    * group keys, NOT aggregates in the sketch agg: mixing a distinct
    * aggregate with `approx_percentile` forces the whole aggregate onto
    * the sort-based path where the quantile sketch's state is
    * (de)serialized per input row — measured 16x slower — and the exact
    * percentiles use [[Analytics.exactPercentiles]]'s sort+rank plan
    * (bounded state) rather than `percentile()`'s per-group value map.
    * Distinct-via-groupBy and sort-based percentiles are also the shapes
    * that scale.
    *
    * The oracle hardcodes TRUE for the `*_within_5pct` flags, which makes
    * the gate ENVIRONMENT-SENSITIVE by design: sketch results depend on
    * partitioning/merge order, so a very different `SPARK_GRAFT_CPUS` or
    * shuffle-partition setting could in principle push a sketch past the
    * 5% bound and fail the hash — signaling "the sketch drifted out of
    * tolerance in this configuration", not a code bug. The margin is wide
    * (observed HLL error ~1% at rsd=0.02; percentile error ~0.1% at
    * accuracy=10000), so this is a deliberate tripwire, not flakiness. */
  def q18ApproxStatsChecked(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val sketches = li
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap50"),
        expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("ap95"),
        count(lit(1)).as("n"))
    val exactPct = Analytics.exactPercentiles(li, "l_returnflag", Seq(
      ("l_extendedprice", 0.5, "ep50"), ("l_extendedprice", 0.95, "ep95"))).drop("n")
    val exactDistinct = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("exact_orders"))
    sketches.join(broadcast(exactPct), Seq("l_returnflag")) // hint: dial
      .join(broadcast(exactDistinct), Seq("l_returnflag")) // hint: dial
      .select(
        col("l_returnflag"),
        col("exact_orders"),
        round(col("ep50"), 4).as("p50_price"),
        round(col("ep95"), 4).as("p95_price"),
        col("n"),
        (abs(col("approx_orders") - col("exact_orders"))
          <= col("exact_orders") * lit(0.05)).as("orders_within_5pct"),
        (abs(col("ap50") - col("ep50")) <= col("ep50") * lit(0.05)).as("p50_within_5pct"),
        (abs(col("ap95") - col("ep95")) <= col("ep95") * lit(0.05)).as("p95_within_5pct"))
      .orderBy(col("l_returnflag"))
  }

  /** `q22_cube`: full CUBE over (order year, order status) — all four
    * grains (both dims, each dim alone, grand total) from ONE scan via
    * Spark's Expand-based cube, completing the multi-grain family next to
    * q7's rollup and q17's grouping sets. Same partial-aggregation shape:
    * the Expand fan-out (4× rows) is combined map-side before the single
    * shuffle. */
  def q22Cube(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "orders")
      .select(year(col("o_orderdate")).cast("long").as("order_year"),
        col("o_orderstatus"), col("o_totalprice"))
      .cube(col("order_year"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("sum_totalprice"))
      .select(
        coalesce(col("order_year").cast("string"), lit("ALL")).as("order_year"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("order_status"),
        col("n_orders"), col("sum_totalprice"))
      .orderBy(col("order_year"), col("order_status"))

  val RangeBandDays = 3 // q23: window half-width (±3 days -> 7-day band)

  /** `q23_range_join`: interval/range join without an equi-key — each order
    * tagged with the market context of its ±3-day neighborhood (order count
    * and cents volume across ALL orders in the band). Spark has no native
    * range join (a raw `BETWEEN` predicate plans as BroadcastNestedLoopJoin
    * — all-pairs work), so this is the scale-correct re-expression:
    *
    *  1. aggregate the fact table to DAY grain (one map-side-partial
    *     shuffle — the only big-data movement in the whole plan);
    *  2. slide the ±3 window on the DAY table by exploding each day's
    *     partial into the 7 band centers it serves and re-aggregating
    *     (bounded 7x fan-out of a #days-sized table, not of the facts);
    *  3. broadcast the finished band table back onto the fact scan — a
    *     map-side hash join, no second fact shuffle, no row explosion.
    *
    * The DuckDB oracle states the same query AS the naive range join
    * (`d2.day BETWEEN d1.day-3 AND d1.day+3`, its IEJoin handles it) —
    * same answer, engine-appropriate plans on each side. Day index and
    * cents are integers end-to-end, so every aggregate is associativity-
    * exact in any execution order. */
  def q23RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val epoch = lit("1970-01-01").cast("date")
    val orders = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), epoch).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val daily = orders.groupBy(col("day"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    val band = daily
      .select(explode(sequence(lit(-RangeBandDays), lit(RangeBandDays))).as("off"),
        col("day"), col("n"), col("cents"))
      .select((col("day") + col("off")).as("day"), col("n"), col("cents"))
      .groupBy(col("day"))
      .agg(sum(col("n")).as("n_orders_7d"), sum(col("cents")).as("cents_7d"))
    orders.join(broadcast(band), Seq("day")) // hint: dial
      .select(col("o_orderkey"), col("day").cast("long").as("day"),
        col("n_orders_7d"), col("cents_7d"))
      .orderBy(col("o_orderkey"))
  }

  /** `q19_ratio_report`: ratio-to-report windows — each nation's revenue as
    * a share of its region and of the total, in one pass (two window sums
    * over the aggregated rows; the aggregate happens BEFORE the windows so
    * the windowed data is groups-sized, not fact-sized). */
  def q19RatioReport(spark: SparkSession, dir: String): DataFrame = {
    val byNation = Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(Tables.load(spark, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("c_acctbal")).as("bal"))
    val wRegion = Window.partitionBy(col("r_name"))
    val wAll = Window.partitionBy()
    byNation
      .withColumn("region_share_e6",
        floor(col("bal") / sum(col("bal")).over(wRegion) * 1000000.0).cast("long"))
      .withColumn("total_share_e6",
        floor(col("bal") / sum(col("bal")).over(wAll) * 1000000.0).cast("long"))
      .select(col("r_name").as("region"), col("n_name").as("nation"),
        round(col("bal"), 2).as("sum_acctbal"),
        col("region_share_e6"), col("total_share_e6"))
      .orderBy(col("region"), col("nation"))
  }

  /** q25 bin count (equi-width over the observed [min, max]). */
  val HistBins = 20

  /** `q25_histogram`: exact equi-width histogram of lineitem extended
    * price — the two-pass distributed shape: pass 1 is a trivial
    * map-side-partial min/max aggregate, broadcast back as a single
    * stats row; pass 2 bins every value with pure arithmetic and
    * aggregates counts per bin (21 groups, map-side partial). No sort,
    * no shuffle of fact rows beyond the 21-row aggregate. Per-bin
    * extrema are min/max (order-independent) — deliberately NOT sum():
    * a float sum's value depends on reduction order and would never
    * hash-match an oracle. The bin expression and the floor-e2
    * boundary columns are fixed-order IEEE arithmetic, identical in
    * DuckDB; values at interior bin edges land identically in both
    * engines because the DOUBLES are identical, and v = vmax is
    * clamped into the last bin on both sides. */
  def q25Histogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem").select(col("l_extendedprice").as("v"))
    val stats = li.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
    val bin = least(
      floor((col("v") - col("vmin")) * lit(HistBins.toDouble) / (col("vmax") - col("vmin"))),
      lit((HistBins - 1).toDouble)).cast("long")
    li.crossJoin(broadcast(stats)) // hint: scalar
      .select(bin.as("bin_idx"), col("v"), col("vmin"), col("vmax"))
      .groupBy(col("bin_idx"))
      .agg(
        count(lit(1)).as("n_items"),
        floor(min(col("v")) * 100d).cast("long").as("v_min_c"),
        floor(max(col("v")) * 100d).cast("long").as("v_max_c"),
        // bin boundaries from the same stats row (min/max are
        // group-constant); floor-e2 cents for cross-engine stability
        floor((min(col("vmin")) + col("bin_idx").cast("double") *
          ((min(col("vmax")) - min(col("vmin"))) / HistBins.toDouble)) * 100d)
          .cast("long").as("bin_lo_c"),
        floor((min(col("vmin")) + (col("bin_idx") + 1L).cast("double") *
          ((min(col("vmax")) - min(col("vmin"))) / HistBins.toDouble)) * 100d)
          .cast("long").as("bin_hi_c"))
      .orderBy(col("bin_idx"))
  }

  /** q28: a row is an outlier when |x − median| > MadK × MAD. */
  val MadK = 3

  /** `q28_anomaly_mad`: robust outlier audit per group — median and MAD
    * (median absolute deviation), the per-row robust-z verdict, and
    * group-level outlier accounting over order totals by priority. The
    * mean/stddev form breaks down exactly when it matters (outliers
    * inflate the stddev that defines them); median/MAD is the standard
    * robust alternative, and a DQ engine owes it as a first-class op.
    *
    * Everything runs in EXACT integer space so the verdict can never flip
    * on a cross-engine ulp: values become cents via floor(x·100); the
    * median of cents is a dyadic (lo+hi)/2 — exact in doubles — published
    * as the INTEGER `med_cents_x2 = lo+hi`; deviations are integers in
    * half-cents; MAD likewise publishes `mad_hcents_x2`. The outlier test
    * `2·ad > MadK·mad_x2` and the share/z ratios are pure integer (or
    * integer-derived IEEE) arithmetic. Shape: two sort-based exact
    * medians (the q10-era window machinery), each a single window per
    * group, with the group-sized stats rows broadcast back onto the fact
    * scan. MEASURED trade (round 7): switching both medians to
    * [[Analytics.exactPercentilesDistributed]] (q10's plan) cost 2.4×
    * at bench scale — the selection's extra scans buy nothing while a
    * 5-key split of ORDERS still fits one executor's sort comfortably.
    * The distributed form is the documented escape hatch when a group's
    * slice outgrows a task (q10's lineitem case); the sketch path at
    * 100 TB remains q18's approx_percentile. */
  def q28AnomalyMad(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "orders")
      .select(col("o_orderpriority").as("prio"),
        floor(col("o_totalprice") * lit(100)).cast("long").as("x_c"))
    // median of cents, exactly: p50 interpolation of integers is (lo+hi)/2,
    // dyadic-exact, so doubling it recovers the integer lo+hi
    val med = Analytics.exactPercentiles(base, "prio", Seq(("x_c", 0.5, "med_raw")))
      .select(col("prio"), col("n"),
        (col("med_raw") * 2).cast("long").as("med_x2"))
    val dev = base.join(broadcast(med), Seq("prio")) // hint: dial
      .withColumn("ad", abs(col("x_c") * 2 - col("med_x2"))) // half-cents
    val mad = Analytics.exactPercentiles(
        dev.select(col("prio"), col("ad")), "prio", Seq(("ad", 0.5, "mad_raw")))
      .select(col("prio"), (col("mad_raw") * 2).cast("long").as("mad_x2"))
    dev.join(broadcast(mad), Seq("prio")) // hint: dial
      // 2·ad > K·mad_x2 <=> |x−med| > K·MAD, all integers
      .withColumn("is_out",
        (col("ad") * 2 > lit(MadK) * col("mad_x2")).cast("long"))
      .groupBy(col("prio"))
      .agg(max(col("n")).as("n_orders"),
        max(col("med_x2")).as("med_cents_x2"),
        max(col("mad_x2")).as("mad_hcents_x2"),
        sum(col("is_out")).as("n_outliers"),
        max(col("ad")).as("max_ad_hc"))
      .select(col("prio"), col("n_orders"), col("med_cents_x2"),
        col("mad_hcents_x2"), col("n_outliers"),
        floor(col("n_outliers") * lit(1000000.0) / col("n_orders")).cast("long")
          .as("outlier_share_e6"),
        // robust z = |x−med|/MAD = 2·ad/mad_x2 (exact integer operands)
        when(col("mad_hcents_x2") === 0, lit(null).cast("long"))
          .otherwise(floor(col("max_ad_hc") * lit(2000000.0) / col("mad_hcents_x2"))
            .cast("long")).as("max_z_e6"))
      .orderBy(col("prio"))
  }

  /** q33 damping (85/100, the classic 0.85) and iteration count. K is
    * FIXED, not run-to-convergence: the oracle unrolls exactly K rounds,
    * and production graph ranks are routinely capped the same way. */
  val PrIters = 3
  val PrDampNum = 85
  val PrDampDen = 100

  /** `q33_graph_rank`: PageRank-style random-walk centrality on the
    * customer↔supplier purchase graph — iterative message-passing graph
    * analytics, a computational shape none of q1-q32 exercises (who are
    * the structurally central counterparties, not just the biggest by
    * revenue). Nodes are customers and suppliers that traded at least
    * once (typed into one long key space: customer 2k, supplier 2k+1);
    * edges are the DISTINCT trade pairs, undirected (both directions
    * materialized). Every node therefore has degree ≥ 1 — no dangling
    * mass correction. Rank iterates K = [[PrIters]] rounds of
    * `r'(v) = 0.15e6 + floor(0.85 · Σ_{u∈N(v)} floor(r(u)/deg(u)))`
    * entirely in exact integer arithmetic (positive operands, so Spark's
    * `div` ≡ DuckDB's `//`) — bit-identical across engines, no float
    * accumulation order anywhere.
    *
    * Scale: the only fact-sized step is the one distinct over trade
    * pairs; after that everything is edge-table-sized. Each iteration is
    * one equi-join (edges ⋈ ranks on src) + one groupBy dst — both hash
    * on the node key, so a production run bucketing edges by src reuses
    * ONE partitioning across all K rounds (GraphX's partition strategy,
    * DataFrame-native); K is fixed, so the plan is K unrolled joins, no
    * driver-side convergence loop. The edge list is checkpointed once
    * and reused by all rounds. */
  def q33GraphRank(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val cs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("s"))
      .distinct()
    val edges = cs.select((col("c") * 2).as("src"), (col("s") * 2 + 1).as("dst"))
      .union(cs.select((col("s") * 2 + 1).as("src"), (col("c") * 2).as("dst")))
      .localCheckpoint(true) // reused by deg + every iteration
    // node-grained; checkpointed because every iteration's rank rebuild
    // AND each broadcast build below re-reads it — un-materialized, each
    // of those re-ran the corpus-sized degree aggregate from the edge
    // checkpoint (measured: ~2x the shuffle-read bytes of the query)
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("degree"))
      .localCheckpoint(true)
    // rank/mass are NODE-grained, but the node set is customers +
    // suppliers — FACT-proportional (both scale with SF; only
    // nation/region are fixed dims), so an unconditional broadcast hint
    // would hit the 8 GB broadcast cap at 100 TB. One near-free count of
    // the checkpointed deg bounds every rank/mass frame (mass groups by
    // dst ⊆ nodes; rank is deg ⋈ mass), and the size-bounded hint keeps
    // the r20 zero-exchange iteration shape wherever the node set
    // actually fits, falling back to the scale-safe shuffled join above
    // the bound (guide §3.1; r20 verdict item 1).
    val nNodes = deg.count()
    import graft.operators.BoundedBroadcast.hintIfBounded
    var rank = deg.select(col("node"), col("degree"),
      lit(1000000L).as("rank_e6"))
    for (_ <- 1 to PrIters) {
      val mass = edges
        .join(hintIfBounded(rank, nNodes), edges("src") === rank("node"))
        .select(col("dst"), expr("rank_e6 div degree").as("m"))
        .groupBy(col("dst").as("node"))
        .agg(sum(col("m")).as("in_mass"))
      rank = deg.join(hintIfBounded(mass, nNodes), Seq("node"))
        .select(col("node"), col("degree"),
          (lit(150000L) + expr(s"($PrDampNum * in_mass) div $PrDampDen"))
            .as("rank_e6"))
    }
    rank.select(
        when(col("node") % 2 === 0, lit("customer")).otherwise(lit("supplier"))
          .as("side"),
        expr("node div 2").as("node_id"), col("degree"), col("rank_e6"))
      .orderBy(col("side"), col("node_id"))
  }

  /** q37: a part pair is an edge once it co-occurs in at least this many
    * orders — the sparsifier that keeps the co-purchase graph from being
    * one dense random blob. */
  val TriMinCoOrders = 2

  /** `q37_triangle_count`: triangle census of the part co-purchase graph
    * (parts are linked when they appear together in ≥ [[TriMinCoOrders]]
    * orders) — one summary row: nodes, edges, wedges (length-2 paths),
    * triangles, and the global clustering coefficient `3·tri/wedges` in
    * floor-e6. Triangle counting is the classic it-looks-like-a-self-
    * join-bomb graph kernel; none of q33's message-passing machinery
    * covers it.
    *
    * Scale (the node-iterator/orientation algorithm, MapReduce-classic):
    * pair generation is per-order C(k,2) with k = lines per order — a
    * bounded fan-out of one grouped scan, never a fact self-join. The
    * wedge join runs on edges ORIENTED from the (degree, node)-smaller
    * endpoint to the larger, which caps every node's out-degree at
    * O(√m) regardless of skew — Σ out² (the wedge count) is O(m^1.5)
    * worst-case instead of the Σ d² a hub would pay unoriented; each
    * triangle is counted exactly once at its smallest-order apex. The
    * edge table is checkpointed once and reused by the orientation, the
    * wedge join and the closing-edge probe; every join keys on a node
    * or canonical pair, so AQE handles residual skew. All counts and
    * the e6 coefficient are exact integer arithmetic. */
  def q37TriangleCount(spark: SparkSession, dir: String): DataFrame = {
    // per-order sorted part arrays -> C(k,2) pair fan-out (k <= lines/order).
    // No pre-distinct: collect_set dedups per order inside ONE shuffle
    // (with a map-side partial set build), where a distinct() first would
    // add a second full-fact exchange for nothing.
    val byOrder = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")) >= 2)
    val pairs = byOrder.select(explode(flatten(
        transform(sequence(lit(0), size(col("ps")) - 2), i =>
          transform(sequence(i + 1, size(col("ps")) - 1), j =>
            struct(element_at(col("ps"), i + 1).as("u"),
              element_at(col("ps"), j + 1).as("v")))))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val edges = pairs.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("w")).filter(col("w") >= TriMinCoOrders)
      .select(col("u"), col("v"))
      .localCheckpoint(true) // reused: degrees, orientation, closing probe
    val deg = edges.select(col("u").as("node"))
      .union(edges.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true) // reused: two orientation joins + node/wedge totals
    // orient each edge from the (degree, node)-smaller endpoint
    val oe = edges
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"), col("dv").as("dd")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"), col("du").as("dd")))
          .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"), col("o.dd").as("dd"))
      .localCheckpoint(true) // both wedge sides read it
    val o2 = oe.select(col("src"), col("dst").as("dst2"), col("dd").as("dd2"))
    val wedgeCands = oe.join(o2, Seq("src"))
      .filter(col("dd") < col("dd2") || (col("dd") === col("dd2") && col("dst") < col("dst2")))
      .select(least(col("dst"), col("dst2")).as("u"), greatest(col("dst"), col("dst2")).as("v"))
    val triRow = wedgeCands.join(edges, Seq("u", "v"))
      .agg(count(lit(1)).as("n_triangles"))
    val nodeRow = deg.agg(count(lit(1)).as("n_nodes"),
      sum(expr("d * (d - 1) div 2")).as("n_wedges"))
    val edgeRow = edges.agg(count(lit(1)).as("n_edges"))
    nodeRow.crossJoin(broadcast(edgeRow)).crossJoin(broadcast(triRow)) // hint: scalar
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") === 0L, lit(0L))
          .otherwise(expr("(3 * n_triangles * 1000000) div n_wedges"))
          .as("global_cc_e6"))
  }

  /** `q34_culprit_supplier`: the TPC-H Q21 existential shape (suppliers
    * who alone caused a problem on multi-supplier orders) on this
    * schema's quality signal: for each supplier, the count of orders
    * where the order has lines from ≥ 2 suppliers, THIS supplier had a
    * returned line (`l_returnflag = 'R'`), and NO other supplier did —
    * the sole-culprit attribution behind supplier scorecards.
    *
    * Spark-first de-correlation: the textbook form is a four-way
    * correlated EXISTS / NOT EXISTS self-join (the oracle deliberately
    * states exactly that, so the hash-match PROVES the rewrite). Here
    * it collapses to ONE grouped pass per grain: per-(order, supplier)
    * return flags, re-aggregated per order (supplier count + returning-
    * supplier count — map-side partial over already-clustered rows),
    * one equi-join back on the order key, then the per-supplier count.
    * No self-join of the fact table against itself ever happens; every
    * shuffle key is the order key or the supplier key. */
  def q34CulpritSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val per = li.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("has_ret"))
      .localCheckpoint(true) // consumed by the order rollup AND the filter
    val ord = per.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("has_ret")).as("n_supp_ret"))
    val culprit = per.join(ord, Seq("l_orderkey"))
      .filter(col("has_ret") === 1L && col("n_supp") >= 2 && col("n_supp_ret") === 1L)
    culprit.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_culprit_orders"))
      .join(Tables.load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_culprit_orders"))
      .orderBy(col("n_culprit_orders").desc, col("s_suppkey"))
  }

  /** q42: minimum pair co-order count for an association rule to report. */
  val BasketMinSupport = 3L

  /** `q42_market_basket`: association-rule mining over co-purchased part
    * pairs — support, directed confidence and lift for every pair of
    * parts bought together in ≥ [[BasketMinSupport]] orders. The classic
    * market-basket report (Agrawal's Apriori at the pair level), and the
    * analytics face of q37's co-purchase graph.
    *
    * Scale: baskets form in ONE shuffle (`collect_set` per order with
    * map-side partial set build — q37's no-pre-distinct trick), pair
    * fan-out is C(k,2) per order where k ≤ lines-per-order, a schema
    * constant — never a fact self-join. The support filter collapses the
    * pair table before any join; per-item supports are a part-grained
    * aggregate of the SAME basket checkpoint (scanned once), joined
    * under a size-gated hint bounded by the part count. Confidence and lift are defined as
    * exact sequential integer arithmetic (`conf_e6 = n_both·1e6 div n_a`,
    * `lift_e6 = conf_e6·N div n_b` — each intermediate < 2^63 at any SF,
    * unlike the naive `n_both·N·1e6` which overflows at 100 TB), the
    * same formula the oracle states. */
  def q42MarketBasket(spark: SparkSession, dir: String): DataFrame = {
    val byOrder = Tables.load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .localCheckpoint(true) // scanned 3x: pairs, item supports, N
    val pairs = byOrder.filter(size(col("ps")) >= 2)
      .select(explode(flatten(
        transform(sequence(lit(0), size(col("ps")) - 2), i =>
          transform(sequence(i + 1, size(col("ps")) - 1), j =>
            struct(element_at(col("ps"), i + 1).as("pa"),
              element_at(col("ps"), j + 1).as("pb")))))).as("p"))
      .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= BasketMinSupport)
    val supp = byOrder.select(explode(col("ps")).as("part"))
      .groupBy(col("part")).agg(count(lit(1)).as("n_item"))
    val nOrders = byOrder.agg(count(lit(1)).as("n_orders"))
    // at most one row per part, but estimated at the basket table's size
    val nParts = Tables.rows(spark, dir, "part")
    pairs
      .join(BoundedBroadcast.hintIfBounded(
        supp.select(col("part").as("pa"), col("n_item").as("n_a")), nParts), Seq("pa"))
      .join(BoundedBroadcast.hintIfBounded(
        supp.select(col("part").as("pb"), col("n_item").as("n_b")), nParts), Seq("pb"))
      .crossJoin(broadcast(nOrders)) // hint: scalar
      .withColumn("conf_e6", expr("n_both * 1000000 div n_a"))
      .withColumn("lift_e6", expr("conf_e6 * n_orders div n_b"))
      .select(col("pa"), col("pb"), col("n_both"), col("n_a"), col("n_b"),
        col("conf_e6"), col("lift_e6"))
      .orderBy(col("lift_e6").desc, col("pa"), col("pb"))
  }

  /** `q43_ks_drift`: two-sample Kolmogorov-Smirnov distance between the
    * early (≤1997) and late order-value distributions — distribution
    * drift as a STATISTIC, complementing p14's binned L1 (a KS max-gap
    * catches a shape shift that histogram bins smear). Output: one row
    * with both sample sizes, the exact integer KS numerator
    * `max|cumA·nB − cumB·nA|`, its denominator `nA·nB`, the e6 ratio,
    * and the smallest value attaining the max.
    *
    * Scale: the fact reduces to a VALUE-grained (price, nA, nB) table in
    * one map-side-partial shuffle; the CDF is the [[PrefixSum]]
    * distributed prefix sum over that table (no single-task window ever
    * sees the value grain). The cross-multiplied integer form needs no division until
    * the final render, and the multiply runs in `Decimal(38,0)` (exact
    * integers to 10³⁸): `ca·tb`, `ks_num` and `ks_num·10⁶` are exact
    * for cohorts to ~10¹⁵ rows per side (product 10³⁰·10⁶ < 10³⁸) —
    * past any 100-TB fact — where the old 64-bit form wrapped silently
    * at ~3·10⁶ rows per side on the e6 render. The final `div` is
    * integral divide of a ≤10⁶ quotient, emitted BIGINT; DuckDB's
    * HUGEINT (int128, exact to 1.7·10³⁸) matches it bit-for-bit. */
  def q43KsDrift(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.load(spark, dir, "orders")
      .select(floor(col("o_totalprice") * 100).cast("long").as("c"),
        when(year(col("o_orderdate")) <= 1997, 1L).otherwise(0L).as("isa"))
      .groupBy(col("c"))
      .agg(sum(col("isa")).as("na"), sum(lit(1L) - col("isa")).as("nb"))
    val tot = g.agg(sum(col("na")).as("ta"), sum(col("nb")).as("tb"))
    val cum = PrefixSum(g, Seq(col("c")), None, 0).runningSums("na" -> "ca", "nb" -> "cb")
      .crossJoin(broadcast(tot)) // hint: scalar
      .withColumn("diff", abs(col("ca").cast("decimal(38,0)") * col("tb") -
        col("cb").cast("decimal(38,0)") * col("ta")))
    val mx = cum.agg(max(col("diff")).as("ks_num"))
    cum.join(broadcast(mx), col("diff") === col("ks_num")) // hint: scalar
      .groupBy(col("ta"), col("tb"), col("ks_num"))
      .agg(min(col("c")).as("at_cents"))
      // the Decimal(38,0) math stays INTERNAL; the emitted envelope
      // columns render as strings — exact at any scale, and hash-stable
      // across engines (the driver hashes typed values, and an emitted
      // DECIMAL never hash-matches DuckDB's render even when the values
      // are bit-identical — r15's only two red rows were exactly the two
      // emitted-decimal queries; PropertySpec pins the class out)
      .select(col("ta").as("n_a"), col("tb").as("n_b"),
        col("ks_num").cast("string").as("ks_num"),
        (col("ta").cast("decimal(38,0)") * col("tb"))
          .cast("string").as("denom"),
        expr("ks_num * CAST(1000000 AS DECIMAL(38,0)) div " +
          "(CAST(ta AS DECIMAL(38,0)) * tb)").as("ks_e6"),
        col("at_cents"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q43_ks_drift" -> (q43KsDrift _),
    "q42_market_basket" -> (q42MarketBasket _),
    "q33_graph_rank" -> (q33GraphRank _),
    "q34_culprit_supplier" -> (q34CulpritSupplier _),
    "q37_triangle_count" -> (q37TriangleCount _),
    "q28_anomaly_mad" -> (q28AnomalyMad _),
    "q25_histogram" -> (q25Histogram _),
    "q19_ratio_report" -> (q19RatioReport _),
    "q13_asof_join" -> (q13AsofJoin _),
    "q14_json_extract" -> (q14JsonExtract _),
    "q15_rolling" -> (q15Rolling _),
    "q17_grouping_sets" -> (q17GroupingSets _),
    "q18_approx_stats" -> (q18ApproxStatsChecked _),
    "q22_cube" -> (q22Cube _),
    "q23_range_join" -> (q23RangeJoin _))

  /** q33's oracle: the same K rounds unrolled as chained CTEs, same
    * integer ops (`//` ≡ Spark `div` on positive operands), sums cast
    * off DuckDB's HUGEINT. */
  private val q33OracleSql: String = {
    def round(prev: String, cur: String) =
      s"""$cur AS (
         | SELECT d.node, d.degree,
         |  CAST(150000 + ($PrDampNum * m.in_mass) // $PrDampDen AS BIGINT) AS rank_e6
         | FROM deg d JOIN (
         |  SELECT e.dst AS node, CAST(sum(r.rank_e6 // r.degree) AS BIGINT) AS in_mass
         |  FROM edges e JOIN $prev r ON r.node = e.src GROUP BY 1) m USING (node))"""
    val rounds = (1 to PrIters).map(i => round(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH cs AS (
       | SELECT DISTINCT o_custkey AS c, l_suppkey AS s
       | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |edges AS (
       | SELECT c * 2 AS src, s * 2 + 1 AS dst FROM cs
       | UNION ALL
       | SELECT s * 2 + 1 AS src, c * 2 AS dst FROM cs),
       |deg AS (SELECT src AS node, count(*) AS degree FROM edges GROUP BY 1),
       |r0 AS (SELECT node, degree, CAST(1000000 AS BIGINT) AS rank_e6 FROM deg),
       |$rounds
       |SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS side,
       | node // 2 AS node_id, degree, rank_e6
       |FROM r$PrIters ORDER BY side, node_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q43_ks_drift" ->
      """WITH v AS (
        | SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c,
        |  CASE WHEN year(o_orderdate) <= 1997 THEN 1 ELSE 0 END AS isa
        | FROM orders),
        |g AS (
        | SELECT c, CAST(sum(isa) AS BIGINT) AS na,
        |  CAST(sum(1 - isa) AS BIGINT) AS nb
        | FROM v GROUP BY c),
        |t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
        |  CAST(sum(nb) AS BIGINT) AS tb FROM g),
        |cum AS (
        | SELECT c,
        |  CAST(sum(na) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
        |  CAST(sum(nb) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cb
        | FROM g),
        |d AS (SELECT c,
        |  abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta) AS diff
        | FROM cum CROSS JOIN t),
        |mx AS (SELECT max(diff) AS ks_num FROM d)
        |SELECT t.ta AS n_a, t.tb AS n_b,
        | CAST(mx.ks_num AS VARCHAR) AS ks_num,
        | CAST(CAST(t.ta AS HUGEINT) * t.tb AS VARCHAR) AS denom,
        | CAST(mx.ks_num * 1000000 // (CAST(t.ta AS HUGEINT) * t.tb) AS BIGINT) AS ks_e6,
        | (SELECT min(c) FROM d, mx WHERE d.diff = mx.ks_num) AS at_cents
        |FROM t CROSS JOIN mx""".stripMargin,
    "q42_market_basket" ->
      s"""WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b),
         |supp AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS n_item
         | FROM b GROUP BY 1),
         |pairs AS (
         | SELECT a.l_partkey AS pa, c.l_partkey AS pb,
         |  CAST(count(*) AS BIGINT) AS n_both
         | FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
         |  AND a.l_partkey < c.l_partkey
         | GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport)
         |SELECT pa, pb, n_both, sa.n_item AS n_a, sb.n_item AS n_b,
         | n_both * 1000000 // sa.n_item AS conf_e6,
         | (n_both * 1000000 // sa.n_item) * n_orders // sb.n_item AS lift_e6
         |FROM pairs JOIN supp sa ON pa = sa.l_partkey
         | JOIN supp sb ON pb = sb.l_partkey CROSS JOIN n
         |ORDER BY lift_e6 DESC, pa, pb""".stripMargin,
    "q33_graph_rank" -> q33OracleSql,
    // the oracle counts triangles by the TEXTBOOK canonical triple join
    // (u<v<w over the undirected edge table) — hash-matching it proves
    // the degree-oriented wedge construction counts each triangle once
    "q37_triangle_count" ->
      s"""WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS (
         | SELECT a.l_partkey AS u, b.l_partkey AS v
         | FROM po a JOIN po b
         |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         | GROUP BY 1, 2 HAVING count(*) >= $TriMinCoOrders),
         |tri AS (
         | SELECT CAST(count(*) AS BIGINT) AS n_triangles
         | FROM e e1 JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |nd AS (
         | SELECT CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
         | FROM (SELECT count(*) AS d FROM
         |   (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node)),
         |ed AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
         |SELECT n_nodes, n_edges, n_wedges, n_triangles,
         | CASE WHEN n_wedges = 0 THEN 0
         |  ELSE (3 * n_triangles * 1000000) // n_wedges END AS global_cc_e6
         |FROM nd, ed, tri""".stripMargin,
    // deliberately the TEXTBOOK correlated form: hash-matching it proves
    // the Spark plan's single-pass de-correlation is the same query
    "q34_culprit_supplier" ->
      s"""SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
         | CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS n_culprit_orders
         |FROM lineitem l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
         |WHERE l1.l_returnflag = 'R'
         | AND EXISTS (SELECT 1 FROM lineitem l2
         |   WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey != l1.l_suppkey)
         | AND NOT EXISTS (SELECT 1 FROM lineitem l3
         |   WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey != l1.l_suppkey
         |    AND l3.l_returnflag = 'R')
         |GROUP BY 1, 2
         |ORDER BY n_culprit_orders DESC, s_suppkey""".stripMargin,
    // integer space end-to-end (cents / half-cents): quantile_cont over
    // integers interpolates dyadic-exactly, so the doubled casts are exact
    "q28_anomaly_mad" ->
      s"""WITH b AS (
         | SELECT o_orderpriority AS prio,
         |  CAST(floor(o_totalprice * 100) AS BIGINT) AS x_c
         | FROM orders),
         |m AS (
         | SELECT prio, count(*) AS n,
         |  CAST(quantile_cont(x_c, 0.5) * 2 AS BIGINT) AS med_x2
         | FROM b GROUP BY prio),
         |d AS (
         | SELECT b.prio, abs(b.x_c * 2 - m.med_x2) AS ad, m.n, m.med_x2
         | FROM b JOIN m USING (prio)),
         |md AS (
         | SELECT prio, CAST(quantile_cont(ad, 0.5) * 2 AS BIGINT) AS mad_x2
         | FROM d GROUP BY prio)
         |SELECT d.prio AS prio, any_value(d.n) AS n_orders,
         | any_value(d.med_x2) AS med_cents_x2,
         | any_value(md.mad_x2) AS mad_hcents_x2,
         | CAST(sum(CASE WHEN d.ad * 2 > $MadK * md.mad_x2 THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_outliers,
         | CAST(floor(sum(CASE WHEN d.ad * 2 > $MadK * md.mad_x2 THEN 1 ELSE 0 END)
         |   * 1000000.0 / any_value(d.n)) AS BIGINT) AS outlier_share_e6,
         | CASE WHEN any_value(md.mad_x2) = 0 THEN NULL
         |  ELSE CAST(floor(max(d.ad) * 2000000.0 / any_value(md.mad_x2)) AS BIGINT)
         |  END AS max_z_e6
         |FROM d JOIN md USING (prio) GROUP BY d.prio ORDER BY prio""".stripMargin,
    // same op trees as the Spark plan: bin = least(floor((v-vmin)*B/(vmax-vmin)), B-1),
    // boundaries from the identical stats doubles — bit-stable in both engines
    "q25_histogram" ->
      s"""WITH s AS (
         | SELECT min(l_extendedprice) AS vmin, max(l_extendedprice) AS vmax
         | FROM lineitem),
         |b AS (
         | SELECT least(floor((l_extendedprice - vmin) * ${HistBins}.0 / (vmax - vmin)),
         |   ${HistBins - 1}.0) AS binf,
         |  l_extendedprice AS v, vmin, vmax
         | FROM lineitem CROSS JOIN s)
         |SELECT CAST(binf AS BIGINT) AS bin_idx, CAST(count(*) AS BIGINT) AS n_items,
         | CAST(floor(min(v) * 100) AS BIGINT) AS v_min_c,
         | CAST(floor(max(v) * 100) AS BIGINT) AS v_max_c,
         | CAST(floor((min(vmin) + binf * ((min(vmax) - min(vmin)) / ${HistBins}.0)) * 100)
         |   AS BIGINT) AS bin_lo_c,
         | CAST(floor((min(vmin) + (binf + 1.0) * ((min(vmax) - min(vmin)) / ${HistBins}.0)) * 100)
         |   AS BIGINT) AS bin_hi_c
         |FROM b GROUP BY binf ORDER BY bin_idx""".stripMargin,
    "q23_range_join" ->
      s"""WITH o AS (
         | SELECT o_orderkey,
         |  date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day,
         |  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
         | FROM orders),
         |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(cents) AS BIGINT) AS cents FROM o GROUP BY day),
         |win AS (
         | SELECT d1.day, CAST(sum(d2.n) AS BIGINT) AS n_orders_7d,
         |  CAST(sum(d2.cents) AS BIGINT) AS cents_7d
         | FROM daily d1 JOIN daily d2
         |  ON d2.day BETWEEN d1.day - $RangeBandDays AND d1.day + $RangeBandDays
         | GROUP BY d1.day)
         |SELECT o.o_orderkey, CAST(o.day AS BIGINT) AS day, w.n_orders_7d, w.cents_7d
         |FROM o JOIN win w ON o.day = w.day ORDER BY o_orderkey""".stripMargin,
    "q22_cube" ->
      """SELECT coalesce(CAST(year(o_orderdate) AS VARCHAR), 'ALL') AS order_year,
        | coalesce(o_orderstatus, 'ALL') AS order_status,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_totalprice
        |FROM orders
        |GROUP BY CUBE (year(o_orderdate), o_orderstatus)
        |ORDER BY order_year, order_status""".stripMargin,
    "q18_approx_stats" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_orderkey) AS exact_orders,
        | round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        | round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
        | count(*) AS n,
        | TRUE AS orders_within_5pct, TRUE AS p50_within_5pct, TRUE AS p95_within_5pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q19_ratio_report" ->
      """WITH b AS (
        | SELECT r_name, n_name, sum(c_acctbal) AS bal
        | FROM customer JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        | GROUP BY r_name, n_name)
        |SELECT r_name AS region, n_name AS nation, round(bal, 2) AS sum_acctbal,
        | CAST(floor(bal / sum(bal) OVER (PARTITION BY r_name) * 1000000.0) AS BIGINT) AS region_share_e6,
        | CAST(floor(bal / sum(bal) OVER () * 1000000.0) AS BIGINT) AS total_share_e6
        |FROM b ORDER BY region, nation""".stripMargin,
    "q17_grouping_sets" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        | count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name), (n_name), ())
        |ORDER BY region, nation""".stripMargin,
    "q13_asof_join" ->
      """WITH o AS (
        | SELECT user_id, t_us, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS t_us, o_orderkey,
        |   round(o_totalprice, 2) AS o_totalprice,
        |   row_number() OVER (PARTITION BY o_custkey, epoch_us(o_orderdate)
        |     ORDER BY o_orderkey DESC) AS rn
        |  FROM orders) WHERE rn = 1),
        |e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type FROM events)
        |SELECT e.event_id, e.user_id, e.ts_us, e.event_type,
        | o.o_orderkey AS asof_orderkey, o.o_totalprice AS asof_totalprice
        |FROM e ASOF LEFT JOIN o ON e.user_id = o.user_id AND o.t_us <= e.ts_us
        |ORDER BY event_id""".stripMargin,
    "q14_json_extract" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | count(*) AS n,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        | min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        | max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    "q15_rolling" ->
      """SELECT o_custkey,
        | CAST(row_number() OVER w AS BIGINT) AS order_idx, o_orderkey,
        | round(o_totalprice, 2) AS totalprice,
        | round(sum(o_totalprice) OVER (w ROWS UNBOUNDED PRECEDING), 2) AS running_total,
        | CAST(floor((o_totalprice + coalesce(lag(o_totalprice, 1) OVER w, 0.0)
        |        + coalesce(lag(o_totalprice, 2) OVER w, 0.0))
        |   / (1 + (CASE WHEN lag(o_totalprice, 1) OVER w IS NOT NULL THEN 1 ELSE 0 END)
        |        + (CASE WHEN lag(o_totalprice, 2) OVER w IS NOT NULL THEN 1 ELSE 0 END)) * 100) AS BIGINT) AS moving3_avg_e2
        |FROM (SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS orderdate_us,
        |       o_totalprice FROM orders)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY orderdate_us, o_orderkey)""".stripMargin)
}
