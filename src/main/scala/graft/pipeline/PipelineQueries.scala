package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.PrefixSum

/** Registry of the pipeline-core driver queries (SURVEY.md §2, p1-p7). */
object PipelineQueries {

  /** `p9_date_dim`: generated calendar dimension (1995-1998) — year,
    * quarter, month, ISO day-of-week, weekend flag. Generated entirely in
    * the engine (sequence + explode, no source scan); the curated zone's
    * standard conformed dimension. */
  def p9DateDim(spark: SparkSession, dir: String): DataFrame =
    spark.range(1)
      .select(explode(sequence(
        lit(java.sql.Date.valueOf("1995-01-01")),
        lit(java.sql.Date.valueOf("1998-12-31")),
        expr("INTERVAL 1 DAY"))).as("d"))
      .select(
        date_format(col("d"), "yyyy-MM-dd").as("date_str"),
        year(col("d")).cast("long").as("yr"),
        quarter(col("d")).cast("long").as("qtr"),
        month(col("d")).cast("long").as("mo"),
        dayofmonth(col("d")).cast("long").as("dom"),
        // ISO day-of-week (Mon=1..Sun=7) — Spark's dayofweek is Sun=1
        ((dayofweek(col("d")) + lit(5)) % 7 + lit(1)).cast("long").as("iso_dow"))
      .withColumn("is_weekend", (col("iso_dow") >= 6).cast("long"))
      .orderBy(col("date_str"))

  val p9Oracle: String =
    """SELECT strftime(d, '%Y-%m-%d') AS date_str,
      | year(d) AS yr, quarter(d) AS qtr, month(d) AS mo, day(d) AS dom,
      | isodow(d) AS iso_dow,
      | CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS is_weekend
      |FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1998-12-31', INTERVAL 1 DAY))::DATE AS d)
      |ORDER BY date_str""".stripMargin

  /** `p8_ingest_orders`: the SECOND entity through the identical
    * parameterized audited ingest, driven entirely by the shipped config
    * (reference ingests Employee and Department through one job pair). */
  def p8IngestOrders(spark: SparkSession, dir: String): DataFrame =
    Ingest.ingestRawEntity(spark, dir, PipelineConfig.default.entity("orders"))

  /** `p10_schema_drift`: schema-evolution ingest — the config-driven
    * entity pipeline meeting a source whose schema changed between
    * batches (a column appears, another disappears), the standing hazard
    * of the reference's per-entity ingest jobs. Older batches align by
    * NAME with missing columns null-filled (`unionByName`
    * allowMissingColumns — positional union would silently mis-bind), and
    * every row keeps its batch provenance so downstream can tell "null
    * because absent then" from "null in the source". Simulated from the
    * orders table: the pre-1997 batch lacks `o_orderstatus` (not yet
    * captured), the 1997+ batch lacks `o_orderpriority` (dropped
    * upstream). Pure projection + union — no shuffle beyond the output
    * sort; at scale this is a metadata-only concern. */
  def p10SchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(spark, dir, "orders")
      .withColumn("yr", year(col("o_orderdate")))
    val early = orders.filter(col("yr") < 1997)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderpriority"),
        lit("v1").as("_batch"))
    val late = orders.filter(col("yr") >= 1997)
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderstatus"),
        lit("v2").as("_batch"))
    early.unionByName(late, allowMissingColumns = true)
      .orderBy(col("o_orderkey"))
  }

  val p10Oracle: String =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
      | o_orderpriority, 'v1' AS _batch, NULL AS o_orderstatus
      |FROM orders WHERE year(o_orderdate) < 1997
      |UNION ALL
      |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
      | NULL AS o_orderpriority, 'v2' AS _batch, o_orderstatus
      |FROM orders WHERE year(o_orderdate) >= 1997
      |ORDER BY o_orderkey""".stripMargin

  /** p12 grid: both dims normalize to 16-bit lattice coordinates; buckets
    * are the top [[ZBucketBits]] bits of the 32-bit Morton key = a
    * quadtree cell at depth ZBucketBits/2. */
  val ZGridBits = 16
  val ZBucketBits = 6

  /** `p12_zorder_layout`: Z-order (Morton) layout assignment — the
    * space-filling-curve clustering a lakehouse applies so ONE sort order
    * serves range predicates on TWO columns (file-level min/max skipping
    * on either dim). Pass 1 is a map-side-partial min/max of both dims
    * broadcast back as one stats row (q25's two-pass shape); pass 2
    * normalizes each dim to a 16-bit lattice with pure integer arithmetic
    * (`(v - min) * 65536 div (max - min + 1)` — exact in any engine),
    * interleaves the bits into the 32-bit Morton key, and aggregates
    * per-bucket stats (top-6-bit prefix = depth-3 quadtree cell). The
    * per-cell min/max spans in BOTH dims are bounded by the cell geometry
    * (< 2^13 lattice steps at depth 3) — that bound IS the file-skipping
    * guarantee, and the spec asserts it exactly. At 100 TB the Morton key
    * is the range-partition/sort key at write time; this operator is the
    * assignment + the layout-quality audit. */
  /** The z-key assignment p12 audits and [[graft.sources.Sinks.writeZordered]]
    * writes by: orders with lattice coords (xn, yn) and the 32-bit Morton
    * `zkey`. Two-pass broadcast-stats shape, pure integer arithmetic. */
  def zkeyedOrders(spark: SparkSession, dir: String): DataFrame =
    zkeyedOrders(spark, dir, Nil)

  /** `extra` carries additional orders columns through the z-keying
    * (p40 needs `o_orderstatus`); the default overload keeps every
    * existing consumer's scan projection unchanged. */
  def zkeyedOrders(spark: SparkSession, dir: String,
                   extra: Seq[String]): DataFrame = {
    val o = graft.Tables.load(spark, dir, "orders")
      .select(col("o_orderkey") +:
        floor(unix_micros(col("o_orderdate").cast("timestamp")) /
          lit(86400L * 1000000L)).cast("long").as("day") +:
        col("o_custkey").as("cust") +: extra.map(col): _*)
    val stats = o.agg(
      min(col("day")).as("day_min"), max(col("day")).as("day_max"),
      min(col("cust")).as("cust_min"), max(col("cust")).as("cust_max"))
    val grid = (1L << ZGridBits).toString
    def norm(v: String, lo: String, hi: String) =
      s"(($v - $lo) * $grid) div ($hi - $lo + 1)"
    val z = "aggregate(sequence(0, 15), CAST(0 AS BIGINT), (acc, i) -> acc" +
      " + shiftleft(CAST(shiftrightunsigned(xn, i) & 1 AS BIGINT), 2 * i)" +
      " + shiftleft(CAST(shiftrightunsigned(yn, i) & 1 AS BIGINT), 2 * i + 1))"
    o.crossJoin(broadcast(stats))
      .withColumn("xn", expr(norm("day", "day_min", "day_max")))
      .withColumn("yn", expr(norm("cust", "cust_min", "cust_max")))
      .withColumn("zkey", expr(z))
  }

  def p12ZorderLayout(spark: SparkSession, dir: String): DataFrame =
    zkeyedOrders(spark, dir)
      .withColumn("bucket",
        shiftrightunsigned(col("zkey"), 2 * ZGridBits - ZBucketBits))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("xn")).as("x_min"), max(col("xn")).as("x_max"),
        min(col("yn")).as("y_min"), max(col("yn")).as("y_max"))
      .orderBy(col("bucket"))

  val p12Oracle: String = {
    val grid = 1L << ZGridBits
    s"""WITH o AS (
       | SELECT o_orderkey, epoch_us(o_orderdate) // ${86400L * 1000000L} AS day,
       |  o_custkey AS cust
       | FROM orders),
       |s AS (SELECT min(day) AS day_min, max(day) AS day_max,
       |  min(cust) AS cust_min, max(cust) AS cust_max FROM o),
       |g AS (
       | SELECT ((day - day_min) * $grid) // (day_max - day_min + 1) AS xn,
       |  ((cust - cust_min) * $grid) // (cust_max - cust_min + 1) AS yn
       | FROM o CROSS JOIN s),
       |z AS (
       | SELECT xn, yn,
       |  CAST(list_sum(list_transform(range(0, 16), i ->
       |    (((xn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER)))
       |    + (((yn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER) + 1))))
       |   AS BIGINT) AS zkey
       | FROM g)
       |SELECT zkey >> ${2 * ZGridBits - ZBucketBits} AS bucket,
       | CAST(count(*) AS BIGINT) AS n_orders,
       | min(xn) AS x_min, max(xn) AS x_max, min(yn) AS y_min, max(yn) AS y_max
       |FROM z GROUP BY 1 ORDER BY bucket""".stripMargin
  }

  /** p16 geometry: the top [[ZFileBits]] Morton bits simulate the current
    * small-file layout (2^10 = up to 1024 files), [[CompactBins]] is the
    * target output-file count, [[RowBytes]] the per-row size estimate of
    * the listing. */
  val ZFileBits = 10
  val CompactBins = 16
  val RowBytes = 128L

  /** `p16_compaction_plan`: small-file compaction planning — the OPTIMIZE
    * bin-packing half of the lakehouse layout story (p12 assigns the
    * z-order; THIS op plans which small files merge into which
    * target-size output file). Files are packed in z-key order — not
    * first-fit-decreasing — because preserving curve locality is the
    * point of the layout: consecutive cells merge, so every output file
    * still spans a contiguous z-range and file-level min/max skipping
    * keeps working after compaction (FFD would interleave distant cells
    * and destroy exactly what p12 bought).
    *
    * Shape: the input is a FILE LISTING (one row per z-cell with rows +
    * estimated bytes) — metadata-sized, never the data; the planner is
    * one distributed exclusive prefix-sum over it in z order
    * ([[PrefixSum]], byte-identical at any partition count) and one
    * integer division: `bin = cum_before div target`,
    * `target = ceil(total/CompactBins)` in exact integer arithmetic.
    * Greedy-by-offset guarantees at most [[CompactBins]] bins, each
    * within one file of the target, and monotone-in-z assignment (bins
    * are contiguous z-ranges) — all three asserted in `PipelineSpec`.
    * At 100 TB the listing is millions of rows where the data is
    * billions: the plan costs seconds and no data moves until the
    * rewrite executes it. */
  /** The "current files" listing p16 plans over: per-z-cell row counts
    * from the z-keyed table (a real lakehouse reads its manifest; the
    * cells stand in for files). Exposed un-checkpointed so `PlanSpec`
    * can pin the scan pruning the checkpoint would otherwise hide. */
  def p16FileListing(spark: SparkSession, dir: String): DataFrame =
    zkeyedOrders(spark, dir)
      .withColumn("zcell",
        shiftrightunsigned(col("zkey"), 2 * ZGridBits - ZFileBits))
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("bytes", col("n_rows") * lit(RowBytes))

  def p16CompactionPlan(spark: SparkSession, dir: String): DataFrame =
    p16CompactionPlanRanged(spark, dir, 0)

  /** [[p16CompactionPlan]] with an explicit range count (0 = session
    * default) — the spec's partition-invariance hook: the prefix sum is
    * exact integer arithmetic whatever the range bounds, so any cluster
    * width must produce byte-identical plans (t12's guarantee, asserted
    * the same way). */
  def p16CompactionPlanRanged(spark: SparkSession, dir: String, ranges: Int): DataFrame = {
    val files = p16FileListing(spark, dir)
      .localCheckpoint(true) // metadata-sized; consumed by total + ranges
    val tot = files.agg(sum(col("bytes")).as("total"))
    PrefixSum(files, Seq(col("zcell")), None, ranges)
      .runningSums("bytes" -> "cum")
      .crossJoin(broadcast(tot))
      .withColumn("cum_before", col("cum") - col("bytes"))
      .withColumn("target", expr(s"(total + ${CompactBins - 1}) div $CompactBins"))
      .withColumn("bin", expr("cum_before div target"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("bytes")).as("bytes"),
        min(col("zcell")).as("z_lo"), max(col("zcell")).as("z_hi"))
      .orderBy(col("bin"))
  }

  /** p19 predicate box on the p12 lattice — the second x-quarter × third
    * y-quarter of the 2^16 grid. A raw-dimension range predicate (a date
    * band × a customer-key band) maps to EXACTLY such a box because the
    * lattice normalization is monotone, so auditing the lattice box
    * audits the raw predicate. */
  val PruneXLo = 1L << 14
  val PruneXHi = (1L << 15) - 1
  val PruneYLo = 1L << 15
  val PruneYHi = (3L << 14) - 1

  /** `p19_prune_audit`: scan-planning over the z-order layout — given
    * the per-file column stats a lakehouse manifest records (min/max of
    * each clustered dimension per file; files = p16's z-cells), which
    * files MUST a reader of a 2-D predicate box touch, and how much of
    * that forced I/O is wasted? Per file: the stats-intersection verdict
    * (`skipped` — provably no matching row, the file is never opened /
    * `hit` / `false_read` — stats intersect the box but no row matches:
    * the bounding-box false positive z-ordering exists to minimize), its
    * true match count, and the share of corpus rows its being read
    * forces a scan of; plus a `~TOTAL` row carrying the file counts and
    * the total forced-scan share — the number a layout change is judged
    * by (p12 buys a low one; a linear sort on one dim would pay it on
    * the other).
    *
    * Scale: the decision side touches only the MANIFEST (one stats row
    * per file — metadata-sized, the Iceberg/parquet-footer model); the
    * truth side (n_match) is one aggregate over the same z-keyed scan
    * that derived the stats, here fused into the SAME single
    * aggregation. Pruning correctness is structural — a skipped file's
    * stats bound every row outside the box, so its n_match is 0 by
    * construction (spec-asserted anyway, as the guard against box/stat
    * arithmetic drift). */
  def p19PruneAudit(spark: SparkSession, dir: String): DataFrame = {
    val inBox = col("xn").between(PruneXLo, PruneXHi) &&
      col("yn").between(PruneYLo, PruneYHi)
    val files = zkeyedOrders(spark, dir)
      .withColumn("zcell",
        shiftrightunsigned(col("zkey"), 2 * ZGridBits - ZFileBits))
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("xn")).as("x_min"), max(col("xn")).as("x_max"),
        min(col("yn")).as("y_min"), max(col("yn")).as("y_max"),
        sum(when(inBox, 1L).otherwise(0L)).as("n_match"))
      .localCheckpoint(true) // manifest-sized; read by total + audit
    val tot = files.agg(sum(col("n_rows")).as("total_rows"))
    val intersects = col("x_min") <= PruneXHi && col("x_max") >= PruneXLo &&
      col("y_min") <= PruneYHi && col("y_max") >= PruneYLo
    val per = files.crossJoin(broadcast(tot))
      .withColumn("must_read", when(intersects, 1L).otherwise(0L))
      .withColumn("verdict",
        when(col("must_read") === 0, "skipped")
          .when(col("n_match") > 0, "hit")
          .otherwise("false_read"))
      .withColumn("scan_share_e6",
        when(col("must_read") === 1,
          floor(col("n_rows") * lit(1000000.0) / col("total_rows")).cast("long"))
          .otherwise(0L))
      .select(col("zcell").cast("string").as("zcell"), lit(1L).as("n_files"),
        col("n_rows"), col("must_read"), col("n_match"), col("verdict"),
        col("scan_share_e6"))
    val totRow = per.agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("must_read")).as("must_read"), sum(col("n_match")).as("n_match"),
        sum(col("scan_share_e6")).as("scan_share_e6"))
      .select(lit("~TOTAL").as("zcell"), col("n_files"), col("n_rows"),
        col("must_read"), col("n_match"), lit("~TOTAL").as("verdict"),
        col("scan_share_e6"))
    per.unionByName(totRow).orderBy(col("zcell"))
  }

  val p19Oracle: String = {
    val grid = 1L << ZGridBits
    s"""WITH o AS (
       | SELECT o_orderkey, epoch_us(o_orderdate) // ${86400L * 1000000L} AS day,
       |  o_custkey AS cust
       | FROM orders),
       |s AS (SELECT min(day) AS day_min, max(day) AS day_max,
       |  min(cust) AS cust_min, max(cust) AS cust_max FROM o),
       |g AS (
       | SELECT ((day - day_min) * $grid) // (day_max - day_min + 1) AS xn,
       |  ((cust - cust_min) * $grid) // (cust_max - cust_min + 1) AS yn
       | FROM o CROSS JOIN s),
       |z AS (
       | SELECT xn, yn, CAST(list_sum(list_transform(range(0, 16), i ->
       |    (((xn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER)))
       |    + (((yn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER) + 1))))
       |   AS BIGINT) AS zkey
       | FROM g),
       |f AS (
       | SELECT zkey >> ${2 * ZGridBits - ZFileBits} AS zcell,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  min(xn) AS x_min, max(xn) AS x_max, min(yn) AS y_min, max(yn) AS y_max,
       |  CAST(sum(CASE WHEN xn BETWEEN $PruneXLo AND $PruneXHi
       |    AND yn BETWEEN $PruneYLo AND $PruneYHi THEN 1 ELSE 0 END) AS BIGINT) AS n_match
       | FROM z GROUP BY 1),
       |t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows FROM f),
       |per AS (
       | SELECT CAST(zcell AS VARCHAR) AS zcell, CAST(1 AS BIGINT) AS n_files, n_rows,
       |  CAST(CASE WHEN x_min <= $PruneXHi AND x_max >= $PruneXLo
       |    AND y_min <= $PruneYHi AND y_max >= $PruneYLo THEN 1 ELSE 0 END AS BIGINT)
       |    AS must_read,
       |  n_match,
       |  CASE WHEN NOT (x_min <= $PruneXHi AND x_max >= $PruneXLo
       |     AND y_min <= $PruneYHi AND y_max >= $PruneYLo) THEN 'skipped'
       |   WHEN n_match > 0 THEN 'hit' ELSE 'false_read' END AS verdict,
       |  CAST(CASE WHEN x_min <= $PruneXHi AND x_max >= $PruneXLo
       |     AND y_min <= $PruneYHi AND y_max >= $PruneYLo
       |   THEN floor(n_rows * 1000000.0 / total_rows) ELSE 0 END AS BIGINT)
       |    AS scan_share_e6
       | FROM f CROSS JOIN t)
       |SELECT zcell, n_files, n_rows, must_read, n_match, verdict, scan_share_e6
       |FROM (
       | SELECT * FROM per
       | UNION ALL
       | SELECT '~TOTAL', CAST(count(*) AS BIGINT), CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(must_read) AS BIGINT), CAST(sum(n_match) AS BIGINT), '~TOTAL',
       |  CAST(sum(scan_share_e6) AS BIGINT)
       | FROM per)
       |ORDER BY zcell""".stripMargin
  }

  /** p20 dials: a run repairs at most [[BackfillBatchDays]] consecutive
    * days, and a calendar day is already materialized while its stable
    * md5 bucket < [[MaterializedPct]] (the d8/t5 simulation convention —
    * 45% missing: a big backfill, which is exactly when a planner
    * matters; a real ledger is the table's partition manifest). */
  val BackfillBatchDays = 7
  val MaterializedPct = 55

  /** `p20_backfill_plan`: missing-partition backfill planning — the
    * orchestration staple (Airflow's backfill, Dagster's partition
    * status) as a query: diff the calendar spine (p9's dim) against the
    * materialized-partition ledger, coalesce the missing days into
    * contiguous islands (gaps-and-islands via the idx − row_number
    * constant), and split each island into runs of at most
    * [[BackfillBatchDays]] days — one output row per run a scheduler
    * would launch, in order. Runs never span a year boundary (the
    * partition-root alignment real backfills keep), which also keys
    * every window by `yr` — no unpartitioned window exists in the plan.
    *
    * Scale: the spine is calendar-sized metadata (days, not facts) and
    * the ledger is a manifest — the whole plan is windows over a frame
    * that is thousands of rows when the table is petabytes. */
  def p20BackfillPlan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val days = p9DateDim(spark, dir)
      .select(col("date_str"), col("yr"),
        datediff(to_date(col("date_str")), lit("1995-01-01").cast("date"))
          .cast("long").as("idx"))
    val missing = days.filter(
      graft.functions.TextFunctions.md5Long60(col("date_str")) % 100 >= MaterializedPct)
    val wYr = Window.partitionBy(col("yr")).orderBy(col("idx"))
    val wIsl = Window.partitionBy(col("yr"), col("island")).orderBy(col("idx"))
    missing
      .withColumn("island", col("idx") - row_number().over(wYr))
      .withColumn("pos", row_number().over(wIsl).cast("long"))
      .withColumn("run_seq", expr(s"(pos - 1) div $BackfillBatchDays"))
      .groupBy(col("yr"), col("island"), col("run_seq"))
      .agg(min(col("date_str")).as("run_start"), max(col("date_str")).as("run_end"),
        count(lit(1)).as("n_days"))
      .select(col("yr"), col("run_start"), col("run_end"), col("n_days"))
      .orderBy(col("run_start"))
  }

  val p20Oracle: String =
    s"""WITH days AS (
       | SELECT strftime(d, '%Y-%m-%d') AS date_str, year(d) AS yr,
       |  date_diff('day', DATE '1995-01-01', d) AS idx
       | FROM (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1998-12-31',
       |   INTERVAL 1 DAY))::DATE AS d)),
       |miss AS (
       | SELECT * FROM days
       | WHERE CAST(('0x' || substr(md5(date_str), 1, 15)) AS BIGINT) % 100
       |   >= $MaterializedPct),
       |r AS (
       | SELECT date_str, yr, idx,
       |  idx - row_number() OVER (PARTITION BY yr ORDER BY idx) AS island
       | FROM miss),
       |p AS (
       | SELECT *, row_number() OVER (PARTITION BY yr, island ORDER BY idx) AS pos
       | FROM r)
       |SELECT yr, min(date_str) AS run_start, max(date_str) AS run_end,
       | CAST(count(*) AS BIGINT) AS n_days
       |FROM p GROUP BY yr, island, (pos - 1) // $BackfillBatchDays
       |ORDER BY run_start""".stripMargin

  val p16Oracle: String = {
    val grid = 1L << ZGridBits
    s"""WITH o AS (
       | SELECT o_orderkey, epoch_us(o_orderdate) // ${86400L * 1000000L} AS day,
       |  o_custkey AS cust
       | FROM orders),
       |s AS (SELECT min(day) AS day_min, max(day) AS day_max,
       |  min(cust) AS cust_min, max(cust) AS cust_max FROM o),
       |g AS (
       | SELECT ((day - day_min) * $grid) // (day_max - day_min + 1) AS xn,
       |  ((cust - cust_min) * $grid) // (cust_max - cust_min + 1) AS yn
       | FROM o CROSS JOIN s),
       |z AS (
       | SELECT CAST(list_sum(list_transform(range(0, 16), i ->
       |    (((xn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER)))
       |    + (((yn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER) + 1))))
       |   AS BIGINT) AS zkey
       | FROM g),
       |files AS (
       | SELECT zkey >> ${2 * ZGridBits - ZFileBits} AS zcell,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(*) * $RowBytes AS BIGINT) AS bytes
       | FROM z GROUP BY 1),
       |t AS (SELECT sum(bytes) AS total FROM files),
       |a AS (
       | SELECT zcell, n_rows, bytes,
       |  COALESCE(sum(bytes) OVER (ORDER BY zcell
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
       |  (total + ${CompactBins - 1}) // $CompactBins AS target
       | FROM files CROSS JOIN t)
       |SELECT CAST(cum_before // target AS BIGINT) AS bin,
       | CAST(count(*) AS BIGINT) AS n_files,
       | CAST(sum(n_rows) AS BIGINT) AS n_rows, CAST(sum(bytes) AS BIGINT) AS bytes,
       | min(zcell) AS z_lo, max(zcell) AS z_hi
       |FROM a GROUP BY 1 ORDER BY bin""".stripMargin
  }

  /** p21: every ErasureMod-th customer key has filed a delete request —
    * the deterministic stand-in for a right-to-be-forgotten request
    * table (real lists arrive as key sets; the mod keeps the oracle
    * self-contained). */
  val ErasureMod = 97L

  /** p21: target band count for the manifest range join — the fan-out
    * cap per file when the BETWEEN is de-correlated into band equi-joins
    * (band width = global key range / ErasureBands, manifest-derived). */
  val ErasureBands = 256L

  /** `p21_erasure_plan`: GDPR / right-to-be-forgotten erasure planning
    * over the z-order layout — given a delete-request key list (every
    * [[ErasureMod]]-th customer), which files must be REWRITTEN (they
    * contain a victim row), which would be read in vain (their
    * `cust_min..cust_max` manifest range covers a requested key that is
    * not actually present — the false-positive read a min/max manifest
    * cannot avoid), and which are provably skippable from stats alone.
    * One row per file (zcell) + a ~TOTAL row; `rewrite_rows` is the
    * rows that must be rewritten to drop `n_victims` — the write
    * amplification of the erasure.
    *
    * Scale: the request list is equi-joined everywhere it is used — once
    * against the fact inside the ONE grouped scan that builds the
    * manifest (in production the manifest is read from table metadata,
    * not rebuilt), and once against the file-grained manifest via the
    * q23 band trick: the raw `rk BETWEEN cust_min AND cust_max` range
    * join would plan a nested loop (requests are data-proportional, so
    * neither side is provably bounded — the suite-wide PlanSpec pin
    * rejects it), so each file's key range explodes into ~[[ErasureBands]]
    * manifest-stat-derived bands and the join runs band = band with the
    * exact BETWEEN as a post-filter. Fan-out is ≤ ErasureBands per file
    * at ANY scale because the band width is derived from the manifest's
    * own global key range. No fact-fact join, nothing request-sized ever
    * nested-loops. The oracle keeps the textbook BETWEEN form, so the
    * hash-match proves the band de-correlation. */
  def p21ErasurePlan(spark: SparkSession, dir: String): DataFrame = {
    val req = graft.Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % ErasureMod === 0)
      .select(col("c_custkey").as("rk"))
    val files = zkeyedOrders(spark, dir)
      .withColumn("zcell",
        shiftrightunsigned(col("zkey"), 2 * ZGridBits - ZFileBits))
      .join(broadcast(req), col("cust") === col("rk"), "left")
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cust")).as("cust_min"), max(col("cust")).as("cust_max"),
        count(col("rk")).as("n_victims"))
      .localCheckpoint(true) // manifest-sized; read by range count + plan
    // band width from the manifest's own global range: bands stay
    // ~ErasureBands wide regardless of key-domain growth
    val gstats = files.agg(min(col("cust_min")).as("glo"),
      max(col("cust_max")).as("ghi"))
    val bw = s"((ghi - glo) div $ErasureBands + 1)"
    val fileBands = files.select(col("zcell"), col("cust_min"), col("cust_max"))
      .crossJoin(broadcast(gstats))
      .withColumn("band", explode(expr(
        s"sequence((cust_min - glo) div $bw, (cust_max - glo) div $bw)")))
      .select(col("zcell"), col("cust_min"), col("cust_max"), col("band"))
    val reqBands = req.crossJoin(broadcast(gstats))
      // requests outside the manifest's range land in out-of-range bands
      // and simply never match — they cannot be inside any file range
      .withColumn("band", expr(s"(rk - glo) div $bw"))
      .select(col("rk"), col("band"))
    val hits = fileBands.join(reqBands, Seq("band"))
      .filter(col("rk").between(col("cust_min"), col("cust_max")))
      .groupBy(col("zcell")).agg(count(lit(1)).as("hits"))
    val rc = files.select(col("zcell")).join(hits, Seq("zcell"), "left")
      .withColumn("n_req_in_range", coalesce(col("hits"), lit(0L)))
      .select(col("zcell"), col("n_req_in_range"))
    val per = files.join(rc, Seq("zcell"))
      .withColumn("verdict",
        when(col("n_victims") > 0, "rewrite")
          .when(col("n_req_in_range") > 0, "false_read")
          .otherwise("skipped"))
      .withColumn("rewrite_rows",
        when(col("n_victims") > 0, col("n_rows")).otherwise(0L))
      .select(col("zcell").cast("string").as("zcell"), lit(1L).as("n_files"),
        col("n_rows"), col("n_req_in_range"), col("n_victims"),
        col("verdict"), col("rewrite_rows"))
    val totRow = per.agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("n_req_in_range")).as("n_req_in_range"),
        sum(col("n_victims")).as("n_victims"),
        sum(col("rewrite_rows")).as("rewrite_rows"))
      .select(lit("~TOTAL").as("zcell"), col("n_files"), col("n_rows"),
        col("n_req_in_range"), col("n_victims"), lit("~TOTAL").as("verdict"),
        col("rewrite_rows"))
    per.unionByName(totRow).orderBy(col("zcell"))
  }

  val p21Oracle: String = {
    val grid = 1L << ZGridBits
    s"""WITH o AS (
       | SELECT o_orderkey, epoch_us(o_orderdate) // ${86400L * 1000000L} AS day,
       |  o_custkey AS cust
       | FROM orders),
       |s AS (SELECT min(day) AS day_min, max(day) AS day_max,
       |  min(cust) AS cust_min, max(cust) AS cust_max FROM o),
       |g AS (
       | SELECT cust,
       |  ((day - day_min) * $grid) // (day_max - day_min + 1) AS xn,
       |  ((cust - cust_min) * $grid) // (cust_max - cust_min + 1) AS yn
       | FROM o CROSS JOIN s),
       |z AS (
       | SELECT cust, CAST(list_sum(list_transform(range(0, 16), i ->
       |    (((xn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER)))
       |    + (((yn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER) + 1))))
       |   AS BIGINT) AS zkey
       | FROM g),
       |req AS (SELECT c_custkey AS rk FROM customer WHERE c_custkey % $ErasureMod = 0),
       |f AS (
       | SELECT zkey >> ${2 * ZGridBits - ZFileBits} AS zcell,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  min(cust) AS cust_min, max(cust) AS cust_max,
       |  CAST(count(rk) AS BIGINT) AS n_victims
       | FROM z LEFT JOIN req ON rk = cust GROUP BY 1),
       |rc AS (
       | SELECT zcell, CAST(count(rk) AS BIGINT) AS n_req_in_range
       | FROM f LEFT JOIN req ON rk BETWEEN cust_min AND cust_max GROUP BY 1),
       |per AS (
       | SELECT CAST(f.zcell AS VARCHAR) AS zcell, CAST(1 AS BIGINT) AS n_files,
       |  n_rows, n_req_in_range, n_victims,
       |  CASE WHEN n_victims > 0 THEN 'rewrite'
       |   WHEN n_req_in_range > 0 THEN 'false_read' ELSE 'skipped' END AS verdict,
       |  CAST(CASE WHEN n_victims > 0 THEN n_rows ELSE 0 END AS BIGINT)
       |    AS rewrite_rows
       | FROM f JOIN rc ON rc.zcell = f.zcell)
       |SELECT zcell, n_files, n_rows, n_req_in_range, n_victims, verdict,
       | rewrite_rows
       |FROM (
       | SELECT * FROM per
       | UNION ALL
       | SELECT '~TOTAL', CAST(count(*) AS BIGINT), CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(n_req_in_range) AS BIGINT), CAST(sum(n_victims) AS BIGINT),
       |  '~TOTAL', CAST(sum(rewrite_rows) AS BIGINT)
       | FROM per)
       |ORDER BY zcell""".stripMargin
  }

  /** p22 policy: partitions younger than 6 months serve interactively
    * (HOT), younger than 24 warm, the rest cold; the previous policy run
    * happened [[TierReviewLagMonths]] months ago, so this plan's moves
    * are exactly one review period's aging. */
  val HotMonths = 6L
  val WarmMonths = 24L
  val TierReviewLagMonths = 3L
  /** Manifest-style size estimate: avg encoded order-row width. The plan
    * prices moves from row counts × this constant the way a table
    * manifest prices file sizes — no data is read to cost the plan. */
  val OrderRowBytes = 128L

  /** `p22_tier_plan`: storage-tier aging — the lifecycle-management plane
    * completed (compact p16, prune-audit p19, backfill p20, erase p21,
    * AGE p22). Partitions are order months; each gets its current tier
    * from its age at the latest data month and its previous tier from
    * the review [[TierReviewLagMonths]] months earlier (months newer
    * than that review are NEW — arrivals, not moves). The action column
    * is the migration order a lifecycle policy would emit this review:
    * exactly the partitions whose age crossed a tier boundary since last
    * time, priced in estimated bytes from the ledger alone.
    *
    * Scale: one grouped scan of the fact builds the month ledger
    * (thousands of rows for petabytes of data — in production read from
    * table metadata, not rebuilt); the max-month scalar attaches via a
    * broadcast 1-row crossjoin; every tier decision is integer month
    * arithmetic on ledger rows. Nothing data-sized survives the first
    * aggregate. */
  def p22TierPlan(spark: SparkSession, dir: String): DataFrame = {
    val led = graft.Tables.load(spark, dir, "orders")
      .select(
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("m"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .groupBy(col("ym"), col("m")).agg(count(lit(1)).as("n_rows"))
    val mx = led.agg(max(col("m")).as("max_m"))
    def tier(age: Column): Column =
      when(age < HotMonths, "HOT").when(age < WarmMonths, "WARM")
        .otherwise("COLD")
    led.crossJoin(broadcast(mx))
      .withColumn("age", col("max_m") - col("m"))
      .withColumn("tier_to", tier(col("age")))
      .withColumn("tier_from",
        when(col("age") < TierReviewLagMonths, "NEW")
          .otherwise(tier(col("age") - TierReviewLagMonths)))
      .withColumn("action",
        when(col("tier_from") === col("tier_to"), "stay").otherwise("move"))
      .select(col("ym"), col("n_rows"),
        (col("n_rows") * lit(OrderRowBytes)).as("est_bytes"),
        col("tier_from"), col("tier_to"), col("action"))
      .orderBy(col("ym"))
  }

  val p22Oracle: String =
    s"""WITH led AS (
       | SELECT strftime(o_orderdate, '%Y-%m') AS ym,
       |  year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
       |  CAST(count(*) AS BIGINT) AS n_rows
       | FROM orders GROUP BY 1, 2),
       |mx AS (SELECT max(m) AS max_m FROM led),
       |aged AS (
       | SELECT ym, n_rows, max_m - m AS age FROM led CROSS JOIN mx),
       |t AS (
       | SELECT ym, n_rows,
       |  CASE WHEN age < $TierReviewLagMonths THEN 'NEW'
       |   WHEN age - $TierReviewLagMonths < $HotMonths THEN 'HOT'
       |   WHEN age - $TierReviewLagMonths < $WarmMonths THEN 'WARM'
       |   ELSE 'COLD' END AS tier_from,
       |  CASE WHEN age < $HotMonths THEN 'HOT'
       |   WHEN age < $WarmMonths THEN 'WARM' ELSE 'COLD' END AS tier_to
       | FROM aged)
       |SELECT ym, n_rows, n_rows * $OrderRowBytes AS est_bytes,
       | tier_from, tier_to,
       | CASE WHEN tier_from = tier_to THEN 'stay' ELSE 'move' END AS action
       |FROM t ORDER BY ym""".stripMargin

  /** p23 bloom layout dials: rows per simulated data file, filter width
    * in bits (as 32-bit words under a `bit_or` aggregate — every engine
    * holds the mask exactly in a signed 64-bit int), hash count, and the
    * deterministic probe-set rule (every 17th customer key). */
  val BloomFileRows = 256L
  val BloomBits = 4096L
  val BloomWordBits = 32L
  val BloomHashes = 3
  val BloomProbeMod = 17L

  /** `p23_bloom_index`: bloom-filter file-skipping index build + probe
    * audit — the data-skipping companion to p19/p21's min/max manifest.
    * Files here are laid out by INSERTION order (`o_orderkey` ranges),
    * so a min/max manifest on the probe key `o_custkey` is useless —
    * every file spans the whole customer domain. A per-file bloom
    * filter (4096 bits, 3 md5-derived hashes) is the standard answer:
    * build the index, then for a deterministic probe-key set report how
    * many files the bloom admits (`n_candidate_files`) vs how many truly
    * contain the key (`n_true_files`) — the false-positive read cost of
    * the layout, per probe.
    *
    * Scale: the build explodes the fact ×3 hash positions and collapses
    * via `bit_or` partials into ≤128 words per file BEFORE the exchange
    * — the index is metadata-sized (files × words) from the first
    * shuffle on. Probes are a query-sized lookup set (the s1 contract),
    * broadcast into a `word` equi-join against the index; nothing
    * fact-sized joins anything fact-sized, and the truth audit is one
    * pushed-filter scan (`key % mod = 0` reaches the parquet reader)
    * grouped on its own key. All bit arithmetic is exact signed-64
    * integer math shared verbatim with the oracle. */
  def p23BloomIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.md5Long60
    val rows = graft.Tables.load(spark, dir, "orders")
      .select(expr(s"o_orderkey div $BloomFileRows").as("file_id"),
        col("o_custkey").as("key"))
    def positions(keyCol: Column): Column =
      pmod(md5Long60(concat_ws("|", lit("p23"), col("i"), keyCol)),
        lit(BloomBits))
    val index = rows
      .select(col("file_id"), col("key"),
        explode(expr(s"sequence(0, ${BloomHashes - 1})")).as("i"))
      .withColumn("pos", positions(col("key")))
      .withColumn("word", expr(s"pos div $BloomWordBits"))
      .withColumn("mask",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomWordBits AS INT))"))
      .groupBy(col("file_id"), col("word"))
      .agg(expr("bit_or(mask)").as("bits"))
    val probes = graft.Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % BloomProbeMod === 0)
      .select(col("c_custkey").as("pk"))
    val ppairs = probes
      .select(col("pk"), explode(expr(s"sequence(0, ${BloomHashes - 1})")).as("i"))
      .withColumn("pos", positions(col("pk")))
      .withColumn("word", expr(s"pos div $BloomWordBits"))
      .withColumn("pmask",
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos % $BloomWordBits AS INT))"))
      .select(col("pk"), col("i"), col("word"), col("pmask"))
    val cand = index.join(broadcast(ppairs), Seq("word"))
      .filter(col("bits").bitwiseAND(col("pmask")) =!= 0L)
      .groupBy(col("pk"), col("file_id")).agg(count(lit(1)).as("nh"))
      .filter(col("nh") === BloomHashes.toLong)
      .groupBy(col("pk")).agg(count(lit(1)).as("cand_files"))
    val truth = rows.filter(col("key") % BloomProbeMod === 0)
      .select(col("key"), col("file_id")).distinct()
      .groupBy(col("key")).agg(count(lit(1)).as("true_files"))
    val tot = rows.select(col("file_id")).distinct()
      .agg(count(lit(1)).as("n_files"))
    probes
      .join(cand, Seq("pk"), "left")
      .join(truth, col("pk") === col("key"), "left")
      .crossJoin(broadcast(tot))
      .select(col("pk"), col("n_files"),
        coalesce(col("cand_files"), lit(0L)).as("n_candidate_files"),
        coalesce(col("true_files"), lit(0L)).as("n_true_files"),
        (coalesce(col("cand_files"), lit(0L)) -
          coalesce(col("true_files"), lit(0L))).as("n_false_pos"))
      .orderBy(col("pk"))
  }

  val p23Oracle: String =
    s"""WITH r AS (
       | SELECT o_orderkey // $BloomFileRows AS file_id, o_custkey AS key
       | FROM orders),
       |pb AS (
       | SELECT file_id, key, i,
       |  CAST(('0x' || substr(md5('p23|' || CAST(i AS VARCHAR) || '|' ||
       |    CAST(key AS VARCHAR)), 1, 15)) AS BIGINT) % $BloomBits AS pos
       | FROM (SELECT file_id, key, unnest(range($BloomHashes)) AS i FROM r)),
       |idx AS (
       | SELECT file_id, pos // $BloomWordBits AS word,
       |  bit_or(1::BIGINT << CAST(pos % $BloomWordBits AS INTEGER)) AS bits
       | FROM pb GROUP BY 1, 2),
       |probes AS (
       | SELECT c_custkey AS pk FROM customer WHERE c_custkey % $BloomProbeMod = 0),
       |ppw AS (
       | SELECT pk, i, pos // $BloomWordBits AS word,
       |  1::BIGINT << CAST(pos % $BloomWordBits AS INTEGER) AS pmask
       | FROM (
       |  SELECT pk, i,
       |   CAST(('0x' || substr(md5('p23|' || CAST(i AS VARCHAR) || '|' ||
       |     CAST(pk AS VARCHAR)), 1, 15)) AS BIGINT) % $BloomBits AS pos
       |  FROM (SELECT pk, unnest(range($BloomHashes)) AS i FROM probes))),
       |cand AS (
       | SELECT pk, CAST(count(*) AS BIGINT) AS cand_files FROM (
       |  SELECT pk, file_id, count(*) AS nh
       |  FROM idx JOIN ppw USING (word) WHERE (bits & pmask) <> 0
       |  GROUP BY 1, 2)
       | WHERE nh = $BloomHashes GROUP BY pk),
       |tr AS (
       | SELECT key AS pk, CAST(count(DISTINCT file_id) AS BIGINT) AS true_files
       | FROM r WHERE key % $BloomProbeMod = 0 GROUP BY 1),
       |tot AS (SELECT CAST(count(DISTINCT file_id) AS BIGINT) AS n_files FROM r)
       |SELECT pk, n_files,
       | COALESCE(cand_files, 0) AS n_candidate_files,
       | COALESCE(true_files, 0) AS n_true_files,
       | COALESCE(cand_files, 0) - COALESCE(true_files, 0) AS n_false_pos
       |FROM probes CROSS JOIN tot
       | LEFT JOIN cand USING (pk) LEFT JOIN tr USING (pk)
       |ORDER BY pk""".stripMargin

  /** `p24_overlap_depth`: clustering-depth audit of the z-order layout —
    * for every file, how many OTHER files' customer-key ranges overlap
    * its own (the Iceberg/Delta "clustering depth" metric: a point/range
    * read on this dim must touch 1 + n_overlaps files; rising overlap is
    * the signal that p16's compaction is due). Per file: range, rows,
    * overlap count; plus a ~TOTAL row with the file count and total
    * overlap pairs (2× the unordered pair count).
    *
    * Scale: NO pair join at all — not even a banded one (overlapping
    * ranges share MANY bands, so a band self-join degrades toward
    * files²·bands on a hot layout). Instead the interval-overlap
    * identity `overlaps(f) = |{g: lo_g ≤ hi_f}| − |{g: hi_g < lo_f}| − 1`
    * reduces the audit to two rank lookups, each computed as a
    * union-sort: endpoint events and per-file query points merge into
    * one value-ordered stream (tie column encodes ≤ vs < semantics) and
    * a [[PrefixSum]] reads the running event count at each query row.
    * O(n log n) in files, linear shuffles — the shape that survives a million-file manifest.
    * The oracle states the textbook pairwise BETWEEN form, so the
    * hash-match proves the rank identity. */
  def p24OverlapDepth(spark: SparkSession, dir: String): DataFrame = {
    val files = zkeyedOrders(spark, dir)
      .withColumn("zcell",
        shiftrightunsigned(col("zkey"), 2 * ZGridBits - ZFileBits))
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("cust")).as("lo"), max(col("cust")).as("hi"))
      .localCheckpoint(true) // manifest-sized; two rank passes + report
    // running event count at each query row, over (v, tie) order:
    // tie=0 rows count before tie=1 rows at equal v
    def rankAt(events: DataFrame, queries: DataFrame): DataFrame = {
      val u = events.select(col("v"), col("tie"), lit(1L).as("e"),
          lit(null).cast("string").as("qz"))
        .unionByName(queries.select(col("v"), col("tie"), lit(0L).as("e"),
          col("qz")))
      PrefixSum(u, Seq(col("v"), col("tie"), col("qz")), None, 0)
        .runningSums("e" -> "cnt")
        .filter(col("qz").isNotNull)
        .select(col("qz"), col("cnt"))
    }
    val zStr = col("zcell").cast("string")
    // |{g: lo_g <= hi_f}|: lo events count INCLUSIVELY -> events tie 0
    val loLE = rankAt(
      files.select(col("lo").as("v"), lit(0L).as("tie")),
      files.select(col("hi").as("v"), lit(1L).as("tie"), zStr.as("qz")))
      .withColumnRenamed("cnt", "n_lo_le")
    // |{g: hi_g < lo_f}|: hi events count STRICTLY -> queries tie 0
    val hiLT = rankAt(
      files.select(col("hi").as("v"), lit(1L).as("tie")),
      files.select(col("lo").as("v"), lit(0L).as("tie"), zStr.as("qz")))
      .withColumnRenamed("cnt", "n_hi_lt")
    val per = files.select(zStr.as("zcell"), col("n_rows"), col("lo"), col("hi"))
      .join(loLE, col("zcell") === loLE("qz")).drop("qz")
      .join(hiLT, col("zcell") === hiLT("qz")).drop("qz")
      .select(col("zcell"), col("n_rows"), col("lo"), col("hi"),
        (col("n_lo_le") - col("n_hi_lt") - 1L).as("n_overlaps"))
    val tot = per.agg(count(lit(1)).as("n_rows_t"),
        sum(col("n_overlaps")).as("pairs2x"))
      .select(lit("~TOTAL").as("zcell"), col("n_rows_t").as("n_rows"),
        lit(null).cast("long").as("lo"), lit(null).cast("long").as("hi"),
        col("pairs2x").as("n_overlaps"))
    per.unionByName(tot).orderBy(col("zcell"))
  }

  val p24Oracle: String = {
    val grid = 1L << ZGridBits
    s"""WITH o AS (
       | SELECT epoch_us(o_orderdate) // ${86400L * 1000000L} AS day,
       |  o_custkey AS cust
       | FROM orders),
       |s AS (SELECT min(day) AS day_min, max(day) AS day_max,
       |  min(cust) AS cust_min, max(cust) AS cust_max FROM o),
       |g AS (
       | SELECT cust,
       |  ((day - day_min) * $grid) // (day_max - day_min + 1) AS xn,
       |  ((cust - cust_min) * $grid) // (cust_max - cust_min + 1) AS yn
       | FROM o CROSS JOIN s),
       |z AS (
       | SELECT cust, CAST(list_sum(list_transform(range(0, 16), i ->
       |    (((xn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER)))
       |    + (((yn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER) + 1))))
       |   AS BIGINT) AS zkey
       | FROM g),
       |f AS (
       | SELECT zkey >> ${2 * ZGridBits - ZFileBits} AS zcell,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  min(cust) AS lo, max(cust) AS hi
       | FROM z GROUP BY 1),
       |ov AS (
       | SELECT a.zcell, CAST(count(*) AS BIGINT) AS n_overlaps
       | FROM f a JOIN f b ON a.zcell <> b.zcell
       |  AND b.lo <= a.hi AND b.hi >= a.lo
       | GROUP BY 1),
       |per AS (
       | SELECT CAST(f.zcell AS VARCHAR) AS zcell, f.n_rows, f.lo, f.hi,
       |  COALESCE(ov.n_overlaps, 0) AS n_overlaps
       | FROM f LEFT JOIN ov ON f.zcell = ov.zcell)
       |SELECT zcell, n_rows, lo, hi, n_overlaps FROM per
       |UNION ALL
       |SELECT '~TOTAL', CAST(count(*) AS BIGINT), NULL, NULL,
       | CAST(sum(n_overlaps) AS BIGINT)
       |FROM per
       |ORDER BY zcell""".stripMargin
  }

  /** `p25_snapshot_chain`: the Iceberg-style snapshot LOG over the
    * orders table — the lakehouse metadata plane's time axis, completing
    * p19-p24's single-manifest family with a VERSIONED chain. The model:
    * each calendar month of `o_orderdate` lands as one data file (one
    * snapshot version per landing, in month order); when the first month
    * of a new calendar year lands, a compaction snapshot replaces the
    * completed year's month-files with ONE year-file (the OPTIMIZE step
    * every lakehouse schedules — the shipped corpus lands contiguous
    * years, which is what the year-closure trigger assumes; a production
    * chain would trigger on date, not adjacency). Per version: the
    * landing month, its row count, files added/removed by the snapshot,
    * and the LIVE totals after it (file count, rows, running value —
    * summed in `Decimal(38,0)`, the q43 envelope discipline: a century of
    * 100-TB landings stays exact; EMITTED as digits-string, because an
    * emitted DECIMAL column is hash-unsafe in the driver's typed-value
    * check even when values are bit-identical — r15's two red rows).
    * `live_files` folds the chain's own add/remove events cumulatively,
    * so the count stays consistent even on a non-contiguous calendar
    * (where a gap year's months simply never compact).
    *
    * [[p25AsOf]] is the read path: resolve any version to its live file
    * set (year-files for closed years + month-files for the in-progress
    * year); `PipelineSpec` pins as-of(v) == the v-th manifest replayed.
    *
    * Scale: the fact is touched ONCE (the month aggregation — one
    * map-side-partial shuffle); everything after runs on the
    * manifest-grained month table (`mo` — calendar grain, ≤ 1.2k rows
    * per century of data regardless of fact size; the PlanSpec
    * window-grain allowlist admits it as metadata-sized), exactly how an
    * engine reads a real snapshot log: sequentially, off metadata. */
  def p25SnapshotChain(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mf = monthManifest(spark, dir)
    val yearCounts = mf.groupBy(col("yr")).agg(count(lit(1)).as("n_m"))
    val wCum = Window.orderBy(col("mo"))
      .rowsBetween(Window.unboundedPreceding, 0)
    mf
      .withColumn("version",
        row_number().over(Window.orderBy(col("mo"))).cast("long"))
      .withColumn("live_rows", sum(col("n_rows")).over(wCum))
      .withColumn("live_cents",
        sum(col("cents").cast("decimal(38,0)")).over(wCum))
      .withColumn("pos_in_yr", row_number()
        .over(Window.partitionBy(col("yr")).orderBy(col("mo"))).cast("long"))
      .join(broadcast(yearCounts.select((col("yr") + 1).as("yr"),
        col("n_m").as("prev_n_m"))), Seq("yr"), "left")
      .withColumn("removed", when(col("pos_in_yr") === 1,
        coalesce(col("prev_n_m"), lit(0L))).otherwise(lit(0L)))
      .withColumn("added",
        lit(1L) + when(col("removed") > 0, 1L).otherwise(0L))
      // live_files from the CUMULATIVE add/remove events, not the
      // yr_idx-1+pos_in_yr closed form: the closed form silently assumed
      // contiguous calendar years (a gap year's months never compact —
      // the yr+1 lookup misses — yet the closed form still counted a
      // year-file for it, leaving the chain internally inconsistent).
      // The event sum is consistent by construction on ANY calendar and
      // identical on contiguous ones; still manifest-grained.
      .withColumn("live_files", sum(col("added") - col("removed")).over(wCum))
      .select(col("version"), col("mo"), col("yr"), col("n_rows"),
        col("added"), col("removed"), col("live_files"), col("live_rows"),
        // emitted-decimal is hash-unsafe in the driver's typed-value
        // check (r15's only red rows); the Decimal(38,0) running sum
        // stays internal, the emitted column renders as digits — exact
        // at any scale, hash-stable (PropertySpec pins the class out)
        col("live_cents").cast("string").as("live_cents"))
      .orderBy(col("version"))
  }

  /** One manifest row per landing month: the metadata frame every p25
    * consumer runs on. */
  private def monthManifest(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"),
        year(col("o_orderdate")).cast("long").as("yr"),
        floor(col("o_totalprice") * 100).cast("long").as("cents"))
      .groupBy(col("mo"), col("yr"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      // deliberately NOT checkpointed: the windows downstream must read a
      // visible Aggregate(mo, yr) so PlanSpec's grain pin can PROVE the
      // unpartitioned prefix sums run on the calendar manifest, not a
      // leaf of unknowable grain; re-deriving this aggregate costs one
      // extra pruned scan per consumer, which at metadata grain is noise

  /** [[monthManifest]] with each month's snapshot `version` (1-based, in
    * landing order), checkpointed: calendar-grained, and p27, p28 and
    * p41 each read it several times. */
  private def versionedManifest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    monthManifest(spark, dir)
      .withColumn("version",
        row_number().over(Window.orderBy(col("mo"))).cast("long"))
      .localCheckpoint(true)
  }

  /** Every file of the snapshot chain (p27, p41): a month-file is born at
    * its landing version and removed at the next year's first version
    * (-1 while live), which is also where its year-file is born; a
    * year-file is never removed. */
  private def chainFiles(ver: DataFrame): DataFrame = {
    val yrFirst = ver.groupBy(col("yr"))
      .agg(min(col("version")).as("y_first"), sum(col("n_rows")).as("y_rows"))
    val monthFiles = ver
      .join(broadcast(yrFirst.select((col("yr") - 1).as("yr"),
        col("y_first").as("removed_v"))), Seq("yr"), "left")
      .select(concat(lit("month_"), col("mo").cast("string")).as("key"),
        lit("month").as("kind"), col("version").as("born_v"),
        coalesce(col("removed_v"), lit(-1L)).as("removed_v"), col("n_rows"))
    val yearFiles = yrFirst.as("a")
      .join(broadcast(yrFirst.select(col("yr"), col("y_first")).as("b")),
        col("b.yr") === col("a.yr") + 1)
      .select(concat(lit("year_"), col("a.yr").cast("string")).as("key"),
        lit("year").as("kind"), col("b.y_first").as("born_v"),
        lit(-1L).as("removed_v"), col("a.y_rows").as("n_rows"))
    monthFiles.unionByName(yearFiles)
  }

  /** Time-travel read path: the live file set at `version` — year-files
    * for every closed year, month-files for the in-progress one. The
    * version row itself is a 1-row collect off the manifest (the
    * snapshot-log lookup every as-of read starts with). */
  def p25AsOf(spark: SparkSession, dir: String, version: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mf = monthManifest(spark, dir)
    val at = mf
      .withColumn("version",
        row_number().over(Window.orderBy(col("mo"))).cast("long"))
      .filter(col("version") === version)
      .select(col("mo"), col("yr")).collect()
    require(at.nonEmpty, s"version $version not in the snapshot log")
    val (moV, yrV) = (at(0).getLong(0), at(0).getLong(1))
    val years = mf.filter(col("yr") < yrV).groupBy(col("yr"))
      .agg(sum(col("n_rows")).as("n_rows"))
      .select(lit("year").as("file_kind"), col("yr").as("file_key"),
        col("n_rows"))
    val months = mf.filter(col("yr") === yrV && col("mo") <= moV)
      .select(lit("month").as("file_kind"), col("mo").as("file_key"),
        col("n_rows"))
    years.unionByName(months).orderBy(col("file_kind"), col("file_key"))
  }

  private val p25Oracle: String =
    """WITH mf AS (
      | SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mo,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      | FROM orders GROUP BY 1, 2),
      |yc AS (SELECT yr, CAST(count(*) AS BIGINT) AS n_m FROM mf GROUP BY 1),
      |v AS (
      | SELECT mf.*,
      |  CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS version,
      |  CAST(sum(n_rows) OVER (ORDER BY mo ROWS UNBOUNDED PRECEDING) AS BIGINT) AS live_rows,
      |  CAST(sum(cents) OVER (ORDER BY mo ROWS UNBOUNDED PRECEDING) AS DECIMAL(38,0)) AS live_cents,
      |  CAST(row_number() OVER (PARTITION BY yr ORDER BY mo) AS BIGINT) AS pos_in_yr
      | FROM mf),
      |ch AS (
      | SELECT v.version, v.mo, v.yr, v.n_rows,
      |  CAST(1 + CASE WHEN v.pos_in_yr = 1 AND COALESCE(p.n_m, 0) > 0
      |    THEN 1 ELSE 0 END AS BIGINT) AS added,
      |  CAST(CASE WHEN v.pos_in_yr = 1 THEN COALESCE(p.n_m, 0) ELSE 0 END
      |    AS BIGINT) AS removed,
      |  v.live_rows, v.live_cents
      | FROM v LEFT JOIN yc p ON p.yr = v.yr - 1)
      |SELECT version, mo, yr, n_rows, added, removed,
      | CAST(sum(added - removed)
      |   OVER (ORDER BY version ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |   AS live_files,
      | live_rows, CAST(live_cents AS VARCHAR) AS live_cents
      |FROM ch ORDER BY version""".stripMargin

  /** `p26_partition_evolution`: partition-SPEC evolution — the Iceberg
    * metadata feature the p19-p25 family still lacked: a long-lived
    * table changes its partitioning mid-life (here: month-grain files
    * for the table's early years — spec v1 — then week-grain from the
    * mid-year boundary on — spec v2), old files are NEVER rewritten, and
    * every scan must plan across the MIXED layout. The planner here is
    * honest about how that works in a real lakehouse: pruning never
    * consults the spec's math — each file prunes on its own recorded
    * min/max day STATS (the manifest contract, grain-agnostic), so v1
    * and v2 files flow through one uniform planning pass. What the spec
    * change buys is measured, not assumed: the fixed mid-month audit
    * predicate forces boundary files to be read for rows they only
    * partially contain, and `waste_rows` quantifies it — a month-grain
    * boundary file wastes up to ~3 weeks of I/O where a week-grain file
    * wastes days; the per-spec `~TOTAL` rows carry exactly that
    * comparison (the number the evolution is judged by).
    *
    * Boundaries are data-derived in-plan (min/max year → the mid-year
    * split and the straddling July-15→July-15 audit window attach as a
    * broadcast 1-row aggregate, p19's pattern) — no collect, no config.
    *
    * Scale: the fact is touched ONCE (the (spec, file) aggregate —
    * map-side partial); everything after runs on the file manifest
    * (months + weeks — calendar-grained, ≤ ~6k rows per century
    * regardless of fact size). The exact n_match per file is fused into
    * the same single aggregation, p19's verification fusion. */
  def p26PartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val o = graft.Tables.load(spark, dir, "orders")
      .select(datediff(col("o_orderdate"), lit("1970-01-01"))
          .cast("long").as("day"),
        year(col("o_orderdate")).cast("long").as("yr"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"))
    val bounds = o.agg(min(col("yr")).as("y_lo"), max(col("yr")).as("y_hi"))
      .withColumn("y_mid", expr("(y_lo + y_hi + 1) div 2"))
      .withColumn("p_lo", datediff(
        make_date((col("y_mid") - 1).cast("int"), lit(7), lit(15)),
        lit("1970-01-01")).cast("long"))
      .withColumn("p_hi", datediff(
        make_date(col("y_mid").cast("int"), lit(7), lit(15)),
        lit("1970-01-01")).cast("long"))
      .select(col("y_mid"), col("p_lo"), col("p_hi"))
    val files = o.crossJoin(broadcast(bounds))
      .withColumn("spec",
        when(col("yr") < col("y_mid"), "v1_month").otherwise("v2_week"))
      .withColumn("file_key",
        when(col("yr") < col("y_mid"), col("mo"))
          .otherwise(expr("day div 7")))
      .groupBy(col("spec"), col("file_key"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("day")).as("d_lo"), max(col("day")).as("d_hi"),
        sum(when(col("day") >= col("p_lo") && col("day") < col("p_hi"), 1L)
          .otherwise(0L)).as("n_match"),
        max(col("p_lo")).as("p_lo"), max(col("p_hi")).as("p_hi"))
      .withColumn("must_read",
        when(col("d_lo") < col("p_hi") && col("d_hi") >= col("p_lo"), 1L)
          .otherwise(0L))
      .withColumn("waste_rows",
        when(col("must_read") === 1, col("n_rows") - col("n_match"))
          .otherwise(0L))
      .localCheckpoint(true) // manifest-sized; per-file + totals read it
    val perFile = files.select(
      concat(col("spec"), lit("_"), col("file_key").cast("string")).as("key"),
      col("spec"), lit(1L).as("n_files"), col("n_rows"), col("must_read"),
      col("n_match"), col("waste_rows"))
    val perSpec = files.groupBy(col("spec"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("must_read")).as("must_read"),
        sum(col("n_match")).as("n_match"),
        sum(col("waste_rows")).as("waste_rows"))
      .select(concat(lit("~TOTAL_"), col("spec")).as("key"), col("spec"),
        col("n_files"), col("n_rows"), col("must_read"), col("n_match"),
        col("waste_rows"))
    val totRow = files
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("must_read")).as("must_read"),
        sum(col("n_match")).as("n_match"),
        sum(col("waste_rows")).as("waste_rows"))
      .select(lit("~TOTAL").as("key"), lit("~TOTAL").as("spec"),
        col("n_files"), col("n_rows"), col("must_read"), col("n_match"),
        col("waste_rows"))
    perFile.unionByName(perSpec).unionByName(totRow).orderBy(col("key"))
  }

  private val p26Oracle: String =
    """WITH o AS (
      | SELECT epoch_us(o_orderdate) // 86400000000 AS day,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mo
      | FROM orders),
      |b AS (
      | SELECT (min(yr) + max(yr) + 1) // 2 AS y_mid FROM o),
      |b2 AS (
      | SELECT y_mid,
      |  epoch_us(make_date(CAST(y_mid - 1 AS INTEGER), 7, 15)) // 86400000000 AS p_lo,
      |  epoch_us(make_date(CAST(y_mid AS INTEGER), 7, 15)) // 86400000000 AS p_hi
      | FROM b),
      |f AS (
      | SELECT CASE WHEN yr < y_mid THEN 'v1_month' ELSE 'v2_week' END AS spec,
      |  CASE WHEN yr < y_mid THEN mo ELSE day // 7 END AS file_key,
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  min(day) AS d_lo, max(day) AS d_hi,
      |  CAST(sum(CASE WHEN day >= p_lo AND day < p_hi THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_match,
      |  max(p_lo) AS p_lo, max(p_hi) AS p_hi
      | FROM o CROSS JOIN b2 GROUP BY 1, 2),
      |g AS (
      | SELECT f.*,
      |  CASE WHEN d_lo < p_hi AND d_hi >= p_lo THEN 1 ELSE 0 END AS must_read
      | FROM f),
      |h AS (
      | SELECT g.*,
      |  CASE WHEN must_read = 1 THEN n_rows - n_match ELSE 0 END AS waste_rows
      | FROM g)
      |SELECT key, spec, n_files, n_rows, must_read, n_match, waste_rows FROM (
      | SELECT spec || '_' || CAST(file_key AS VARCHAR) AS key, spec,
      |  CAST(1 AS BIGINT) AS n_files, n_rows, CAST(must_read AS BIGINT) AS must_read,
      |  n_match, waste_rows
      | FROM h
      | UNION ALL
      | SELECT '~TOTAL_' || spec, spec, CAST(count(*) AS BIGINT),
      |  CAST(sum(n_rows) AS BIGINT), CAST(sum(must_read) AS BIGINT),
      |  CAST(sum(n_match) AS BIGINT), CAST(sum(waste_rows) AS BIGINT)
      | FROM h GROUP BY spec
      | UNION ALL
      | SELECT '~TOTAL', '~TOTAL', CAST(count(*) AS BIGINT),
      |  CAST(sum(n_rows) AS BIGINT), CAST(sum(must_read) AS BIGINT),
      |  CAST(sum(n_match) AS BIGINT), CAST(sum(waste_rows) AS BIGINT)
      | FROM h
      |) ORDER BY key""".stripMargin

  /** p27: how many trailing snapshot versions stay time-travelable. 12
    * landings = one calendar year of history, the common lakehouse
    * default. */
  val RetainVersions = 12L

  /** `p27_expire_snapshots`: snapshot expiry + orphan-file reclamation —
    * the GC step that makes p25's chain OPERABLE (Iceberg
    * `expire_snapshots` / Delta VACUUM as a QUERY): a snapshot log that
    * only ever grows keeps every compacted-away month-file on disk
    * forever. Retention contract: the newest [[RetainVersions]] versions
    * stay time-travelable, so a file may be physically deleted only when
    * NO retained version references it. In p25's model a month-file is
    * referenced from its landing version until the version before its
    * year's compaction (`removed_v - 1`); year-files are never removed.
    * Verdict per file: `live` (still in the head snapshot), `retained`
    * (compacted away, but some retained version still resolves to it —
    * deleting it would break as-of reads), `expire` (provably
    * unreferenced; `reclaim_rows` is the payload the delete frees).
    * Grains p26-style: per file, per verdict (`~TOTAL_<verdict>`), and
    * `~TOTAL` — the reclaim number the GC run is judged by.
    *
    * Scale: the fact is touched ONCE (p25's month aggregation);
    * everything after — the version window, the year-compaction join,
    * the retention floor — runs on the calendar-grained manifest
    * (≤1.2k rows/century), checkpointed once for its grain consumers.
    * The retention floor attaches as a broadcast 1-row aggregate (p19's
    * pattern); the year-to-compaction map is a calendar-sized broadcast
    * self-join. Exactly how a real `expire_snapshots` plans: off
    * metadata, never reading data files. */
  def p27ExpireSnapshots(spark: SparkSession, dir: String): DataFrame = {
    val ver = versionedManifest(spark, dir)
    val floorV = ver.agg(max(col("version")).as("max_v"))
      .select(greatest(col("max_v") - RetainVersions + 1, lit(1L))
        .as("min_retained"))
    val files = chainFiles(ver)
      .crossJoin(broadcast(floorV))
      .withColumn("verdict",
        when(col("removed_v") === -1L, "live")
          .when(col("removed_v") - 1 >= col("min_retained"), "retained")
          .otherwise("expire"))
      .withColumn("reclaim_rows",
        when(col("verdict") === "expire", col("n_rows")).otherwise(0L))
      .localCheckpoint(true) // manifest-sized; per-file + totals read it
    val perFile = files.select(col("key"), col("verdict"),
      lit(1L).as("n_files"), col("born_v"), col("removed_v"), col("n_rows"),
      col("reclaim_rows"))
    val perVerdict = files.groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("reclaim_rows")).as("reclaim_rows"))
      .select(concat(lit("~TOTAL_"), col("verdict")).as("key"), col("verdict"),
        col("n_files"), lit(-1L).as("born_v"), lit(-1L).as("removed_v"),
        col("n_rows"), col("reclaim_rows"))
    val totRow = files
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("reclaim_rows")).as("reclaim_rows"))
      .select(lit("~TOTAL").as("key"), lit("~TOTAL").as("verdict"),
        col("n_files"), lit(-1L).as("born_v"), lit(-1L).as("removed_v"),
        col("n_rows"), col("reclaim_rows"))
    perFile.unionByName(perVerdict).unionByName(totRow).orderBy(col("key"))
  }

  private val p27Oracle: String =
    s"""WITH mf AS (
       | SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mo,
       |  CAST(year(o_orderdate) AS BIGINT) AS yr,
       |  CAST(count(*) AS BIGINT) AS n_rows
       | FROM orders GROUP BY 1, 2),
       |ver AS (
       | SELECT mf.*, CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS version
       | FROM mf),
       |yf AS (
       | SELECT yr, min(version) AS y_first, CAST(sum(n_rows) AS BIGINT) AS y_rows
       | FROM ver GROUP BY 1),
       |fl AS (SELECT greatest(max(version) - $RetainVersions + 1, 1) AS min_retained FROM ver),
       |files AS (
       | SELECT 'month_' || CAST(mo AS VARCHAR) AS key, 'month' AS kind,
       |  version AS born_v, COALESCE(n.y_first, -1) AS removed_v, v.n_rows
       | FROM ver v LEFT JOIN yf n ON n.yr = v.yr + 1
       | UNION ALL
       | SELECT 'year_' || CAST(a.yr AS VARCHAR), 'year', b.y_first, -1, a.y_rows
       | FROM yf a JOIN yf b ON b.yr = a.yr + 1),
       |vd AS (
       | SELECT files.*,
       |  CASE WHEN removed_v = -1 THEN 'live'
       |   WHEN removed_v - 1 >= min_retained THEN 'retained'
       |   ELSE 'expire' END AS verdict
       | FROM files CROSS JOIN fl),
       |rc AS (
       | SELECT vd.*, CASE WHEN verdict = 'expire' THEN n_rows ELSE CAST(0 AS BIGINT) END AS reclaim_rows
       | FROM vd)
       |SELECT key, verdict, n_files, born_v, removed_v, n_rows, reclaim_rows FROM (
       | SELECT key, verdict, CAST(1 AS BIGINT) AS n_files, born_v, removed_v,
       |  n_rows, reclaim_rows
       | FROM rc
       | UNION ALL
       | SELECT '~TOTAL_' || verdict, verdict, CAST(count(*) AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(reclaim_rows) AS BIGINT)
       | FROM rc GROUP BY verdict
       | UNION ALL
       | SELECT '~TOTAL', '~TOTAL', CAST(count(*) AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(reclaim_rows) AS BIGINT)
       | FROM rc
       |) ORDER BY key""".stripMargin

  /** p28: how many snapshot versions the replica trails the primary. 10
    * landings puts the replica across the last year boundary on the
    * shipped chain, so the delta exercises compaction (ship a year-file,
    * retire its month-files) as well as plain appends. */
  val ReplicaLag = 10L

  /** `p28_replication_delta`: incremental metadata replication — the
    * cross-site sync step p25's chain enables (Iceberg changelog /
    * multi-region lakehouse mirroring as a QUERY): a replica that last
    * synced at version `head − lag` needs exactly the LIVE-SET DIFF, not
    * a re-listing — `ship` rows (files live at head but not on the
    * replica) and `delete` rows (files the replica holds that head
    * compacted away). Crossing a year boundary the delta is the
    * compaction itself: one year-file ships, its month-files retire —
    * the shape that makes log-shipping cheap (a century of versions
    * never re-transfers closed years). Rollups per action
    * (`~TOTAL_ship`/`~TOTAL_delete`) and `~TOTAL` carry the transfer
    * bill (files + rows) the sync is judged by.
    *
    * Both version cursors are data-derived in-plan: the head and replica
    * (mo, yr) marks attach as broadcast 1-row joins off the SAME
    * versioned manifest (p19's pattern — no collect, no config), and
    * live-set membership is pure calendar arithmetic on (yr, mo) — p25's
    * live-set rule (year-files for years before the cursor's year,
    * month-files for its open year) applied twice and diffed.
    *
    * Scale: the fact is touched ONCE (p25's month aggregation);
    * everything after runs on the calendar-grained manifest (≤1.2k
    * rows/century), checkpointed once for its grain consumers. A real
    * deployment reads the two manifests — the whole plan is
    * metadata-sized. */
  def p28ReplicationDelta(spark: SparkSession, dir: String): DataFrame = {
    val ver = versionedManifest(spark, dir)
    val heads = ver.agg(max(col("version")).as("v_head"))
      .withColumn("v_rep", greatest(col("v_head") - ReplicaLag, lit(1L)))
    val hMark = ver.join(broadcast(heads), col("version") === col("v_head"))
      .select(col("mo").as("mo_h"), col("yr").as("yr_h"))
    val rMark = ver.join(broadcast(heads), col("version") === col("v_rep"))
      .select(col("mo").as("mo_r"), col("yr").as("yr_r"))
    val marked = ver.crossJoin(broadcast(hMark)).crossJoin(broadcast(rMark))
    val shipMonths = marked
      .filter(col("yr") === col("yr_h") && col("mo") <= col("mo_h") &&
        (col("yr_r") < col("yr_h") || col("mo") > col("mo_r")))
      .select(concat(lit("month_"), col("mo").cast("string")).as("key"),
        lit("ship").as("action"), lit("month").as("kind"),
        lit(1L).as("n_files"), col("n_rows"))
    val deleteMonths = marked
      .filter(col("yr") === col("yr_r") && col("mo") <= col("mo_r") &&
        col("yr_r") < col("yr_h"))
      .select(concat(lit("month_"), col("mo").cast("string")).as("key"),
        lit("delete").as("action"), lit("month").as("kind"),
        lit(1L).as("n_files"), col("n_rows"))
    val shipYears = marked
      .filter(col("yr") >= col("yr_r") && col("yr") < col("yr_h"))
      .groupBy(col("yr"))
      .agg(sum(col("n_rows")).as("n_rows"))
      .select(concat(lit("year_"), col("yr").cast("string")).as("key"),
        lit("ship").as("action"), lit("year").as("kind"),
        lit(1L).as("n_files"), col("n_rows"))
    val delta = shipMonths.unionByName(deleteMonths).unionByName(shipYears)
      .localCheckpoint(true) // delta-sized; per-file + totals read it
    val perAction = delta.groupBy(col("action"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"))
      .select(concat(lit("~TOTAL_"), col("action")).as("key"), col("action"),
        lit("~").as("kind"), col("n_files"), col("n_rows"))
    val totRow = delta
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"))
      .select(lit("~TOTAL").as("key"), lit("~TOTAL").as("action"),
        lit("~").as("kind"), col("n_files"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
    delta.unionByName(perAction).unionByName(totRow)
      .orderBy(col("key"), col("action"))
  }

  private val p28Oracle: String =
    s"""WITH mf AS (
       | SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mo,
       |  CAST(year(o_orderdate) AS BIGINT) AS yr,
       |  CAST(count(*) AS BIGINT) AS n_rows
       | FROM orders GROUP BY 1, 2),
       |ver AS (
       | SELECT mf.*, CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS version
       | FROM mf),
       |hd AS (SELECT max(version) AS v_head,
       |  greatest(max(version) - $ReplicaLag, 1) AS v_rep FROM ver),
       |hm AS (SELECT mo AS mo_h, yr AS yr_h FROM ver, hd WHERE version = v_head),
       |rm AS (SELECT mo AS mo_r, yr AS yr_r FROM ver, hd WHERE version = v_rep),
       |mk AS (SELECT ver.*, mo_h, yr_h, mo_r, yr_r FROM ver CROSS JOIN hm CROSS JOIN rm),
       |delta AS (
       | SELECT 'month_' || CAST(mo AS VARCHAR) AS key, 'ship' AS action,
       |  'month' AS kind, CAST(1 AS BIGINT) AS n_files, n_rows
       | FROM mk WHERE yr = yr_h AND mo <= mo_h
       |  AND (yr_r < yr_h OR mo > mo_r)
       | UNION ALL
       | SELECT 'month_' || CAST(mo AS VARCHAR), 'delete', 'month',
       |  CAST(1 AS BIGINT), n_rows
       | FROM mk WHERE yr = yr_r AND mo <= mo_r AND yr_r < yr_h
       | UNION ALL
       | SELECT 'year_' || CAST(yr AS VARCHAR), 'ship', 'year',
       |  CAST(1 AS BIGINT), CAST(sum(n_rows) AS BIGINT)
       | FROM mk WHERE yr >= yr_r AND yr < yr_h GROUP BY yr)
       |SELECT key, action, kind, n_files, n_rows FROM (
       | SELECT * FROM delta
       | UNION ALL
       | SELECT '~TOTAL_' || action, action, '~', CAST(count(*) AS BIGINT),
       |  CAST(sum(n_rows) AS BIGINT)
       | FROM delta GROUP BY action
       | UNION ALL
       | SELECT '~TOTAL', '~TOTAL', '~', CAST(count(*) AS BIGINT),
       |  COALESCE(CAST(sum(n_rows) AS BIGINT), 0)
       | FROM delta
       |) ORDER BY key, action""".stripMargin

  /** `p29_bucketed_join`: q39's jumbo-order feed run over the BUCKETED
    * fact layout ([[graft.sources.Bucketed]]) — the engine's recurring
    * fact-fact workload on the layout the curation stage would maintain
    * in production. Semantically identical to `q39_big_orders` (same
    * oracle), but the per-order aggregate AND the orders⋈aggregate join
    * both run on the storage partitioning: zero `Exchange
    * hashpartitioning` anywhere in the plan (SourcesSpec pins it; this
    * entry puts a NUMBER on it, so a regression of the engine's single
    * biggest claimed scale win — deleting the fact-fact shuffle — is
    * loud in the bench, not just red in a spec).
    *
    * The first call per (JVM, dir) pays the one-time layout write — in
    * Bench that lands in sweep 1 and the 3-sweep median reports the
    * steady-state read path, exactly the production split (the layout is
    * written once per landing cycle, read by every downstream query). */
  def p29BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = graft.sources.Bucketed.ensureFactLayout(spark, dir)
    graft.operators.Analytics.q39BigOrdersOver(spark, dir,
      spark.table(li), spark.table(ord))
  }

  /** `p34_bucketed_priority` / `p35_bucketed_semi` / `p36_bucketed_trade`
    * / `p37_bucketed_returns` / `p38_bucketed_delay`: the rest of the
    * recurring fact-fact family run over the SAME bucketed layout p29
    * proved out — q3 (inner join + bucket-key aggregate: the whole plan
    * is hash-exchange-FREE), q44 (semi join with the lateness
    * inequality), q47 (bilateral trade: partitioning preserved through
    * broadcast dim joins on both sides), q49 (the customer-grain
    * aggregate keeps its own algebra-required shuffle — only the fact
    * shuffle is deleted), q52 (ship-tier mix). p35/p37/p38 run their
    * q-twin's body over the layout, as p29 runs q39's. Each is
    * semantically identical to its q-twin — the oracle is the q-twin's
    * SQL verbatim, so the layout changes the PLAN, never the answer — and
    * each has a BASELINE row, so a regression of any deleted exchange is
    * loud in the bench. At 100 TB these five queries repay the bucketed
    * write every landing cycle: the orderkey shuffle they shared is the
    * engine's single biggest recurring cost, and `SourcesSpec` pins per
    * twin that NO exchange partitions on the orderkey while the
    * unbucketed form pays ≥1. */
  def p34BucketedPriority(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = graft.sources.Bucketed.ensureFactLayout(spark, dir)
    graft.sources.Bucketed.q3OverBuckets(spark, dir, li, ord)
  }
  def p35BucketedSemi(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = graft.sources.Bucketed.ensureFactLayout(spark, dir)
    graft.operators.Analytics.q44LateShipPriorityOver(spark.table(li), spark.table(ord))
  }
  def p36BucketedTrade(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = graft.sources.Bucketed.ensureFactLayout(spark, dir)
    graft.sources.Bucketed.q47OverBuckets(spark, dir, li, ord)
  }
  def p37BucketedReturns(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = graft.sources.Bucketed.ensureFactLayout(spark, dir)
    graft.operators.Analytics.q49ReturnedItemsOver(spark, dir,
      spark.table(li), spark.table(ord))
  }
  def p38BucketedDelay(spark: SparkSession, dir: String): DataFrame = {
    val (li, ord) = graft.sources.Bucketed.ensureFactLayout(spark, dir)
    graft.operators.Analytics.q52ShipDelayModesOver(spark.table(li), spark.table(ord))
  }

  /** `p30_asof_read`: the time-travel READ path of the p25 snapshot
    * chain as a first-class oracle query — [[p25AsOf]]'s live-set rule
    * replayed fully IN-PLAN (no collect) for a deterministic version
    * sample {1, ceil(head/2), head}, each resolved row tagged with its
    * `sample_v`. Per sampled version: the live file set — one year-file
    * per closed year (rows folded), one month-file per landed month of
    * the in-progress year — exactly what an as-of scan would open.
    *
    * Scale: p28's cursor shape — the fact is touched once (the month
    * manifest, checkpointed calendar-grained), the head version is a
    * 1-row aggregate, the 3-row cursor set attaches by broadcast, and
    * every live-set row comes from the ≤1.2k-row manifest. PipelineSpec
    * pins row-identity with `p25AsOf` at each sampled version. */
  def p30AsofRead(spark: SparkSession, dir: String): DataFrame = {
    val mf = monthManifest(spark, dir).localCheckpoint(true)
    // the whole snapshot log as ONE global aggregate: count + the
    // mo-sorted (mo, yr) chain (collect_list over the calendar manifest —
    // metadata-sized by construction, the s22 sort_array precedent). The
    // v-th chain element IS version v, so no window and, crucially, the
    // cursor frame below roots in a GLOBAL aggregate — the bounded-side
    // shape PlanSpec's suite-wide nested-loop pin admits (a cursor built
    // by joining back to the manifest would carry the checkpoint leaf
    // into the BNLJ's broadcast side and fail it).
    val chain = mf.agg(count(lit(1)).as("n_v"),
      sort_array(collect_list(struct(col("mo"), col("yr")))).as("chain"))
    val cursors = chain
      .select(explode(expr("array_distinct(array(1L, (n_v + 1) div 2, n_v))"))
        .as("sample_v"), col("chain"))
      .select(col("sample_v"),
        element_at(col("chain"), col("sample_v").cast("int")).as("at"))
      .select(col("sample_v"), col("at.mo").as("mo_v"), col("at.yr").as("yr_v"))
    // mo <= mo_v alone IS the live-month rule: yr < yr_v implies mo < mo_v
    // on the calendar-total mo key, so the year/month split below only
    // decides which FILE carries a live month, never liveness itself
    val live = mf.crossJoin(broadcast(cursors))
      .filter(col("mo") <= col("mo_v"))
    val years = live.filter(col("yr") < col("yr_v"))
      .groupBy(col("sample_v"), col("yr"))
      .agg(sum(col("n_rows")).as("n_rows"))
      .select(col("sample_v"), lit("year").as("file_kind"),
        col("yr").as("file_key"), col("n_rows"))
    val months = live.filter(col("yr") === col("yr_v"))
      .select(col("sample_v"), lit("month").as("file_kind"),
        col("mo").as("file_key"), col("n_rows"))
    years.unionByName(months)
      .orderBy(col("sample_v"), col("file_kind"), col("file_key"))
  }

  private val p30Oracle: String =
    """WITH mf AS (
      | SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mo,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(count(*) AS BIGINT) AS n_rows
      | FROM orders GROUP BY 1, 2),
      |ver AS (
      | SELECT mf.*, CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS version
      | FROM mf),
      |hd AS (SELECT max(version) AS n_v FROM ver),
      |nv AS (SELECT DISTINCT sample_v FROM (
      | SELECT unnest([CAST(1 AS BIGINT), (n_v + 1) // 2, n_v]) AS sample_v
      | FROM hd)),
      |cur AS (
      | SELECT n.sample_v, v.mo AS mo_v, v.yr AS yr_v
      | FROM nv n JOIN ver v ON v.version = n.sample_v),
      |live AS (
      | SELECT c.sample_v, c.yr_v, v.mo, v.yr, v.n_rows
      | FROM ver v CROSS JOIN cur c WHERE v.mo <= c.mo_v)
      |SELECT sample_v, 'year' AS file_kind, yr AS file_key,
      | CAST(sum(n_rows) AS BIGINT) AS n_rows
      |FROM live WHERE yr < yr_v GROUP BY 1, 3
      |UNION ALL
      |SELECT sample_v, 'month', mo, n_rows FROM live WHERE yr = yr_v
      |ORDER BY sample_v, file_kind, file_key""".stripMargin

  /** p31: rows per synthetic key-range file (the "clustered on the join
    * key" layout under audit — a file is ~this many consecutive keys). */
  val JoinPruneFileKeys = 1024L

  /** p31: global bucket count for the pair-candidate banding — fixed, so
    * the span explode is bounded by #files × #buckets at ANY corpus
    * size (a fixed bucket WIDTH would explode the span list as the key
    * space grows). Deliberately COARSE: a wide-span layout (by_month)
    * coincides with every other file in every bucket, so the band
    * join's match count is #buckets × pairs-per-bucket — at 4096
    * buckets that was a measured 10s bench row, at 256 it is ~16x
    * cheaper, and coarseness never changes the ANSWER (the interval
    * predicate riding the join decides; buckets only band candidates). */
  val JoinPruneBuckets = 256L

  /** `p31_join_prune_plan`: file-level JOIN pruning audit — the manifest
    * arithmetic behind "why cluster the fact on the join key": for a
    * fact-fact join (orders ⋈ lineitem on orderkey), how many file
    * PAIRS can the planner skip from min/max key stats alone, under two
    * candidate layouts — `by_month` (the natural date-partitioned
    * write: each file spans nearly the whole key range, so almost
    * every pair survives) vs `by_keyrange` (the p29/p12 clustered
    * write: tight disjoint spans, near-diagonal overlap). Per layout:
    * file counts both sides, the m×n pair space, surviving pairs, and
    * the pruned fraction (e6) — the number an Iceberg/Delta planner
    * reads off manifest stats before scheduling a shuffle-free join.
    *
    * Scale: ONE scan per fact builds BOTH layouts' manifests via
    * grouping sets (mo and key-file grain in the same pass, map-side
    * partials); the pair test never nested-loops — file intervals
    * explode into a FIXED global bucket grid ([[JoinPruneBuckets]]
    * cells over the observed key range, width from a global-aggregate
    * max attached broadcast) and candidates meet on a bucket EQUI-join
    * (the q23 banding shape) with the interval predicate riding it;
    * the span list is bounded by #files × #buckets regardless of
    * corpus size, and everything after the manifest aggregates is
    * manifest-grained. Zero windows. */
  /** p31/p39 shared: BOTH candidate layouts' manifests for one fact in a
    * single grouping-sets scan (mo and key-file grain in the same pass,
    * map-side partials), checkpointed at manifest size. */
  private def layoutManifests(df: DataFrame, key: String, date: String): DataFrame = {
    val fk = JoinPruneFileKeys
    df.select(
        (year(col(date)) * 12 + month(col(date)) - 1).cast("long").as("mo"),
        expr(s"$key div $fk").cast("long").as("kf"),
        col(key).as("k"))
      .groupingSets(Seq(Seq(col("mo")), Seq(col("kf"))),
        col("mo"), col("kf"))
      .agg(min(col("k")).as("k_min"), max(col("k")).as("k_max"),
        count(lit(1)).as("n_rows"))
      .select(
        when(col("mo").isNotNull, lit("by_month"))
          .otherwise(lit("by_keyrange")).as("layout"),
        coalesce(col("mo"), col("kf")).as("file_id"),
        col("k_min"), col("k_max"), col("n_rows"))
      .localCheckpoint(true) // manifest-sized; spans + totals read it
  }

  def p31JoinPrunePlan(spark: SparkSession, dir: String): DataFrame = {
    val oFiles = layoutManifests(graft.Tables.load(spark, dir, "orders"),
      "o_orderkey", "o_orderdate")
    val lFiles = layoutManifests(graft.Tables.load(spark, dir, "lineitem"),
      "l_orderkey", "l_shipdate")
    // bucket width from the observed key range — a GLOBAL aggregate off
    // the (already tiny) orders manifest, broadcast onto both span
    // builds (the sanctioned bounded-side crossjoin shape)
    val width = oFiles.agg(
      expr(s"max(k_max) div $JoinPruneBuckets + 1").as("bw"))
    def spans(files: DataFrame): DataFrame =
      files.crossJoin(broadcast(width))
        .withColumn("b",
          explode(sequence(expr("k_min div bw"), expr("k_max div bw"))))
        .select(col("layout"), col("file_id"), col("k_min"), col("k_max"),
          col("b"))
    val pairs = spans(oFiles).alias("o")
      .join(spans(lFiles).alias("l"),
        col("o.layout") === col("l.layout") && col("o.b") === col("l.b") &&
          col("o.k_min") <= col("l.k_max") &&
          col("o.k_max") >= col("l.k_min"))
      .select(col("o.layout").as("layout"), col("o.file_id").as("of"),
        col("l.file_id").as("lf"))
      .distinct()
      .groupBy(col("layout")).agg(count(lit(1)).as("n_overlap_pairs"))
    val oCnt = oFiles.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_ord_files"))
    val lCnt = lFiles.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_li_files"))
    oCnt.join(broadcast(lCnt), "layout")
      .join(broadcast(pairs), Seq("layout"), "left")
      .withColumn("n_overlap_pairs", coalesce(col("n_overlap_pairs"), lit(0L)))
      .withColumn("n_pairs", col("n_ord_files") * col("n_li_files"))
      .select(col("layout"), col("n_ord_files"), col("n_li_files"),
        col("n_pairs"), col("n_overlap_pairs"),
        expr("(n_pairs - n_overlap_pairs) * CAST(1000000 AS DECIMAL(38,0)) div n_pairs")
          .as("prune_e6"))
      .orderBy(col("layout"))
  }

  private val p31Oracle: String =
    s"""WITH om AS (
       | SELECT 'by_month' AS layout,
       |  CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
       |    AS file_id,
       |  CAST(min(o_orderkey) AS BIGINT) AS k_min,
       |  CAST(max(o_orderkey) AS BIGINT) AS k_max
       | FROM orders GROUP BY 2
       | UNION ALL
       | SELECT 'by_keyrange', o_orderkey // $JoinPruneFileKeys,
       |  min(o_orderkey), max(o_orderkey)
       | FROM orders GROUP BY 2),
       |lm AS (
       | SELECT 'by_month' AS layout,
       |  CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
       |    AS file_id,
       |  CAST(min(l_orderkey) AS BIGINT) AS k_min,
       |  CAST(max(l_orderkey) AS BIGINT) AS k_max
       | FROM lineitem GROUP BY 2
       | UNION ALL
       | SELECT 'by_keyrange', l_orderkey // $JoinPruneFileKeys,
       |  min(l_orderkey), max(l_orderkey)
       | FROM lineitem GROUP BY 2),
       |w AS (SELECT max(k_max) // $JoinPruneBuckets + 1 AS bw FROM om),
       |os AS (
       | SELECT layout, file_id, k_min, k_max,
       |  unnest(range(k_min // bw, k_max // bw + 1)) AS b
       | FROM om CROSS JOIN w),
       |ls AS (
       | SELECT layout, file_id, k_min, k_max,
       |  unnest(range(k_min // bw, k_max // bw + 1)) AS b
       | FROM lm CROSS JOIN w),
       |pairs AS (
       | SELECT DISTINCT o.layout, o.file_id AS ofid, l.file_id AS lfid
       | FROM os o JOIN ls l ON o.layout = l.layout AND o.b = l.b
       |  AND o.k_min <= l.k_max AND o.k_max >= l.k_min),
       |pc AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_overlap_pairs
       | FROM pairs GROUP BY 1),
       |oc AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_ord_files
       | FROM om GROUP BY 1),
       |lc AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_li_files
       | FROM lm GROUP BY 1)
       |SELECT layout, n_ord_files, n_li_files,
       | n_ord_files * n_li_files AS n_pairs,
       | COALESCE(n_overlap_pairs, 0) AS n_overlap_pairs,
       | (n_ord_files * n_li_files - COALESCE(n_overlap_pairs, 0)) * 1000000
       |   // (n_ord_files * n_li_files) AS prune_e6
       |FROM oc JOIN lc USING (layout) LEFT JOIN pc USING (layout)
       |ORDER BY layout""".stripMargin

  /** p39: the canonical what-if predicate box — the middle quarter of
    * the observed key range (lo = 3/8 max, hi = 5/8 max), the p19-style
    * probe a layout's skip-rate is judged by. */
  val AdvisorBoxLoEighths = 3L
  val AdvisorBoxHiEighths = 5L

  /** `p39_layout_advisor`: the what-if layout recommendation composing
    * the engine's four manifest audits (p16 file counts, p19 scan-box
    * skipping, p24 overlap crowding, p31 join pruning) into ONE
    * decision row per candidate layout of the orders fact — `by_month`
    * (date-partitioned write) vs `by_keyrange` (p12/p29's clustered
    * write). Per layout: manifest sizes, the three planning fractions
    * (e6) a lakehouse planner reads off min/max stats alone —
    * `join_prune_e6` (file pairs skippable in the orderkey fact-fact
    * join, p31's number), `scan_prune_e6` (files provably outside the
    * canonical middle-quarter key box, p19's number), `overlap_frac_e6`
    * (fraction of file pairs whose key ranges collide, p24's crowding
    * normalized to [0,1e6]) — an equal-weight integer composite
    * `score_e6`, and the `recommended` flag on the argmax (ties break
    * on layout name). The row an engineer reads INSTEAD of four audits
    * before choosing the curation write path.
    *
    * Scale: everything derives from the SAME one-scan-per-fact
    * grouping-sets manifests p31 builds ([[layoutManifests]],
    * checkpointed, shared); both pair tests (join + self-overlap) ride
    * the fixed [[JoinPruneBuckets]]-cell banding grid — span lists
    * bounded by #files x #buckets at any corpus size, candidates meet
    * on a bucket EQUI-join with the interval predicate riding it; the
    * box test and the scoring are manifest-grained scalars; the
    * recommendation argmax is one global aggregate broadcast back (the
    * q46 scalar pattern — no window at all). Shares ride Decimal(38,0)
    * and emit BIGINT (the t30/s25 envelope). */
  def p39LayoutAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val oFiles = layoutManifests(graft.Tables.load(spark, dir, "orders"),
      "o_orderkey", "o_orderdate")
    val lFiles = layoutManifests(graft.Tables.load(spark, dir, "lineitem"),
      "l_orderkey", "l_shipdate")
    val scalars = oFiles.agg(
      expr(s"max(k_max) div $JoinPruneBuckets + 1").as("bw"),
      max(col("k_max")).as("maxk"))
    def spans(files: DataFrame): DataFrame =
      files.crossJoin(broadcast(scalars))
        .withColumn("b",
          explode(sequence(expr("k_min div bw"), expr("k_max div bw"))))
        .select(col("layout"), col("file_id"), col("k_min"), col("k_max"),
          col("b"))
    val joinPairs = spans(oFiles).alias("o")
      .join(spans(lFiles).alias("l"),
        col("o.layout") === col("l.layout") && col("o.b") === col("l.b") &&
          col("o.k_min") <= col("l.k_max") &&
          col("o.k_max") >= col("l.k_min"))
      .select(col("o.layout").as("layout"), col("o.file_id").as("of"),
        col("l.file_id").as("lf"))
      .distinct()
      .groupBy(col("layout")).agg(count(lit(1)).as("n_join_pairs"))
    val selfPairs = spans(oFiles).alias("a")
      .join(spans(oFiles).alias("c"),
        col("a.layout") === col("c.layout") && col("a.b") === col("c.b") &&
          col("a.file_id") < col("c.file_id") &&
          col("a.k_min") <= col("c.k_max") &&
          col("a.k_max") >= col("c.k_min"))
      .select(col("a.layout").as("layout"), col("a.file_id").as("af"),
        col("c.file_id").as("cf"))
      .distinct()
      .groupBy(col("layout")).agg(count(lit(1)).as("n_self_pairs"))
    val boxed = oFiles.crossJoin(broadcast(scalars))
      .groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("k_max") < expr(s"maxk div 8 * $AdvisorBoxLoEighths") ||
            col("k_min") > expr(s"maxk div 8 * $AdvisorBoxHiEighths"), 1L)
          .otherwise(0L)).as("n_skipped"))
    val lCnt = lFiles.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_li_files"))
    val scored = boxed.join(broadcast(lCnt), "layout")
      .join(broadcast(joinPairs), Seq("layout"), "left")
      .join(broadcast(selfPairs), Seq("layout"), "left")
      .withColumn("n_join_pairs", coalesce(col("n_join_pairs"), lit(0L)))
      .withColumn("n_self_pairs", coalesce(col("n_self_pairs"), lit(0L)))
      .select(col("layout"), col("n_files"), col("n_li_files"),
        expr("(n_files * n_li_files - n_join_pairs)" +
          " * CAST(1000000 AS DECIMAL(38,0)) div (n_files * n_li_files)")
          .as("join_prune_e6"),
        expr("n_skipped * CAST(1000000 AS DECIMAL(38,0)) div n_files")
          .as("scan_prune_e6"),
        expr("2 * n_self_pairs * CAST(1000000 AS DECIMAL(38,0))" +
          " div greatest(n_files * (n_files - 1), 1)")
          .as("overlap_frac_e6"))
      .withColumn("score_e6", expr(
        "(join_prune_e6 + scan_prune_e6 + (1000000 - overlap_frac_e6)) div 3"))
      .localCheckpoint(true) // 2 rows; argmax + emit both read it
    // argmax without a window: one global aggregate picks (max score,
    // min layout-name on ties) — the q46 broadcast-scalar pattern, so
    // the plan carries no unpartitioned window even at 2 rows
    val best = scored
      .agg(min(struct((col("score_e6") * -1).as("neg"),
        col("layout").as("layout"))).as("b"))
      .select(col("b.layout").as("best_layout"))
    scored.crossJoin(broadcast(best))
      .withColumn("recommended",
        when(col("layout") === col("best_layout"), 1L).otherwise(0L))
      .drop("best_layout")
      .orderBy(col("layout"))
  }

  private val p39Oracle: String =
    s"""WITH om AS (
       | SELECT 'by_month' AS layout,
       |  CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
       |    AS file_id,
       |  CAST(min(o_orderkey) AS BIGINT) AS k_min,
       |  CAST(max(o_orderkey) AS BIGINT) AS k_max
       | FROM orders GROUP BY 2
       | UNION ALL
       | SELECT 'by_keyrange', o_orderkey // $JoinPruneFileKeys,
       |  min(o_orderkey), max(o_orderkey)
       | FROM orders GROUP BY 2),
       |lm AS (
       | SELECT 'by_month' AS layout,
       |  CAST(year(l_shipdate) * 12 + month(l_shipdate) - 1 AS BIGINT)
       |    AS file_id,
       |  CAST(min(l_orderkey) AS BIGINT) AS k_min,
       |  CAST(max(l_orderkey) AS BIGINT) AS k_max
       | FROM lineitem GROUP BY 2
       | UNION ALL
       | SELECT 'by_keyrange', l_orderkey // $JoinPruneFileKeys,
       |  min(l_orderkey), max(l_orderkey)
       | FROM lineitem GROUP BY 2),
       |w AS (SELECT max(k_max) // $JoinPruneBuckets + 1 AS bw,
       |  max(k_max) AS maxk FROM om),
       |os AS (
       | SELECT layout, file_id, k_min, k_max,
       |  unnest(range(k_min // bw, k_max // bw + 1)) AS b
       | FROM om CROSS JOIN w),
       |ls AS (
       | SELECT layout, file_id, k_min, k_max,
       |  unnest(range(k_min // bw, k_max // bw + 1)) AS b
       | FROM lm CROSS JOIN w),
       |jp AS (
       | SELECT layout, CAST(count(*) AS BIGINT) AS n_join_pairs FROM (
       |  SELECT DISTINCT o.layout, o.file_id AS ofid, l.file_id AS lfid
       |  FROM os o JOIN ls l ON o.layout = l.layout AND o.b = l.b
       |   AND o.k_min <= l.k_max AND o.k_max >= l.k_min) GROUP BY 1),
       |sp AS (
       | SELECT layout, CAST(count(*) AS BIGINT) AS n_self_pairs FROM (
       |  SELECT DISTINCT a.layout, a.file_id AS af, c.file_id AS cf
       |  FROM os a JOIN os c ON a.layout = c.layout AND a.b = c.b
       |   AND a.file_id < c.file_id
       |   AND a.k_min <= c.k_max AND a.k_max >= c.k_min) GROUP BY 1),
       |bx AS (
       | SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
       |  CAST(sum(CASE WHEN k_max < maxk // 8 * $AdvisorBoxLoEighths
       |    OR k_min > maxk // 8 * $AdvisorBoxHiEighths
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
       | FROM om CROSS JOIN w GROUP BY 1),
       |lc AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_li_files
       | FROM lm GROUP BY 1),
       |e AS (
       | SELECT b.layout, b.n_files, lc.n_li_files,
       |  CAST((b.n_files * lc.n_li_files - COALESCE(jp.n_join_pairs, 0))
       |    * 1000000 // (b.n_files * lc.n_li_files) AS BIGINT)
       |    AS join_prune_e6,
       |  CAST(b.n_skipped * 1000000 // b.n_files AS BIGINT)
       |    AS scan_prune_e6,
       |  CAST(2 * COALESCE(sp.n_self_pairs, 0) * 1000000
       |    // greatest(b.n_files * (b.n_files - 1), 1) AS BIGINT)
       |    AS overlap_frac_e6
       | FROM bx b JOIN lc USING (layout)
       |  LEFT JOIN jp USING (layout) LEFT JOIN sp USING (layout)),
       |s AS (
       | SELECT *, CAST((join_prune_e6 + scan_prune_e6
       |   + (1000000 - overlap_frac_e6)) // 3 AS BIGINT) AS score_e6
       | FROM e)
       |SELECT layout, n_files, n_li_files, join_prune_e6, scan_prune_e6,
       | overlap_frac_e6, score_e6,
       | CAST(CASE WHEN row_number() OVER (ORDER BY score_e6 DESC, layout) = 1
       |   THEN 1 ELSE 0 END AS BIGINT) AS recommended
       |FROM s ORDER BY layout""".stripMargin

  val RollbackDepth = 18L // p41: versions rolled back — deeper than
  // ReplicaLag (10) so the restore arm is non-vacuous, shallow enough
  // that the restored files are still retained. Feasibility is
  // ALL-OR-NOTHING per rollback, structurally: restores come from
  // exactly one compaction event (born <= target < removed forces one
  // event's [removed-12, removed) born-window), so one rollback's
  // restores share one removed_v and one retention verdict — the spec
  // pins the blocked arm at depth 24, where that event is vacuumed

  /** `p41_rollback_plan`: the write-side twin of p30's as-of READ — the
    * Delta RESTORE / Iceberg rollback plan: to make version
    * `head - [[RollbackDepth]]` the table's head again, which files must
    * be REMOVED from the manifest (born after the target: the months
    * landed since, plus any year compaction that happened since) and
    * which must be RESTORED (month files the later compactions removed
    * — they must re-enter the manifest). A restore is only FEASIBLE if
    * the file still physically exists, which is exactly p27's retention
    * verdict: a removed file is kept while `removed_v - 1 >=
    * min_retained` and vacuumed after — so `n_available` composes the
    * rollback plan with the expire policy, and the `~TOTAL_restore` row
    * (n_files vs n_available) IS the go/no-go a restore command prints
    * before touching anything. Columns per file: key, kind, action,
    * born_v/removed_v, rows, availability; per-action and overall
    * `~TOTAL` rows foot the plan.
    *
    * Scale: the whole plan runs on the calendar-grained snapshot chain
    * (p25's month manifest + p27's born/removed events); the head/
    * target/retention scalars are ONE global aggregate broadcast back
    * (q46 pattern); no fact re-scan beyond the manifest build, no
    * windows past the version stamp. Rollback of a 100 TB table is a
    * metadata operation — this plan is why. */
  def p41RollbackPlan(spark: SparkSession, dir: String): DataFrame =
    p41RollbackPlan(spark, dir, RollbackDepth)

  /** `depth`-parameterized form — the verified entry uses
    * [[RollbackDepth]]; the spec additionally drives depth 24 to pin
    * the vacuumed-restore (infeasible) arm. */
  def p41RollbackPlan(spark: SparkSession, dir: String,
                      depth: Long): DataFrame = {
    val ver = versionedManifest(spark, dir)
    val scal = ver.agg(max(col("version")).as("head"))
      .select(col("head"),
        greatest(col("head") - depth, lit(1L)).as("target"),
        greatest(col("head") - RetainVersions + 1, lit(1L)).as("min_retained"))
    val files = chainFiles(ver)
      .crossJoin(broadcast(scal))
      .withColumn("live_head", col("removed_v") === -1L ||
        col("removed_v") > col("head"))
      .withColumn("live_tgt", col("born_v") <= col("target") &&
        (col("removed_v") === -1L || col("removed_v") > col("target")))
      .filter(col("live_head") =!= col("live_tgt"))
      .withColumn("action",
        when(col("live_head"), "remove").otherwise("restore"))
      .withColumn("n_available",
        when(col("action") === "remove" ||
          col("removed_v") - 1 >= col("min_retained"), 1L).otherwise(0L))
      .localCheckpoint(true) // manifest-sized; per-file + totals read it
    val perFile = files.select(col("key"), col("kind"), col("action"),
      lit(1L).as("n_files"), col("born_v"), col("removed_v"), col("n_rows"),
      col("n_available"))
    val perAction = files.groupBy(col("action"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("n_available")).as("n_available"))
      .select(concat(lit("~TOTAL_"), col("action")).as("key"),
        lit("~TOTAL").as("kind"), col("action"), col("n_files"),
        lit(-1L).as("born_v"), lit(-1L).as("removed_v"), col("n_rows"),
        col("n_available"))
    val tot = files
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("n_available")).as("n_available"))
      .select(lit("~TOTAL").as("key"), lit("~TOTAL").as("kind"),
        lit("~TOTAL").as("action"), col("n_files"), lit(-1L).as("born_v"),
        lit(-1L).as("removed_v"), col("n_rows"), col("n_available"))
    perFile.unionByName(perAction).unionByName(tot).orderBy(col("key"))
  }

  private val p41Oracle: String =
    s"""WITH mf AS (
       | SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mo,
       |  CAST(year(o_orderdate) AS BIGINT) AS yr,
       |  CAST(count(*) AS BIGINT) AS n_rows
       | FROM orders GROUP BY 1, 2),
       |ver AS (
       | SELECT mf.*, CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS version
       | FROM mf),
       |yf AS (
       | SELECT yr, min(version) AS y_first, CAST(sum(n_rows) AS BIGINT) AS y_rows
       | FROM ver GROUP BY 1),
       |scal AS (
       | SELECT max(version) AS head,
       |  greatest(max(version) - $RollbackDepth, 1) AS target,
       |  greatest(max(version) - $RetainVersions + 1, 1) AS min_retained
       | FROM ver),
       |files AS (
       | SELECT 'month_' || CAST(mo AS VARCHAR) AS key, 'month' AS kind,
       |  version AS born_v, COALESCE(n.y_first, -1) AS removed_v, v.n_rows
       | FROM ver v LEFT JOIN yf n ON n.yr = v.yr + 1
       | UNION ALL
       | SELECT 'year_' || CAST(a.yr AS VARCHAR), 'year', b.y_first, -1, a.y_rows
       | FROM yf a JOIN yf b ON b.yr = a.yr + 1),
       |fl AS (
       | SELECT files.*,
       |  (removed_v = -1 OR removed_v > head) AS live_head,
       |  (born_v <= target AND (removed_v = -1 OR removed_v > target))
       |   AS live_tgt,
       |  min_retained
       | FROM files CROSS JOIN scal),
       |act AS (
       | SELECT key, kind,
       |  CASE WHEN live_head THEN 'remove' ELSE 'restore' END AS action,
       |  born_v, removed_v, n_rows,
       |  CAST(CASE WHEN live_head OR removed_v - 1 >= min_retained
       |   THEN 1 ELSE 0 END AS BIGINT) AS n_available
       | FROM fl WHERE live_head <> live_tgt)
       |SELECT key, kind, action, n_files, born_v, removed_v, n_rows,
       | n_available FROM (
       | SELECT key, kind, action, CAST(1 AS BIGINT) AS n_files, born_v,
       |  removed_v, n_rows, n_available
       | FROM act
       | UNION ALL
       | SELECT '~TOTAL_' || action, '~TOTAL', action,
       |  CAST(count(*) AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |  CAST(sum(n_rows) AS BIGINT), CAST(sum(n_available) AS BIGINT)
       | FROM act GROUP BY action
       | UNION ALL
       | SELECT '~TOTAL', '~TOTAL', '~TOTAL', CAST(count(*) AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(n_available) AS BIGINT)
       | FROM act)
       |ORDER BY key""".stripMargin

  /** `p42_write_amp`: the write-amplification ledger of the landing +
    * compaction chain — the LSM-storage headline metric, read per
    * snapshot version: rows LANDED by the version (the month's ingest),
    * rows WRITTEN by it (the ingest plus any year-compaction rewrite
    * the version triggered — p25's chain compacts a year's 12 month
    * files into one year file at the NEXT year's first landing), both
    * cumulative, and the running amplification `wa_e6 = cum_written ·
    * 1e6 div cum_landed` (1e6 = no rewrite yet; the chain's steady
    * state here trends toward ~2e6 — every row written once at landing
    * and once at its year's compaction — exactly the number a
    * compaction-policy change must justify against p16's read-side
    * win). `~TOTAL` carries the end-state ledger.
    *
    * Scale: entirely calendar-grained (the p25 month manifest + p27's
    * year events); cumulative sums ride the aggregate-grained
    * unpartitioned window (mo — the allowlisted manifest grain); no
    * fact re-scan beyond the manifest build. At 100 TB this ledger is
    * metadata arithmetic — which is the point: write amplification is
    * knowable BEFORE the bytes move. */
  def p42WriteAmp(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // NOT checkpointed (the p25 rule): the cumulative windows below
    // must read a visible Aggregate(mo, yr) so the suite's grain pin
    // can prove they run on the calendar manifest
    val ver = monthManifest(spark, dir)
      .withColumn("version",
        row_number().over(Window.orderBy(col("mo"))).cast("long"))
    val yrRows = ver.groupBy(col("yr"))
      .agg(min(col("version")).as("y_first"), sum(col("n_rows")).as("y_rows"))
    val per = ver
      .join(broadcast(yrRows.select(col("yr"), col("y_first"))), Seq("yr"))
      .join(broadcast(yrRows.select((col("yr") + 1).as("yr"),
        col("y_rows").as("rewrite_rows"))), Seq("yr"), "left")
      .select(col("version"), col("mo"), col("n_rows").as("rows_landed"),
        (col("n_rows") + when(col("version") === col("y_first"),
          coalesce(col("rewrite_rows"), lit(0L))).otherwise(0L))
          .as("rows_written"))
    val wCum = Window.orderBy(col("version"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = per
      .withColumn("cum_landed", sum(col("rows_landed")).over(wCum))
      .withColumn("cum_written", sum(col("rows_written")).over(wCum))
      .withColumn("wa_e6", expr(
        "cum_written * CAST(1000000 AS DECIMAL(38,0)) div cum_landed"))
      .localCheckpoint(true) // calendar-grained; rows + ~TOTAL read it
    val rows = cum.select(col("version").cast("string").as("key"),
      col("mo"), col("rows_landed"), col("rows_written"),
      col("cum_landed"), col("cum_written"), col("wa_e6"))
    val tot = cum.agg(max(col("cum_landed")).as("cum_landed"),
        max(col("cum_written")).as("cum_written"),
        sum(col("rows_landed")).as("rows_landed"),
        sum(col("rows_written")).as("rows_written"))
      .select(lit("~TOTAL").as("key"), lit(-1L).as("mo"),
        col("rows_landed"), col("rows_written"), col("cum_landed"),
        col("cum_written"),
        expr("cum_written * CAST(1000000 AS DECIMAL(38,0)) div cum_landed")
          .as("wa_e6"))
    rows.unionByName(tot)
      .orderBy(length(col("key")), col("key"))
  }

  private val p42Oracle: String =
    s"""WITH mf AS (
       | SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mo,
       |  CAST(year(o_orderdate) AS BIGINT) AS yr,
       |  CAST(count(*) AS BIGINT) AS n_rows
       | FROM orders GROUP BY 1, 2),
       |ver AS (
       | SELECT mf.*, CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS version
       | FROM mf),
       |yf AS (
       | SELECT yr, min(version) AS y_first, CAST(sum(n_rows) AS BIGINT) AS y_rows
       | FROM ver GROUP BY 1),
       |per AS (
       | SELECT v.version, v.mo, v.n_rows AS rows_landed,
       |  v.n_rows + CASE WHEN v.version = o.y_first
       |   THEN COALESCE(p.y_rows, 0) ELSE 0 END AS rows_written
       | FROM ver v JOIN yf o ON o.yr = v.yr
       |  LEFT JOIN yf p ON p.yr = v.yr - 1),
       |cum AS (
       | SELECT version, mo, rows_landed,
       |  CAST(rows_written AS BIGINT) AS rows_written,
       |  CAST(sum(rows_landed) OVER w AS BIGINT) AS cum_landed,
       |  CAST(sum(rows_written) OVER w AS BIGINT) AS cum_written
       | FROM per WINDOW w AS (ORDER BY version ROWS UNBOUNDED PRECEDING))
       |SELECT key, mo, rows_landed, rows_written, cum_landed, cum_written,
       | CAST(cum_written * 1000000 // cum_landed AS BIGINT) AS wa_e6 FROM (
       | SELECT CAST(version AS VARCHAR) AS key, mo, rows_landed,
       |  rows_written, cum_landed, cum_written
       | FROM cum
       | UNION ALL
       | SELECT '~TOTAL', CAST(-1 AS BIGINT), CAST(sum(rows_landed) AS BIGINT),
       |  CAST(sum(rows_written) AS BIGINT), CAST(max(cum_landed) AS BIGINT),
       |  CAST(max(cum_written) AS BIGINT)
       | FROM cum)
       |ORDER BY length(key), key""".stripMargin

  val PurgeEighths = 2L // p40: retention horizon — the oldest quarter of days

  /** `p40_stale_stats`: the statistics-staleness audit merge-on-read
    * deletes create — the lakehouse failure mode p32 sets up: after a
    * retention purge (delete CLOSED orders — status F or P — older than
    * the [[PurgeEighths]]/8 day cutoff) runs as a delete-mask instead of
    * a rewrite, every file's manifest still carries its PRE-delete
    * min/max day stats. A compliance scan for pre-cutoff data plans off
    * those stale stats: files whose stored span claims old data but
    * whose LIVE rows are all post-cutoff get read for nothing. Per
    * z-layout file: physical/purged/live rows, stored vs live day
    * spans (live = -1 when the file is fully dead), the verdict
    * (`tight` — stats never claimed old data; `honest_old` — live
    * pre-cutoff rows remain (open orders survive the purge, so
    * straddling files usually stay honest); `stale_wasted` — the stats
    * claim old data no live row backs, the rows a planner reads for
    * nothing; `dead`), and `wasted_rows` (physical rows of
    * stale_wasted files — the recurring scan tax until stats are
    * refreshed). `~TOTAL` foots the audit; its wasted_rows is the
    * number an OPTIMIZE/rewrite decision weighs against p16's
    * compaction cost.
    *
    * Scale: ONE grouped scan (the p32 shape — z-keying is map-side
    * expression work off one broadcast stats scalar, the purge
    * predicate is per-row arithmetic, min/max/conditional-min partials
    * ride the single zcell shuffle); everything after the first
    * aggregate is manifest-grained. No victim list is even needed —
    * the retention predicate is pure arithmetic, the cheapest possible
    * delete-mask. */
  def p40StaleStats(spark: SparkSession, dir: String): DataFrame = {
    val per = zkeyedOrders(spark, dir, Seq("o_orderstatus"))
      .withColumn("zcell",
        shiftrightunsigned(col("zkey"), 2 * ZGridBits - ZFileBits))
      .withColumn("cutoff",
        expr(s"day_min + (day_max - day_min + 1) * $PurgeEighths div 8"))
      .withColumn("purged",
        (col("day") < col("cutoff") &&
          col("o_orderstatus").isin("F", "P")).cast("long"))
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("purged")).as("n_purged"),
        sum(lit(1L) - col("purged")).as("n_live"),
        min(col("day")).as("stored_min_day"),
        max(col("day")).as("stored_max_day"),
        coalesce(min(when(col("purged") === 0L, col("day"))), lit(-1L))
          .as("live_min_day"),
        coalesce(max(when(col("purged") === 0L, col("day"))), lit(-1L))
          .as("live_max_day"),
        max(col("cutoff")).as("cutoff"))
      .withColumn("verdict",
        when(col("n_live") === 0L, "dead")
          .when(col("stored_min_day") >= col("cutoff"), "tight")
          .when(col("live_min_day") < col("cutoff"), "honest_old")
          .otherwise("stale_wasted"))
      .withColumn("wasted_rows",
        when(col("verdict") === "stale_wasted", col("n_rows")).otherwise(0L))
      .localCheckpoint(true) // manifest-sized; per-file rows + ~TOTAL read it
    val rows = per.select(col("zcell").cast("string").as("zcell"),
      col("verdict"), col("n_rows"), col("n_purged"), col("n_live"),
      col("stored_min_day"), col("stored_max_day"),
      col("live_min_day"), col("live_max_day"), col("wasted_rows"))
    val tot = per.agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_purged")).as("n_purged"),
        sum(col("n_live")).as("n_live"),
        sum(col("wasted_rows")).as("wasted_rows"))
      .select(lit("~TOTAL").as("zcell"), lit("~TOTAL").as("verdict"),
        col("n_rows"), col("n_purged"), col("n_live"),
        lit(-1L).as("stored_min_day"), lit(-1L).as("stored_max_day"),
        lit(-1L).as("live_min_day"), lit(-1L).as("live_max_day"),
        col("wasted_rows"))
    rows.unionByName(tot).orderBy(col("zcell"))
  }

  private val p40Oracle: String = {
    val grid = 1L << ZGridBits
    val shift = 2 * ZGridBits - ZFileBits
    s"""WITH o AS (
       | SELECT epoch_us(o_orderdate) // ${86400L * 1000000L} AS day,
       |  o_custkey AS cust, o_orderstatus AS status
       | FROM orders),
       |s AS (SELECT min(day) AS day_min, max(day) AS day_max,
       |  min(cust) AS cust_min, max(cust) AS cust_max FROM o),
       |g AS (
       | SELECT day, status,
       |  ((day - day_min) * $grid) // (day_max - day_min + 1) AS xn,
       |  ((cust - cust_min) * $grid) // (cust_max - cust_min + 1) AS yn,
       |  day_min + (day_max - day_min + 1) * $PurgeEighths // 8 AS cutoff
       | FROM o CROSS JOIN s),
       |z AS (
       | SELECT day, status, cutoff,
       |  CAST(list_sum(list_transform(range(0, 16), i ->
       |    (((xn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER)))
       |    + (((yn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER) + 1))))
       |   AS BIGINT) >> $shift AS zcell
       | FROM g),
       |p AS (
       | SELECT zcell, day, cutoff,
       |  CASE WHEN day < cutoff AND status IN ('F', 'P')
       |   THEN 1 ELSE 0 END AS purged
       | FROM z),
       |per AS (
       | SELECT zcell, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(sum(purged) AS BIGINT) AS n_purged,
       |  CAST(count(*) - sum(purged) AS BIGINT) AS n_live,
       |  CAST(min(day) AS BIGINT) AS stored_min_day,
       |  CAST(max(day) AS BIGINT) AS stored_max_day,
       |  CAST(COALESCE(min(CASE WHEN purged = 0 THEN day END), -1) AS BIGINT)
       |   AS live_min_day,
       |  CAST(COALESCE(max(CASE WHEN purged = 0 THEN day END), -1) AS BIGINT)
       |   AS live_max_day,
       |  max(cutoff) AS cutoff
       | FROM p GROUP BY 1),
       |v AS (
       | SELECT per.*,
       |  CASE WHEN n_live = 0 THEN 'dead'
       |   WHEN stored_min_day >= cutoff THEN 'tight'
       |   WHEN live_min_day < cutoff THEN 'honest_old'
       |   ELSE 'stale_wasted' END AS verdict
       | FROM per),
       |w AS (
       | SELECT v.*, CAST(CASE WHEN verdict = 'stale_wasted' THEN n_rows
       |  ELSE 0 END AS BIGINT) AS wasted_rows
       | FROM v)
       |SELECT zcell, verdict, n_rows, n_purged, n_live, stored_min_day,
       | stored_max_day, live_min_day, live_max_day, wasted_rows FROM (
       | SELECT CAST(zcell AS VARCHAR) AS zcell, verdict, n_rows, n_purged,
       |  n_live, stored_min_day, stored_max_day, live_min_day, live_max_day,
       |  wasted_rows
       | FROM w
       | UNION ALL
       | SELECT '~TOTAL', '~TOTAL', CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(n_purged) AS BIGINT), CAST(sum(n_live) AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(sum(wasted_rows) AS BIGINT)
       | FROM w)
       |ORDER BY zcell""".stripMargin
  }

  /** `p32_deletion_read`: the merge-on-read half of p21's erasure story
    * — the Iceberg v2 / Delta deletion-vector READ path. p21 PLANS the
    * rewrite; until the rewrite runs, every query must read the fact
    * THROUGH the delete mask (victim keys = p21's every-[[ErasureMod]]th
    * customer). Per z-layout file: the physical row count, the masked
    * (deleted-but-not-yet-rewritten) rows, the live rows a reader
    * actually surfaces, and a live-row digest (sum of live order keys —
    * `Decimal(38,0)` internally, emitted as a digits-string, the p25
    * envelope discipline) that the spec foots against the REWRITTEN
    * table: read-through-mask ≡ post-rewrite, the invariant
    * merge-on-read exists to guarantee. `read_path` is the per-file
    * planning decision a real DV read makes off the manifest alone:
    * files with no attached deletes stream `direct` (zero mask work),
    * files with victims pay the `masked` merge — both arms non-vacuous
    * on the shipped corpus (spec-pinned).
    *
    * Scale: the delete-key list is BROADCAST (request-sized) into the
    * ONE grouped scan that builds the per-file verdicts — an equi-join,
    * never a range probe; no fact rewrite, no window, no fact-fact
    * join; everything after the first aggregate is manifest-grained.
    * The mask here is equality-grain (Iceberg v2 equality deletes —
    * per-file delete keys): positional vectors bind to physical parquet
    * row indexes, which the engine surfaces at scan time; deriving them
    * in-query would need a corpus-wide rank, exactly the unbounded
    * window shape the suite bans. */
  def p32DeletionRead(spark: SparkSession, dir: String): DataFrame = {
    val req = graft.Tables.load(spark, dir, "customer")
      .filter(col("c_custkey") % ErasureMod === 0)
      .select(col("c_custkey").as("rk"))
    val per = zkeyedOrders(spark, dir)
      .withColumn("zcell",
        shiftrightunsigned(col("zkey"), 2 * ZGridBits - ZFileBits))
      .join(broadcast(req), col("cust") === col("rk"), "left")
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("rk")).as("n_deleted"),
        sum(when(col("rk").isNull, 1L).otherwise(0L)).as("n_live"),
        coalesce(
          sum(when(col("rk").isNull, col("o_orderkey").cast("decimal(38,0)"))),
          lit(0).cast("decimal(38,0)")).as("live_dec"))
      .localCheckpoint(true) // manifest-sized; per-file rows + ~TOTAL read it
    val rows = per.select(col("zcell").cast("string").as("zcell"),
      when(col("n_deleted") > 0, "masked").otherwise("direct").as("read_path"),
      col("n_rows"), col("n_deleted"), col("n_live"),
      col("live_dec").cast("string").as("live_key_sum"))
    val tot = per.agg(sum(col("n_rows")).as("n_rows"),
        sum(col("n_deleted")).as("n_deleted"),
        sum(col("n_live")).as("n_live"),
        sum(col("live_dec")).as("live_dec"))
      .select(lit("~TOTAL").as("zcell"), lit("~TOTAL").as("read_path"),
        col("n_rows"), col("n_deleted"), col("n_live"),
        col("live_dec").cast("string").as("live_key_sum"))
    rows.unionByName(tot).orderBy(col("zcell"), col("read_path"))
  }

  private val p32Oracle: String = {
    val grid = 1L << ZGridBits
    val shift = 2 * ZGridBits - ZFileBits
    s"""WITH o AS (
       | SELECT o_orderkey, epoch_us(o_orderdate) // ${86400L * 1000000L} AS day,
       |  o_custkey AS cust
       | FROM orders),
       |s AS (SELECT min(day) AS day_min, max(day) AS day_max,
       |  min(cust) AS cust_min, max(cust) AS cust_max FROM o),
       |g AS (
       | SELECT o_orderkey, cust,
       |  ((day - day_min) * $grid) // (day_max - day_min + 1) AS xn,
       |  ((cust - cust_min) * $grid) // (cust_max - cust_min + 1) AS yn
       | FROM o CROSS JOIN s),
       |z AS (
       | SELECT o_orderkey, cust, CAST(list_sum(list_transform(range(0, 16), i ->
       |    (((xn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER)))
       |    + (((yn >> CAST(i AS INTEGER)) & 1) << (2 * CAST(i AS INTEGER) + 1))))
       |   AS BIGINT) AS zkey
       | FROM g),
       |req AS (SELECT c_custkey AS rk FROM customer WHERE c_custkey % $ErasureMod = 0),
       |per AS (
       | SELECT zkey >> $shift AS zcell,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(rk) AS BIGINT) AS n_deleted,
       |  CAST(count(*) - count(rk) AS BIGINT) AS n_live,
       |  coalesce(sum(CASE WHEN rk IS NULL
       |    THEN CAST(o_orderkey AS HUGEINT) END), 0) AS live_dec
       | FROM z LEFT JOIN req ON rk = cust GROUP BY 1)
       |SELECT zcell, read_path, n_rows, n_deleted, n_live, live_key_sum
       |FROM (
       | SELECT CAST(zcell AS VARCHAR) AS zcell,
       |  CASE WHEN n_deleted > 0 THEN 'masked' ELSE 'direct' END AS read_path,
       |  n_rows, n_deleted, n_live, CAST(live_dec AS VARCHAR) AS live_key_sum
       | FROM per
       | UNION ALL
       | SELECT '~TOTAL', '~TOTAL', CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(n_deleted) AS BIGINT), CAST(sum(n_live) AS BIGINT),
       |  CAST(sum(live_dec) AS VARCHAR)
       | FROM per)
       |ORDER BY zcell, read_path""".stripMargin
  }

  /** `p33_cdc_changelog`: the ROW-grain changelog between two snapshot
    * versions of the p25 chain — Delta CDF / Iceberg changelog-scan as
    * a QUERY, the feed downstream consumers actually subscribe to where
    * p28 ships FILES. Between the subscriber's cursor (head −
    * [[ReplicaLag]], p28's replica convention) and head, every landed
    * month is an `insert` event carrying exactly its rows; a year
    * compaction inside the window is a `rewrite` event carrying ZERO
    * rows — the rewrite moves `prev_n_m + 1` files (the churn p28's
    * file diff must ship) but changes no row, which is precisely why a
    * row-grain subscriber is cheaper than a file mirror: the closed
    * year never re-transfers. Both event arms are non-vacuous on the
    * shipped corpus (the lag straddles a year boundary; spec-pinned).
    *
    * Scale: the fact is touched ONCE (p25's month aggregation);
    * versions, cursors and the window all run on the calendar-grained
    * manifest (≤1.2k rows/century), the cursor pair attaching as a
    * broadcast 1-row aggregate — a real changelog scan reads the
    * snapshot log, never the data. Oracle: the p25 CTE chain plus the
    * p28 cursor CTEs, changelog arms as unions. */
  def p33CdcChangelog(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ver = monthManifest(spark, dir)
      .withColumn("version",
        row_number().over(Window.orderBy(col("mo"))).cast("long"))
      .withColumn("pos_in_yr", row_number()
        .over(Window.partitionBy(col("yr")).orderBy(col("mo"))).cast("long"))
      .localCheckpoint(true) // calendar-grained; cursors + window read it
    val yc = ver.groupBy(col("yr")).agg(count(lit(1)).as("n_m"))
    val heads = ver.agg(max(col("version")).as("v_head"))
      .withColumn("v_lo", greatest(col("v_head") - ReplicaLag, lit(1L)))
    val w = ver.crossJoin(broadcast(heads))
      .filter(col("version") > col("v_lo") && col("version") <= col("v_head"))
      .join(broadcast(yc.select((col("yr") + 1).as("yr"),
        col("n_m").as("prev_n_m"))), Seq("yr"), "left")
      .withColumn("prev_n_m", coalesce(col("prev_n_m"), lit(0L)))
    def vkey = concat(lit("v"), lpad(col("version").cast("string"), 4, "0"))
    val ins = w.select(vkey.as("key"), lit("insert").as("change"),
      col("version"), col("mo"), col("yr"), lit(1L).as("n_events"),
      col("n_rows"), lit(1L).as("n_files_touched"))
    val rw = w.filter(col("pos_in_yr") === 1 && col("prev_n_m") > 0)
      .select(vkey.as("key"), lit("rewrite").as("change"),
        col("version"), col("mo"), col("yr"), lit(1L).as("n_events"),
        lit(0L).as("n_rows"), (col("prev_n_m") + 1L).as("n_files_touched"))
    val delta = ins.unionByName(rw)
      .localCheckpoint(true) // window-sized; events + totals read it
    def totRow(src: DataFrame, key: org.apache.spark.sql.Column,
               change: org.apache.spark.sql.Column) =
      src.agg(count(lit(1)).as("n_events"), sum(col("n_rows")).as("n_rows"),
          sum(col("n_files_touched")).as("n_files_touched"))
        .select(key.as("key"), change.as("change"),
          lit(null).cast("long").as("version"),
          lit(null).cast("long").as("mo"), lit(null).cast("long").as("yr"),
          col("n_events"), col("n_rows"), col("n_files_touched"))
    val perChange = delta.groupBy(col("change"))
      .agg(count(lit(1)).as("n_events"), sum(col("n_rows")).as("n_rows"),
        sum(col("n_files_touched")).as("n_files_touched"))
      .select(concat(lit("~TOTAL_"), col("change")).as("key"), col("change"),
        lit(null).cast("long").as("version"),
        lit(null).cast("long").as("mo"), lit(null).cast("long").as("yr"),
        col("n_events"), col("n_rows"), col("n_files_touched"))
    delta.unionByName(perChange)
      .unionByName(totRow(delta, lit("~TOTAL"), lit("~TOTAL")))
      .orderBy(col("key"), col("change"))
  }

  private val p33Oracle: String =
    s"""WITH mf AS (
       | SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mo,
       |  CAST(year(o_orderdate) AS BIGINT) AS yr,
       |  CAST(count(*) AS BIGINT) AS n_rows
       | FROM orders GROUP BY 1, 2),
       |yc AS (SELECT yr, CAST(count(*) AS BIGINT) AS n_m FROM mf GROUP BY 1),
       |v AS (
       | SELECT mf.*, CAST(row_number() OVER (ORDER BY mo) AS BIGINT) AS version,
       |  CAST(row_number() OVER (PARTITION BY yr ORDER BY mo) AS BIGINT) AS pos_in_yr
       | FROM mf),
       |hd AS (SELECT max(version) AS v_head,
       |  greatest(max(version) - $ReplicaLag, 1) AS v_lo FROM v),
       |w AS (
       | SELECT v.*, COALESCE(p.n_m, 0) AS prev_n_m
       | FROM v CROSS JOIN hd LEFT JOIN yc p ON p.yr = v.yr - 1
       | WHERE version > v_lo AND version <= v_head),
       |delta AS (
       | SELECT 'v' || lpad(CAST(version AS VARCHAR), 4, '0') AS key,
       |  'insert' AS change, version, mo, yr, CAST(1 AS BIGINT) AS n_events,
       |  n_rows, CAST(1 AS BIGINT) AS n_files_touched
       | FROM w
       | UNION ALL
       | SELECT 'v' || lpad(CAST(version AS VARCHAR), 4, '0'), 'rewrite',
       |  version, mo, yr, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
       |  prev_n_m + 1
       | FROM w WHERE pos_in_yr = 1 AND prev_n_m > 0)
       |SELECT key, change, version, mo, yr, n_events, n_rows,
       | n_files_touched
       |FROM (
       | SELECT * FROM delta
       | UNION ALL
       | SELECT '~TOTAL_' || change, change, CAST(NULL AS BIGINT),
       |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |  CAST(count(*) AS BIGINT), CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(n_files_touched) AS BIGINT)
       | FROM delta GROUP BY change
       | UNION ALL
       | SELECT '~TOTAL', '~TOTAL', CAST(NULL AS BIGINT),
       |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |  CAST(count(*) AS BIGINT), CAST(sum(n_rows) AS BIGINT),
       |  CAST(sum(n_files_touched) AS BIGINT)
       | FROM delta)
       |ORDER BY key, change""".stripMargin

  // ---------------------------------------------------------------- p43

  /** p43's staged batch = p7's delta convention (orders from 1997-01-01 on);
    * everything earlier is the published main table. */
  private val WapCutoffUs: Long =
    java.time.Instant.parse("1997-01-01T00:00:00Z").getEpochSecond * 1000000L

  /** The WAP expectation suite: (column, metric, lo, hi) — p17's metric
    * vocabulary. Fixed HERE (not PipelineConfig) because the oracle SQL is
    * generated from the same literals; bounds are chosen so the audit
    * exercises three verdict arms on the shipped data (`ok`,
    * `pre_existing`, and — at sf0.001 — `regressed`). */
  private val WapExps: Seq[(String, String, Option[Long], Option[Long])] = Seq(
    ("o_totalprice", "min_cents", Some(140000L), None),
    ("o_totalprice", "max_cents", None, Some(50000000L)),
    ("o_orderstatus", "n_distinct", None, Some(3L)),
    ("o_orderpriority", "n_distinct", None, Some(4L)),
    ("o_custkey", "null_rate_e6", None, Some(0L)))

  /** `p43_wap_publish`: the write-audit-publish gate — the Iceberg-branch /
    * Delta-staging pattern where a batch lands on an UNPUBLISHED branch,
    * the expectation suite runs against the branch state (main ∪ batch),
    * and the batch publishes only if it did not BREAK anything. Per
    * expectation: observed value on main vs on the branch, both pass
    * verdicts, and the blame class — `ok` (pass→pass), `regressed`
    * (pass→fail: the batch broke it — the only class that blocks),
    * `pre_existing` (fail→fail: standing debt, not the batch's fault),
    * `fixed` (fail→pass — reachable only for rate metrics, since a union
    * can only widen ranges and grow distincts). A `~DECISION` row carries
    * the gate verdict (`publish` iff zero regressed) with main/branch row
    * counts and the two all-pass flags. Gating on REGRESSIONS rather than
    * absolute pass is the production semantics: a strict gate over a table
    * with standing debt would block every batch forever; WAP isolates
    * what THIS batch changed.
    *
    * Shape: ONE scan of orders computes every main-side aggregate (via
    * FILTER-style conditional aggregation) and every branch-side aggregate
    * in a single 1-row agg (all map-side partial, the p17 pattern); the
    * report explodes from that row, so nothing row-sized survives the
    * scan. p17's empty-side discipline: a null observation fails its
    * expectation loudly (and an empty MAIN makes every main verdict fail,
    * so the first-ever publish is an explicit decision, not a vacuous
    * pass). All observations are exact integers (cents / counts /
    * floor-e6 rates) — no verdict can flip on a cross-engine ulp. */
  def p43WapPublish(spark: SparkSession, dir: String): DataFrame = {
    val isMain = unix_micros(col("o_orderdate").cast("timestamp")) < WapCutoffUs
    def mainSide(c: String): Column = when(isMain, col(c))
    val aggs = WapExps.zipWithIndex.flatMap { case ((c, m, _, _), i) =>
      val (vm, vb) = m match {
        case "min_cents" =>
          (floor(min(mainSide(c)) * 100).cast("long"),
            floor(min(col(c)) * 100).cast("long"))
        case "max_cents" =>
          (floor(max(mainSide(c)) * 100).cast("long"),
            floor(max(col(c)) * 100).cast("long"))
        case "n_distinct" =>
          (countDistinct(mainSide(c)), countDistinct(col(c)))
        case "null_rate_e6" =>
          (sum(when(isMain && col(c).isNull, 1L).otherwise(0L)),
            sum(when(col(c).isNull, 1L).otherwise(0L)))
      }
      Seq(vm.as(s"vm$i"), vb.as(s"vb$i"))
    }
    val agg = graft.Tables.load(spark, dir, "orders")
      .agg(sum(when(isMain, 1L).otherwise(0L)).as("n_main"),
        count(lit(1)).as("n_total") +: aggs: _*)
    def bound(o: Option[Long]) =
      o.map(v => lit(v).cast("long")).getOrElse(lit(null).cast("long"))
    val rows = WapExps.zipWithIndex.map { case ((c, m, lo, hi), i) =>
      val (obsM, obsB) = m match {
        case "null_rate_e6" =>
          (when(col("n_main") > 0,
            floor(col(s"vm$i") * lit(1000000.0) / col("n_main")).cast("long")),
            when(col("n_total") > 0,
              floor(col(s"vb$i") * lit(1000000.0) / col("n_total")).cast("long")))
        // countDistinct over an empty side is 0, not null — the n>0 guard
        // keeps p17's fail-loudly-on-empty discipline on every metric
        case "n_distinct" =>
          (when(col("n_main") > 0, col(s"vm$i")),
            when(col("n_total") > 0, col(s"vb$i")))
        case _ => (col(s"vm$i"), col(s"vb$i"))
      }
      def passOf(obs: Column) = {
        val inB = Seq(lo.map(l => obs >= l), hi.map(h => obs <= h))
          .flatten.reduce(_ && _)
        when(obs.isNull, 0L).otherwise(when(inB, 1L).otherwise(0L))
      }
      (passOf(obsM), passOf(obsB), obsM, obsB, c, m, lo, hi)
    }
    val verdictOf = (pm: Column, pb: Column) =>
      when(pm === 1L && pb === 1L, "ok")
        .when(pm === 1L && pb === 0L, "regressed")
        .when(pm === 0L && pb === 0L, "pre_existing")
        .otherwise("fixed")
    val expStructs = rows.map { case (pm, pb, obsM, obsB, c, m, lo, hi) =>
      struct(lit(c).as("column_name"), lit(m).as("metric"),
        bound(lo).as("lo"), bound(hi).as("hi"),
        obsM.as("observed_main"), obsB.as("observed_branch"),
        pm.as("pass_main"), pb.as("pass_branch"),
        verdictOf(pm, pb).as("verdict"))
    }
    val anyRegressed = rows.map { case (pm, pb, _, _, _, _, _, _) =>
      pm === 1L && pb === 0L }.reduce(_ || _)
    val decision = struct(lit("~DECISION").as("column_name"),
      lit("gate").as("metric"),
      lit(null).cast("long").as("lo"), lit(null).cast("long").as("hi"),
      col("n_main").cast("long").as("observed_main"),
      col("n_total").cast("long").as("observed_branch"),
      rows.map(_._1).map(p => when(p === 1L, 1L).otherwise(0L))
        .reduce((a, b) => least(a, b)).as("pass_main"),
      rows.map(_._2).map(p => when(p === 1L, 1L).otherwise(0L))
        .reduce((a, b) => least(a, b)).as("pass_branch"),
      when(anyRegressed, "abort").otherwise("publish").as("verdict"))
    agg.select(explode(array(expStructs :+ decision: _*)).as("x"))
      .select(col("x.*"))
      .orderBy(col("column_name"), col("metric"))
  }

  private lazy val p43Oracle: String = {
    val cut = "TIMESTAMP '1997-01-01 00:00:00'"
    val aggSql = WapExps.zipWithIndex.flatMap { case ((c, m, _, _), i) =>
      val (vm, vb) = m match {
        case "min_cents" =>
          (s"CAST(floor(min($c) FILTER (WHERE o_orderdate < $cut) * 100) AS BIGINT)",
            s"CAST(floor(min($c) * 100) AS BIGINT)")
        case "max_cents" =>
          (s"CAST(floor(max($c) FILTER (WHERE o_orderdate < $cut) * 100) AS BIGINT)",
            s"CAST(floor(max($c) * 100) AS BIGINT)")
        case "n_distinct" =>
          (s"CAST(count(DISTINCT $c) FILTER (WHERE o_orderdate < $cut) AS BIGINT)",
            s"CAST(count(DISTINCT $c) AS BIGINT)")
        case "null_rate_e6" =>
          (s"CAST(count(*) FILTER (WHERE o_orderdate < $cut AND $c IS NULL) AS BIGINT)",
            s"CAST(count(*) FILTER (WHERE $c IS NULL) AS BIGINT)")
      }
      Seq(s"$vm AS vm$i", s"$vb AS vb$i")
    }.mkString(",\n  ")
    def obsSql(i: Int, m: String, side: String, n: String) = m match {
      case "null_rate_e6" =>
        s"CASE WHEN $n > 0 THEN CAST(floor($side$i * 1000000.0 / $n) AS BIGINT) END"
      case "n_distinct" => s"CASE WHEN $n > 0 THEN $side$i END"
      case _ => s"$side$i"
    }
    def passSql(obs: String, lo: Option[Long], hi: Option[Long]) = {
      val b = (lo.map(l => s"($obs) >= $l") ++ hi.map(h => s"($obs) <= $h"))
        .mkString(" AND ")
      s"CASE WHEN ($obs) IS NULL THEN 0 WHEN $b THEN 1 ELSE 0 END"
    }
    val expSelects = WapExps.zipWithIndex.map { case ((c, m, lo, hi), i) =>
      val (om, ob) = (obsSql(i, m, "vm", "n_main"), obsSql(i, m, "vb", "n_total"))
      val (pm, pb) = (passSql(om, lo, hi), passSql(ob, lo, hi))
      def lit0(o: Option[Long]) =
        o.map(_.toString).getOrElse("CAST(NULL AS BIGINT)")
      s"""SELECT '$c' AS column_name, '$m' AS metric,
         | ${lit0(lo)} AS lo, ${lit0(hi)} AS hi,
         | $om AS observed_main, $ob AS observed_branch,
         | CAST($pm AS BIGINT) AS pass_main, CAST($pb AS BIGINT) AS pass_branch,
         | CASE WHEN $pm = 1 AND $pb = 1 THEN 'ok'
         |  WHEN $pm = 1 AND $pb = 0 THEN 'regressed'
         |  WHEN $pm = 0 AND $pb = 0 THEN 'pre_existing'
         |  ELSE 'fixed' END AS verdict
         |FROM a""".stripMargin
    }
    val regressedTerms = WapExps.zipWithIndex.map { case ((_, m, lo, hi), i) =>
      val (om, ob) = (obsSql(i, m, "vm", "n_main"), obsSql(i, m, "vb", "n_total"))
      s"(${passSql(om, lo, hi)} = 1 AND ${passSql(ob, lo, hi)} = 0)"
    }.mkString(" OR ")
    val allMain = WapExps.zipWithIndex.map { case ((_, m, lo, hi), i) =>
      s"(${passSql(obsSql(i, m, "vm", "n_main"), lo, hi)})" }.mkString(" + ")
    val allBranch = WapExps.zipWithIndex.map { case ((_, m, lo, hi), i) =>
      s"(${passSql(obsSql(i, m, "vb", "n_total"), lo, hi)})" }.mkString(" + ")
    s"""WITH a AS (
       | SELECT CAST(count(*) FILTER (WHERE o_orderdate < $cut) AS BIGINT)
       |   AS n_main,
       |  CAST(count(*) AS BIGINT) AS n_total,
       |  $aggSql
       | FROM orders)
       |SELECT column_name, metric, lo, hi, observed_main, observed_branch,
       | pass_main, pass_branch, verdict
       |FROM (
       |${expSelects.mkString("\n UNION ALL\n")}
       | UNION ALL
       | SELECT '~DECISION', 'gate', CAST(NULL AS BIGINT),
       |  CAST(NULL AS BIGINT), n_main, n_total,
       |  CAST(CASE WHEN ($allMain) = ${WapExps.size} THEN 1 ELSE 0 END
       |   AS BIGINT),
       |  CAST(CASE WHEN ($allBranch) = ${WapExps.size} THEN 1 ELSE 0 END
       |   AS BIGINT),
       |  CASE WHEN $regressedTerms THEN 'abort' ELSE 'publish' END
       | FROM a)
       |ORDER BY column_name, metric""".stripMargin
  }

  // ---------------------------------------------------------------- p44

  /** p44 sketch size — small enough that BOTH KMV regimes fire at the
    * smallest test scale (per-month custkey NDV spans 1..29 at sf0.001,
    * so months straddle K=16 and the table row always estimates);
    * production dials K to 1024+ for ~3% error. Hash convention is
    * q59's: md5_60 >> 15 = 45-bit hashes, (K−1)·2^45 stays in exact
    * BIGINT range. */
  val P44K = 16

  /** `p44_incremental_stats`: incremental table-statistics maintenance —
    * the BUILD path whose staleness p40 audits (a CBO needs NDV/min/max
    * per column; re-ANALYZE-ing 100 TB per landing is the thing nobody
    * does). Per landing month (p25's partition convention), the stats a
    * scan of ONLY that month can produce: row count, exact NDV of
    * o_custkey (partition-sized, affordable per increment), floor-cents
    * min/max of o_totalprice, and a K-minimum-values NDV sketch (q59's
    * hash convention). The `~TABLE` row is the MERGE: min-of-mins /
    * max-of-maxs (exact by algebra), and the union of the monthly KMV
    * sketches re-taken to the K smallest — which is EXACTLY the table's
    * own KMV sketch (mergeability, the q59 proof), so table-level NDV
    * never rescans history. Every row carries the exact NDV beside the
    * estimate with floor-e6 error: the sketch's quality is a measured
    * column, and the exact regime (n_held < K ⟹ est ≡ exact) fires on
    * the small months while the estimator regime fires on `~TABLE`.
    *
    * Scale: the fact scan happens ONCE (checkpointed, three grain
    * consumers); daily sketches are ≤ K rows/month after a keyed
    * distinct; the table merge re-ranks months×K rows. The per-month
    * exact NDV is increment-sized by construction — the point of
    * incremental stats; only the `~TABLE` exact NDV is corpus-sized, and
    * it is the verification column, not the maintained path. */
  def p44IncrementalStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Behavior.{KmvHashShift, KmvHashSpace}
    val o = graft.Tables.load(spark, dir, "orders")
      .select(
        expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)")
          .as("mo"),
        col("o_custkey"),
        floor(col("o_totalprice") * 100).cast("long").as("price_c"))
      .localCheckpoint(true) // sketch, exact and min/max consumers
    val mh = o.select(col("mo"),
      shiftrightunsigned(graft.functions.TextFunctions
        .md5Long60(col("o_custkey").cast("string")), KmvHashShift).as("h"))
      .distinct()
    val wM = org.apache.spark.sql.expressions.Window
      .partitionBy(col("mo")).orderBy(col("h"))
    val moSketch = mh
      .withColumn("r", row_number().over(wM)).filter(col("r") <= P44K)
      .select(col("mo"), col("h"))
      .localCheckpoint(true) // per-month agg AND the table merge
    val est = when(col("n_held") < P44K, col("n_held"))
      .otherwise(expr(s"${(P44K - 1).toLong * KmvHashSpace}L div kth_h"))
    val errE6 = floor(abs(col("ndv_est") - col("ndv_exact")) * lit(1000000.0)
      / col("ndv_exact")).cast("long")
    val perMonth = o.groupBy(col("mo"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("ndv_exact"),
        min(col("price_c")).as("mn_cents"), max(col("price_c")).as("mx_cents"))
      .join(moSketch.groupBy(col("mo"))
        .agg(count(lit(1)).as("n_held"), max(col("h")).as("kth_h")), Seq("mo"))
      .withColumn("ndv_est", est)
      .select(col("mo").cast("string").as("key"), col("n_rows"),
        col("ndv_exact"), col("n_held"), col("kth_h"), col("ndv_est"),
        errE6.as("err_e6"), col("mn_cents"), col("mx_cents"))
    val tblSketch = moSketch.select(col("h")).distinct()
      .orderBy(col("h")).limit(P44K)
      .agg(count(lit(1)).as("n_held"), max(col("h")).as("kth_h"))
    val table = o
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("o_custkey")).as("ndv_exact"),
        min(col("price_c")).as("mn_cents"), max(col("price_c")).as("mx_cents"))
      .crossJoin(tblSketch) // two 1-row frames
      .withColumn("ndv_est", est)
      .select(lit("~TABLE").as("key"), col("n_rows"), col("ndv_exact"),
        col("n_held"), col("kth_h"), col("ndv_est"), errE6.as("err_e6"),
        col("mn_cents"), col("mx_cents"))
    perMonth.unionAll(table).orderBy(col("key"))
  }

  private lazy val p44Oracle: String = {
    import graft.operators.Behavior.{KmvHashShift, KmvHashSpace}
    val estSql = (held: String, kth: String) =>
      s"""CAST(CASE WHEN $held < $P44K THEN $held
         | ELSE ${(P44K - 1).toLong * KmvHashSpace} // $kth END AS BIGINT)""".stripMargin
    s"""WITH o AS MATERIALIZED (
       | SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
       |   AS mo,
       |  o_custkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS price_c
       | FROM orders),
       |mh AS (
       | SELECT DISTINCT mo,
       |  CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
       |   // ${1L << KmvHashShift} AS h
       | FROM o),
       |ms AS MATERIALIZED (
       | SELECT mo, h FROM (
       |  SELECT mo, h, row_number() OVER (PARTITION BY mo ORDER BY h) AS r
       |  FROM mh) WHERE r <= $P44K),
       |ma AS (
       | SELECT mo, CAST(count(*) AS BIGINT) AS n_held,
       |  CAST(max(h) AS BIGINT) AS kth_h
       | FROM ms GROUP BY 1),
       |mx AS (
       | SELECT mo, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_exact,
       |  CAST(min(price_c) AS BIGINT) AS mn_cents,
       |  CAST(max(price_c) AS BIGINT) AS mx_cents
       | FROM o GROUP BY 1),
       |ts AS (
       | SELECT CAST(count(*) AS BIGINT) AS n_held,
       |  CAST(max(h) AS BIGINT) AS kth_h
       | FROM (SELECT DISTINCT h FROM ms ORDER BY h LIMIT $P44K)),
       |tx AS (
       | SELECT CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv_exact,
       |  CAST(min(price_c) AS BIGINT) AS mn_cents,
       |  CAST(max(price_c) AS BIGINT) AS mx_cents
       | FROM o),
       |u AS (
       | SELECT CAST(mx.mo AS VARCHAR) AS key, mx.n_rows, mx.ndv_exact,
       |  ma.n_held, ma.kth_h, ${estSql("ma.n_held", "ma.kth_h")} AS ndv_est,
       |  mx.mn_cents, mx.mx_cents
       | FROM mx JOIN ma ON ma.mo = mx.mo
       | UNION ALL
       | SELECT '~TABLE', tx.n_rows, tx.ndv_exact, ts.n_held, ts.kth_h,
       |  ${estSql("ts.n_held", "ts.kth_h")}, tx.mn_cents, tx.mx_cents
       | FROM tx CROSS JOIN ts)
       |SELECT key, n_rows, ndv_exact, n_held, kth_h, ndv_est,
       | CAST(floor(abs(ndv_est - ndv_exact) * 1000000.0 / ndv_exact)
       |  AS BIGINT) AS err_e6,
       | mn_cents, mx_cents
       |FROM u ORDER BY key""".stripMargin
  }

  // ---------------------------------------------------------------- p45

  /** p45 per-row byte widths — the avg-row-size column a table's stats
    * manifest records beside rowcount/NDV (declared config, like the
    * reference's yaml: a CBO multiplies stats, it never re-measures). */
  val P45Widths: Map[String, Long] = Map(
    "customer" -> 180L, "orders" -> 120L, "lineitem" -> 112L,
    "part" -> 156L, "supplier" -> 160L, "nation" -> 128L)

  /** p45 broadcast rule: build side is broadcast-worthy when the probe
    * side is at least [[P45RatioK]]x its bytes — the scale-invariant
    * form of the absolute-threshold rule (an absolute threshold is a
    * cluster config; the RATIO is what stats staleness can flip at any
    * corpus size, which is the decision this advisor audits). */
  val P45RatioK = 6L

  /** p45 join graph: (probe table, probe key, build table, build key) —
    * the TPC-H-ish FK edges every curated-zone consumer joins. */
  val P45Edges: Seq[(String, String, String, String)] = Seq(
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"))

  /** p45 ANALYZE cutoff: stats were last refreshed when 3/5 of the fact's
    * month span had landed (p44's month convention) — the facts have
    * since grown ~40% while the ANALYZE-time snapshot still answers the
    * planner's questions. */
  val P45StatsFifths = 3L

  /** `p45_join_advisor`: the CONSUMER of p44's stats — the CBO decision
    * those NDV/rowcount/width columns exist for, applied to join
    * planning (the p39 advisor pattern). Per FK edge of [[P45Edges]]:
    * the broadcast-vs-shuffle verdict the planner would take FROM STATS
    * (rows x declared width, [[P45RatioK]] ratio rule) beside the same
    * verdict from the TRUE current sizes, with `flip` marking edges
    * where stale stats change the plan — the orders⋈customer edge flips
    * at every tested scale: the fact grew 1.6x since the ANALYZE while
    * the dim grew 1.25x, so stats say "customer is too big to
    * broadcast" about a dim the live ratio comfortably broadcasts (the
    * silent 10x-shuffle regression p40's staleness verdicts warn about,
    * here named per join). The stale universe is the p44/p40 calendar:
    * facts = months below the [[P45StatsFifths]] cutoff (data-derived
    * from orders, one calendar for both facts); dims = the d8/t5 md5
    * bucket (< [[graft.operators.Dedup.NewBucketMin]] = rows already
    * present at ANALYZE time). Each edge also carries the textbook
    * output-cardinality estimate |R⋈S| = |R|x|S| / max(V(R,k), V(S,k))
    * from the stale NDVs beside the TRUE join cardinality, so the
    * stats' row-estimate quality is a measured column too.
    *
    * Scale: one scan per table collapses to a 1-row stats frame (all
    * NDVs of all its edge keys in one aggregate, map-side partial); the
    * cutoff attaches as a broadcast 1-row aggregate (p19's pattern);
    * edges assemble by cross-joining 1-row frames. The TRUE join
    * cardinality is computed KEY-GRAINED (each side collapses to
    * (key, count) before the join — p18's collapse-before-join
    * contract), never a row-level join. */
  /** The p45/p46 join-graph vocabulary: tables on any [[P45Edges]] edge
    * and, per table, the edge keys whose NDVs its stats row carries. */
  private[pipeline] val p45Tables: Seq[String] =
    P45Edges.flatMap(e => Seq(e._1, e._3)).distinct
  private[pipeline] val p45KeysOf: Map[String, Seq[String]] =
    p45Tables.map { t =>
      t -> P45Edges.collect {
        case (p, pk, _, _) if p == t => pk
        case (_, _, b, bk) if b == t => bk
      }.distinct
    }.toMap

  /** The p45/p46 per-table stats frames: one aggregate per table
    * computing rows + every edge key's NDV, on both the full (`_true`)
    * and the ANALYZE-time (`_est`) universe — facts by the
    * [[P45StatsFifths]] month cutoff, dims by the d8/t5 md5 bucket.
    *
    * The ANALYZE-cutoff month is collected ONCE as a scalar (a 1-row
    * fetch, the same driver-round-trip class as the engine's eager
    * localCheckpoints) and inlined as a literal: the r21 probe showed
    * the lazy `cut` subtree re-derived per stats consumption — 12 of
    * p45's 36 parquet scans were orders scans re-computing the same
    * cutoff (p45 −12% / p46 −25% solo after the collect).
    *
    * The per-table frames themselves stay LAZY aggregates, rebuilt per
    * consuming edge — both materialization shapes are measured LOSSES:
    *  - checkpointing fact projections: +30% (r19) and the RDD scan
    *    breaks the NLJ plan audit's bounded-side proof;
    *  - computing all stats once and fanning out 1-row LocalRelations
    *    (the r20 verdict's item-6 suggestion, r21-measured): p45 +40%,
    *    p46 +100% solo. The collect SERIALIZES on the driver what AQE
    *    otherwise runs as concurrent independent stages on idle cores,
    *    and it defeats per-edge column pruning — p46 only reads the row
    *    counts, so its pruned per-edge aggregates skip the countDistinct
    *    expand entirely (609 B of shuffle), where the eager form pays
    *    the full NDV expand (9 MB).
    * The duplicate-subtree re-execution this keeps is embarrassingly
    * parallel map work; the scalar the edges share is the one piece
    * worth hoisting. */
  private def p45StatsFrames(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    import graft.functions.TextFunctions.md5Long60
    val dayCol = Map("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
    val cutMo = graft.Tables.load(spark, dir, "orders")
      .select(expr("CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)").as("mo"))
      .agg(expr(s"CAST(min(mo) + (max(mo) - min(mo) + 1) * $P45StatsFifths div 5 AS BIGINT)").as("cut_mo"))
      .collect()(0).getLong(0)
    p45Tables.map { t =>
      val base0 = graft.Tables.load(spark, dir, t)
      val est = dayCol.get(t) match {
        case Some(dc) =>
          expr(s"CAST(year($dc) * 12 + month($dc) - 1 AS BIGINT)") < lit(cutMo)
        case None =>
          val pk = p45KeysOf(t).head // dims: the PK carries the md5 bucket
          md5Long60(col(pk).cast("string")) % 100 <
            graft.operators.Dedup.NewBucketMin
      }
      val aggs = p45KeysOf(t).flatMap { k =>
        Seq(countDistinct(col(k)).as(s"ndv_${k}_true"),
          countDistinct(when(col("_est"), col(k))).as(s"ndv_${k}_est"))
      }
      t -> base0
        .withColumn("_est", est)
        .agg(count(lit(1)).as("rows_true"),
          sum(when(col("_est"), 1L).otherwise(0L)).as("rows_est") +: aggs: _*)
    }.toMap
  }

  def p45JoinAdvisor(spark: SparkSession, dir: String): DataFrame = {
    val stats = p45StatsFrames(spark, dir)
    // TRUE join cardinality, key-grained per edge
    def outTrue(p: String, pk: String, b: String, bk: String): DataFrame = {
      val a = graft.Tables.load(spark, dir, p).groupBy(col(pk).as("k"))
        .agg(count(lit(1)).as("cp"))
      val c = graft.Tables.load(spark, dir, b).groupBy(col(bk).as("k"))
        .agg(count(lit(1)).as("cb"))
      a.join(c, Seq("k"))
        .agg(coalesce(sum(col("cp") * col("cb")), lit(0L)).as("out_rows_true"))
    }
    val edges = P45Edges.map { case (p, pk, b, bk) =>
      val ps = stats(p).select(
        col("rows_true").as("rpt"), col("rows_est").as("rpe"),
        col(s"ndv_${pk}_true").as("npt"), col(s"ndv_${pk}_est").as("npe"))
      val bs = stats(b).select(
        col("rows_true").as("rbt"), col("rows_est").as("rbe"),
        col(s"ndv_${bk}_true").as("nbt"), col(s"ndv_${bk}_est").as("nbe"))
      val (wp, wb) = (P45Widths(p), P45Widths(b))
      def decision(rp: Column, rb: Column): Column =
        when(rp * wp >= rb * wb * P45RatioK, "broadcast").otherwise("shuffle")
      ps.crossJoin(bs).crossJoin(outTrue(p, pk, b, bk))
        .select(lit(s"$p*$b").as("edge"),
          col("rpe").as("rows_probe_est"), col("rpt").as("rows_probe_true"),
          col("rbe").as("rows_build_est"), col("rbt").as("rows_build_true"),
          (col("rpe") * wp).as("bytes_probe_est"),
          (col("rpt") * wp).as("bytes_probe_true"),
          (col("rbe") * wb).as("bytes_build_est"),
          (col("rbt") * wb).as("bytes_build_true"),
          decision(col("rpe"), col("rbe")).as("decision_est"),
          decision(col("rpt"), col("rbt")).as("decision_true"),
          when(decision(col("rpe"), col("rbe")) =!=
            decision(col("rpt"), col("rbt")), "flipped").otherwise("ok")
            .as("flip"),
          greatest(col("npe"), col("nbe"), lit(1L)).as("ndv_join_est"),
          greatest(col("npt"), col("nbt"), lit(1L)).as("ndv_join_true"),
          expr(s"rpe * rbe div greatest(npe, nbe, 1L)").as("out_rows_est"),
          col("out_rows_true"))
    }
    edges.reduce(_ unionAll _).orderBy(col("edge"))
  }

  private lazy val p45Oracle: String = {
    val dayCol = Map("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
    def isOldSql(t: String, pk: String): String = dayCol.get(t) match {
      case Some(dc) =>
        s"CAST(year($dc) * 12 + month($dc) - 1 AS BIGINT) < (SELECT cut_mo FROM cut)"
      case None =>
        s"CAST(('0x' || substr(md5(CAST($pk AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < ${graft.operators.Dedup.NewBucketMin}"
    }
    val tables = P45Edges.flatMap(e => Seq(e._1, e._3)).distinct
    val keysOf: Map[String, Seq[String]] = tables.map { t =>
      t -> P45Edges.collect {
        case (p, pk, _, _) if p == t => pk
        case (_, _, b, bk) if b == t => bk
      }.distinct
    }.toMap
    val statCtes = tables.map { t =>
      val est = isOldSql(t, keysOf(t).head)
      val ndvs = keysOf(t).flatMap { k =>
        Seq(s"CAST(count(DISTINCT $k) AS BIGINT) AS ndv_${k}_true",
          s"CAST(count(DISTINCT $k) FILTER (WHERE $est) AS BIGINT) AS ndv_${k}_est")
      }.mkString(",\n  ")
      s"""st_$t AS (
         | SELECT CAST(count(*) AS BIGINT) AS rows_true,
         |  CAST(count(*) FILTER (WHERE $est) AS BIGINT) AS rows_est,
         |  $ndvs
         | FROM $t)""".stripMargin
    }.mkString(",\n")
    val outCtes = P45Edges.map { case (p, pk, b, bk) =>
      s"""ot_${p}_$b AS (
         | SELECT CAST(COALESCE(sum(a.c * c.c), 0) AS BIGINT) AS out_rows_true
         | FROM (SELECT $pk AS k, count(*) AS c FROM $p GROUP BY 1) a
         |  JOIN (SELECT $bk AS k, count(*) AS c FROM $b GROUP BY 1) c
         |   USING (k))""".stripMargin
    }.mkString(",\n")
    val edgeRows = P45Edges.map { case (p, pk, b, bk) =>
      val (wp, wb) = (P45Widths(p), P45Widths(b))
      def dec(rp: String, rb: String) =
        s"CASE WHEN ps.$rp * $wp >= bs.$rb * $wb * $P45RatioK THEN 'broadcast' ELSE 'shuffle' END"
      s"""SELECT '$p*$b' AS edge,
         | ps.rows_est AS rows_probe_est, ps.rows_true AS rows_probe_true,
         | bs.rows_est AS rows_build_est, bs.rows_true AS rows_build_true,
         | ps.rows_est * $wp AS bytes_probe_est,
         | ps.rows_true * $wp AS bytes_probe_true,
         | bs.rows_est * $wb AS bytes_build_est,
         | bs.rows_true * $wb AS bytes_build_true,
         | ${dec("rows_est", "rows_est")} AS decision_est,
         | ${dec("rows_true", "rows_true")} AS decision_true,
         | CASE WHEN ${dec("rows_est", "rows_est")}
         |   <> ${dec("rows_true", "rows_true")}
         |  THEN 'flipped' ELSE 'ok' END AS flip,
         | greatest(ps.ndv_${pk}_est, bs.ndv_${bk}_est, 1) AS ndv_join_est,
         | greatest(ps.ndv_${pk}_true, bs.ndv_${bk}_true, 1) AS ndv_join_true,
         | ps.rows_est * bs.rows_est
         |  // greatest(ps.ndv_${pk}_est, bs.ndv_${bk}_est, 1) AS out_rows_est,
         | o.out_rows_true AS out_rows_true
         |FROM st_$p ps CROSS JOIN st_$b bs CROSS JOIN ot_${p}_$b o""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cut AS (
       | SELECT CAST(min(mo) + (max(mo) - min(mo) + 1) * $P45StatsFifths // 5
       |   AS BIGINT) AS cut_mo
       | FROM (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
       |    AS BIGINT) AS mo FROM orders)),
       |$statCtes,
       |$outCtes
       |SELECT * FROM (
       |$edgeRows
       |) ORDER BY edge""".stripMargin
  }

  // ---------------------------------------------------------------- p46

  /** `p46_analyze_priority`: the ACTIONABLE last step of the p44→p40→p45
    * stats thread (the r19 judge's item 6) — p45 names the edges whose
    * stale stats flip the broadcast decision; this advisor turns those
    * verdicts into the ranked "re-ANALYZE these tables first" list a
    * maintenance scheduler consumes (the p39 composition pattern:
    * verdict columns in, ranked plan out). Per table of the join graph:
    *
    *  - `n_flipped`: touching edges whose stats-vs-true decision flipped
    *    (p45's flip column, recomputed from the same stats frames);
    *  - `n_fixed`: flipped edges this table ALONE repairs — substitute
    *    only this table's true rowcount into the decision and see if it
    *    now matches the true verdict (re-ANALYZE updates ONE table's
    *    stats; an edge whose flip needs both sides refreshed is not
    *    credited to either alone);
    *  - `fix_mass_bytes`: the joined byte mass (probe+build, true sizes)
    *    of the edges it fixes — what a wrong shuffle-vs-broadcast call
    *    puts on the wire;
    *  - `scan_bytes`: rows_true x declared width — the ANALYZE cost;
    *  - `roi_e6` = fix_mass_bytes x 1e6 div scan_bytes — benefit per
    *    ANALYZE byte, the ranking key (`rank` = row_number on roi desc,
    *    fix mass desc, name — total and deterministic);
    *  - `growth_e6`: rows growth since the stats snapshot (the p40-style
    *    staleness magnitude, carried so a reader sees WHY).
    *
    * Scale: the same one-aggregate-per-table stats frames as p45 (each
    * collapses to 1 row before any join); edges assemble by
    * cross-joining 1-row frames; the per-table fold is an explode +
    * groupBy over the EDGE-GRAINED frame (≤ 2x|edges| rows) and the
    * final rank is a window over |tables| rows — nothing downstream of
    * the scans grows with data. */
  def p46AnalyzePriority(spark: SparkSession, dir: String): DataFrame = {
    val stats = p45StatsFrames(spark, dir)
    def decision(rp: Column, wp: Long, rb: Column, wb: Long): Column =
      when(rp * wp >= rb * wb * P45RatioK, "broadcast").otherwise("shuffle")
    val edges = P45Edges.map { case (p, _, b, _) =>
      val ps = stats(p).select(col("rows_true").as("rpt"), col("rows_est").as("rpe"))
      val bs = stats(b).select(col("rows_true").as("rbt"), col("rows_est").as("rbe"))
      val (wp, wb) = (P45Widths(p), P45Widths(b))
      val dTrue = decision(col("rpt"), wp, col("rbt"), wb)
      val dEst = decision(col("rpe"), wp, col("rbe"), wb)
      // substitute ONE side's true rows into the stats-side decision:
      // does refreshing just that table repair the call?
      val dFixP = decision(col("rpt"), wp, col("rbe"), wb)
      val dFixB = decision(col("rpe"), wp, col("rbt"), wb)
      ps.crossJoin(bs).select(
        lit(s"$p*$b").as("edge"), lit(p).as("probe"), lit(b).as("build"),
        (dEst =!= dTrue).cast("long").as("flipped"),
        ((dEst =!= dTrue) && dFixP === dTrue).cast("long").as("fix_p"),
        ((dEst =!= dTrue) && dFixB === dTrue).cast("long").as("fix_b"),
        (col("rpt") * wp + col("rbt") * wb).as("mass_bytes"))
    }.reduce(_ unionAll _)
    val perTable = edges.select(explode(array(
        struct(col("probe").as("tbl"), col("flipped"), col("fix_p").as("fixes"),
          col("mass_bytes")),
        struct(col("build").as("tbl"), col("flipped"), col("fix_b").as("fixes"),
          col("mass_bytes")))).as("s"))
      .select(col("s.*"))
      .groupBy(col("tbl"))
      .agg(count(lit(1)).as("n_edges"),
        sum(col("flipped")).as("n_flipped"),
        sum(col("fixes")).as("n_fixed"),
        sum(col("fixes") * col("mass_bytes")).as("fix_mass_bytes"))
    val tstats = p45Tables.map { t =>
      stats(t).select(lit(t).as("tbl"),
        col("rows_est"), col("rows_true"),
        expr(s"(rows_true - rows_est) * 1000000L div greatest(rows_est, 1L)")
          .as("growth_e6"),
        (col("rows_true") * P45Widths(t)).as("scan_bytes"))
    }.reduce(_ unionAll _)
    val ranked = perTable.join(tstats, Seq("tbl"))
      .withColumn("roi_e6",
        expr("fix_mass_bytes * 1000000L div greatest(scan_bytes, 1L)"))
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("roi_e6").desc, col("fix_mass_bytes").desc, col("tbl")))
        .cast("long"))
    ranked.select(col("rank"), col("tbl"), col("n_edges"), col("n_flipped"),
        col("n_fixed"), col("rows_est"), col("rows_true"), col("growth_e6"),
        col("scan_bytes"), col("fix_mass_bytes"), col("roi_e6"))
      .orderBy(col("rank"))
  }

  private lazy val p46Oracle: String = {
    val dayCol = Map("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
    def isOldSql(t: String, pk: String): String = dayCol.get(t) match {
      case Some(dc) =>
        s"CAST(year($dc) * 12 + month($dc) - 1 AS BIGINT) < (SELECT cut_mo FROM cut)"
      case None =>
        s"CAST(('0x' || substr(md5(CAST($pk AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < ${graft.operators.Dedup.NewBucketMin}"
    }
    val statCtes = p45Tables.map { t =>
      val est = isOldSql(t, p45KeysOf(t).head)
      s"""st_$t AS (
         | SELECT CAST(count(*) AS BIGINT) AS rows_true,
         |  CAST(count(*) FILTER (WHERE $est) AS BIGINT) AS rows_est
         | FROM $t)""".stripMargin
    }.mkString(",\n")
    val edgeRows = P45Edges.map { case (p, _, b, _) =>
      val (wp, wb) = (P45Widths(p), P45Widths(b))
      def dec(rp: String, rb: String) =
        s"CASE WHEN $rp * $wp >= $rb * $wb * $P45RatioK THEN 'broadcast' ELSE 'shuffle' END"
      val dTrue = dec("ps.rows_true", "bs.rows_true")
      val dEst = dec("ps.rows_est", "bs.rows_est")
      val dFixP = dec("ps.rows_true", "bs.rows_est")
      val dFixB = dec("ps.rows_est", "bs.rows_true")
      s"""SELECT '$p' AS probe, '$b' AS build,
         | CAST($dEst <> $dTrue AS BIGINT) AS flipped,
         | CAST($dEst <> $dTrue AND $dFixP = $dTrue AS BIGINT) AS fix_p,
         | CAST($dEst <> $dTrue AND $dFixB = $dTrue AS BIGINT) AS fix_b,
         | ps.rows_true * $wp + bs.rows_true * $wb AS mass_bytes
         |FROM st_$p ps CROSS JOIN st_$b bs""".stripMargin
    }.mkString("\nUNION ALL\n")
    val tstatRows = p45Tables.map { t =>
      s"""SELECT '$t' AS tbl, rows_est, rows_true,
         | (rows_true - rows_est) * 1000000 // greatest(rows_est, 1) AS growth_e6,
         | rows_true * ${P45Widths(t)} AS scan_bytes
         |FROM st_$t""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH cut AS (
       | SELECT CAST(min(mo) + (max(mo) - min(mo) + 1) * $P45StatsFifths // 5
       |   AS BIGINT) AS cut_mo
       | FROM (SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
       |    AS BIGINT) AS mo FROM orders)),
       |$statCtes,
       |edges AS (
       |$edgeRows
       |),
       |per_tbl AS (
       | SELECT tbl, CAST(count(*) AS BIGINT) AS n_edges,
       |  CAST(sum(flipped) AS BIGINT) AS n_flipped,
       |  CAST(sum(fixes) AS BIGINT) AS n_fixed,
       |  CAST(sum(fixes * mass_bytes) AS BIGINT) AS fix_mass_bytes
       | FROM (
       |  SELECT probe AS tbl, flipped, fix_p AS fixes, mass_bytes FROM edges
       |  UNION ALL
       |  SELECT build, flipped, fix_b, mass_bytes FROM edges)
       | GROUP BY 1),
       |tstats AS (
       |$tstatRows
       |)
       |SELECT CAST(row_number() OVER (ORDER BY roi_e6 DESC,
       |   fix_mass_bytes DESC, tbl) AS BIGINT) AS rank,
       | tbl, n_edges, n_flipped, n_fixed, rows_est, rows_true, growth_e6,
       | scan_bytes, fix_mass_bytes, roi_e6
       |FROM (
       | SELECT p.*, t.rows_est, t.rows_true, t.growth_e6, t.scan_bytes,
       |  fix_mass_bytes * 1000000 // greatest(t.scan_bytes, 1) AS roi_e6
       | FROM per_tbl p JOIN tstats t USING (tbl))
       |ORDER BY rank""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p46_analyze_priority" -> (p46AnalyzePriority _),
    "p45_join_advisor" -> (p45JoinAdvisor _),
    "p32_deletion_read" -> (p32DeletionRead _),
    "p33_cdc_changelog" -> (p33CdcChangelog _),
    "p39_layout_advisor" -> (p39LayoutAdvisor _),
    "p40_stale_stats" -> (p40StaleStats _),
    "p41_rollback_plan" -> (p41RollbackPlan _),
    "p42_write_amp" -> (p42WriteAmp _),
    "p43_wap_publish" -> (p43WapPublish _),
    "p44_incremental_stats" -> (p44IncrementalStats _),
    "p34_bucketed_priority" -> (p34BucketedPriority _),
    "p35_bucketed_semi" -> (p35BucketedSemi _),
    "p36_bucketed_trade" -> (p36BucketedTrade _),
    "p37_bucketed_returns" -> (p37BucketedReturns _),
    "p38_bucketed_delay" -> (p38BucketedDelay _),
    "p31_join_prune_plan" -> (p31JoinPrunePlan _),
    "p30_asof_read" -> (p30AsofRead _),
    "p29_bucketed_join" -> (p29BucketedJoin _),
    "p28_replication_delta" -> (p28ReplicationDelta _),
    "p27_expire_snapshots" -> (p27ExpireSnapshots _),
    "p26_partition_evolution" -> (p26PartitionEvolution _),
    "p25_snapshot_chain" -> (p25SnapshotChain _),
    "p24_overlap_depth" -> (p24OverlapDepth _),
    "p23_bloom_index" -> (p23BloomIndex _),
    "p22_tier_plan" -> (p22TierPlan _),
    "p21_erasure_plan" -> (p21ErasurePlan _),
    "p18_fk_audit" ->
      ((s: SparkSession, d: String) => Quality.p18FkAudit(s, d)),
    "p17_expectation_suite" ->
      ((s: SparkSession, d: String) => Quality.p17ExpectationSuite(s, d)),
    "p16_compaction_plan" -> (p16CompactionPlan _),
    "p19_prune_audit" -> (p19PruneAudit _),
    "p20_backfill_plan" -> (p20BackfillPlan _),
    "p15_late_dim" -> (Curated.p15LateArrivingDim _),
    "p14_drift_check" -> (Quality.p14DriftCheck _),
    "p13_pit_join" -> (Scd2.p13PitJoin _),
    "p12_zorder_layout" -> (p12ZorderLayout _),
    "p11_snapshot_diff" -> (Merge.p11SnapshotDiff _),
    "p10_schema_drift" -> (p10SchemaDrift _),
    "p9_date_dim" -> (p9DateDim _),
    "p8_ingest_orders" -> (p8IngestOrders _),
    "p1_ingest_raw" -> (Ingest.p1IngestRaw _),
    "p2_staging_customer" -> (Staging.p2StagingCustomer _),
    "p3_staging_orders" -> (Staging.p3StagingOrders _),
    "p4_quality_checks" -> (Quality.p4QualityChecks _),
    "p5_scd2_user" -> (Scd2.p5Scd2User _),
    "p6_curated_join" -> (Curated.p6CuratedJoin _),
    "p7_incremental_merge" -> (Merge.p7IncrementalMerge _))

  val oracle: Map[String, String] = Map(
    "p32_deletion_read" -> p32Oracle,
    "p33_cdc_changelog" -> p33Oracle,
    // the bucketed twins reuse their q-twin's oracle VERBATIM: the
    // layout changes the plan, never the answer (the p29 rule)
    "p39_layout_advisor" -> p39Oracle,
    "p40_stale_stats" -> p40Oracle,
    "p41_rollback_plan" -> p41Oracle,
    "p42_write_amp" -> p42Oracle,
    "p43_wap_publish" -> p43Oracle,
    "p44_incremental_stats" -> p44Oracle,
    "p45_join_advisor" -> p45Oracle,
    "p46_analyze_priority" -> p46Oracle,
    "p34_bucketed_priority" ->
      graft.operators.Analytics.oracle("q3_shipping_priority"),
    "p35_bucketed_semi" ->
      graft.operators.Analytics.oracle("q44_late_ship_priority"),
    "p36_bucketed_trade" ->
      graft.operators.Analytics.oracle("q47_volume_shipping"),
    "p37_bucketed_returns" ->
      graft.operators.Analytics.oracle("q49_returned_items"),
    "p38_bucketed_delay" ->
      graft.operators.Analytics.oracle("q52_ship_delay_modes"),
    "p31_join_prune_plan" -> p31Oracle,
    "p30_asof_read" -> p30Oracle,
    "p29_bucketed_join" ->
      graft.operators.Analytics.oracle("q39_big_orders"),
    "p28_replication_delta" -> p28Oracle,
    "p27_expire_snapshots" -> p27Oracle,
    "p26_partition_evolution" -> p26Oracle,
    "p25_snapshot_chain" -> p25Oracle,
    "p24_overlap_depth" -> p24Oracle,
    "p23_bloom_index" -> p23Oracle,
    "p22_tier_plan" -> p22Oracle,
    "p21_erasure_plan" -> p21Oracle,
    "p18_fk_audit" -> Quality.p18Oracle,
    "p17_expectation_suite" ->
      Quality.p17Oracle(PipelineConfig.default.expectations),
    "p16_compaction_plan" -> p16Oracle,
    "p19_prune_audit" -> p19Oracle,
    "p20_backfill_plan" -> p20Oracle,
    "p15_late_dim" -> Curated.p15Oracle,
    "p14_drift_check" -> Quality.p14Oracle,
    "p13_pit_join" -> Scd2.p13Oracle,
    "p12_zorder_layout" -> p12Oracle,
    "p11_snapshot_diff" -> Merge.p11Oracle,
    "p10_schema_drift" -> p10Oracle,
    "p9_date_dim" -> p9Oracle,
    "p8_ingest_orders" -> Ingest.entityOracle(PipelineConfig.default.entity("orders")),
    "p1_ingest_raw" -> Ingest.oracle,
    "p2_staging_customer" -> Staging.oracleCustomer,
    "p3_staging_orders" -> Staging.oracleOrders,
    "p4_quality_checks" -> Quality.oracle,
    "p5_scd2_user" -> Scd2.oracle,
    "p6_curated_join" -> Curated.oracle,
    "p7_incremental_merge" -> Merge.oracle)
}
