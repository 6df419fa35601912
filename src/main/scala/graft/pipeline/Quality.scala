package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality engine: per-table metric report.
  *
  * Generalizes the reference's `BigQueryCheckOperator` stage
  * (/root/reference/dags/pipeline_orchestration_dag.py:149-167), which runs
  * `COUNT(*) > 0` per staging table, into a metric report: row count,
  * PK null count, PK distinct count, PK duplicate count — the checks a DQ
  * gate actually needs before curation.
  *
  * Scale: each table is scanned exactly once (a single agg computes all
  * metrics map-side-partial, the PK distincts via approx-free count
  * distinct on the key only); the stack() unpivot is driver-free and the
  * report is tiny.
  */
object Quality {

  /** One-scan metric row for a table, unpivoted to (table_name, metric, value). */
  def tableMetrics(df: DataFrame, tableName: String, pk: Seq[String]): DataFrame = {
    val pkNull = pk.map(c => col(c).isNull).reduce(_ || _)
    val pkTuple = if (pk.length == 1) col(pk.head) else struct(pk.map(col): _*)
    df.agg(
        count(lit(1)).as("row_count"),
        sum(when(pkNull, 1L).otherwise(0L)).as("pk_nulls"),
        countDistinct(pkTuple).as("pk_distinct"))
      .withColumn("pk_dups", col("row_count") - col("pk_nulls") - col("pk_distinct"))
      .selectExpr(s"'$tableName' AS table_name",
        """stack(4,
          | 'row_count', row_count,
          | 'pk_nulls', pk_nulls,
          | 'pk_distinct', pk_distinct,
          | 'pk_dups', pk_dups) AS (metric, value)""".stripMargin)
  }

  /** `p4_quality_checks`: unioned DQ report over the staging-bound tables. */
  def p4QualityChecks(spark: SparkSession, dir: String): DataFrame = {
    val checks = Seq(
      ("customer", Seq("c_custkey")),
      ("orders", Seq("o_orderkey")),
      ("lineitem", Seq("l_orderkey", "l_linenumber")))
    checks.map { case (name, pk) =>
        tableMetrics(Tables.load(spark, dir, name), name, pk)
      }.reduce(_ unionAll _)
      .orderBy(col("table_name"), col("metric"))
  }

  /** True iff every hard gate passes (non-empty, no PK nulls, no PK dups) —
    * the fail-fast signal the DAG runner consumes. */
  def gatePasses(report: DataFrame): Boolean = {
    val bad = report.filter(
      (col("metric") === "row_count" && col("value") <= 0) ||
      (col("metric") === "pk_nulls" && col("value") > 0) ||
      (col("metric") === "pk_dups" && col("value") > 0))
    bad.isEmpty
  }

  /** `p17_expectation_suite`: per-column VALUE-bound DQ checks — the
    * expectation-suite generalization of the reference's
    * `BigQueryCheckOperator` stage that p4's row/PK counts only begin
    * (real pipelines gate on value bounds: a price that goes negative, a
    * discount over 10%, an enum that grew a 4th value, a date column
    * suddenly nullable — all pass p4 and all poison curation). One row
    * per configured expectation (`pipeline.expectations` — bounds are a
    * CONFIG change like the reference's yaml, not code): observed value,
    * inclusive integer bounds, is_pass verdict.
    *
    * Shape: one scan per distinct table computes ALL of that table's
    * raw aggregates map-side-partial (min/max/null-count/distinct in a
    * single agg — the p4 pattern); the report explodes from the 1-row
    * aggregate, so nothing row-sized survives the scan. Every observed
    * value is exact-integer (cents / floor-e6 / counts — the p14
    * discipline): a verdict can never flip on a cross-engine ulp. An
    * EMPTY table yields null observations and is_pass = 0 on every one
    * of its rows: a dead feed fails the value gate loudly rather than
    * vacuously passing it. */
  def p17ExpectationSuite(spark: SparkSession, dir: String): DataFrame =
    p17ExpectationSuite(spark, dir, PipelineConfig.default.expectations)

  def p17ExpectationSuite(spark: SparkSession, dir: String,
                          exps: Seq[Expectation]): DataFrame = {
    require(exps.nonEmpty, "p17: empty expectation suite")
    exps.groupBy(_.table).toSeq.sortBy(_._1).map { case (t, es0) =>
      val es = es0.toSeq
      val aggs = es.zipWithIndex.map { case (e, i) =>
        e.metric match {
          case "min_cents" => floor(min(col(e.column)) * 100).cast("long").as(s"v$i")
          case "max_cents" => floor(max(col(e.column)) * 100).cast("long").as(s"v$i")
          case "n_distinct" => countDistinct(col(e.column)).as(s"v$i")
          case "null_rate_e6" =>
            sum(when(col(e.column).isNull, 1L).otherwise(0L)).as(s"v$i")
          case m => throw new IllegalArgumentException(s"p17: unknown metric '$m'")
        }
      }
      val agg = Tables.load(spark, dir, t)
        .agg(count(lit(1)).as("n_rows"), aggs: _*)
      val rows = es.zipWithIndex.map { case (e, i) =>
        val observed = e.metric match {
          case "null_rate_e6" => when(col("n_rows") > 0,
            floor(col(s"v$i") * lit(1000000.0) / col("n_rows")).cast("long"))
          // countDistinct of an empty table is 0, not null — ungated, an
          // n_distinct expectation with only a hi bound would vacuously
          // PASS on a dead feed; the n_rows guard makes EVERY metric null
          // out (and thus fail) uniformly on an empty table
          case "n_distinct" => when(col("n_rows") > 0, col(s"v$i"))
          case _ => col(s"v$i")
        }
        def bound(o: Option[Long]) =
          o.map(v => lit(v).cast("long")).getOrElse(lit(null).cast("long"))
        val inBounds = Seq(e.lo.map(l => observed >= l), e.hi.map(h => observed <= h))
          .flatten.reduce(_ && _)
        struct(
          lit(e.table).as("table_name"), lit(e.column).as("column_name"),
          lit(e.metric).as("metric"), bound(e.lo).as("lo"), bound(e.hi).as("hi"),
          observed.as("observed"),
          when(observed.isNull, 0L).otherwise(when(inBounds, 1L).otherwise(0L))
            .as("is_pass"))
      }
      agg.select(explode(array(rows: _*)).as("x")).select(col("x.*"))
    }.reduce(_ unionByName _)
      .orderBy(col("table_name"), col("column_name"), col("metric"))
  }

  /** Fail-fast gate over [[p17ExpectationSuite]]'s report: true iff every
    * expectation holds — the third DAG hook beside [[gatePasses]] (broken
    * load) and [[driftGatePasses]] (wrong-shape load): wrong-VALUE load. */
  def expectationGatePasses(report: DataFrame): Boolean =
    report.filter(col("is_pass") === 0).isEmpty

  /** p17 oracle from the same expectation config: per-table one-scan
    * aggregates, LATERAL VALUES unpivot (the p4 pattern), identical
    * integer/guard arithmetic. */
  def p17Oracle(exps: Seq[Expectation]): String = {
    val tables = exps.groupBy(_.table).toSeq.sortBy(_._1).map { case (t, es0) =>
      val es = es0.toSeq
      val aggSql = es.zipWithIndex.map { case (e, i) =>
        e.metric match {
          case "min_cents" => s"CAST(floor(min(${e.column}) * 100) AS BIGINT) AS v$i"
          case "max_cents" => s"CAST(floor(max(${e.column}) * 100) AS BIGINT) AS v$i"
          case "n_distinct" => s"CAST(count(DISTINCT ${e.column}) AS BIGINT) AS v$i"
          case "null_rate_e6" =>
            s"CAST(sum(CASE WHEN ${e.column} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v$i"
        }
      }.mkString(",\n  ")
      val rowsSql = es.zipWithIndex.map { case (e, i) =>
        val obs = e.metric match {
          case "null_rate_e6" =>
            s"CASE WHEN t.n_rows > 0 THEN CAST(floor(t.v$i * 1000000.0 / t.n_rows) AS BIGINT) END"
          case "n_distinct" => s"CASE WHEN t.n_rows > 0 THEN t.v$i END"
          case _ => s"t.v$i"
        }
        def b(o: Option[Long]) = o.map(_.toString).getOrElse("NULL")
        val checks = (e.lo.map(l => s"($obs) >= $l") ++ e.hi.map(h => s"($obs) <= $h"))
          .mkString(" AND ")
        s"""('${e.table}', '${e.column}', '${e.metric}',
           |  CAST(${b(e.lo)} AS BIGINT), CAST(${b(e.hi)} AS BIGINT), $obs,
           |  CAST(CASE WHEN ($obs) IS NULL THEN 0 WHEN $checks THEN 1 ELSE 0 END AS BIGINT))""".stripMargin
      }.mkString(",\n ")
      s"""SELECT m.* FROM (
         | SELECT count(*) AS n_rows,
         |  $aggSql
         | FROM $t) t,
         | LATERAL (VALUES
         | $rowsSql) AS m(table_name, column_name, metric, lo, hi, observed, is_pass)""".stripMargin
    }
    tables.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
      "\n) ORDER BY table_name, column_name, metric")
  }

  /** p14 batch anchors: the two order-year cohorts being compared. */
  val DriftYearA = 1996
  val DriftYearB = 1997

  /** `p14_drift_check`: distribution-drift audit between two ingest
    * batches — the DQ gate that catches "this load is the wrong SHAPE"
    * when p4's row/PK checks all pass (an upstream filter silently
    * dropping a category, a priority enum remapped, a feed swapped).
    * Compares the order-priority distribution of two year cohorts:
    * per-bucket counts and floor-e6 shares, the absolute share delta,
    * and a TOTAL row whose delta column is the L1 distance (2× total
    * variation) — the number a gate thresholds on.
    *
    * Shape: ONE scan (the year predicate pushes to the parquet scan),
    * one map-side-partial aggregate to the bucket grain, the two scalar
    * totals broadcast back onto the bucket-sized table. Shares are
    * floor-e6 integers BEFORE the delta/sum so every emitted number is
    * integer arithmetic — order-independent and engine-exact. */
  def p14DriftCheck(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(spark, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority").as("bucket"))
      .filter(col("yr") === DriftYearA || col("yr") === DriftYearB)
    val counts = o.groupBy(col("bucket")).agg(
      sum(when(col("yr") === DriftYearA, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("yr") === DriftYearB, 1L).otherwise(0L)).as("n_b"))
    driftReport(counts)
  }

  /** The p14 share/delta arithmetic over ANY pre-bucketed count table
    * `(bucket, n_a, n_b)` — the generic seam the corpus pipeline's
    * source-mix drift gate reuses (same floor-e6 integers, same empty-
    * cohort max-out rule, same `~TOTAL` L1 row [[driftGatePasses]]
    * thresholds on). */
  def driftReport(counts: DataFrame): DataFrame = {
    val tot = counts.agg(sum(col("n_a")).as("t_a"), sum(col("n_b")).as("t_b"))
    // an EMPTY cohort (dead feed — the most extreme drift) gets share 0
    // in every bucket, so each delta collapses to the other side's share
    // and the ~TOTAL L1 maxes out at 1e6: the gate FIRES on an outage
    // instead of dividing 0/0 (whose NaN Spark would silently cast to 0
    // while the oracle errors)
    val per = counts.crossJoin(broadcast(tot)) // hint: scalar
      .withColumn("share_a_e6", when(col("t_a") > 0,
        floor(col("n_a") * lit(1000000.0) / col("t_a")).cast("long")).otherwise(0L))
      .withColumn("share_b_e6", when(col("t_b") > 0,
        floor(col("n_b") * lit(1000000.0) / col("t_b")).cast("long")).otherwise(0L))
      .withColumn("abs_delta_e6", abs(col("share_a_e6") - col("share_b_e6")))
      .select(col("bucket"), col("n_a"), col("n_b"),
        col("share_a_e6"), col("share_b_e6"), col("abs_delta_e6"))
    per.unionByName(per.agg(
        sum(col("n_a")).as("n_a"), sum(col("n_b")).as("n_b"),
        sum(col("share_a_e6")).as("share_a_e6"),
        sum(col("share_b_e6")).as("share_b_e6"),
        sum(col("abs_delta_e6")).as("abs_delta_e6"))
      .withColumn("bucket", lit("~TOTAL"))) // sorts after the buckets
      .orderBy(col("bucket"))
  }

  val p14Oracle: String =
    s"""WITH o AS (
       | SELECT year(o_orderdate) AS yr, o_orderpriority AS bucket
       | FROM orders WHERE year(o_orderdate) IN ($DriftYearA, $DriftYearB)),
       |c AS (
       | SELECT bucket,
       |  CAST(sum(CASE WHEN yr = $DriftYearA THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |  CAST(sum(CASE WHEN yr = $DriftYearB THEN 1 ELSE 0 END) AS BIGINT) AS n_b
       | FROM o GROUP BY bucket),
       |t AS (SELECT CAST(sum(n_a) AS BIGINT) AS t_a, CAST(sum(n_b) AS BIGINT) AS t_b FROM c),
       |per AS (
       | SELECT bucket, n_a, n_b,
       |  CASE WHEN t_a > 0 THEN CAST(floor(n_a * 1000000.0 / t_a) AS BIGINT) ELSE 0 END AS share_a_e6,
       |  CASE WHEN t_b > 0 THEN CAST(floor(n_b * 1000000.0 / t_b) AS BIGINT) ELSE 0 END AS share_b_e6,
       |  abs(CASE WHEN t_a > 0 THEN CAST(floor(n_a * 1000000.0 / t_a) AS BIGINT) ELSE 0 END
       |    - CASE WHEN t_b > 0 THEN CAST(floor(n_b * 1000000.0 / t_b) AS BIGINT) ELSE 0 END) AS abs_delta_e6
       | FROM c CROSS JOIN t)
       |SELECT * FROM (
       | SELECT * FROM per
       | UNION ALL
       | SELECT '~TOTAL', CAST(sum(n_a) AS BIGINT), CAST(sum(n_b) AS BIGINT),
       |  CAST(sum(share_a_e6) AS BIGINT), CAST(sum(share_b_e6) AS BIGINT),
       |  CAST(sum(abs_delta_e6) AS BIGINT) FROM per)
       |ORDER BY bucket""".stripMargin

  /** Fail-fast gate over [[p14DriftCheck]]'s report: true iff the L1
    * distance (the `~TOTAL` row's delta) stays at or under `maxL1E6` —
    * the DAG hook that stops curation when a load is the wrong shape,
    * exactly as [[gatePasses]] stops it when a load is broken. */
  def driftGatePasses(report: DataFrame, maxL1E6: Long): Boolean =
    report.filter(col("bucket") === "~TOTAL" && col("abs_delta_e6") > maxL1E6).isEmpty

  /** p18 FK edges: (child table, fk column, parent table, pk column) —
    * the star schema's referential spine, config-shaped like p4's table
    * list and p17's expectation suite. */
  val FkEdges: Seq[(String, String, String, String)] = Seq(
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"))

  /** Parent keys whose p18 md5 bucket is at or above this are treated as
    * not yet loaded (the d8/t5/p15 bucket convention): a 3% slice that
    * makes the orphan rule non-vacuous on the shipped corpus, the way a
    * partial dim load makes it non-vacuous in production. */
  val FkParentDropMin = 97

  /** `p18_fk_audit`: cross-table referential-integrity audit — the FK
    * half of the DQ story p4's per-table metrics can't see (a table can
    * pass every row/PK check and still point at parents that are not
    * there: a partial dim load, an out-of-order ingest, a fat-fingered
    * backfill). Per configured edge: child rows, null FKs, ORPHANS
    * (non-null FK with no parent — every orphan silently vanishes from
    * the curated inner join, p15's late-dim problem caught at audit
    * time), distinct FK values, parents present/matched/unused, and the
    * max fan-out (children per parent — the join-explosion early
    * warning). All counts exact integers.
    *
    * Scale: the child side collapses to (fk, count) in a map-side-partial
    * aggregate BEFORE any join — the join input is distinct-key-sized,
    * never row-sized; the parent side is its key column only. One
    * full-outer equi-join per edge (AQE broadcasts dim-sized parents,
    * hash-joins fact-sized ones) feeding a 1-row aggregate; the report
    * is |edges| rows. */
  def p18FkAudit(spark: SparkSession, dir: String): DataFrame =
    p18FkAudit(spark, dir, FkEdges)

  def p18FkAudit(spark: SparkSession, dir: String,
                 edges: Seq[(String, String, String, String)]): DataFrame =
    p18FkAudit(spark, dir, edges, simulatePartialParentLoad = true)

  /** `simulatePartialParentLoad = true` (the verified-query form) drops
    * the 3% [[FkParentDropMin]] parent bucket so the orphan rule is
    * non-vacuous on the shipped corpus — which means [[fkGatePasses]] at
    * its default `maxOrphans = 0` ALWAYS fails on that form (the spec
    * asserts it trips). A DAG caller gating real data must pass `false`
    * here: the audit then sees the parents as loaded, and the default
    * zero-orphan gate means what it says. */
  def p18FkAudit(spark: SparkSession, dir: String,
                 edges: Seq[(String, String, String, String)],
                 simulatePartialParentLoad: Boolean): DataFrame = {
    require(edges.nonEmpty, "p18: empty FK edge list")
    import graft.functions.TextFunctions.md5Long60
    edges.map { case (child, fk, parent, pk) =>
      val childAgg = Tables.load(spark, dir, child)
        .groupBy(col(fk).as("ck")).agg(count(lit(1)).as("cnt"))
      val parAll = Tables.load(spark, dir, parent)
      val par = (if (simulatePartialParentLoad)
          parAll.filter(md5Long60(concat(col(pk).cast("string"), lit(":p18"))) % 100
            < FkParentDropMin)
        else parAll)
        .select(col(pk).as("pk2"))
      childAgg.join(par, col("ck") === col("pk2"), "full_outer")
        .agg(
          coalesce(sum(col("cnt")), lit(0L)).as("n_child"),
          coalesce(sum(when(col("cnt").isNotNull && col("ck").isNull,
            col("cnt"))), lit(0L)).as("n_null_fk"),
          coalesce(sum(when(col("ck").isNotNull && col("pk2").isNull,
            col("cnt"))), lit(0L)).as("n_orphan"),
          count(when(col("cnt").isNotNull && col("ck").isNotNull, lit(1)))
            .as("n_distinct_fk"),
          count(col("pk2")).as("n_parents"),
          count(when(col("cnt").isNotNull && col("pk2").isNotNull, lit(1)))
            .as("n_matched_parents"),
          count(when(col("cnt").isNull && col("pk2").isNotNull, lit(1)))
            .as("n_unused_parents"),
          coalesce(max(when(col("pk2").isNotNull, col("cnt"))), lit(0L))
            .as("max_fanout"))
        .select(lit(s"$child.$fk->$parent.$pk").as("edge"), col("n_child"),
          col("n_null_fk"), col("n_orphan"), col("n_distinct_fk"),
          col("n_parents"), col("n_matched_parents"),
          col("n_unused_parents"), col("max_fanout"))
    }.reduce(_ unionAll _).orderBy(col("edge"))
  }

  /** Fail-fast gate over [[p18FkAudit]]'s report: true iff no edge
    * carries a null FK and every edge's orphan count stays at or under
    * `maxOrphans` — the fourth DAG hook beside [[gatePasses]],
    * [[driftGatePasses]] and `expectationGatePasses`. The default
    * `maxOrphans = 0` is meaningful only on an UN-planted report
    * (`p18FkAudit(..., simulatePartialParentLoad = false)`): the
    * verified-query form plants a 3% parent drop precisely so this gate
    * trips on it (spec-asserted). */
  def fkGatePasses(report: DataFrame, maxOrphans: Long = 0L): Boolean =
    report.filter(col("n_null_fk") > 0 || col("n_orphan") > maxOrphans).isEmpty

  val p18Oracle: String = {
    def bkt(pk: String) =
      s"CAST(('0x' || substr(md5(CAST($pk AS VARCHAR) || ':p18'), 1, 15)) AS BIGINT) % 100"
    FkEdges.map { case (child, fk, parent, pk) =>
      s"""SELECT '$child.$fk->$parent.$pk' AS edge,
         | CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_child,
         | CAST(coalesce(sum(CASE WHEN cnt IS NOT NULL AND ck IS NULL THEN cnt END), 0) AS BIGINT) AS n_null_fk,
         | CAST(coalesce(sum(CASE WHEN ck IS NOT NULL AND pk2 IS NULL THEN cnt END), 0) AS BIGINT) AS n_orphan,
         | CAST(count(CASE WHEN cnt IS NOT NULL AND ck IS NOT NULL THEN 1 END) AS BIGINT) AS n_distinct_fk,
         | CAST(count(pk2) AS BIGINT) AS n_parents,
         | CAST(count(CASE WHEN cnt IS NOT NULL AND pk2 IS NOT NULL THEN 1 END) AS BIGINT) AS n_matched_parents,
         | CAST(count(CASE WHEN cnt IS NULL AND pk2 IS NOT NULL THEN 1 END) AS BIGINT) AS n_unused_parents,
         | CAST(coalesce(max(CASE WHEN pk2 IS NOT NULL THEN cnt END), 0) AS BIGINT) AS max_fanout
         |FROM (SELECT $fk AS ck, count(*) AS cnt FROM $child GROUP BY 1) c
         | FULL OUTER JOIN (SELECT $pk AS pk2 FROM $parent
         |   WHERE ${bkt(pk)} < $FkParentDropMin) p ON c.ck = p.pk2""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY edge")
  }

  val oracle: String = {
    def one(table: String, pkNullExpr: String, pkDistinctExpr: String) =
      s"""SELECT '$table' AS table_name, m.metric, m.value FROM (
         | SELECT count(*) AS rc,
         |  CAST(sum(CASE WHEN $pkNullExpr THEN 1 ELSE 0 END) AS BIGINT) AS pn,
         |  $pkDistinctExpr AS pd
         | FROM $table) t,
         | LATERAL (VALUES ('row_count', t.rc), ('pk_nulls', t.pn),
         |  ('pk_distinct', t.pd), ('pk_dups', t.rc - t.pn - t.pd)) AS m(metric, value)""".stripMargin
    Seq(
      one("customer", "c_custkey IS NULL", "count(DISTINCT c_custkey)"),
      one("orders", "o_orderkey IS NULL", "count(DISTINCT o_orderkey)"),
      one("lineitem", "l_orderkey IS NULL OR l_linenumber IS NULL",
        "count(DISTINCT (l_orderkey, l_linenumber))"))
      .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY table_name, metric")
  }
}
