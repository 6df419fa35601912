package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Curated denormalized dimension — the reference's employee⋈department
  * join model (`EmployeeDepartment_cur`,
  * /root/reference/dags/pipeline_orchestration_dag.py:173-182) re-expressed
  * as customer⋈nation⋈region.
  *
  * Scale: the planner broadcasts both dims with no hint — each is a plain
  * nation/region scan, KBs at any SF — so the customer side streams
  * through two broadcast-hash joins with zero shuffle.
  */
object Curated {

  /** `p6_curated_join`: denormalized customer dimension. */
  def p6CuratedJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "customer")
      .join(Tables.load(spark, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .join(Tables.load(spark, dir, "region"),
        col("n_regionkey") === col("r_regionkey"))
      .select(
        col("c_custkey"),
        col("c_name"),
        col("c_mktsegment"),
        round(col("c_acctbal"), 2).as("acctbal"),
        col("n_name").as("nation"),
        col("r_name").as("region"))

  val oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment, round(c_acctbal, 2) AS acctbal,
      | n_name AS nation, r_name AS region
      |FROM customer
      | JOIN nation ON c_nationkey = n_nationkey
      | JOIN region ON n_regionkey = r_regionkey""".stripMargin

  /** p15: customers in md5 buckets below this are "not yet arrived" —
    * the same deterministic batch-membership simulation d8/t5 use. */
  val LateBucketMax = 10

  /** `p15_late_dim`: fact ingest against a dimension whose
    * members can arrive AFTER their facts (the classic Kimball
    * late-arriving-dimension problem: an order referencing a customer the
    * dim feed hasn't delivered yet). Dropping such facts loses revenue
    * rows; failing the load blocks the pipeline; the warehouse answer is
    * an INFERRED MEMBER — a placeholder dim row keyed by the unknown key,
    * flagged so the next dim load can overwrite it (with SCD2, p5's
    * machinery versions it). This operator does the curation join under
    * that policy: every fact survives, facts with a present member carry
    * its attributes, facts without carry the placeholder, and the same
    * report serves as the inferred-member audit (`is_inferred`, keyed
    * counts). "Not yet arrived" is simulated as a deterministic md5
    * bucket of the key — d8/t5's convention — so the case is non-vacuous
    * on TPC-H-shaped data where every FK resolves.
    *
    * Shape: the dim prunes to (key, attrs) in its scan, the fact side
    * LEFT-joins it on the key (AQE broadcasts the dim while it fits),
    * and the placeholder is a projection — no second pass, no driver
    * logic. One shuffle at most, at any scale. */
  def p15LateArrivingDim(spark: SparkSession, dir: String): DataFrame = {
    val arrived = Tables.load(spark, dir, "customer")
      .filter(expr(s"CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100") >= LateBucketMax)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"))
    Tables.load(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("totalprice"))
      .join(arrived, col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"), col("totalprice"),
        coalesce(col("c_name"), lit("INFERRED")).as("c_name"),
        coalesce(col("c_nationkey"), lit(-1)).as("c_nationkey"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("c_mktsegment"),
        col("c_custkey").isNull.cast("long").as("is_inferred"))
      .orderBy(col("o_orderkey"))
  }

  val p15Oracle: String =
    s"""WITH arrived AS (
       | SELECT c_custkey, c_name, c_nationkey, c_mktsegment FROM customer
       | WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 >= $LateBucketMax)
       |SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice,
       | COALESCE(c_name, 'INFERRED') AS c_name,
       | COALESCE(c_nationkey, -1) AS c_nationkey,
       | COALESCE(c_mktsegment, 'UNKNOWN') AS c_mktsegment,
       | CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END AS is_inferred
       |FROM orders LEFT JOIN arrived ON o_custkey = c_custkey
       |ORDER BY o_orderkey""".stripMargin
}
