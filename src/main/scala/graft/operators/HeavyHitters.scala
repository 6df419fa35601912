package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions.wsTokens

/** Corpus heavy hitters via a Misra-Gries mergeable summary plus an exact
  * recount — the two-pass frequent-items pattern that replaces an
  * unbounded `GROUP BY token` when the VOCABULARY itself no longer fits
  * anywhere (web-scale n-grams, URL hosts, user agents):
  *
  *  - pass 1 summarizes the stream with k-1 counters per task; the
  *    summaries are MERGEABLE (Agarwal et al., "Mergeable Summaries",
  *    PODS'12) so Spark runs them map-side-partial like any aggregate,
  *    and the merged summary provably contains EVERY token whose true
  *    frequency exceeds n/k — the candidates;
  *  - pass 2 exact-counts the (≤ k-1, model-sized) candidates and keeps
  *    those with count·k > n.
  *
  * The summary's contents depend on partition order, but the OUTPUT does
  * not: the filter re-applies the exact threshold to exact counts, and
  * the MG guarantee makes the candidate set a superset of every
  * qualifying token under any execution order. That is what makes a
  * partition-order-dependent sketch hash-verifiable against a DuckDB
  * oracle that never saw the sketch.
  */
object HeavyHitters {

  val MgK = 40 // heavy-hitter threshold: tokens with freq > n/MgK

  /** Misra-Gries summary as a typed Aggregator: at most k-1 counters.
    * reduce() is the classic streaming step (increment / adopt / global
    * decrement); merge() is the mergeable-summaries combine (pointwise
    * sum, then subtract the k-th largest count and drop ≤ 0). */
  class MisraGriesAgg(k: Int) extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], tok: String): Map[String, Long] =
      b.get(tok) match {
        case Some(c) => b.updated(tok, c + 1)
        case None if b.size < k - 1 => b.updated(tok, 1L)
        case None => // decrement every counter, drop the zeroed ones
          b.flatMap { case (t, c) => if (c > 1) Some(t -> (c - 1)) else None }
      }

    override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] = {
      val sum = b1.foldLeft(b2) { case (acc, (t, c)) =>
        acc.updated(t, acc.getOrElse(t, 0L) + c)
      }
      if (sum.size <= k - 1) sum
      else {
        // subtract the k-th largest count from everything; ≥ k-th drop out
        val kth = sum.values.toSeq.sortBy(-_)(Ordering.Long)(k - 1)
        sum.flatMap { case (t, c) => if (c > kth) Some(t -> (c - kth)) else None }
      }
    }

    override def finish(b: Map[String, Long]): Map[String, Long] = b
    // the buffer is an opaque shrinking Map — kryo keeps it simple; the
    // summary never outlives the candidate job
    override def bufferEncoder: Encoder[Map[String, Long]] = Encoders.kryo[Map[String, Long]]
    override def outputEncoder: Encoder[Map[String, Long]] = Encoders.kryo[Map[String, Long]]
  }

  /** The candidate pass, exposed for the spec: merged MG summary over
    * every token in the corpus (runs a job — the summary is model-sized,
    * like s3's centroids). */
  def mgCandidates(spark: SparkSession, dir: String, k: Int = MgK): Set[String] = {
    import spark.implicits._
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("w")).as[String]
    toks.select(new MisraGriesAgg(k).toColumn).head().keySet
  }

  /** `t14_heavy_hitters`: tokens with frequency > n/k, exact counts and
    * floor-e6 corpus share — candidates from the MG summary, verdicts
    * from the exact recount restricted to them. */
  def t14HeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val cands = mgCandidates(spark, dir)
    val toks = Tables.load(spark, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("token"))
    val total = toks.agg(count(lit(1)).as("n"))
    val candToks =
      if (cands.isEmpty) toks.filter(lit(false)) else toks.filter(col("token").isInCollection(cands))
    candToks
      .groupBy(col("token")).agg(count(lit(1)).as("n_occurrences"))
      .crossJoin(broadcast(total)) // hint: scalar
      .filter(col("n_occurrences") * MgK > col("n"))
      .select(col("token"), col("n_occurrences"),
        floor(col("n_occurrences") * lit(1000000.0) / col("n")).cast("long").as("share_e6"))
      .orderBy(col("n_occurrences").desc, col("token"))
  }

  val t14Oracle: String =
    s"""WITH t AS (
       | SELECT unnest(CASE WHEN length(regexp_replace(text, '^\\s+|\\s+$$', '', 'g')) = 0
       |   THEN []::VARCHAR[]
       |   ELSE string_split_regex(regexp_replace(text, '^\\s+|\\s+$$', '', 'g'), '\\s+') END) AS w
       | FROM documents),
       |c AS (SELECT w, CAST(count(*) AS BIGINT) AS n_occurrences FROM t GROUP BY w),
       |tot AS (SELECT CAST(sum(n_occurrences) AS BIGINT) AS n FROM c)
       |SELECT w AS token, n_occurrences,
       | CAST(floor(n_occurrences * 1000000.0 / n) AS BIGINT) AS share_e6
       |FROM c CROSS JOIN tot WHERE n_occurrences * $MgK > n
       |ORDER BY n_occurrences DESC, token""".stripMargin
}
