package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2 s1-s4).
  *
  * s1 is the brute-force baseline: the probe set (tiny) is broadcast, the
  * big side is scanned exactly once, and top-k is a per-probe window —
  * at cluster scale this is the "scan once, rank locally" shape, with no
  * global sort.
  *
  * s2 is a scale path: deterministic random-hyperplane LSH. Every vector
  * gets a sign-pattern bucket from 8 md5-derived hyperplanes (a narrow
  * projection over one scan), and search only compares vectors within the
  * probe's bucket — at 100 TB the bucket column is the partition/cluster
  * key, so a probe touches 1/2^8 of the data instead of all of it.
  *
  * s3 (IVF: data-derived k-means cells, multi-probe) and s4 (product
  * quantization: nibble codes + asymmetric-distance shortlist + exact
  * re-rank) are the other two production ANN shapes; both train
  * deterministic fixed-point models whose oracle SQL is generated from
  * the model and published only after the result materializes.
  */
object Similarity {

  val NumProbes = 10 // probes = vec_id < NumProbes
  val NumCells = 16 // IVF centroid count
  val TopK = 5
  val LshPlanes = 8
  val LshTopK = 5
  val Dim = 64

  /** Deterministic hyperplanes: component d of plane p is an md5-derived
    * uniform value in [-1, 1] — reproducible in any engine, no RNG state.
    * Injected as literals into both the Spark plan and the oracle SQL.
    * One family shared by every hyperplane consumer (s2's buckets, d5's
    * bands) — `planesFor(n)` returns its first n members. */
  def planesFor(n: Int): Seq[Array[Double]] =
    planesCache.computeIfAbsent(n, computePlanes)

  /** Memoized per n so every caller of a given plane family receives the
    * SAME Seq instance — which is what lets the broadcast-handle cache in
    * [[graft.functions.VectorFunctions]] (identity-keyed) reuse ONE
    * executor-side copy of the planes across queries and bench sweeps
    * instead of re-broadcasting per plan build. */
  private val planesCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[Array[Double]]]()
  private val computePlanes
      : java.util.function.Function[Int, Seq[Array[Double]]] = n => {
    val mdig = java.security.MessageDigest.getInstance("MD5")
    def u(p: Int, d: Int): Double = {
      val hex = mdig.digest(s"p$p:d$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      (java.lang.Long.parseLong(hex, 16) % 1001L).toDouble / 500.0 - 1.0
    }
    (0 until n).map(p => Array.tabulate(Dim)(d => u(p, d)))
  }

  lazy val planes: Seq[Array[Double]] = planesFor(LshPlanes)

  /** DuckDB literal rendering of plane p (for oracle SQL generation). */
  def planeSqlFor(plane: Array[Double]): String =
    plane.map(_.toString).mkString("[", ", ", "]")

  private def emb(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "embeddings")

  /** `s1_ann_brute`: exact cosine top-k per probe. */
  def s1AnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val cos = cosineFast(col("pe"), col("embedding"))
    val w = Window.partitionBy(col("probe_id")).orderBy(cos.desc, col("vec_id"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        floor(cos * lit(1000000.0)).cast("long").as("cos_e6"), col("rank"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** `s2_ann_lsh`: hyperplane-LSH bucketed top-k — compares only vectors
    * sharing the probe's sign-pattern bucket. */
  def s2AnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
      .withColumn("bucket", hyperplaneBucket(col("embedding"), planes))
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"), col("bucket"))
    val cos = cosineFast(col("pe"), col("embedding"))
    val w = Window.partitionBy(col("probe_id")).orderBy(cos.desc, col("vec_id"))
    e.join(broadcast(probes), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= LshTopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("bucket"),
        floor(cos * lit(1000000.0)).cast("long").as("cos_e6"), col("rank"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** `s8_recall`: ANN index-quality monitoring as a first-class
    * operator — per-probe recall of the LSH index (s2) against exact
    * brute force (s1), the metric a production vector store tracks
    * continuously (an index whose recall decays as the corpus drifts is
    * silently corrupting every downstream consumer; this report is the
    * SLO). Per probe: exact top-k size, approx candidate count, hits
    * (exact neighbors the index recovered) and floor-e6 recall. Probes
    * with an under-populated LSH bucket surface with recall 0..partial —
    * exactly the rows an operator watches.
    *
    * Shape: both inputs are the already-scale-correct s1/s2 plans; the
    * eval itself is a probe-grained semi-join + three probe-sized
    * aggregates — cost is the indexes' own cost, the report adds nothing
    * fact-sized. */
  def s8RecallEval(spark: SparkSession, dir: String): DataFrame =
    recallReport(spark, dir, s2AnnLsh(spark, dir))

  /** Per-probe recall of an ANN index's `(probe_id, neighbor_id)` result
    * against s1's exact truth (s8, s27): n_exact, n_approx, n_hit and
    * floor-e6 recall. Each side feeds TWO consumers (hits + its count);
    * checkpoint so the quadratic probe×corpus subplans run once, not
    * twice (the shared-frame pattern d3/d10 use for shingleArrays). */
  private def recallReport(spark: SparkSession, dir: String,
                           index: DataFrame): DataFrame = {
    val exact = s1AnnBrute(spark, dir).select(col("probe_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val approx = index.select(col("probe_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val hits = exact.join(approx, Seq("probe_id", "neighbor_id"), "left_semi")
      .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
    exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
      .join(approx.groupBy(col("probe_id")).agg(count(lit(1)).as("n_approx")),
        Seq("probe_id"), "left")
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_approx"), lit(0L)).as("n_approx"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        floor(coalesce(col("n_hit"), lit(0L)) * lit(1000000.0) / col("n_exact"))
          .cast("long").as("recall_e6"))
      .orderBy(col("probe_id"))
  }

  /** `s21_rank_metrics`: rank-WEIGHTED retrieval quality of the LSH
    * shortlist (s2) against exact truth (s1) — MRR and an nDCG@k
    * surrogate, the metrics a production search SLO tracks beside s8's
    * set-level recall (recall can hold at 0.8 while every hit slides to
    * the bottom of the page; only a rank-weighted metric sees that).
    *
    * Integer discipline (the s8/s13 rule — a verdict must never flip on a
    * cross-engine ulp): every discount is the FLOORED e6 harmonic term
    * `10⁶ div (i+1)` instead of the textbook `1/log₂(i+1)` — same
    * monotone rank weighting, exact in 64-bit integers in any engine.
    * Per probe: `mrr_e6 = 10⁶ div first_rel_rank` (0 when the shortlist
    * misses everything), `dcg_e6 = Σ rel_i·(10⁶ div (i+1))` over shortlist
    * positions i, `idcg_e6` the same sum over the ideal prefix
    * `i = 1..min(n_exact, LshTopK)`, and `ndcg_e6 = dcg·10⁶ div idcg`.
    *
    * Shape: both inputs are the already-scale-correct s1/s2 plans
    * (checkpointed once each); the metric itself is a probe-grained
    * left join + one aggregate — the report adds nothing fact-sized.
    * At 100 TB the truth set is a sampled probe panel (NumProbes rows),
    * so the eval cost is the indexes' own cost. */
  def s21RankMetrics(spark: SparkSession, dir: String): DataFrame = {
    val exact = s1AnnBrute(spark, dir).select(col("probe_id"), col("neighbor_id"))
      .localCheckpoint(true)
    val short = s2AnnLsh(spark, dir)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
      .localCheckpoint(true)
    val marked = short
      .join(exact.withColumn("rel", lit(1L)), Seq("probe_id", "neighbor_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val perProbe = marked.groupBy(col("probe_id")).agg(
      count(lit(1)).as("n_ret"),
      sum(col("rel")).as("n_hit"),
      min(when(col("rel") === 1L, col("rank"))).as("frr"),
      sum(when(col("rel") === 1L, expr("1000000 div (rank + 1)"))
        .otherwise(lit(0L))).as("dcg_e6"))
    exact.groupBy(col("probe_id")).agg(count(lit(1)).as("n_exact"))
      .join(perProbe, Seq("probe_id"), "left")
      .withColumn("n_ret", coalesce(col("n_ret"), lit(0L)))
      .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
      .withColumn("dcg_e6", coalesce(col("dcg_e6"), lit(0L)))
      .withColumn("m", least(col("n_exact"), lit(LshTopK.toLong)))
      .withColumn("idcg_e6", when(col("m") >= 1L,
        expr("aggregate(sequence(CAST(1 AS BIGINT), m), " +
          "CAST(0 AS BIGINT), (acc, i) -> acc + 1000000 div (i + 1))"))
        .otherwise(lit(0L)))
      .select(col("probe_id"), col("n_exact"), col("n_ret"), col("n_hit"),
        coalesce(col("frr"), lit(0L)).cast("long").as("first_rel_rank"),
        coalesce(expr("1000000 div frr"), lit(0L)).as("mrr_e6"),
        col("dcg_e6"), col("idcg_e6"),
        expr("CASE WHEN idcg_e6 > 0 THEN dcg_e6 * 1000000 div idcg_e6 " +
          "ELSE CAST(0 AS BIGINT) END").as("ndcg_e6"))
      .orderBy(col("probe_id"))
  }

  val MmrCandN = 12 // s9: relevance candidates per probe fed to MMR
  val MmrK = 5 // s9: diversified picks per probe
  // s9: lambda = 0.7 as the exact rational 7/10 — the MMR score is kept
  // as the INTEGER 10x form, 7*rel_e6 - 3*max_sim_e6, so pick order can
  // never flip on a cross-engine ulp
  val MmrLambdaNum = 7
  val MmrDivNum = 3

  /** `s9_mmr_rerank`: maximal-marginal-relevance re-ranking — the
    * diversification pass a retrieval/curation pipeline runs AFTER ANN:
    * from each probe's top-[[MmrCandN]] relevance candidates, greedily
    * pick [[MmrK]] items maximizing `λ·rel − (1−λ)·max_sim_to_picked` —
    * relevant results that are not near-duplicates of each other (the
    * "10 copies of the same passage" failure of plain top-k, which is
    * exactly what an embedding-deduped training batch or a RAG context
    * window must avoid).
    *
    * Shape: the candidate stage is pluggable (any `(probe_id,
    * neighbor_id, rel_e6)` frame — the verified default is s1's
    * scan-once/rank-locally plan via [[s9BruteCandidates]]; s2/s4/s7
    * shortlists feed the same overload); candidate and pair frames are
    * `probes × N` and `probes × N²`, model-sized, checkpointed; the greedy selection
    * unrolls into [[MmrK]] dataframe steps of window-argmax + anti-join
    * over those tiny frames — sequential in K (inherent to MMR), each
    * step probe-parallel, nothing fact-sized after the scan. Scores are
    * floor-e6 integers in the 10x form, ties break on neighbor id, so
    * the pick sequence is bit-deterministic in any engine; the oracle
    * replays the same K steps as unrolled SQL CTEs. First pick carries
    * `max_sim_e6 = 0` (no diversity term yet). */
  def s9MmrRerank(spark: SparkSession, dir: String): DataFrame =
    s9MmrRerank(spark, dir, s9BruteCandidates(spark, dir))

  /** The default (verified) candidate stage: s1's brute broadcast-probe
    * scan widened to [[MmrCandN]] — probe-grained output in the
    * `(probe_id, neighbor_id, rel_e6)` contract [[s9MmrRerank]] takes. */
  def s9BruteCandidates(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val relCos = cosineFast(col("pe"), col("embedding"))
    val wRel = Window.partitionBy(col("probe_id")).orderBy(relCos.desc, col("vec_id"))
    e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(wRel))
      .filter(col("rank") <= MmrCandN)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        floor(relCos * lit(1000000.0)).cast("long").as("rel_e6"))
  }

  /** MMR over ANY candidate source: `candidates` is a probe-grained
    * `(probe_id, neighbor_id, rel_e6)` frame — s1's brute top-N by
    * default, but s2/s4/s7 shortlists plug in unchanged, which is MMR's
    * whole pitch (the diversification pass AFTER whichever ANN produced
    * the shortlist). Only neighbor ids and e6 relevance cross the
    * boundary; the pairwise-similarity stage re-fetches vectors from the
    * embeddings table itself, so a candidate source never has to carry
    * floats. */
  def s9MmrRerank(spark: SparkSession, dir: String, candidates: DataFrame): DataFrame = {
    val e = emb(spark, dir)
    val cand = candidates
      .select(col("probe_id"), col("neighbor_id"), col("rel_e6"))
      .localCheckpoint(true) // probes × MmrCandN rows; consumed K+1 times
    // pairwise candidate sims (probes × N² rows), both directions
    val ev = e.select(col("vec_id"), col("embedding"))
    val pairs = cand.select(col("probe_id"), col("neighbor_id").as("id_a"))
      .join(cand.select(col("probe_id"), col("neighbor_id").as("id_b")), Seq("probe_id"))
      .filter(col("id_a") =!= col("id_b"))
      // the small side here is the candidate pair list, not the corpus:
      // no broadcast hint, so the optimizer broadcasts the pairs and the
      // embeddings table is scanned, never replicated
      .join(ev.select(col("vec_id").as("id_a"), col("embedding").as("ea")), Seq("id_a"))
      .join(ev.select(col("vec_id").as("id_b"), col("embedding").as("eb")), Seq("id_b"))
      .select(col("probe_id"), col("id_a"), col("id_b"),
        floor(cosineFast(col("ea"), col("eb")) * lit(1000000.0)).cast("long").as("sim_e6"))
      .localCheckpoint(true) // consumed K-1 times
    val wPick = Window.partitionBy(col("probe_id"))
      .orderBy(col("mmr10_e6").desc, col("neighbor_id"))
    val first = cand
      .withColumn("max_sim_e6", lit(0L))
      .withColumn("mmr10_e6", col("rel_e6") * MmrLambdaNum)
      .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .select(col("probe_id"), col("neighbor_id"), col("rel_e6"),
        col("max_sim_e6"), col("mmr10_e6"), lit(1L).as("pick_rank"))
      .localCheckpoint(true)
    // each step references the running selection THREE times (anti-join,
    // max-sim join, union); checkpointing the probes×k-row frame per step
    // keeps the K-step plan flat — without it the lineage re-executes
    // prior steps ~3^K times
    val selected = (2 to MmrK).foldLeft(first) { (sel, k) =>
      val rem = cand.join(sel.select(col("probe_id"), col("neighbor_id")),
        Seq("probe_id", "neighbor_id"), "left_anti")
      val pick = rem
        .join(pairs.select(col("probe_id"), col("id_a").as("neighbor_id"), col("id_b"), col("sim_e6")),
          Seq("probe_id", "neighbor_id"))
        .join(sel.select(col("probe_id"), col("neighbor_id").as("id_b")), Seq("probe_id", "id_b"))
        .groupBy(col("probe_id"), col("neighbor_id"), col("rel_e6"))
        .agg(max(col("sim_e6")).as("max_sim_e6"))
        .withColumn("mmr10_e6",
          col("rel_e6") * MmrLambdaNum - col("max_sim_e6") * MmrDivNum)
        .withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
        .select(col("probe_id"), col("neighbor_id"), col("rel_e6"),
          col("max_sim_e6"), col("mmr10_e6"), lit(k.toLong).as("pick_rank"))
      sel.unionByName(pick).localCheckpoint(true)
    }
    selected.orderBy(col("probe_id"), col("pick_rank"))
  }

  /** s9 oracle: the same greedy unroll as SQL CTEs — candidates via s1's
    * brute ranking widened to [[MmrCandN]], integer MMR algebra, same
    * tie-breaks. Generated by the same loop bounds as the Spark fold. */
  private lazy val s9OracleSql: String = {
    val candCte =
      s"""cand AS (
         | SELECT probe_id, neighbor_id, rel_e6 FROM (
         |  SELECT p.vec_id AS probe_id, x.vec_id AS neighbor_id,
         |   CAST(floor(${cosSql("p.embedding", "x.embedding")} * 1000000.0) AS BIGINT) AS rel_e6,
         |   row_number() OVER (PARTITION BY p.vec_id
         |     ORDER BY ${cosSql("p.embedding", "x.embedding")} DESC, x.vec_id) AS rank
         |  FROM embeddings p JOIN embeddings x ON x.vec_id != p.vec_id
         |  WHERE p.vec_id < $NumProbes)
         | WHERE rank <= $MmrCandN)""".stripMargin
    val pairsCte =
      s"""pairs AS (
         | SELECT a.probe_id, a.neighbor_id AS id_a, b.neighbor_id AS id_b,
         |  CAST(floor(${cosSql("ea.embedding", "eb.embedding")} * 1000000.0) AS BIGINT) AS sim_e6
         | FROM cand a JOIN cand b
         |  ON b.probe_id = a.probe_id AND b.neighbor_id != a.neighbor_id
         | JOIN embeddings ea ON ea.vec_id = a.neighbor_id
         | JOIN embeddings eb ON eb.vec_id = b.neighbor_id)""".stripMargin
    val sel1 =
      s"""sel1 AS (
         | SELECT probe_id, neighbor_id, rel_e6, CAST(0 AS BIGINT) AS max_sim_e6,
         |  rel_e6 * $MmrLambdaNum AS mmr10_e6, CAST(1 AS BIGINT) AS pick_rank
         | FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |   ORDER BY rel_e6 * $MmrLambdaNum DESC, neighbor_id) AS rn FROM cand)
         | WHERE rn = 1)""".stripMargin
    val steps = (2 to MmrK).map { k =>
      s"""ms$k AS (
         | SELECT c.probe_id, c.neighbor_id, c.rel_e6, max(p.sim_e6) AS max_sim_e6
         | FROM cand c
         | JOIN pairs p ON p.probe_id = c.probe_id AND p.id_a = c.neighbor_id
         | JOIN sel${k - 1} s ON s.probe_id = p.probe_id AND s.neighbor_id = p.id_b
         | WHERE NOT EXISTS (SELECT 1 FROM sel${k - 1} s2
         |   WHERE s2.probe_id = c.probe_id AND s2.neighbor_id = c.neighbor_id)
         | GROUP BY 1, 2, 3),
         |pick$k AS (
         | SELECT probe_id, neighbor_id, rel_e6, max_sim_e6,
         |  rel_e6 * $MmrLambdaNum - max_sim_e6 * $MmrDivNum AS mmr10_e6,
         |  CAST($k AS BIGINT) AS pick_rank
         | FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |   ORDER BY rel_e6 * $MmrLambdaNum - max_sim_e6 * $MmrDivNum DESC,
         |    neighbor_id) AS rn FROM ms$k)
         | WHERE rn = 1),
         |sel$k AS (SELECT * FROM sel${k - 1} UNION ALL SELECT * FROM pick$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $candCte,
       |$pairsCte,
       |$sel1,
       |$steps
       |SELECT probe_id, neighbor_id, rel_e6, max_sim_e6, mmr10_e6, pick_rank
       |FROM sel$MmrK ORDER BY probe_id, pick_rank""".stripMargin
  }

  val KnnBands = 16 // s5: band count (the d5 family, same 64 planes)
  val KnnPlanesPerBand = 4 // s5: planes per band
  val KnnK = 3 // s5: neighbors reported per vector

  /** `s5_knn_join`: all-pairs k-NN join — each vector's top-k nearest
    * neighbors among its LSH-band candidates, not just a probe set's. A
    * vector sharing no (band, sig) with any other vector emits NO rows
    * (standard LSH semantics — consumers detect isolated vectors by
    * anti-joining the corpus; at this corpus's 16x4 slicing every vector
    * has candidates, which the spec pins). The brute form is a self cross
    * join (quadratic; off the table at corpus scale), so candidates come
    * from hyperplane LSH bands over the SAME deterministic 64-plane
    * family d5 uses; exact cosine runs on candidates only, and the
    * per-vector top-k is a window over each vector's own candidate list.
    * At 100 TB the band/sig pair is the shuffle key (bounded bucket
    * sizes, never all-pairs).
    *
    * Band LENGTH is the recall/cost dial, and it must match the data's
    * notion of "near": a pair at cosine c crosses one hyperplane with
    * probability arccos(c)/pi, so an l-plane band catches it with
    * (1 - arccos(c)/pi)^l per band. This corpus's interesting pairs sit
    * at cos 0.40-0.51 (d5's tau band), where 16 bands x 4 planes recover
    * ~95% of pairs; a production near-dup corpus (cos >= 0.9) would slice
    * the same 64 planes as 8 x 8 and cut the random-pair candidate rate
    * from ~64% to ~3%. The spec pins the reported-or-outranked invariant
    * against d5's confirmed pairs. */
  /** s5/s19 shared: the banded-candidate kNN edge table —
    * (vec_id, neighbor_id, cos_e6, rank) with rank ≤ [[KnnK]] per node.
    * s5 reports it; s19 walks it. */
  def knnEdges(spark: SparkSession, dir: String): DataFrame =
    s5KnnJoin(spark, dir)

  /** s5/s26 shared: the undirected banded-candidate SCORED pairs
    * (va < vb, floored e6 cosine) — s5 mirrors+ranks the full set into
    * the layer-0 graph; s26 re-links the level>=l subsets into its
    * upper-layer graphs (an upper HNSW layer is its own small-world
    * graph over a sample, not a filtered view of layer 0's top-K). */
  private[graft] def knnScoredPairs(spark: SparkSession, dir: String): DataFrame = {
    val pl = planesFor(KnnBands * KnnPlanesPerBand)
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"))
    // one fused 64-plane pass per row; band b = the b-th
    // KnnPlanesPerBand-bit slice of _bkt
    val bandMask = (1L << KnnPlanesPerBand) - 1
    val bandCols = (0 until KnnBands).map { b =>
      val sig = shiftrightunsigned(col("_bkt"), b * KnnPlanesPerBand)
        .bitwiseAND(lit(bandMask))
      struct(lit(b).as("band"), sig.as("sig"))
    }
    val sigs = e
      .withColumn("_bkt", hyperplaneBucket(col("embedding"), pl))
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bs"))
      .select(col("vec_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
    // UNDIRECTED candidates (v1 < v2): half the distinct shuffle, half the
    // confirm-join probes and half the cosine work of the directed form;
    // both directions are recovered AFTER scoring by a one-pass explode
    // mirror (no self-union — a union of a derived DF would re-execute the
    // whole candidate pipeline once per branch)
    val cand = sigs
      .join(sigs.select(col("vec_id").as("vb"), col("band"), col("sig")),
        Seq("band", "sig"))
      .filter(col("vec_id") < col("vb"))
      .select(col("vec_id").as("va"), col("vb")).distinct()
    // rank on the floored e6 integer, not the raw double, so the cosine is
    // evaluated once per pair and the oracle's ordering ties agree exactly
    val scored = cand
      .join(e.select(col("vec_id").as("va"), col("embedding").as("ea")), Seq("va"))
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("eb")), Seq("vb"))
      .select(col("va"), col("vb"),
        floor(cosineFast(col("ea"), col("eb")) * lit(1000000.0)).cast("long").as("cos_e6"))
    scored
  }

  def s5KnnJoin(spark: SparkSession, dir: String): DataFrame = {
    val scored = knnScoredPairs(spark, dir)
    val mirrored = scored.select(explode(array(
        struct(col("va").as("vec_id"), col("vb").as("neighbor_id"), col("cos_e6")),
        struct(col("vb").as("vec_id"), col("va").as("neighbor_id"), col("cos_e6")))).as("p"))
      .select(col("p.vec_id"), col("p.neighbor_id"), col("p.cos_e6"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_e6").desc, col("neighbor_id"))
    mirrored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= KnnK)
      .orderBy(col("vec_id"), col("rank"))
  }

  val BinPlanes = 64 // s7: sign-sketch width — one BIGINT per vector
  val BinShortlist = 32 // s7: Hamming shortlist fed to the exact re-rank

  /** `s7_ann_binary`: binary-quantized ANN — the compressed-index search
    * path beside s4's PQ: every vector collapses to a 64-bit sign sketch
    * (bit p = sign of embedding·plane p, the SAME deterministic plane
    * family as s2/s5/d5), probes pre-rank the corpus by Hamming distance
    * on the sketches (XOR + popcount — pure integer ops over 8
    * bytes/vector), and ONLY the per-probe shortlist fetches float
    * vectors for the exact-cosine re-rank. At 100 TB the sketch table is
    * ~1/256 the size of the float table, the Hamming pass is a narrow
    * integer scan with per-probe window top-k (no global sort), and the
    * float fetch is a shortlist-sized join — floats never stream through
    * the ranking shuffle.
    *
    * Hamming approximates angle — P[bit differs] = arccos(cos)/π per
    * plane — so the sketch's resolving power depends on the NEIGHBOR
    * REGIME: a production near-dup corpus (cos ≥ 0.8, 0.20 flip rate vs
    * the bulk's 0.5) separates by many σ and re-rank recall approaches 1,
    * while THIS corpus's true top-5 sit at cos ≈ 0.32 (25.3 expected
    * flips vs the bulk's 32, a 1.7σ gap), where the measured recall@5 is
    * ~0.4 with a 6.4×k shortlist — 6× better than a random shortlist
    * (32/499 ≈ 0.064), which is what the spec asserts. The dial is the
    * same as s5's band length: more planes per vector (2-4 bits/dim) or
    * a deeper shortlist, both linear cost. Ties break on
    * (hamming, vec_id) and (cos desc, vec_id) — deterministic cut. */
  def s7AnnBinary(spark: SparkSession, dir: String): DataFrame = {
    val pl = planesFor(BinPlanes)
    val e = emb(spark, dir)
    // the compressed index: (vec_id, 64-bit sketch), one fused plane pass
    val sigs = e.select(col("vec_id"),
      hyperplaneBucket(col("embedding"), pl).as("sig"))
    val probes = sigs.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("sig").as("psig"))
    val wHam = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val shortlist = sigs
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("psig"))).cast("long"))
      .withColumn("hrank", row_number().over(wHam))
      .filter(col("hrank") <= BinShortlist)
      .select(col("probe_id"), col("vec_id"), col("hamming"))
    // floats are fetched ONLY here: shortlist-sized joins back to the
    // vector table (AQE broadcasts the tiny shortlist side)
    val pvecs = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val cos = cosineFast(col("pe"), col("embedding"))
    val wCos = Window.partitionBy(col("probe_id")).orderBy(cos.desc, col("vec_id"))
    shortlist
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(pvecs), Seq("probe_id"))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("hamming"),
        floor(cos * lit(1000000.0)).cast("long").as("cos_e6"), col("rank"))
      .orderBy(col("probe_id"), col("rank"))
  }

  // ------------------------------------------------------------- oracles

  private def planeSql(p: Int): String = planeSqlFor(planes(p))

  private def dotSql(embExpr: String, p: Int): String =
    s"list_sum(list_transform(list_zip($embExpr, ${planeSql(p)}), x -> CAST(x[1] AS DOUBLE) * x[2]))"

  private val bucketSql: String =
    (0 until LshPlanes).map(p =>
      s"(CASE WHEN ${dotSql("embedding", p)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")

  /** Squared L2 norm of a list column — [[driftCosE6]]'s zero-norm guard
    * needs the same test SQL-side (0/0 must become the defined 0, not a
    * NaN whose BIGINT cast errors in DuckDB). */
  private def normSql(a: String): String =
    s"list_sum(list_transform(list_zip($a, $a), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"

  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform(list_zip($a, $a), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))
       |  * sqrt(list_sum(list_transform(list_zip($b, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))))))""".stripMargin

  /** s3 oracle from a k-means model: the final centroids go in as a VALUES
    * literal (exact double round-trip via Double.toString), assignment and
    * probing mirror the Spark plan's argmax / top-NProbe / rank semantics
    * including tie-breaks (min cid on equal cosine, min vec_id on equal
    * rank cosine). */
  private def s3OracleSql(cents: Seq[(Long, Array[Long])]): String = {
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, e.embedding, c.cid,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, embedding, cid AS cell FROM scored WHERE rn = 1),
       |probes AS (
       | SELECT vec_id AS probe_id, embedding AS pe, cid AS cell,
       |  max(CASE WHEN rn = 1 THEN cid END) OVER (PARTITION BY vec_id) AS main_cell
       | FROM scored WHERE vec_id < $NumProbes AND rn <= $NProbe)
       |SELECT probe_id, neighbor_id, cell, cos_e6, rank FROM (
       | SELECT p.probe_id, x.vec_id AS neighbor_id, CAST(p.main_cell AS BIGINT) AS cell,
       |  CAST(floor(${cosSql("p.pe", "x.embedding")} * 1000000.0) AS BIGINT) AS cos_e6,
       |  row_number() OVER (PARTITION BY p.probe_id
       |    ORDER BY ${cosSql("p.pe", "x.embedding")} DESC, x.vec_id) AS rank
       | FROM probes p JOIN asg x ON x.cell = p.cell AND x.vec_id != p.probe_id)
       |WHERE rank <= $LshTopK ORDER BY probe_id, rank""".stripMargin
  }

  /** s5 band signatures: the identical 64-plane literals, sliced per the
    * KnnBands x KnnPlanesPerBand config. */
  private lazy val knnBandSql: String = {
    val pl = planesFor(KnnBands * KnnPlanesPerBand)
    def dSql(p: Int) =
      s"list_sum(list_transform(list_zip(embedding, ${planeSqlFor(pl(p))}), x -> CAST(x[1] AS DOUBLE) * x[2]))"
    (0 until KnnBands).map { b =>
      val bits = (0 until KnnPlanesPerBand).map(i =>
        s"(CASE WHEN ${dSql(b * KnnPlanesPerBand + i)} > 0 THEN ${1L << i} ELSE 0 END)")
        .mkString(" + ")
      s"SELECT vec_id, $b AS band, $bits AS sig FROM embeddings"
    }.mkString("\n UNION ALL ")
  }

  /** s7 sketch: the identical 64-plane literals as one BIGINT bit sum
    * (distinct-bit addition ≡ bitwise OR, incl. the sign bit at p=63). */
  private lazy val binSigSql: String = {
    val pl = planesFor(BinPlanes)
    def dSql(p: Int) =
      s"list_sum(list_transform(list_zip(embedding, ${planeSqlFor(pl(p))}), x -> CAST(x[1] AS DOUBLE) * x[2]))"
    (0 until BinPlanes).map(p =>
      s"(CASE WHEN ${dSql(p)} > 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
  }

  private lazy val s7OracleSql: String =
    s"""WITH sigs AS (SELECT vec_id, $binSigSql AS sig FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, sig AS psig FROM sigs WHERE vec_id < $NumProbes),
       |h AS (
       | SELECT p.probe_id, s.vec_id,
       |  CAST(bit_count(xor(s.sig, p.psig)) AS BIGINT) AS hamming
       | FROM sigs s CROSS JOIN probes p WHERE s.vec_id <> p.probe_id),
       |sl AS (SELECT probe_id, vec_id, hamming FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY hamming, vec_id) AS hrank FROM h) WHERE hrank <= $BinShortlist),
       |r AS (
       | SELECT t.probe_id, t.vec_id, t.hamming,
       |  ${cosSql("pe.embedding", "e.embedding")} AS cos
       | FROM sl t JOIN embeddings e ON e.vec_id = t.vec_id
       |  JOIN embeddings pe ON pe.vec_id = t.probe_id)
       |SELECT probe_id, vec_id AS neighbor_id, hamming,
       | CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
       |  ORDER BY cos DESC, vec_id) AS rank FROM r)
       |WHERE rank <= $TopK ORDER BY probe_id, rank""".stripMargin

  /** s15 oracle: the same inverted-index arithmetic — bigram tf/df, the
    * df cap, the integer BM25 surrogate, s1's dense ranks, s13's RRF —
    * all in one statement (tokenization via TextAnalysis's shared
    * toksCaseSql so both engines split text identically). */
  private lazy val s15OracleSql: String =
    s"""WITH d AS (SELECT doc_id, ${TextAnalysis.toksCaseSql} AS toks FROM documents),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |db AS (
       | SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |   i -> toks[i] || ' ' || toks[i+1])) AS bg
       | FROM d),
       |tf AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf FROM db GROUP BY 1, 2),
       |dfq AS (SELECT bg, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |post AS (
       | SELECT tf.doc_id, tf.bg, tf.tf, dfq.df FROM tf JOIN dfq USING (bg), n
       | WHERE dfq.df * $DfCapDen <= n.n_docs),
       |lex0 AS (
       | SELECT q.doc_id AS probe_id, p.doc_id AS neighbor_id,
       |  CAST(sum(q.tf * (n.n_docs // p.df) * ((p.tf * 1000000) // (p.tf + 1))) AS BIGINT)
       |    AS lex_score_e6
       | FROM tf q JOIN post p USING (bg), n
       | WHERE q.doc_id < $NumProbes AND p.doc_id != q.doc_id
       | GROUP BY 1, 2),
       |l AS (
       | SELECT probe_id, neighbor_id, lex_rank FROM (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY lex_score_e6 DESC, neighbor_id) AS BIGINT) AS lex_rank FROM lex0)
       | WHERE lex_rank <= $LexTopK),
       |v AS ($s1OracleSql),
       |f AS (
       | SELECT COALESCE(l.probe_id, v.probe_id) AS probe_id,
       |  COALESCE(l.neighbor_id, v.neighbor_id) AS neighbor_id,
       |  l.lex_rank, v.rank AS vec_rank
       | FROM l FULL OUTER JOIN v
       |  ON v.probe_id = l.probe_id AND v.neighbor_id = l.neighbor_id),
       |s AS (
       | SELECT probe_id, neighbor_id, lex_rank, vec_rank,
       |  COALESCE(1000000 // ($RrfK + lex_rank), 0)
       |   + COALESCE(1000000 // ($RrfK + vec_rank), 0) AS score_e6,
       |  (CASE WHEN lex_rank IS NOT NULL THEN 1 ELSE 0 END
       |   + CASE WHEN vec_rank IS NOT NULL THEN 1 ELSE 0 END) AS n_sources
       | FROM f),
       |r AS (
       | SELECT *, row_number() OVER (PARTITION BY probe_id
       |   ORDER BY score_e6 DESC, neighbor_id) AS fused_rank FROM s)
       |SELECT probe_id, CAST(fused_rank AS BIGINT) AS fused_rank, neighbor_id,
       | CAST(score_e6 AS BIGINT) AS score_e6, CAST(lex_rank AS BIGINT) AS lex_rank,
       | CAST(vec_rank AS BIGINT) AS vec_rank, CAST(n_sources AS BIGINT) AS n_sources
       |FROM r WHERE fused_rank <= $FusedK ORDER BY probe_id, fused_rank""".stripMargin

  lazy val oracle: Map[String, String] = Map(
    "s19_graph_beam" -> s19OracleSql,
    "s26_hnsw_layers" -> s26OracleSql,
    "s27_hnsw_recall" -> s27OracleSql,
    "s31_beam_sweep" -> s31OracleSql,
    "s28_hnsw_insert" -> s28OracleSql,
    "s29_hnsw_delete" -> s29OracleSql,
    "s30_cascade_rerank" -> s30OracleSql,
    "s18_sq8_quantize" -> s18OracleSql,
    "s15_hybrid_search" -> s15OracleSql,
    "s16_filtered_ann" -> s16OracleSql,
    "s10_nn_descent" -> s10OracleSql,
    "s7_ann_binary" -> s7OracleSql,
    "s5_knn_join" ->
      s"""WITH sigs AS (
         |$knnBandSql),
         |cand AS (
         | SELECT DISTINCT s1.vec_id AS v1, s2.vec_id AS v2
         | FROM sigs s1 JOIN sigs s2 ON s1.band = s2.band AND s1.sig = s2.sig
         |  AND s1.vec_id < s2.vec_id),
         |scored AS (
         | SELECT c.v1, c.v2,
         |  CAST(floor(${cosSql("a.embedding", "b.embedding")} * 1000000.0) AS BIGINT) AS cos_e6
         | FROM cand c JOIN embeddings a ON a.vec_id = c.v1
         |  JOIN embeddings b ON b.vec_id = c.v2),
         |mirrored AS (
         | SELECT v1 AS vec_id, v2 AS neighbor_id, cos_e6 FROM scored
         | UNION ALL SELECT v2, v1, cos_e6 FROM scored)
         |SELECT vec_id, neighbor_id, cos_e6, rank FROM (
         | SELECT vec_id, neighbor_id, cos_e6,
         |  row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos_e6 DESC, neighbor_id) AS rank
         | FROM mirrored)
         |WHERE rank <= $KnnK ORDER BY vec_id, rank""".stripMargin,
    "s1_ann_brute" -> s1OracleSql,
    "s2_ann_lsh" -> s2OracleSql,
    "s9_mmr_rerank" -> s9OracleSql,
    "s13_rank_fusion" ->
      s"""WITH l AS ($s2OracleSql),
         |b AS ($s7OracleSql),
         |f AS (
         | SELECT COALESCE(l.probe_id, b.probe_id) AS probe_id,
         |  COALESCE(l.neighbor_id, b.neighbor_id) AS neighbor_id,
         |  l.rank AS lsh_rank, b.rank AS bin_rank
         | FROM l FULL OUTER JOIN b
         |  ON l.probe_id = b.probe_id AND l.neighbor_id = b.neighbor_id),
         |s AS (
         | SELECT probe_id, neighbor_id, lsh_rank, bin_rank,
         |  COALESCE(1000000 // ($RrfK + lsh_rank), 0)
         |   + COALESCE(1000000 // ($RrfK + bin_rank), 0) AS score_e6,
         |  (CASE WHEN lsh_rank IS NOT NULL THEN 1 ELSE 0 END
         |   + CASE WHEN bin_rank IS NOT NULL THEN 1 ELSE 0 END) AS n_sources
         | FROM f),
         |r AS (
         | SELECT *, row_number() OVER (PARTITION BY probe_id
         |   ORDER BY score_e6 DESC, neighbor_id) AS fused_rank FROM s)
         |SELECT probe_id, CAST(fused_rank AS BIGINT) AS fused_rank,
         | neighbor_id, CAST(score_e6 AS BIGINT) AS score_e6,
         | lsh_rank, bin_rank, CAST(n_sources AS BIGINT) AS n_sources
         |FROM r WHERE fused_rank <= $FusedK ORDER BY probe_id, fused_rank""".stripMargin,
    // s21's oracle: the same floored-harmonic e6 discounts over the same
    // s1/s2 CTEs — every term is `10⁶ // (i+1)`, so both engines sum
    // identical integers and the hash can only match if ranks match
    "s21_rank_metrics" ->
      s"""WITH ex AS ($s1OracleSql),
         |ap AS ($s2OracleSql),
         |marked AS (
         | SELECT a.probe_id, a.rank,
         |  CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         | FROM ap a LEFT JOIN ex e
         |  ON e.probe_id = a.probe_id AND e.neighbor_id = a.neighbor_id),
         |pp AS (
         | SELECT probe_id, CAST(count(*) AS BIGINT) AS n_ret,
         |  CAST(sum(rel) AS BIGINT) AS n_hit,
         |  min(CASE WHEN rel = 1 THEN rank END) AS frr,
         |  CAST(sum(CASE WHEN rel = 1 THEN 1000000 // (rank + 1) ELSE 0 END)
         |    AS BIGINT) AS dcg_e6
         | FROM marked GROUP BY 1),
         |ne AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
         | FROM ex GROUP BY 1),
         |j AS (
         | SELECT ne.probe_id, ne.n_exact,
         |  COALESCE(pp.n_ret, 0) AS n_ret, COALESCE(pp.n_hit, 0) AS n_hit,
         |  pp.frr, COALESCE(pp.dcg_e6, 0) AS dcg_e6,
         |  LEAST(ne.n_exact, $LshTopK) AS m
         | FROM ne LEFT JOIN pp USING (probe_id))
         |SELECT probe_id, n_exact, n_ret, n_hit,
         | CAST(COALESCE(frr, 0) AS BIGINT) AS first_rel_rank,
         | CAST(COALESCE(1000000 // frr, 0) AS BIGINT) AS mrr_e6,
         | dcg_e6,
         | CAST(COALESCE(list_sum(list_transform(range(1, CAST(m AS BIGINT) + 1),
         |   i -> 1000000 // (i + 1))), 0) AS BIGINT) AS idcg_e6,
         | CAST(CASE WHEN COALESCE(list_sum(list_transform(
         |     range(1, CAST(m AS BIGINT) + 1), i -> 1000000 // (i + 1))), 0) > 0
         |  THEN dcg_e6 * 1000000 // list_sum(list_transform(
         |     range(1, CAST(m AS BIGINT) + 1), i -> 1000000 // (i + 1)))
         |  ELSE 0 END AS BIGINT) AS ndcg_e6
         |FROM j ORDER BY probe_id""".stripMargin,
    "s8_recall" ->
      s"""WITH ex AS ($s1OracleSql),
         |ap AS ($s2OracleSql),
         |hits AS (
         | SELECT e.probe_id, CAST(count(*) AS BIGINT) AS n_hit
         | FROM ex e JOIN ap a ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
         | GROUP BY 1),
         |ne AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact FROM ex GROUP BY 1),
         |na AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_approx FROM ap GROUP BY 1)
         |SELECT ne.probe_id AS probe_id, ne.n_exact AS n_exact,
         | COALESCE(na.n_approx, 0) AS n_approx, COALESCE(h.n_hit, 0) AS n_hit,
         | CAST(floor(COALESCE(h.n_hit, 0) * 1000000.0 / ne.n_exact) AS BIGINT) AS recall_e6
         |FROM ne LEFT JOIN na USING (probe_id) LEFT JOIN hits h USING (probe_id)
         |ORDER BY probe_id""".stripMargin)

  private lazy val s1OracleSql: String =
    s"""SELECT probe_id, neighbor_id, cos_e6, rank FROM (
       | SELECT p.vec_id AS probe_id, x.vec_id AS neighbor_id,
       |  CAST(floor(${cosSql("p.embedding", "x.embedding")} * 1000000.0) AS BIGINT) AS cos_e6,
       |  row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY ${cosSql("p.embedding", "x.embedding")} DESC, x.vec_id) AS rank
       | FROM embeddings p JOIN embeddings x ON x.vec_id != p.vec_id
       | WHERE p.vec_id < $NumProbes)
       |WHERE rank <= $TopK ORDER BY probe_id, rank""".stripMargin

  private lazy val s2OracleSql: String =
    s"""WITH bkt AS (
       | SELECT vec_id, embedding, $bucketSql AS bucket FROM embeddings)
       |SELECT probe_id, neighbor_id, bucket, cos_e6, rank FROM (
       | SELECT p.vec_id AS probe_id, x.vec_id AS neighbor_id, p.bucket AS bucket,
       |  CAST(floor(${cosSql("p.embedding", "x.embedding")} * 1000000.0) AS BIGINT) AS cos_e6,
       |  row_number() OVER (PARTITION BY p.vec_id
       |    ORDER BY ${cosSql("p.embedding", "x.embedding")} DESC, x.vec_id) AS rank
       | FROM bkt p JOIN bkt x ON x.bucket = p.bucket AND x.vec_id != p.vec_id
       | WHERE p.vec_id < $NumProbes)
       |WHERE rank <= $LshTopK ORDER BY probe_id, rank""".stripMargin

  // ------------------------------------------------- s3: k-means IVF

  /** Lloyd iterations for the IVF centroids. */
  val KmIters = 3

  /** Fixed-point scale for centroid arithmetic: per-vector components are
    * floored to e6 integers BEFORE summing, so the mean is computed in
    * exact integer arithmetic — integer sums are order-independent, which
    * makes the centroids bit-identical between Spark's partial aggregation
    * and DuckDB's sequential sum (a raw double sum would differ in the low
    * bits and could flip boundary assignments). */
  val KmScale = 1000000L

  /** Cells a probe searches (multi-probe IVF). Data vectors live in
    * exactly one cell; probing the top-NProbe cells recovers neighbors
    * that fell just across a cell boundary. */
  val NProbe = 2

  /** The centroid model as a double matrix, in `cents` order. */
  /** Memoized per model (the key is `cents` — tuple/Seq structural
    * equality degrades to REFERENCE equality on the inner arrays, so two
    * calls only hit when they pass the same trained model object): every
    * consumer of one model gets the SAME matrix instance, which is what
    * lets VectorFunctions' identity-keyed broadcast cache ship the model
    * once per JVM rather than once per plan build. Lloyd iterations pass
    * freshly-updated cents each round and correctly miss. */
  private val centroidMatrixCache: java.util.Map[AnyRef, Array[Array[Double]]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[AnyRef, Array[Array[Double]]](32, 0.75f, true) {
        // bounded LRU: a fresh final model lands per training query, and a
        // memo that never evicts would pin one matrix per training forever
        override def removeEldestEntry(
            e: java.util.Map.Entry[AnyRef, Array[Array[Double]]]): Boolean =
          size() > 64
      })
  private def centroidMatrix(cents: Seq[(Long, Array[Long])]): Array[Array[Double]] =
    centroidMatrixCache.computeIfAbsent(cents,
      _ => cents.map(_._2.map(_.toDouble / KmScale)).toArray)

  /** Per-row scored cells over a MATERIALIZED cosine-array column (one
    * fused [[graft.functions.CosineMatrixExpr]] pass per row — the
    * embedding norm is computed once, not once per centroid): array of
    * (cos, -cid, cid) structs whose ordering gives "max cosine, then min
    * cid", the exact tie-break the oracle's `ORDER BY cos DESC, cid` uses.
    * `cosArr` must be a real column (not the expression inline): it is
    * referenced once per centroid, and a multi-referenced non-trivial alias
    * is exactly what CollapseProject declines to inline. */
  private def scoredCells(cents: Seq[(Long, Array[Long])], cosArr: Column): Column =
    array(cents.zipWithIndex.map { case ((cid, _), i) =>
      struct(element_at(cosArr, i + 1).as("cos"), lit(-cid).as("neg"), lit(cid).as("cid"))
    }: _*)

  /** Deterministic k-means (Lloyd's) over the embeddings, entirely in
    * fixed-point: init = the first NumCells vectors (floored to e6), each
    * iteration assigns by max-cosine and recomputes centroids as
    * floorDiv(sum of e6-floored components, count). The k x Dim model is
    * collected to the driver each round — that is a MODEL, not data
    * (16x64 longs), the same shape MLlib broadcasts; the data itself
    * never leaves the executors. A cell an iteration empties keeps its
    * previous centroid (deterministic; the cell count never silently
    * shrinks, and only the FINAL model reaches the oracle). */
  def kmeansCentroids(spark: SparkSession, dir: String): Seq[(Long, Array[Long])] =
    kmeansWithData(spark, dir)._1

  /** k-means plus the MATERIALIZED (vec_id, embedding, f) projection it
    * trained on, so [[s3AnnIvf]] can assign/probe from the checkpointed
    * blocks instead of re-reading parquet a 4th time. `f` is the e6-floored
    * long form of the embedding — flooring runs once here, not once per
    * Lloyd iteration; every iteration's aggregate job and the final assign
    * pass all read this one materialization (on a real cluster: reliable
    * checkpoint / table round-trip).
    * (private[graft]: d12's per-cluster dedup consumes the same CODE PATH
    * and — training being fully deterministic — the bit-identical model.
    * Each caller still pays its own Lloyd loop: queries stay
    * self-contained so Bench's per-query timings never depend on which
    * consumer ran first, and the data half of the pair is a localCheckpoint
    * Bench's between-query unpersist would invalidate if memoized across
    * queries.) */
  private[graft] def kmeansWithData(spark: SparkSession, dir: String): (Seq[(Long, Array[Long])], DataFrame) =
    kmeansOver(emb(spark, dir))

  /** The Lloyd loop over ANY (vec_id, embedding) frame — the full corpus
    * for s3/s4/s6/d12, the already-indexed corpus slice for s11 (whose
    * model must PREDATE the incoming batch to make the delta-update
    * non-vacuous). Init = the NumCells lowest vec_ids of the input
    * (orderBy + limit: on the dense-id full corpus this is exactly the
    * historical `vec_id < NumCells` init, and it stays deterministic on
    * any slice). */
  private def kmeansOver(e0: DataFrame): (Seq[(Long, Array[Long])], DataFrame) = {
    val e = e0.select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast("double") * KmScale).cast("long")).as("f"))
      .localCheckpoint(true)
    kmeansIters(e)
  }

  /** The Lloyd loop proper, over an ALREADY-MATERIALIZED
    * (vec_id, embedding, f) frame — split out so a caller that has
    * already paid the e6-floor + checkpoint (s14 reuses pqTrain's) does
    * not pay it twice; `f` must be the same `floor(x·KmScale)` grid. */
  private def kmeansIters(e: DataFrame): (Seq[(Long, Array[Long])], DataFrame) = {
    var cents: Seq[(Long, Array[Long])] = e
      .orderBy(col("vec_id")).limit(NumCells).select(col("vec_id"), col("f")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val sums = (0 until Dim).map(i => sum(element_at(col("f"), i + 1)).as(s"s$i"))
    for (_ <- 1 to KmIters) {
      // struct ordering = (cos, -cid): array_max is argmax cosine, min cid
      val iterMatrix = centroidMatrix(cents)
      val withCos = e.withColumn("_cos",
        cosineMatrix(col("embedding"), iterMatrix))
      val cell = array_max(scoredCells(cents, col("_cos"))).getField("cid")
      val agg = withCos.groupBy(cell.as("cell"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      // this iteration's model is consumed: its one job has collected, so
      // drop the matrix memo and destroy the broadcast SYNCHRONOUSLY
      // (the next iteration trains a fresh model; nothing rereads this one)
      centroidMatrixCache.remove(cents)
      graft.functions.VectorFunctions.releaseModel(iterMatrix)
      val updated = agg.map { r =>
        val n = r.getAs[Long]("n")
        (r.getAs[Long]("cell"),
          (0 until Dim).map(i => Math.floorDiv(r.getAs[Long](s"s$i"), n)).toArray)
      }.toMap
      cents = cents.map { case (cid, old) => (cid, updated.getOrElse(cid, old)) }
    }
    (cents, e.select(col("vec_id"), col("embedding")))
  }

  /** Max-cosine cell assignment of ANY (vec_id, embedding) frame under a
    * trained model — the one fused cosineMatrix pass s6 materializes,
    * shared with d12's per-cluster dedup and s11's batch delta (the
    * consumers SURVEY sells s6's partition to). Tie-break: max cosine,
    * then min cid — identical to s3's data-side assignment. Emits
    * (vec_id, embedding, cell, cell_cos_e6); the embedding rides along
    * because every consumer immediately needs it (confirm cosines) and
    * re-fetching by id would re-shuffle what is already in hand. */
  private[graft] def assignCells(data: DataFrame,
                                     cents: Seq[(Long, Array[Long])]): DataFrame =
    data
      .withColumn("_cos", cosineMatrix(col("embedding"), centroidMatrix(cents)))
      .withColumn("_best", array_max(scoredCells(cents, col("_cos"))))
      .select(col("vec_id"), col("embedding"),
        col("_best").getField("cid").cast("long").as("cell"),
        floor(col("_best").getField("cos") * lit(1000000.0)).cast("long").as("cell_cos_e6"))

  /** The centroid model as DuckDB VALUES rows (exact double round-trip
    * via Double.toString) — shared by every model-injecting oracle
    * (s3/s6 here, d12 in Dedup, s11 below). */
  private[operators] def centroidRowsSql(cents: Seq[(Long, Array[Long])]): String =
    cents.map { case (cid, c) =>
      "(" + cid + ", " + c.map(s => (s.toDouble / KmScale).toString)
        .mkString("[", ", ", "]") + ")"
    }.mkString(",\n  ")

  /** `s6_cluster_assign`: corpus-wide cluster assignment — every vector's
    * max-cosine cell from the deterministic k-means model, with its cosine
    * to the chosen centroid. This is the corpus-CURATION face of the s3
    * machinery: where s3 answers probe queries, s6 materializes the
    * partition a cluster-balanced sampler / per-cluster dedup pass would
    * consume. One narrow scan over broadcast centroid literals (the fused
    * cosineMatrix pass); at scale cluster_id is the table's partition key.
    * Tie-break = max cosine then min cid, identical to s3's assignment. */
  def s6ClusterAssign(spark: SparkSession, dir: String): DataFrame = {
    val (cents, data) = kmeansWithData(spark, dir)
    RunOracles.pending("s6_cluster_assign", dir, s6OracleSql(cents))
    assignCells(data, cents)
      .select(col("vec_id"), col("cell").as("cluster_id"),
        col("cell_cos_e6").as("cos_e6"))
      .orderBy(col("vec_id"))
  }

  /** s6 oracle: assignment-only slice of the s3 oracle over the same
    * injected centroid literals. */
  private def s6OracleSql(cents: Seq[(Long, Array[Long])]): String = {
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.cent")} AS cos,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c)
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id,
       | CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
       |FROM scored WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  // ------------------------------------------- s11: incremental ANN indexing

  /** s11 batch membership: the d8/t5 stable md5-bucket convention on
    * vec_id — bucket >= [[Dedup.NewBucketMin]] (20%) plays the freshly
    * embedded batch, the rest the already-indexed corpus. A real store
    * swaps this for a snapshot/date predicate, exactly like d8. */
  private def isNewVec(c: Column): Column =
    graft.functions.TextFunctions.md5Long60(c.cast("string")) % 100 >= Dedup.NewBucketMin

  /** Test hooks for the s11 exactness pin (package-private): the batch
    * membership predicate and a fresh corpus-slice model — the spec
    * replays the union-equals-one-pass invariant from the raw pieces. */
  private[graft] def s11IsNewVec(c: Column): Column = isNewVec(c)
  private[graft] def s11CorpusModel(spark: SparkSession, dir: String): Seq[(Long, Array[Long])] =
    kmeansOver(emb(spark, dir).filter(!isNewVec(col("vec_id"))))._1

  /** `s11_index_delta`: incremental ANN indexing — d8's daily-batch shape
    * applied to the embedding store. The index model (s3/s6's k-means
    * centroids) is trained on the ALREADY-INDEXED corpus only, so it
    * predates the batch the way a production store's does; the incoming
    * batch is assigned to those FIXED cells in one broadcast-model
    * cosineMatrix pass and then deduped/ranked against ONLY the corpus
    * postings of its own cells — a cell-keyed equi-join, so the daily
    * cost is (batch × touched-cell postings), never batch × corpus and
    * never a corpus rescan (at scale the corpus side is the stored
    * cell-partitioned index table and partition pruning reads just the
    * batch's cells). Per batch vector: its cell (where the delta-update
    * files it), its centroid cosine, its nearest corpus neighbor within
    * the cell, and a d5-threshold dup verdict — the keep/merge decision
    * an embedding-store ingest makes. The update is exact, not an
    * approximation of a rebuild: assignment is per-row under a fixed
    * model, so batch∪corpus assignments ≡ the one-pass assignment of
    * everything (spec-pinned bit-for-bit), the s3-invariant analog of
    * d8's "today's work is proportional to today's batch".
    *
    * A batch vector whose cell holds no corpus vector keeps null
    * neighbor columns and is_dup = 0 (first tenant of a new region of
    * space — filed, nothing to dedup against). */
  def s11IndexDelta(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val (cents, corpusData) = kmeansOver(e.filter(!isNewVec(col("vec_id"))))
    RunOracles.pending("s11_index_delta", dir, s11OracleSql(cents))
    val corpusIdx = assignCells(corpusData, cents) // at scale: the stored index
    // batch is consumed twice (nn probe + output spine) — checkpoint the
    // small side, not the corpus
    val batch = assignCells(
      e.filter(isNewVec(col("vec_id"))).select(col("vec_id"), col("embedding")),
      cents).localCheckpoint(true)
    val w = Window.partitionBy(col("vec_id")).orderBy(col("_cos").desc, col("nn_id"))
    val nn = batch.select(col("vec_id"), col("cell"), col("embedding").as("be"))
      .join(corpusIdx.select(col("cell"), col("vec_id").as("nn_id"),
        col("embedding").as("ce")), Seq("cell"))
      .withColumn("_cos", cosineFast(col("be"), col("ce")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nn_id"),
        floor(col("_cos") * lit(1000000.0)).cast("long").as("nn_cos_e6"))
    batch.select(col("vec_id"), col("cell"), col("cell_cos_e6"))
      .join(nn, Seq("vec_id"), "left")
      .withColumn("is_dup",
        when(col("nn_cos_e6") >= (Dedup.CosineTau * 1e6).toLong, 1L).otherwise(0L))
      .select(col("vec_id"), col("cell"), col("cell_cos_e6"),
        col("nn_id"), col("nn_cos_e6"), col("is_dup"))
      .orderBy(col("vec_id"))
  }

  /** s11 oracle: the corpus-trained centroids as injected literals; both
    * slices assigned by the same rn=1 argmax, the batch's nearest
    * corpus neighbor restricted to its cell, d8's bucket SQL for batch
    * membership. */
  private def s11OracleSql(cents: Seq[(Long, Array[Long])]): String = {
    def isNewSql(x: String) =
      s"CAST(('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 15)) AS BIGINT) % 100 >= ${Dedup.NewBucketMin}"
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, e.embedding, c.cid, ${cosSql("e.embedding", "c.cent")} AS cos,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, embedding, cid AS cell, cos FROM scored WHERE rn = 1),
       |b AS (SELECT * FROM asg WHERE ${isNewSql("vec_id")}),
       |corp AS (SELECT * FROM asg WHERE NOT (${isNewSql("vec_id")})),
       |nn AS (
       | SELECT vec_id, nn_id, nn_cos FROM (
       |  SELECT b.vec_id, c.vec_id AS nn_id, ${cosSql("b.embedding", "c.embedding")} AS nn_cos,
       |   row_number() OVER (PARTITION BY b.vec_id
       |     ORDER BY ${cosSql("b.embedding", "c.embedding")} DESC, c.vec_id) AS rn
       |  FROM b JOIN corp c ON b.cell = c.cell)
       | WHERE rn = 1)
       |SELECT b.vec_id, CAST(b.cell AS BIGINT) AS cell,
       | CAST(floor(b.cos * 1000000.0) AS BIGINT) AS cell_cos_e6,
       | nn.nn_id, CAST(floor(nn.nn_cos * 1000000.0) AS BIGINT) AS nn_cos_e6,
       | CAST(CASE WHEN floor(nn.nn_cos * 1000000.0) >= ${(Dedup.CosineTau * 1e6).toLong}
       |   THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       |FROM b LEFT JOIN nn ON nn.vec_id = b.vec_id
       |ORDER BY b.vec_id""".stripMargin
  }

  /** `s3_ann_ivf`: inverted-file ANN with data-derived k-means centroids.
    * Every vector is assigned to its max-cosine cell (one narrow scan over
    * broadcast centroid literals — at scale the cell id is the partition
    * key); probes search their top-NProbe cells. The oracle receives the
    * identical final centroids as injected literals, so results hash-match. */
  def s3AnnIvf(spark: SparkSession, dir: String): DataFrame =
    s3AnnIvf(spark, dir, NProbe)

  /** s3 with an explicit `nprobe` — the recall dial real IVF exposes:
    * more probed cells recover more cross-boundary neighbors at linearly
    * more candidate work (the spec asserts recall@k vs s1 is monotone in
    * `nprobe`; s8 is the operator that monitors the trade in production).
    * [[NProbe]] stays the verified default the oracle replays. */
  def s3AnnIvf(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be positive, got $nprobe")
    val (cents, data) = kmeansWithData(spark, dir)
    RunOracles.pending("s3_ann_ivf", dir, s3OracleSql(cents))
    val e = data
      .withColumn("_cos", cosineMatrix(col("embedding"), centroidMatrix(cents)))
    val scored = scoredCells(cents, col("_cos"))
    // data: top-1 cell; probes: top-nprobe cells (sorted desc = reverse of
    // the ascending struct sort), primary cell kept for the output column
    val topCells = slice(reverse(array_sort(scored)), 1, nprobe)
    val assigned = e.select(col("vec_id"), col("embedding"),
      element_at(topCells, 1).getField("cid").as("cell"))
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        element_at(topCells, 1).getField("cid").as("main_cell"),
        explode(transform(topCells, c => c.getField("cid"))).as("cell"))
    val cos = cosineFast(col("pe"), col("embedding"))
    val w = Window.partitionBy(col("probe_id")).orderBy(cos.desc, col("vec_id"))
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= LshTopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("main_cell").cast("long").as("cell"),
        floor(cos * lit(1000000.0)).cast("long").as("cos_e6"), col("rank"))
      .orderBy(col("probe_id"), col("rank"))
  }

  // ------------------------------------------------- s4: product quantization

  /** PQ geometry: 64 dims → 8 subspaces × 8 dims, 16 centroids each →
    * a vector compresses to 8 nibble codes (4 bytes) — the storage story
    * that makes 100 TB of embeddings searchable from memory (64× smaller
    * than float32). Codebooks train per subspace with the same
    * deterministic fixed-point Lloyd's as s3 (init = first PqK vectors'
    * subvectors, integer sums, floorDiv means — a pure function of the
    * data dir). */
  val NumSub = 8
  val SubDim = 8
  val PqK = 16
  val PqIters = 2

  /** e6-floored long subvector d of subspace j from the `f` column. */
  private def fAt(j: Int, d: Int): Column =
    element_at(col("f"), j * SubDim + d + 1)

  /** Declarative argmin-L2 code of subspace j — exact integer distance on
    * the e6 grid ((f-c)² sums stay < 2^45), tie → min code, the same
    * struct-array-min trick as [[scoredCells]]. KEPT ONLY as the
    * bit-parity baseline for the fused [[graft.functions.PqEncodeExpr]]
    * (the 8×16×8 expansion overflows Janino's 64 KB method limit).
    * private[graft]: PlanSpec drives both forms. */
  private[graft] def pqCodeColSlow(books: Array[Array[Array[Long]]], j: Int): Column = {
    val scored = books(j).zipWithIndex.map { case (cent, ci) =>
      val dist = (0 until SubDim).map { d =>
        val diff = fAt(j, d) - lit(cent(d))
        diff * diff
      }.reduce(_ + _)
      struct(dist.as("dist"), lit(ci.toLong).as("code"))
    }
    array_min(array(scored: _*)).getField("code")
  }

  /** Train the 8 codebooks. One aggregate job per iteration: rows explode
    * to (subspace, code, subvector) and the (j, code) groupBy sums all
    * subspaces at once. Only the 8×16×8-long MODEL is collected. Returns
    * (books, checkpointed (vec_id, embedding, f) projection). */
  private def pqTrain(spark: SparkSession, dir: String): (Array[Array[Array[Long]]], DataFrame) = {
    val data = emb(spark, dir).select(col("vec_id"), col("embedding"),
        transform(col("embedding"),
          x => floor(x.cast("double") * KmScale).cast("long")).as("f"))
      .localCheckpoint(true)
    val init = data.filter(col("vec_id") < PqK).orderBy(col("vec_id"))
      .select(col("vec_id"), col("f")).collect()
      .map(_.getSeq[Long](1).toArray)
    val books: Array[Array[Array[Long]]] = Array.tabulate(NumSub, PqK) {
      (j, c) => java.util.Arrays.copyOfRange(init(c), j * SubDim, (j + 1) * SubDim)
    }
    for (_ <- 1 to PqIters) {
      val codes = pqEncode(col("f"), books.map(_.map(_.clone())))
      val perSub = (0 until NumSub).map(j => struct(
        lit(j).as("j"), element_at(codes, j + 1).as("code"),
        array((0 until SubDim).map(d => fAt(j, d)): _*).as("sub")))
      val sums = (0 until SubDim).map(d =>
        sum(element_at(col("sub"), d + 1)).as(s"s$d"))
      val agg = data.select(explode(array(perSub: _*)).as("e"))
        .select(col("e.j").as("j"), col("e.code").as("code"), col("e.sub").as("sub"))
        .groupBy(col("j"), col("code"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
      agg.foreach { r =>
        val n = r.getAs[Long]("n")
        books(r.getAs[Int]("j"))(r.getAs[Long]("code").toInt) =
          (0 until SubDim).map(d => Math.floorDiv(r.getAs[Long](s"s$d"), n)).toArray
      } // a cell no vector chose keeps its previous centroid, like s3
    }
    (books, data)
  }

  /** Left-to-right double dot product — the IEEE sequence DuckDB's
    * `list_sum(list_transform(list_zip(...)))` produces (same pairing the
    * s1/s2 cosine oracles already rely on). */
  private def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y), lit(0.0), (acc, v) => acc + v)

  /** The PQ + re-rank tail of s4 and s14 over (probe, candidate) rows
    * carrying `pe`, `embedding` and `codes`. Each row scores `adc_e6`,
    * the asymmetric distance: the sum over subspaces of dot(probe
    * subvector, chosen centroid), each partial floored to an e6 long
    * BEFORE the sum, the codebooks inlined as array-of-arrays literals of
    * exact doubles (e6/1e6). The top [[PqShortlist]] per probe by ADC are
    * then ranked by exact cosine (`rank`, `cos_e6`) and [[LshTopK]] kept. */
  private def adcRerank(cands: DataFrame,
                        books: Array[Array[Array[Long]]]): DataFrame = {
    val adc = (0 until NumSub).map { j =>
      val bookLit = array(books(j).map(cent =>
        array(cent.map(v => lit(v.toDouble / KmScale)): _*)): _*)
      val chosen = element_at(bookLit, element_at(col("codes"), j + 1).cast("int") + 1)
      floor(dotD(slice(col("pe"), j * SubDim + 1, SubDim), chosen) * lit(1000000.0))
        .cast("long")
    }.reduce(_ + _)
    val wAdc = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_e6").desc, col("vec_id"))
    val cos = cosineFast(col("pe"), col("embedding"))
    val wFinal = Window.partitionBy(col("probe_id")).orderBy(cos.desc, col("vec_id"))
    cands.withColumn("adc_e6", adc)
      .withColumn("short_rank", row_number().over(wAdc))
      .filter(col("short_rank") <= PqShortlist)
      .withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter(col("rank") <= LshTopK)
      .withColumn("cos_e6", floor(cos * lit(1000000.0)).cast("long"))
  }

  /** ADC shortlist size per probe: coarse 4-bit codes rank a candidate
    * pool, exact cosine re-ranks only these — the standard PQ + re-rank
    * pipeline (recall vs s1 asserted in the spec). */
  val PqShortlist = 50

  /** `s4_ann_pq`: product-quantization ANN with exact re-rank. Vectors
    * are stored as 8 nibble codes; a probe first scores every vector by
    * ASYMMETRIC DISTANCE — the sum over subspaces of dot(probe subvector,
    * chosen centroid) — touching only codes + the 8×16 codebook, never
    * the original vectors; the top [[PqShortlist]] by ADC are then
    * re-ranked by exact cosine (fetching full vectors for shortlist-sized
    * work only — at 100 TB that is the entire point: the coarse pass
    * reads 4-byte codes, the expensive pass reads
    * probes × shortlist vectors). Each per-subspace partial dot is
    * floored to an e6 long BEFORE the cross-subspace sum, so the
    * shortlist cut is integer-deterministic (float summation order can't
    * flip it between engines). At corpus scale the probe side becomes 8
    * lookup tables of 16 partials computed once per probe; this plan
    * inlines the codebook as literals, which is the same arithmetic
    * evaluated lazily. Output ranks by (exact cosine desc, vec_id),
    * self excluded. */
  def s4AnnPq(spark: SparkSession, dir: String): DataFrame = {
    val (books, data) = pqTrain(spark, dir)
    RunOracles.pending("s4_ann_pq", dir, s4OracleSql(books))
    val enc = data.select(col("vec_id"), col("embedding"),
      pqEncode(col("f"), books).as("codes"))
    val probes = data.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    adcRerank(enc.join(broadcast(probes), col("vec_id") =!= col("probe_id")), books)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("adc_e6"),
        col("cos_e6"), col("rank"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** s4 oracle from the trained codebooks (VALUES literals, exact double
    * round-trip), mirroring the plan: integer-L2 encode per subspace,
    * per-subspace partial dots floored to e6 BEFORE the integer sum,
    * ranks tie-broken on vec_id. */
  private def s4OracleSql(books: Array[Array[Array[Long]]]): String = {
    val centRows = (for (j <- 0 until NumSub; c <- 0 until PqK) yield {
      val ce = books(j)(c).mkString("[", ", ", "]")
      val cd = books(j)(c).map(v => (v.toDouble / KmScale).toString).mkString("[", ", ", "]")
      s"($j, $c, $ce, $cd)"
    }).mkString(",\n  ")
    s"""WITH cents(j, cid, ce, cd) AS (VALUES
       |  $centRows),
       |fe AS (
       | SELECT vec_id, embedding,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS f
       | FROM embeddings),
       |scored AS (
       | SELECT fe.vec_id, c.j, c.cid,
       |  row_number() OVER (PARTITION BY fe.vec_id, c.j ORDER BY
       |   list_sum(list_transform(range(1, ${SubDim + 1}),
       |     d -> (f[c.j * $SubDim + d] - c.ce[d]) * (f[c.j * $SubDim + d] - c.ce[d]))),
       |   c.cid) AS rn
       | FROM fe CROSS JOIN cents c),
       |codes AS (SELECT vec_id, j, cid AS code FROM scored WHERE rn = 1),
       |adc AS (
       | SELECT p.vec_id AS probe_id, x.vec_id AS neighbor_id,
       |  CAST(sum(CAST(floor(list_sum(list_transform(range(1, ${SubDim + 1}),
       |    d -> CAST(p.embedding[c.j * $SubDim + d] AS DOUBLE) * c.cd[d])) * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_e6
       | FROM embeddings p
       |  CROSS JOIN embeddings x
       |  JOIN codes cx ON cx.vec_id = x.vec_id
       |  JOIN cents c ON c.j = cx.j AND c.cid = cx.code
       | WHERE p.vec_id < $NumProbes AND x.vec_id != p.vec_id
       | GROUP BY 1, 2),
       |short AS (
       | SELECT probe_id, neighbor_id, adc_e6 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY adc_e6 DESC, neighbor_id) AS srn FROM adc)
       | WHERE srn <= $PqShortlist)
       |SELECT probe_id, neighbor_id, adc_e6, cos_e6, rank FROM (
       | SELECT s.probe_id, s.neighbor_id, s.adc_e6,
       |  CAST(floor(${cosSql("p.embedding", "x.embedding")} * 1000000.0) AS BIGINT) AS cos_e6,
       |  CAST(row_number() OVER (PARTITION BY s.probe_id
       |    ORDER BY ${cosSql("p.embedding", "x.embedding")} DESC, s.neighbor_id) AS BIGINT) AS rank
       | FROM short s
       |  JOIN embeddings p ON p.vec_id = s.probe_id
       |  JOIN embeddings x ON x.vec_id = s.neighbor_id)
       |WHERE rank <= $LshTopK ORDER BY probe_id, rank""".stripMargin
  }

  // ------------------------------------------- s14: IVF+PQ composed index

  /** `s14_ivf_pq`: the COMPOSED production index — IVF cell routing over
    * PQ-compressed storage (the FAISS `IVFx,PQy` shape, which is what
    * actually ships at 100 TB: s3 bounds WHICH vectors a probe touches,
    * s4 bounds what touching one COSTS; neither alone is the deployed
    * artifact). Every vector lives in its max-cosine cell carrying only
    * its 8 nibble codes; a probe expands to its top-[[NProbe]] cells and
    * ADC-scores ONLY those cells' members — candidate work is the probed
    * cells' sizes (s4 alone still scans every code in the corpus), and
    * the scored payload is 4 bytes/vector (s3 alone re-ranks full
    * floats) — then exact cosine re-ranks just the [[PqShortlist]].
    * Both models train with the same deterministic fixed-point loops as
    * their standalone operators (pure functions of `dir`), and the
    * oracle replays the identical centroids AND codebooks as literals,
    * so results hash-match. Per-subspace partial dots floor to e6 longs
    * BEFORE the cross-subspace sum — the shortlist cut is
    * integer-deterministic, float order can't flip it between engines.
    *
    * Scale: cell id is the partition key of the code table; a probe's
    * candidate fetch is an equi-join on cell (AQE skew-splits a hot
    * cell), codes ride 4 B/vector through the ADC rank, and full floats
    * move only for probes × shortlist rows. */
  def s14IvfPq(spark: SparkSession, dir: String): DataFrame = {
    val (books, data) = pqTrain(spark, dir)
    val (cents, _) = kmeansIters(data) // data already carries the floored f
    RunOracles.pending("s14_ivf_pq", dir, s14OracleSql(cents, books))
    val e = data.withColumn("_cos",
      cosineMatrix(col("embedding"), centroidMatrix(cents)))
    val topCells = slice(reverse(array_sort(scoredCells(cents, col("_cos")))), 1, NProbe)
    val enc = e.select(col("vec_id"), col("embedding"),
      element_at(topCells, 1).getField("cid").as("cell"),
      pqEncode(col("f"), books).as("codes"))
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        element_at(topCells, 1).getField("cid").as("main_cell"),
        explode(transform(topCells, c => c.getField("cid"))).as("cell"))
    adcRerank(enc.join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id")), books)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        col("main_cell").cast("long").as("cell"), col("adc_e6"),
        col("cos_e6"), col("rank"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** s14 oracle: s3's cell/probe CTEs + s4's encode/ADC CTEs, with the
    * ADC scan restricted to the probed cells' members — mirroring the
    * composed plan's semantics exactly (both models as VALUES literals,
    * e6-floored partial dots, all the same tie-breaks). */
  private def s14OracleSql(cents: Seq[(Long, Array[Long])],
                           books: Array[Array[Array[Long]]]): String = {
    val bookRows = (for (j <- 0 until NumSub; c <- 0 until PqK) yield {
      val ce = books(j)(c).mkString("[", ", ", "]")
      val cd = books(j)(c).map(v => (v.toDouble / KmScale).toString).mkString("[", ", ", "]")
      s"($j, $c, $ce, $cd)"
    }).mkString(",\n  ")
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |books(j, bcid, ce, cd) AS (VALUES
       |  $bookRows),
       |cscored AS (
       | SELECT e.vec_id, e.embedding, c.cid,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, cid AS cell FROM cscored WHERE rn = 1),
       |probes AS (
       | SELECT vec_id AS probe_id, embedding AS pe, cid AS cell,
       |  max(CASE WHEN rn = 1 THEN cid END) OVER (PARTITION BY vec_id) AS main_cell
       | FROM cscored WHERE vec_id < $NumProbes AND rn <= $NProbe),
       |fe AS (
       | SELECT vec_id,
       |  list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS f
       | FROM embeddings),
       |bscored AS (
       | SELECT fe.vec_id, b.j, b.bcid,
       |  row_number() OVER (PARTITION BY fe.vec_id, b.j ORDER BY
       |   list_sum(list_transform(range(1, ${SubDim + 1}),
       |     d -> (f[b.j * $SubDim + d] - b.ce[d]) * (f[b.j * $SubDim + d] - b.ce[d]))),
       |   b.bcid) AS rn
       | FROM fe CROSS JOIN books b),
       |codes AS (SELECT vec_id, j, bcid AS code FROM bscored WHERE rn = 1),
       |adc AS (
       | SELECT p.probe_id, x.vec_id AS neighbor_id,
       |  CAST(sum(CAST(floor(list_sum(list_transform(range(1, ${SubDim + 1}),
       |    d -> CAST(p.pe[b.j * $SubDim + d] AS DOUBLE) * b.cd[d])) * 1000000.0) AS BIGINT)) AS BIGINT) AS adc_e6
       | FROM probes p
       |  JOIN asg x ON x.cell = p.cell AND x.vec_id != p.probe_id
       |  JOIN codes cx ON cx.vec_id = x.vec_id
       |  JOIN books b ON b.j = cx.j AND b.bcid = cx.code
       | GROUP BY 1, 2),
       |short AS (
       | SELECT probe_id, neighbor_id, adc_e6 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY adc_e6 DESC, neighbor_id) AS srn FROM adc)
       | WHERE srn <= $PqShortlist),
       |pm AS (SELECT DISTINCT probe_id, main_cell FROM probes)
       |SELECT probe_id, neighbor_id, cell, adc_e6, cos_e6, rank FROM (
       | SELECT s.probe_id, s.neighbor_id, CAST(pm.main_cell AS BIGINT) AS cell, s.adc_e6,
       |  CAST(floor(${cosSql("p.embedding", "x.embedding")} * 1000000.0) AS BIGINT) AS cos_e6,
       |  CAST(row_number() OVER (PARTITION BY s.probe_id
       |    ORDER BY ${cosSql("p.embedding", "x.embedding")} DESC, s.neighbor_id) AS BIGINT) AS rank
       | FROM short s
       |  JOIN pm ON pm.probe_id = s.probe_id
       |  JOIN embeddings p ON p.vec_id = s.probe_id
       |  JOIN embeddings x ON x.vec_id = s.neighbor_id)
       |WHERE rank <= $LshTopK ORDER BY probe_id, rank""".stripMargin
  }

  // ---------------------------------------------------- s10: NN-descent

  val NndK = 5 // s10: output neighbors per vector
  val NndSearchK = 15 // s10: internal search degree (the convergence dial)
  val NndIters = 2 // s10: refinement iterations in the verified form

  /** `s10_nn_descent`: corpus-wide kNN-graph construction by iterative
    * LOCAL refinement — the NN-descent idea (Dong et al.: a vector's
    * true neighbors are overwhelmingly found among its current
    * neighbors' neighbors), which is how kNN graphs actually get built
    * at 100 TB: never a global candidate structure, just k-sized
    * adjacency exchanged along existing edges. Each iteration expands
    * candidates one hop through the UNDIRECTED current graph (forward ∪
    * reverse edges — reverse links are what make convergence fast),
    * scores exactly once by fused cosine, and keeps the top
    * [[NndSearchK]]; per vector that is ≤ (2k')²+k' candidates per
    * iteration, so an iteration is O(n·k'²) with every shuffle k'-sized
    * per key — no n² anywhere, nothing resembling a global sort. The
    * INTERNAL degree k' = [[NndSearchK]] deliberately exceeds the output
    * [[NndK]]: it is the convergence dial (measured on the sf0.001
    * corpus, recall@5 after 2 rounds is 0.32 at k'=5 but 0.98 at k'=15 —
    * a sparse working graph fragments into local optima; the NN-descent
    * paper's sampling parameter trades the same axis). The seed is
    * deterministic md5 pseudo-random ids (the d8/t5 hash convention —
    * NN-descent's famous property is convergence from an arbitrary
    * start); a production run seeds from the s2/s7 sketch families to
    * cut iterations, exactly like s9 consumes any shortlist. Recall@5
    * vs brute force is spec-asserted to IMPROVE monotonically across
    * iterations (candidates always include the incumbent graph, so
    * per-vector neighbor quality can only rise) and to clear 0.9 in the
    * verified form. Ranks tie-break on (cos desc, id) —
    * bit-deterministic in any engine; the oracle replays the identical
    * seed and both hops as unrolled CTEs. */
  def s10NnDescent(spark: SparkSession, dir: String): DataFrame =
    s10NnDescentIter(spark, dir, NndIters)

  /** The default deterministic md5 pseudo-random seed graph —
    * `(vec_id, neighbor_id)` pairs in the contract the refinement
    * overload takes.
    *
    * ID-SPACE-SAFE: the hash picks a RANK, not an id — `md5 % n_tot`
    * indexes the corpus's 0-based vec_id order, and a rank join maps it
    * back to the real vec_id, so every seed edge lands on a real vector
    * whether ids are dense 0..n-1 or arbitrarily sparse (on a dense
    * corpus rank k IS vec_id k, so the output is bit-identical to the
    * historical direct-id form; the oracle does the same rank
    * indirection). Without this, gappy ids would dangle seed edges that
    * the scoring join silently drops, thinning effective seed degree
    * below [[NndSearchK]] and weakening the coverage contract
    * [[s10NnDescentFrom]] documents. The rank itself is the
    * [[PrefixSum]] distributed row count — never a single-task global
    * window. */
  def s10RandomSeed(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"))
    val nTot = e.agg(count(lit(1)).as("n_tot"))
    // 0-based dense rank over vec_id, distributed
    val ranks = PrefixSum(e, Seq(col("vec_id")), None, 0).runningCount("rk1")
      .select((col("rk1") - 1).as("rk"), col("vec_id").as("neighbor_id"))
    e.crossJoin(broadcast(nTot))
      .withColumn("j", explode(array((1 to NndSearchK).map(lit(_)): _*)))
      .withColumn("rk",
        graft.functions.TextFunctions.md5Long60(
          concat(col("vec_id").cast("string"), lit(":"), col("j").cast("string")))
          % col("n_tot"))
      .join(ranks, Seq("rk"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .select(col("vec_id"), col("neighbor_id"))
      .distinct() // md5 collisions mod n may repeat a neighbor
  }

  /** [[s10NnDescent]] with an explicit iteration count — the spec's
    * convergence-curve hook (T=0 scores the raw seed). */
  def s10NnDescentIter(spark: SparkSession, dir: String, iters: Int): DataFrame =
    s10NnDescentFrom(spark, dir, s10RandomSeed(spark, dir), iters)

  /** NN-descent over ANY seed graph: `seedPairs` is a `(vec_id,
    * neighbor_id)` frame — the md5 pseudo-random seed by default, an
    * s2/s7 sketch shortlist UNIONED with it for a warm start (the same
    * pluggable-stage contract as s9's candidates). The seed must COVER
    * the corpus: refinement only ever expands along existing edges, so a
    * probe-only shortlist alone strands every unseeded vector in a tiny
    * subgraph (measured: s7's 50 probe edges alone reach 0.09 probe
    * recall after a round where the covering seed reaches 0.81 — warm
    * edges AUGMENT coverage, they do not replace it; spec-asserted). */
  /** s10's scoring pass: attach both endpoint vectors from the
    * checkpointed embedding table (candidates carry only ids), exact
    * fused cosine, per-vector top-k' cut. JOIN ORDER IS LOAD-BEARING
    * (guide §2.4): the neighbor-side vector attaches FIRST and the
    * vec_id-side LAST, so the final join's hash(vec_id) partitioning is
    * exactly the distribution the rank window needs — EnsureRequirements
    * adds only a local sort. The r19/r20 order (vec_id join, then
    * neighbor join, then window) re-exchanged the scored candidate set
    * a third time by vec_id for the window; the candidate set is the
    * largest frame in the query (≤ (2k')²+k' rows per vector), so at
    * scale that exchange is the iteration's biggest needless shuffle.
    * At the test SFs the 780 KB embedding table auto-broadcasts and both
    * orders plan the same (solo wall a wash, measured r21) — the win is
    * the AT-SCALE plan, where the corpus-sized attaches are sort-merge:
    * plans/r21/s10_round_intra_*_smj.txt (auto-broadcast disabled via
    * the ExplainOne dial) show the round's exchanges drop by one.
    * Inner equi-joins commute, so results are bit-identical
    * (oracle-checked). */
  private def s10ScoreTopK(e: DataFrame, cand: DataFrame): DataFrame = {
    val wK = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(e.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb")),
        Seq("neighbor_id"))
      .join(e.select(col("vec_id"), col("embedding").as("ea")), Seq("vec_id"))
      .withColumn("cos", cosineFast(col("ea"), col("eb")))
      .withColumn("rank", row_number().over(wK).cast("long"))
      .filter(col("rank") <= NndSearchK)
      .select(col("vec_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** One NN-descent round, UN-checkpointed: undirected one-hop expansion
    * + incumbent union + score/cut. Shared verbatim by the query fold
    * (which checkpoints it) and the plan probe ([[s10RoundIntraPlan]]). */
  private def s10Round(e: DataFrame, nn: DataFrame): DataFrame = {
    // candidate expansion one hop through the undirected graph:
    // no checkpoint on `und`: the hop consumes it on both sides of its
    // self-join, but the two branches are the identical subplan over
    // the already-checkpointed `nn`, so ReuseExchange shares one
    // execution — a materialization would only add block-manager churn
    val und = nn.select(col("vec_id"), col("neighbor_id"))
      .unionByName(nn.select(col("neighbor_id").as("vec_id"),
        col("vec_id").as("neighbor_id")))
      .distinct()
    val hop = und.select(col("vec_id"), col("neighbor_id").as("mid"))
      .join(und.select(col("vec_id").as("mid"), col("neighbor_id").as("cand")),
        Seq("mid"))
      .filter(col("cand") =!= col("vec_id"))
      .select(col("vec_id"), col("cand").as("neighbor_id"))
    s10ScoreTopK(e, hop.unionByName(nn.select(col("vec_id"), col("neighbor_id")))
      .distinct())
  }

  /** Plan probe (never benched, never on the oracle surface): one
    * NN-descent round frame BEFORE its localCheckpoint — the hop
    * self-join and scoring joins the fold hides behind checkpoints. */
  private[graft] def s10RoundIntraPlan(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val seed = s10RandomSeed(spark, dir)
      .select(col("vec_id"), col("neighbor_id"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .distinct()
    s10Round(e, s10ScoreTopK(e, seed).localCheckpoint(true))
  }

  def s10NnDescentFrom(spark: SparkSession, dir: String, seedPairs: DataFrame,
                       iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val e = emb(spark, dir).select(col("vec_id"), col("embedding"))
      .localCheckpoint(true) // scanned by every iteration's two scoring joins
    val seed = seedPairs
      .select(col("vec_id"), col("neighbor_id"))
      .filter(col("neighbor_id") =!= col("vec_id"))
      .distinct() // a duplicated seed edge would double-rank in the cut
    val scored = (1 to iters).foldLeft(s10ScoreTopK(e, seed)) { (nn, _) =>
      // checkpoint per iteration keeps the lineage flat (the s9 pattern)
      s10Round(e, nn).localCheckpoint(true)
    }
    // the working graph holds k' neighbors; the OUTPUT is its top-NndK
    // slice (ranks 1..k of the k'-ranked list are the same rows a re-rank
    // of the top-k would produce)
    scored
      .filter(col("rank") <= NndK)
      .select(col("vec_id"), col("neighbor_id"),
        floor(col("cos") * lit(1000000.0)).cast("long").as("cos_e6"), col("rank"))
      .orderBy(col("vec_id"), col("rank"))
  }

  /** s10 oracle: the identical seed and [[NndIters]] expansion/score/cut
    * rounds as unrolled CTEs — same stride arithmetic, same undirected
    * hop, same (cos desc, id) tie-break. Generated by the same loop
    * bounds as the Spark fold. */
  private lazy val s10OracleSql: String = {
    val md5Seed = "CAST(('0x' || substr(md5(e.vec_id || ':' || j), 1, 15)) AS BIGINT)" +
      " % (SELECT count(*) FROM embeddings)"
    // the hash picks a 0-based RANK in vec_id order; the rank join maps
    // it to the real id (identity on the dense corpus) — mirror of the
    // Spark side's id-space-safe seed
    val seedCte =
      s"""rks AS (
         | SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS rk
         | FROM embeddings),
         |nn0 AS (
         | SELECT DISTINCT e.vec_id, r.vec_id AS neighbor_id
         | FROM embeddings e CROSS JOIN range(1, ${NndSearchK + 1}) t(j)
         |  JOIN rks r ON r.rk = $md5Seed
         | WHERE r.vec_id <> e.vec_id)""".stripMargin
    def scoreCte(src: String, out: String): String =
      s"""${out}_s AS (
         | SELECT c.vec_id, c.neighbor_id,
         |  ${cosSql("ea.embedding", "eb.embedding")} AS cos
         | FROM $src c JOIN embeddings ea ON ea.vec_id = c.vec_id
         |  JOIN embeddings eb ON eb.vec_id = c.neighbor_id),
         |$out AS (
         | SELECT vec_id, neighbor_id, cos, rank FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, neighbor_id) AS rank FROM ${out}_s)
         | WHERE rank <= $NndSearchK)""".stripMargin
    def hopCte(nn: String, out: String): String =
      s"""${out}_u AS (
         | SELECT vec_id, neighbor_id FROM $nn
         | UNION SELECT neighbor_id, vec_id FROM $nn),
         |$out AS (
         | SELECT DISTINCT a.vec_id, b.neighbor_id
         | FROM ${out}_u a JOIN ${out}_u b ON b.vec_id = a.neighbor_id
         | WHERE b.neighbor_id <> a.vec_id
         | UNION SELECT vec_id, neighbor_id FROM $nn)""".stripMargin
    val rounds = (1 to NndIters).map { i =>
      hopCte(s"g${i - 1}", s"c$i") + ",\n" + scoreCte(s"c$i", s"g$i")
    }.mkString(",\n")
    s"""WITH $seedCte,
       |${scoreCte("nn0", "g0")},
       |$rounds
       |SELECT vec_id, neighbor_id,
       | CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6,
       | CAST(rank AS BIGINT) AS rank
       |FROM g$NndIters WHERE rank <= $NndK ORDER BY vec_id, rank""".stripMargin
  }

  /** RRF constant (the k in 1/(k+rank)) — the published default that
    * keeps any single source from dominating the fusion. */
  val RrfK = 60
  val FusedK = 5

  /** `s13_rank_fusion`: reciprocal-rank fusion of two ANN shortlists —
    * the HYBRID-retrieval merge every production search stack runs when
    * it holds more than one index (here the s2 LSH-bucket index and the
    * s7 binary-sketch index; in a deployment, dense + sparse or old +
    * new index generations during a migration). RRF needs only ranks —
    * no score calibration across heterogeneous indexes — and the score
    * is EXACT integer arithmetic: `floor(1e6/(k+rank))` per source,
    * summed (each term an integer div, so the fusion can never flip on a
    * float ulp). Per probe: top-[[FusedK]] by fused score with each
    * source's rank and a source-coverage count; a candidate only one
    * index surfaced still competes (its missing term is 0).
    *
    * Scale: both sources are the already-scale-correct s2/s7 plans; the
    * fusion itself touches only probe-grained shortlists (probes × k
    * rows per source) — one equi-join on (probe, neighbor), one
    * probe-partitioned window, nothing fact-sized beyond what the
    * sources already do. */
  def s13RankFusion(spark: SparkSession, dir: String): DataFrame = {
    val lsh = s2AnnLsh(spark, dir)
      .select(col("probe_id"), col("neighbor_id"), col("rank").as("lsh_rank"))
    val bin = s7AnnBinary(spark, dir)
      .select(col("probe_id"), col("neighbor_id"), col("rank").as("bin_rank"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("score_e6").desc, col("neighbor_id"))
    lsh.join(bin, Seq("probe_id", "neighbor_id"), "full_outer")
      .withColumn("score_e6",
        coalesce(expr(s"1000000 div ($RrfK + lsh_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + bin_rank)"), lit(0L)))
      .withColumn("n_sources",
        when(col("lsh_rank").isNotNull, 1L).otherwise(0L) +
          when(col("bin_rank").isNotNull, 1L).otherwise(0L))
      .withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= FusedK)
      .select(col("probe_id"), col("fused_rank"), col("neighbor_id"),
        col("score_e6"), col("lsh_rank"), col("bin_rank"), col("n_sources"))
      .orderBy(col("probe_id"), col("fused_rank"))
  }

  // --------------------------------------------- s15: hybrid lexical+dense

  /** Lexical shortlist depth per probe, and the stopword dial: a bigram
    * is indexed only while `df · DfCapDen ≤ n_docs` (df ≤ 10% of the
    * corpus) — the posting-list bound that keeps the inverted-index join
    * term-grained instead of corpus-grained. */
  val LexTopK = 5
  val DfCapDen = 10

  /** `s15_hybrid_search`: the full RAG retrieval stack — SPARSE lexical
    * retrieval over an inverted index fused with DENSE vector ranks
    * (dense+sparse hybrid is what production search actually deploys;
    * s13 fused two dense indexes, this crosses the modality line).
    * Lexical units are word BIGRAMS (phrase-grained, selective where
    * unigram df saturates); per probe-term contribution is the log-free
    * integer BM25 surrogate `qtf · (N div df) · ((tf·1e6) div (tf+1))` —
    * idf as integer division, tf saturation with k1 = 1 — summed exactly,
    * so the lexical ranking can never flip on a float ulp. The dense side
    * is s1's exact ranks (any s-family index slots in unchanged — rank
    * is the only contract RRF needs); fusion is s13's integer RRF.
    *
    * Scale: the inverted index is the tf aggregate (one exploded scan,
    * map-side partial); the df cap prunes posting lists BEFORE the
    * retrieval join, so probe work is Σ|posting(term)| over the probe's
    * terms, never corpus-sized; the fusion touches probe-grained
    * shortlists only. */
  def s15HybridSearch(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.{bigramsFromToks, wsTokens}
    val docs = Tables.load(spark, dir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs.select(col("doc_id"), wsTokens(col("text")).as("toks"))
    val bg = toks.select(col("doc_id"), explode(bigramsFromToks(col("toks"))).as("bg"))
    // the inverted index: one map-side-partial aggregate; checkpointed
    // because postings, df AND the query side all read it
    val tf = bg.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfq = tf.groupBy(col("bg")).agg(count(lit(1)).as("df"))
    val post = tf.join(dfq, Seq("bg"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") * lit(DfCapDen) <= col("n_docs"))
    val lex0 = post.join(
        tf.filter(col("doc_id") < NumProbes)
          .select(col("doc_id").as("probe_id"), col("bg"), col("tf").as("qtf")),
        Seq("bg"))
      .filter(col("doc_id") =!= col("probe_id"))
      .withColumn("contrib",
        col("qtf") * expr("n_docs div df") * expr("(tf * 1000000) div (tf + 1)"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("lex_score_e6"))
    val wLex = Window.partitionBy(col("probe_id"))
      .orderBy(col("lex_score_e6").desc, col("doc_id"))
    val lex = lex0
      .withColumn("lex_rank", row_number().over(wLex).cast("long"))
      .filter(col("lex_rank") <= LexTopK)
      .select(col("probe_id"), col("doc_id").as("neighbor_id"), col("lex_rank"))
    val vec = s1AnnBrute(spark, dir)
      .select(col("probe_id"), col("neighbor_id"), col("rank").as("vec_rank"))
    val wF = Window.partitionBy(col("probe_id"))
      .orderBy(col("score_e6").desc, col("neighbor_id"))
    lex.join(vec, Seq("probe_id", "neighbor_id"), "full_outer")
      .withColumn("score_e6",
        coalesce(expr(s"1000000 div ($RrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + vec_rank)"), lit(0L)))
      .withColumn("n_sources",
        when(col("lex_rank").isNotNull, 1L).otherwise(0L) +
          when(col("vec_rank").isNotNull, 1L).otherwise(0L))
      .withColumn("fused_rank", row_number().over(wF).cast("long"))
      .filter(col("fused_rank") <= FusedK)
      .select(col("probe_id"), col("fused_rank"), col("neighbor_id"),
        col("score_e6"), col("lex_rank"), col("vec_rank"), col("n_sources"))
      .orderBy(col("probe_id"), col("fused_rank"))
  }

  // ------------------------------------------- s16: metadata-filtered ANN

  /** The s16 predicate (a ~14% metadata slice) and the post-filter path's
    * over-fetch depth — the dial that trades extra unfiltered candidates
    * against recall under the filter. */
  val FilterLang = "de"
  val PostOverFetch = 20

  /** `s16_filtered_ann`: vector search under a metadata predicate — what
    * RAG retrieval actually runs (`lang = 'de'`, `date > …`, tenant
    * scoping), and the classic vector-store design fork:
    *
    *  - PRE-filter: restrict the corpus to the predicate FIRST, then
    *    rank — exact recall on the filtered set, but the index/scan must
    *    support pushdown of an arbitrary predicate;
    *  - POST-filter: rank on the unfiltered index, over-fetch
    *    [[PostOverFetch]] candidates, filter, keep k — reuses one global
    *    index unchanged, but a selective predicate starves the shortlist
    *    (at 14% selectivity, E[survivors of 20] ≈ 2.9 < k).
    *
    * Output is the audit of that trade: the pre-filter truth's top-k per
    * probe, each pair carrying the post-filter path's rank where it found
    * it (`is_found` = 0 rows are the recall the cheap path silently
    * loses — measured ~half the truth at this selectivity). Both paths
    * share one cosine expression and deterministic tie-breaks, so the
    * whole result is engine-exact.
    *
    * Scale: pre-filter is s1's scan shape with the predicate pushed into
    * the corpus scan (at 100 TB: partition/cell pruning on the metadata
    * column); post-filter touches the same unfiltered ranking every
    * other s-family index already produces, so its only extra cost is
    * the over-fetch multiplier on shortlist size. */
  def s16FilteredAnn(spark: SparkSession, dir: String): DataFrame = {
    val meta = Tables.load(spark, dir, "documents")
      .select(col("doc_id").as("vec_id"), col("lang"))
    val e = emb(spark, dir).join(meta, Seq("vec_id")).localCheckpoint(true)
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val cos = cosineFast(col("pe"), col("embedding"))
    val wCos = Window.partitionBy(col("probe_id")).orderBy(cos.desc, col("vec_id"))
    val pre = e.filter(col("lang") === FilterLang)
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("pre_rank", row_number().over(wCos).cast("long"))
      .filter(col("pre_rank") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        floor(cos * lit(1000000.0)).cast("long").as("cos_e6"), col("pre_rank"))
    val wPost = Window.partitionBy(col("probe_id")).orderBy(col("fetch_rank"))
    val post = e.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("fetch_rank", row_number().over(wCos))
      .filter(col("fetch_rank") <= PostOverFetch)
      .filter(col("lang") === FilterLang)
      .withColumn("post_rank", row_number().over(wPost).cast("long"))
      .filter(col("post_rank") <= TopK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("post_rank"))
    pre.join(post, Seq("probe_id", "neighbor_id"), "left")
      .withColumn("is_found", when(col("post_rank").isNotNull, 1L).otherwise(0L))
      .select(col("probe_id"), col("pre_rank"), col("neighbor_id"),
        col("cos_e6"), col("post_rank"), col("is_found"))
      .orderBy(col("probe_id"), col("pre_rank"))
  }

  private lazy val s16OracleSql: String =
    s"""WITH m AS (
       | SELECT e.vec_id, e.embedding, d.lang
       | FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
       |p AS (SELECT vec_id AS probe_id, embedding AS pe FROM m
       |  WHERE vec_id < $NumProbes),
       |pre AS (SELECT * FROM (
       | SELECT p.probe_id, x.vec_id AS neighbor_id,
       |  CAST(floor(${cosSql("p.pe", "x.embedding")} * 1000000.0) AS BIGINT) AS cos_e6,
       |  CAST(row_number() OVER (PARTITION BY p.probe_id
       |    ORDER BY ${cosSql("p.pe", "x.embedding")} DESC, x.vec_id) AS BIGINT) AS pre_rank
       | FROM p JOIN m x ON x.vec_id != p.probe_id AND x.lang = '$FilterLang')
       | WHERE pre_rank <= $TopK),
       |fetched AS (SELECT * FROM (
       | SELECT p.probe_id, x.vec_id AS neighbor_id, x.lang,
       |  row_number() OVER (PARTITION BY p.probe_id
       |    ORDER BY ${cosSql("p.pe", "x.embedding")} DESC, x.vec_id) AS fr
       | FROM p JOIN m x ON x.vec_id != p.probe_id)
       | WHERE fr <= $PostOverFetch),
       |post AS (SELECT probe_id, neighbor_id, CAST(pr AS BIGINT) AS post_rank FROM (
       | SELECT probe_id, neighbor_id,
       |  row_number() OVER (PARTITION BY probe_id ORDER BY fr) AS pr
       | FROM fetched WHERE lang = '$FilterLang')
       | WHERE pr <= $TopK)
       |SELECT pre.probe_id AS probe_id, pre.pre_rank, pre.neighbor_id,
       | pre.cos_e6, post.post_rank,
       | CAST(CASE WHEN post.post_rank IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_found
       |FROM pre LEFT JOIN post
       | ON post.probe_id = pre.probe_id AND post.neighbor_id = pre.neighbor_id
       |ORDER BY probe_id, pre_rank""".stripMargin

  // ------------------------------------------------ s12: index drift monitor

  /** Drift cosine between two fixed-point vectors, mirroring the oracle's
    * `cosSql` shape exactly: elementwise double products summed in index
    * order, `dot / (sqrt(na) * sqrt(nb))`, e6 floor. Both inputs are
    * e6-floored integers, so the /KmScale doubles are the same values the
    * oracle's VALUES literal / mean CTE renders. */
  private def driftCosE6(a: Array[Long], b: Array[Long]): Long = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble / KmScale
      val y = b(i).toDouble / KmScale
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    // a zero-norm side has no direction: define drift cosine as 0 (max
    // drift) instead of NaN — floor(NaN).toLong silently yields 0 here
    // while the oracle's CAST(floor(NaN) AS BIGINT) errors, so without
    // the explicit rule (mirrored in s12OracleSql) a degenerate cell
    // would produce divergent failure modes instead of a clean compare
    if (na == 0.0 || nb == 0.0) 0L
    else math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e6).toLong
  }

  /** `s12_index_drift`: index-staleness monitoring — the REBUILD-decision
    * dial that completes the index lifecycle (build s3/s4/s6, monitor
    * recall s8, grow incrementally s11): as batches accumulate under
    * s11's fixed model, the cells drift away from the data they file.
    * Per cell, against the model trained on the already-indexed corpus
    * slice (s11's convention — the model PREDATES the 20% batch): member
    * and new-arrival counts, the worst member fit (min cosine to the
    * centroid — an exact integer min, never an order-fragile mean), the
    * cosine between the stored centroid and the cell's RECOMPUTED mean
    * (one Lloyd step's worth of drift, in the same fixed-point arithmetic
    * training uses), and how many members would change cells if the means
    * replaced the model today (`n_moved` — the reassignment churn a
    * rebuild would actually cause). Cells no vector chooses are absent —
    * they hold nothing, so they have nothing to report (their would-be
    * mean falls back to the stored centroid in the reassignment model).
    *
    * Scale: the s6 shape twice — two fused cosineMatrix scans over
    * broadcast models (assign under the stored model, re-rank under the
    * recomputed means) with ONE corpus-sized localCheckpoint between;
    * the per-cell component sums are one map-side-partial aggregate and
    * only model-sized rows (NumCells × Dim longs) ever reach the driver,
    * the MLlib pattern. No joins except NumCells-row broadcasts. */
  def s12IndexDrift(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = emb(spark, dir)
    val (cents, _) = kmeansOver(e.filter(!isNewVec(col("vec_id"))))
    RunOracles.pending("s12_index_drift", dir, s12OracleSql(cents))
    val withCos = e.select(col("vec_id"), col("embedding"),
        isNewVec(col("vec_id")).cast("long").as("is_new"))
      .withColumn("_cos", cosineMatrix(col("embedding"), centroidMatrix(cents)))
    val best = array_max(scoredCells(cents, col("_cos")))
    // consumed twice (stats aggregate + reassignment pass): checkpoint the
    // assignment, recompute the transient fixed-point projection inside
    // the one aggregate that needs it
    val assigned = withCos.select(col("vec_id"), col("embedding"), col("is_new"),
        best.getField("cid").as("cell"),
        floor(best.getField("cos") * lit(1000000.0)).cast("long").as("cos_e6"))
      .localCheckpoint(true)
    val sums = (0 until Dim).map(i => sum(element_at(col("f"), i + 1)).as(s"s$i"))
    val aggCols = Seq(sum(col("is_new")).as("n_new"),
      min(col("cos_e6")).as("min_member_cos_e6")) ++ sums
    val statRows = assigned
      .withColumn("f", transform(col("embedding"),
        x => floor(x.cast("double") * KmScale).cast("long")))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), aggCols: _*)
      .collect()
    // recomputed means (exact: e6-floored components, floor-div by count —
    // matching floor(s/n) in the oracle, == floorDiv for these magnitudes)
    val means: Map[Long, Array[Long]] = statRows.map { r =>
      val n = r.getAs[Long]("n_members")
      r.getAs[Long]("cell") -> (0 until Dim)
        .map(i => math.floor(r.getAs[Long](s"s$i").toDouble / n).toLong).toArray
    }.toMap
    val model2 = cents.map { case (cid, old) => (cid, means.getOrElse(cid, old)) }
    val moved = assigned
      .withColumn("_cos2", cosineMatrix(col("embedding"), centroidMatrix(model2)))
      .withColumn("cell2",
        array_max(scoredCells(model2, col("_cos2"))).getField("cid"))
      .groupBy(col("cell"))
      .agg(sum(when(col("cell2") =!= col("cell"), 1L).otherwise(0L)).as("n_moved"))
    val oldByCell = cents.toMap
    val spine = statRows.toSeq.map { r =>
      val cell = r.getAs[Long]("cell")
      (cell, r.getAs[Long]("n_members"), r.getAs[Long]("n_new"),
        r.getAs[Long]("min_member_cos_e6"), driftCosE6(oldByCell(cell), means(cell)))
    }.toDF("cell", "n_members", "n_new", "min_member_cos_e6", "drift_cos_e6")
    spine.join(moved, Seq("cell"))
      .select(col("cell"), col("n_members"), col("n_new"),
        col("min_member_cos_e6"), col("drift_cos_e6"), col("n_moved"))
      .orderBy(col("cell"))
  }

  /** TEST-ONLY hook (package-private, s11CorpusModel's sibling — never on
    * a query path): the corpus-slice model + per-cell recomputed means,
    * for the spec's independent replay. The per-vector collect here is
    * DELIBERATE: the spec's mean recompute must share no aggregation code
    * with the operator it checks, so it folds the assignments driver-side
    * at spec scale instead of reusing s12's distributed component sums. */
  private[graft] def s12ModelAndMeans(spark: SparkSession, dir: String)
    : (Seq[(Long, Array[Long])], Map[Long, Array[Long]]) = {
    val e = emb(spark, dir)
    val (cents, _) = kmeansOver(e.filter(!isNewVec(col("vec_id"))))
    val withCos = e.select(col("vec_id"), col("embedding"))
      .withColumn("_cos", cosineMatrix(col("embedding"), centroidMatrix(cents)))
    val rows = withCos.select(
        array_max(scoredCells(cents, col("_cos"))).getField("cid").as("cell"),
        transform(col("embedding"),
          x => floor(x.cast("double") * KmScale).cast("long")).as("f"))
      .collect().map(r => r.getAs[Long]("cell") -> r.getSeq[Long](1).toArray)
    val means = rows.groupBy(_._1).map { case (cell, vs) =>
      val n = vs.length
      cell -> (0 until Dim).map(i =>
        math.floor(vs.map(_._2(i)).sum.toDouble / n).toLong).toArray
    }
    (cents, means)
  }

  /** s12 oracle: the corpus-trained model as injected literals; the means,
    * drift cosines and reassignment recomputed IN SQL from the raw
    * embeddings (floor-div integer component sums — the model is the only
    * injected state, everything the operator derives is re-derived). */
  private def s12OracleSql(cents: Seq[(Long, Array[Long])]): String = {
    def isNewSql(x: String) =
      s"CAST(('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 15)) AS BIGINT) % 100 >= ${Dedup.NewBucketMin}"
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, e.embedding, c.cid, ${cosSql("e.embedding", "c.cent")} AS cos,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |asg AS (
       | SELECT vec_id, embedding, cid AS cell, cos,
       |  CASE WHEN ${isNewSql("vec_id")} THEN 1 ELSE 0 END AS is_new
       | FROM scored WHERE rn = 1),
       |stat AS (
       | SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(is_new) AS BIGINT) AS n_new,
       |  CAST(min(floor(cos * 1000000.0)) AS BIGINT) AS min_member_cos_e6
       | FROM asg GROUP BY cell),
       |comp AS (
       | SELECT cell, ix.i,
       |  sum(CAST(floor(CAST(embedding[ix.i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS s
       | FROM asg, (SELECT unnest(generate_series(1, $Dim)) AS i) ix
       | GROUP BY cell, ix.i),
       |means AS (
       | SELECT comp.cell,
       |  list(CAST(floor(CAST(comp.s AS DOUBLE) / stat.n_members) AS BIGINT) / 1000000.0
       |    ORDER BY ix_order) AS mean
       | FROM (SELECT cell, i AS ix_order, s FROM comp) comp
       |  JOIN stat USING (cell)
       | GROUP BY comp.cell),
       |model2 AS (
       | SELECT c.cid, c.cent, COALESCE(m.mean, c.cent) AS cent2
       | FROM cents c LEFT JOIN means m ON m.cell = c.cid),
       |drift AS (
       | SELECT cid AS cell,
       |  CASE WHEN ${normSql("cent")} = 0 OR ${normSql("cent2")} = 0 THEN CAST(0 AS BIGINT)
       |   ELSE CAST(floor(${cosSql("cent", "cent2")} * 1000000.0) AS BIGINT) END AS drift_cos_e6
       | FROM model2),
       |re AS (
       | SELECT a.vec_id, a.cell, m.cid AS cell2,
       |  row_number() OVER (PARTITION BY a.vec_id
       |    ORDER BY ${cosSql("a.embedding", "m.cent2")} DESC, m.cid) AS rn
       | FROM asg a CROSS JOIN model2 m),
       |mv AS (
       | SELECT cell,
       |  CAST(sum(CASE WHEN cell2 <> cell THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
       | FROM re WHERE rn = 1 GROUP BY cell)
       |SELECT s.cell, s.n_members, s.n_new, s.min_member_cos_e6,
       | d.drift_cos_e6, mv.n_moved
       |FROM stat s JOIN drift d USING (cell) JOIN mv USING (cell)
       |ORDER BY s.cell""".stripMargin
  }

  // ------------------- s17: tombstone maintenance (index-side erasure plan)

  /** A posting list compacts when its dead postings reach
    * 1/[[DeadRewriteDen]] of its members; below that the store carries
    * tombstones and filters at query time. */
  val DeadRewriteDen = 16L

  /** `s17_tombstone_plan`: right-to-be-forgotten applied to the ANN index —
    * the vector-store face of p21's lakehouse erasure plan
    * (pipeline/PipelineQueries.scala), sharing its request-list convention
    * (every [[graft.pipeline.PipelineQueries.ErasureMod]]-th key has filed
    * deletion: the SAME subjects erased from the fact tables owe their
    * vectors deletion too). It closes the index lifecycle's last edge:
    * build (s3/s4/s6) → monitor (s8/s12) → grow (s11) → fuse (s13) →
    * ERASE. Per cell of the stored index (assignment = one
    * broadcast-model cosineMatrix pass, s6's shape): postings, tombstoned
    * postings, the dead fraction, and the per-posting-list verdict a
    * store makes — `rewrite` (dead ≥ 1/16 of postings: compact the list,
    * cost = the live rows copied), `mask` (carry tombstones, cost = dead
    * rows filtered on every probe of that cell), `clean` (request batch
    * never touched it). The ~TOTAL row is the index-wide write
    * amplification and steady-state tombstone overhead of the batch.
    *
    * Scale: the request list is broadcast (here the deterministic mod
    * stand-in, exactly p21's); the only data-sized work is the one
    * assignment scan — and in a production store not even that: (cell ×
    * victim) posting stats come from the index manifest, so the plan is
    * metadata-sized like p19/p20/p21. The per-cell aggregate is map-side
    * partial; NumCells+1 rows ever exist past it. */
  def s17TombstonePlan(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val (cents, data) = kmeansOver(e)
    RunOracles.pending("s17_tombstone_plan", dir, s17OracleSql(cents))
    val dead = (col("vec_id") % graft.pipeline.PipelineQueries.ErasureMod === 0)
      .cast("long")
    val per = assignCells(data, cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"), sum(dead).as("n_dead"))
      .withColumn("dead_pct_e6", expr("n_dead * 1000000 div n_members"))
      .withColumn("verdict",
        when(col("n_dead") === 0, "clean")
          .when(col("n_dead") * lit(DeadRewriteDen) >= col("n_members"), "rewrite")
          .otherwise("mask"))
      .withColumn("rewrite_rows",
        when(col("verdict") === "rewrite", col("n_members") - col("n_dead"))
          .otherwise(0L))
      .withColumn("tombstones",
        when(col("verdict") === "mask", col("n_dead")).otherwise(0L))
      .select(col("cell").cast("string").as("cell"), col("n_members"),
        col("n_dead"), col("dead_pct_e6"), col("verdict"),
        col("rewrite_rows"), col("tombstones"))
    val tot = per.agg(sum(col("n_members")).as("n_members"),
        sum(col("n_dead")).as("n_dead"),
        sum(col("rewrite_rows")).as("rewrite_rows"),
        sum(col("tombstones")).as("tombstones"))
      .select(lit("~TOTAL").as("cell"), col("n_members"), col("n_dead"),
        expr("n_dead * 1000000 div n_members").as("dead_pct_e6"),
        lit("~TOTAL").as("verdict"), col("rewrite_rows"), col("tombstones"))
    per.unionByName(tot).orderBy(col("cell"))
  }

  /** s17 oracle: the trained model as injected literals (the assignment
    * CTE is s6's), p21's mod request list, the same integer floor-div and
    * threshold arithmetic; '~' > '9' bytewise so the total row sorts last
    * in both engines. */
  private def s17OracleSql(cents: Seq[(Long, Array[Long])]): String = {
    val mod = graft.pipeline.PipelineQueries.ErasureMod
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, c.cid, ${cosSql("e.embedding", "c.cent")} AS cos,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, cid AS cell FROM scored WHERE rn = 1),
       |per0 AS (
       | SELECT cell, CAST(count(*) AS BIGINT) AS n_members,
       |  CAST(sum(CASE WHEN vec_id % $mod = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dead
       | FROM asg GROUP BY cell),
       |per AS (
       | SELECT CAST(cell AS VARCHAR) AS cell, n_members, n_dead,
       |  n_dead * 1000000 // n_members AS dead_pct_e6,
       |  CASE WHEN n_dead = 0 THEN 'clean'
       |   WHEN n_dead * $DeadRewriteDen >= n_members THEN 'rewrite'
       |   ELSE 'mask' END AS verdict,
       |  CAST(CASE WHEN n_dead > 0 AND n_dead * $DeadRewriteDen >= n_members
       |   THEN n_members - n_dead ELSE 0 END AS BIGINT) AS rewrite_rows,
       |  CAST(CASE WHEN n_dead > 0 AND n_dead * $DeadRewriteDen < n_members
       |   THEN n_dead ELSE 0 END AS BIGINT) AS tombstones
       | FROM per0)
       |SELECT cell, n_members, n_dead, dead_pct_e6, verdict, rewrite_rows,
       | tombstones
       |FROM (
       | SELECT * FROM per
       | UNION ALL
       | SELECT '~TOTAL', CAST(sum(n_members) AS BIGINT),
       |  CAST(sum(n_dead) AS BIGINT),
       |  CAST(sum(n_dead) AS BIGINT) * 1000000 // CAST(sum(n_members) AS BIGINT),
       |  '~TOTAL', CAST(sum(rewrite_rows) AS BIGINT),
       |  CAST(sum(tombstones) AS BIGINT)
       | FROM per)
       |ORDER BY cell""".stripMargin
  }

  /** The SQ8 model of `e` (s18, s30): the per-dimension corpus min/max
    * packed into ONE `(mins, maxs)` array row — the stats pass collapses
    * to Dim rows map-side — and the column that codes `embedding` on that
    * grid once the row is joined on: `floor((x-mn)·255/(mx-mn))` clamped
    * to [0,255], a degenerate dimension (mx = mn) coded 0. */
  private def sq8Model(e: DataFrame): (DataFrame, Column) = {
    val stats = e
      .select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"), col("v").cast("double").as("vd"))
      .groupBy(col("pos"))
      .agg(min(col("vd")).as("mn"), max(col("vd")).as("mx"))
    val packed = stats
      .agg(expr("array_sort(collect_list(struct(pos, mn, mx)))").as("s"))
      .select(expr("transform(s, r -> r.mn)").as("mins"),
        expr("transform(s, r -> r.mx)").as("maxs"))
    val codes = expr(
      s"""transform(sequence(0, ${Dim - 1}), i ->
         | CASE WHEN element_at(maxs, i + 1) = element_at(mins, i + 1)
         |  THEN CAST(0 AS BIGINT)
         |  ELSE CAST(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
         |   CAST(floor((CAST(element_at(embedding, i + 1) AS DOUBLE)
         |     - element_at(mins, i + 1)) * 255.0
         |    / (element_at(maxs, i + 1) - element_at(mins, i + 1)))
         |    AS BIGINT))) AS BIGINT) END)""".stripMargin)
    (packed, codes)
  }

  /** `s18_sq8_quantize`: int8 scalar quantization (SQ8) of the embedding
    * corpus + its reconstruction-error audit — the third member of the
    * compression family (PQ s4 = 8 B/vector, binary s7 = 8 B/vector,
    * SQ8 = 64 B/vector at 4× less error): per dimension, the corpus
    * min/max define a 256-step grid; each component stores as
    * `floor((x-mn)·255/(mx-mn))` clamped to [0,255]. Output per vector:
    * the code sum, a position-weighted checksum (pins every code AND its
    * position), and the squared reconstruction error in exact e12
    * fixed-point.
    *
    * Scale: pass 1 explodes ×Dim only to reach the 2·Dim-value min/max
    * model (map-side partials collapse it before the exchange; the model
    * is rows=Dim, never fact-sized), which packs to a ONE-row
    * mins/maxs-array table broadcast into pass 2. Pass 2 is one narrow
    * scan with a per-row `transform`/`aggregate` fold — no explode, no
    * shuffle, nothing fact-sized moves. Per-element errors floor to e12
    * longs BEFORE summing, so the audit is exact integer arithmetic —
    * distributed summation order cannot touch it (the float ops
    * themselves are bit-identical per element in any IEEE engine since
    * both sides state the same expression shape). Degenerate dimensions
    * (mx = mn) code as 0 explicitly — no NaN ever reaches a cast. */
  def s18Sq8Quantize(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val (packed, sq8Codes) = sq8Model(e)
    val diff =
      s"""(CAST(element_at(embedding, i + 1) AS DOUBLE)
         | - (element_at(mins, i + 1)
         |  + (element_at(codes, i + 1) * (element_at(maxs, i + 1)
         |     - element_at(mins, i + 1))) / 255.0))""".stripMargin
    e.crossJoin(broadcast(packed))
      .withColumn("codes", sq8Codes)
      .select(col("vec_id"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (acc, x) -> acc + x)")
          .as("sum_code"),
        expr(s"""aggregate(sequence(0, ${Dim - 1}), CAST(0 AS BIGINT),
           | (acc, i) -> acc + element_at(codes, i + 1) * (i + 1))""".stripMargin)
          .as("checksum"),
        expr(s"""aggregate(sequence(0, ${Dim - 1}), CAST(0 AS BIGINT),
           | (acc, i) -> acc + CAST(floor($diff * $diff
           |   * 1000000000000.0) AS BIGINT))""".stripMargin)
          .as("err_e12"))
      .orderBy(col("vec_id"))
  }

  private lazy val s18OracleSql: String = {
    val diff =
      s"""(e[CAST(i AS INTEGER) + 1]
         | - (mins[CAST(i AS INTEGER) + 1]
         |  + (codes[CAST(i AS INTEGER) + 1] * (maxs[CAST(i AS INTEGER) + 1]
         |     - mins[CAST(i AS INTEGER) + 1])) / 255.0))""".stripMargin
    s"""WITH x AS (
       | SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
       | FROM embeddings),
       |st AS (
       | SELECT i, min(e[CAST(i AS INTEGER) + 1]) AS mn,
       |  max(e[CAST(i AS INTEGER) + 1]) AS mx
       | FROM x CROSS JOIN (SELECT unnest(range($Dim)) AS i)
       | GROUP BY i),
       |packed AS (
       | SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
       | FROM st),
       |q AS (
       | SELECT vec_id, e, mins, maxs,
       |  list_transform(range($Dim), i ->
       |   CASE WHEN maxs[CAST(i AS INTEGER) + 1] = mins[CAST(i AS INTEGER) + 1]
       |    THEN CAST(0 AS BIGINT)
       |    ELSE CAST(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
       |     CAST(floor((e[CAST(i AS INTEGER) + 1]
       |       - mins[CAST(i AS INTEGER) + 1]) * 255.0
       |      / (maxs[CAST(i AS INTEGER) + 1] - mins[CAST(i AS INTEGER) + 1]))
       |      AS BIGINT))) AS BIGINT) END) AS codes
       | FROM x CROSS JOIN packed)
       |SELECT vec_id,
       | CAST(list_sum(codes) AS BIGINT) AS sum_code,
       | CAST(list_sum(list_transform(range($Dim), i ->
       |   codes[CAST(i AS INTEGER) + 1] * (i + 1))) AS BIGINT) AS checksum,
       | CAST(list_sum(list_transform(range($Dim), i ->
       |   CAST(floor($diff * $diff * 1000000000000.0) AS BIGINT)))
       |  AS BIGINT) AS err_e12
       |FROM q ORDER BY vec_id""".stripMargin
  }

  val CascadeStage1 = 48 // s30: Hamming survivors per probe (binary prefilter)
  val CascadeStage2 = 12 // s30: SQ8 survivors per probe (integer re-rank)
  val CascadeK = 5 // s30: final exact-cosine picks per probe

  /** `s30_cascade_rerank`: the multi-stage retrieval CASCADE a production
    * vector store actually serves — cheapest index first, floats last:
    * stage 1 pre-ranks the corpus by Hamming distance on the 64-bit sign
    * sketches (s7's index — XOR + popcount over 8 B/vector) and keeps
    * [[CascadeStage1]] per probe; stage 2 re-ranks ONLY those survivors by
    * symmetric SQ8 distance (s18's per-dim 256-step grid — the integer L2
    * `Σ(pcode−ccode)²` over 64 B/vector codes, probe quantized on the same
    * grid) and keeps [[CascadeStage2]]; stage 3 fetches float vectors for
    * that shortlist alone and reports the exact-cosine top [[CascadeK]].
    * Each emitted row carries its full funnel provenance — the stage-1
    * `hamming`, the stage-2 `sq8_l2`, the exact `cos_e6` — plus `in_exact`
    * (is this pick in s1's true top-k?), so the result IS the
    * recall-vs-cost telemetry the cascade's dials (stage widths) are tuned
    * by. Distinct from s7 (one approximate stage, then floats) and s14
    * (IVF routing + PQ codes): this is the serving-side composition of the
    * COMPRESSION family, where each stage's budget bounds the next stage's
    * input.
    *
    * Scale: both index tables are one narrow scan each (the sketch is
    * 1/256 the float table; the code table 1/4 — the SQ8 model itself is
    * Dim rows, collapsed map-side and broadcast); stage 1 is the only
    * corpus-sized pass and it ranks per probe with a window top-N (no
    * global sort); stages 2-3 are shortlist-sized equi-joins (probes ×
    * stage width), so float vectors never stream through a ranking
    * shuffle. The truth flag joins s1's probe-grained top-k — verification
    * work the report is FOR (s8's discipline). Stages 1-2 rank by exact
    * integers (hamming, code L2) with an id tie-break — bit-deterministic
    * in any engine; stage 3 ranks by the raw double cosine (the s1/s2
    * convention: the EMITTED cos_e6 is floored, but the window order is
    * the double), so a cross-engine ulp difference could in principle
    * reorder exact near-ties — the same accepted latent convention as
    * s1, on this corpus tie-free. */
  def s30CascadeRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    // index 1: the 64-bit sign sketch (same deterministic plane family as s7)
    val pl = planesFor(BinPlanes)
    val sigs = e.select(col("vec_id"),
      hyperplaneBucket(col("embedding"), pl).as("sig"))
    // index 2: SQ8 codes on the corpus min/max grid (s18's model)
    val (packed, sq8Codes) = sq8Model(e)
    // the code table feeds TWO consumers (candidate side + probe side):
    // checkpoint so the stats+quantize subplan runs once
    val codes = e.crossJoin(broadcast(packed))
      .select(col("vec_id"), sq8Codes.as("codes"))
      .localCheckpoint(true)
    // stage 1: Hamming pre-rank over the sketch table
    val probes = sigs.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("sig").as("psig"))
    val wHam = Window.partitionBy(col("probe_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val st1 = sigs
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("hamming",
        bit_count(col("sig").bitwiseXOR(col("psig"))).cast("long"))
      .withColumn("r1", row_number().over(wHam))
      .filter(col("r1") <= CascadeStage1)
      .select(col("probe_id"), col("vec_id"), col("hamming"))
    // stage 2: integer SQ8 L2 on codes, survivors only
    val pcodes = codes.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("codes").as("pc"))
    val wSq = Window.partitionBy(col("probe_id"))
      .orderBy(col("sq8_l2"), col("vec_id"))
    val st2 = st1
      .join(codes, Seq("vec_id"))
      .join(broadcast(pcodes), Seq("probe_id"))
      .withColumn("sq8_l2",
        expr(s"""aggregate(sequence(0, ${Dim - 1}), CAST(0 AS BIGINT),
           | (acc, i) -> acc + (element_at(pc, i + 1) - element_at(codes, i + 1))
           |  * (element_at(pc, i + 1) - element_at(codes, i + 1)))""".stripMargin))
      .withColumn("r2", row_number().over(wSq))
      .filter(col("r2") <= CascadeStage2)
      .select(col("probe_id"), col("vec_id"), col("hamming"), col("sq8_l2"))
    // stage 3: floats fetched ONLY for the stage-2 shortlist
    val pvecs = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    val cos = cosineFast(col("pe"), col("embedding"))
    val wCos = Window.partitionBy(col("probe_id")).orderBy(cos.desc, col("vec_id"))
    val finals = st2
      .join(e.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(broadcast(pvecs), Seq("probe_id"))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= CascadeK)
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("hamming"),
        col("sq8_l2"), floor(cos * lit(1000000.0)).cast("long").as("cos_e6"),
        col("rank"))
    // funnel truth: which final picks are in the exact top-k (s8's discipline)
    val truth = s1AnnBrute(spark, dir)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("in_exact"))
    finals.join(truth, Seq("probe_id", "neighbor_id"), "left")
      .withColumn("in_exact", coalesce(col("in_exact"), lit(0L)))
      .orderBy(col("probe_id"), col("rank"))
  }

  private lazy val s30OracleSql: String = {
    val codesSql =
      s"""list_transform(range($Dim), i ->
         | CASE WHEN maxs[CAST(i AS INTEGER) + 1] = mins[CAST(i AS INTEGER) + 1]
         |  THEN CAST(0 AS BIGINT)
         |  ELSE CAST(least(CAST(255 AS BIGINT), greatest(CAST(0 AS BIGINT),
         |   CAST(floor((e[CAST(i AS INTEGER) + 1]
         |     - mins[CAST(i AS INTEGER) + 1]) * 255.0
         |    / (maxs[CAST(i AS INTEGER) + 1] - mins[CAST(i AS INTEGER) + 1]))
         |    AS BIGINT))) AS BIGINT) END)""".stripMargin
    val sqL2 =
      s"""list_sum(list_transform(range($Dim), i ->
         | (pq.codes[CAST(i AS INTEGER) + 1] - cq.codes[CAST(i AS INTEGER) + 1])
         | * (pq.codes[CAST(i AS INTEGER) + 1] - cq.codes[CAST(i AS INTEGER) + 1])))""".stripMargin
    s"""WITH sigs AS MATERIALIZED (
       | SELECT vec_id, $binSigSql AS sig FROM embeddings),
       |probes AS (SELECT vec_id AS probe_id, sig AS psig FROM sigs
       | WHERE vec_id < $NumProbes),
       |st1 AS (SELECT probe_id, vec_id, hamming FROM (
       |  SELECT p.probe_id, s.vec_id,
       |   CAST(bit_count(xor(s.sig, p.psig)) AS BIGINT) AS hamming,
       |   row_number() OVER (PARTITION BY p.probe_id
       |     ORDER BY bit_count(xor(s.sig, p.psig)), s.vec_id) AS r1
       |  FROM sigs s CROSS JOIN probes p WHERE s.vec_id <> p.probe_id)
       | WHERE r1 <= $CascadeStage1),
       |x AS (
       | SELECT vec_id,
       |  list_transform(embedding, v -> CAST(v AS DOUBLE)) AS e
       | FROM embeddings),
       |st AS (
       | SELECT i, min(e[CAST(i AS INTEGER) + 1]) AS mn,
       |  max(e[CAST(i AS INTEGER) + 1]) AS mx
       | FROM x CROSS JOIN (SELECT unnest(range($Dim)) AS i)
       | GROUP BY i),
       |packed AS (
       | SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
       | FROM st),
       |q AS MATERIALIZED (
       | SELECT vec_id, $codesSql AS codes
       | FROM x CROSS JOIN packed),
       |st2pre AS (
       | SELECT t.probe_id, t.vec_id, t.hamming,
       |  CAST($sqL2 AS BIGINT) AS sq8_l2
       | FROM st1 t JOIN q cq ON cq.vec_id = t.vec_id
       |  JOIN q pq ON pq.vec_id = t.probe_id),
       |st2 AS (SELECT probe_id, vec_id, hamming, sq8_l2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY probe_id
       |    ORDER BY sq8_l2, vec_id) AS r2 FROM st2pre)
       | WHERE r2 <= $CascadeStage2),
       |fin AS (
       | SELECT t.probe_id, t.vec_id, t.hamming, t.sq8_l2,
       |  CAST(floor(${cosSql("pe.embedding", "ce.embedding")} * 1000000.0)
       |   AS BIGINT) AS cos_e6,
       |  CAST(row_number() OVER (PARTITION BY t.probe_id
       |    ORDER BY ${cosSql("pe.embedding", "ce.embedding")} DESC, t.vec_id)
       |   AS BIGINT) AS rank
       | FROM st2 t JOIN embeddings ce ON ce.vec_id = t.vec_id
       |  JOIN embeddings pe ON pe.vec_id = t.probe_id),
       |tr AS ($s1OracleSql)
       |SELECT f.probe_id, f.vec_id AS neighbor_id, f.hamming, f.sq8_l2,
       | f.cos_e6, f.rank,
       | CAST(CASE WHEN tr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
       |  AS in_exact
       |FROM fin f LEFT JOIN tr
       | ON tr.probe_id = f.probe_id AND tr.neighbor_id = f.vec_id
       |WHERE f.rank <= $CascadeK
       |ORDER BY f.probe_id, f.rank""".stripMargin
  }

  val BeamEntries = 4 // s19: fixed entry points (vec_id 0..3)
  val BeamWidth = 8 // s19: candidates kept per probe per round
  val BeamRounds = 3 // s19: expansion rounds over the kNN graph
  val BeamTopK = 5 // s19: neighbors reported per probe

  /** `s19_graph_beam`: graph-based ANN query — greedy beam search over
    * the banded kNN graph (the HNSW/NSG query path, on s5's edge table):
    * from [[BeamEntries]] fixed entry points, [[BeamRounds]] rounds of
    * expand-via-graph-edges → score → keep the [[BeamWidth]] best per
    * probe, reporting the final top [[BeamTopK]]. Completes the
    * query-time family: brute s1, LSH s2, IVF s3, PQ s4, binary s7,
    * GRAPH s19 — the structure that answers "what does a navigable-graph
    * index return for these probes, exactly?".
    *
    * Scale: the graph build is s5's band-bounded machinery (checkpointed
    * once, reused by all rounds — at 100 TB it is the PREBUILT index,
    * s10's artifact, not per-query work). The query phase never touches
    * anything fact-sized: each round's frontier is ≤ probes × beam ×
    * (1 + degree) rows, embeddings attach by key equi-join, probes
    * broadcast, and the round count is a fixed dial — every frame in
    * the unrolled plan is probe-grained. Ranking is on floored e6
    * integers with an id tie-break, so beam membership (and therefore
    * the whole walk) is engine-exact; the oracle replays the identical
    * unrolled rounds. */
  /** s19's build: the prebuilt flat kNN graph, the probe panel, the
    * candidate embeddings and the fixed entry fan-out — extracted so the
    * per-round body ([[s19Round]]) is one shared code path the query
    * loop checkpoints and the plan probe ([[s19RoundIntraPlan]]) dumps
    * un-checkpointed (r20 verdict item 2: the round plans hide behind
    * the checkpoints, so the committed s19 plan pair showed nothing). */
  private case class BeamMachinery(graph: DataFrame, probes: DataFrame,
      cembs: DataFrame, entries: DataFrame)

  private def s19Build(spark: SparkSession, dir: String): BeamMachinery = {
    val e = emb(spark, dir)
    val graph = knnEdges(spark, dir)
      .select(col("vec_id").as("g_src"), col("neighbor_id").as("g_dst"))
      .localCheckpoint(true) // the prebuilt index; every round walks it
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .localCheckpoint(true)
    val cembs = e.select(col("vec_id").as("cand"), col("embedding").as("ce"))
    val entries = probes.select(col("probe_id"))
      .crossJoin(broadcast(
        e.filter(col("vec_id") < BeamEntries).select(col("vec_id").as("cand"))))
      .filter(col("cand") =!= col("probe_id"))
    BeamMachinery(graph, probes, cembs, entries)
  }

  private def s19Score(m: BeamMachinery, cands: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_e6").desc, col("cand"))
    // the candidate set is probe-panel-grained (dial-bounded), the
    // embedding table is the corpus: broadcast the panel so the corpus
    // side streams exchange-free each round (s26's hnswRound rule)
    broadcast(cands)
      .join(m.cembs, Seq("cand"))
      .join(broadcast(m.probes), Seq("probe_id"))
      .select(col("probe_id"), col("cand"),
        floor(cosineFast(col("pe"), col("ce")) * lit(1000000.0))
          .cast("long").as("cos_e6"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= BeamWidth)
      .select(col("probe_id"), col("cand"), col("cos_e6"))
  }

  /** One beam round, UN-checkpointed: expansion + distinct + score. */
  private def s19Round(m: BeamMachinery, beam: DataFrame): DataFrame = {
    // beam is panel-grained, the graph is the corpus-sized index —
    // broadcast the beam so the expansion streams the graph without
    // shuffling it each round (s26's hnswRound rule)
    val nb = broadcast(beam)
      .join(m.graph, col("cand") === col("g_src"))
      .select(col("probe_id"), col("g_dst").as("cand"))
    val candSet = beam.select(col("probe_id"), col("cand"))
      .union(nb)
      .filter(col("cand") =!= col("probe_id"))
      .distinct()
    s19Score(m, candSet)
  }

  /** Plan probe (never benched, never on the oracle surface): one s19
    * round frame BEFORE its localCheckpoint, so `explain("formatted")`
    * shows the per-round expansion and scoring joins the production
    * loop hides behind checkpoints. Shares [[s19Round]] verbatim. */
  private[graft] def s19RoundIntraPlan(spark: SparkSession, dir: String): DataFrame = {
    val m = s19Build(spark, dir)
    s19Round(m, s19Score(m, m.entries).localCheckpoint(true))
  }

  def s19GraphBeam(spark: SparkSession, dir: String): DataFrame = {
    val m = s19Build(spark, dir)
    var beam = s19Score(m, m.entries).localCheckpoint(true)
    for (_ <- 2 to BeamRounds)
      beam = s19Round(m, beam).localCheckpoint(true)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_e6").desc, col("cand"))
    beam
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= BeamTopK)
      .select(col("probe_id"), col("rank"), col("cand").as("neighbor_id"),
        col("cos_e6"))
      .orderBy(col("probe_id"), col("rank"))
  }

  private lazy val s19OracleSql: String = {
    val cos = cosSql("p.pe", "ce.embedding")
    // AS MATERIALIZED throughout: every beam CTE is referenced twice by the
    // next round (base + neighbor expansion), so DuckDB's default inlining
    // re-expands the whole chain 2^rounds times — at sf0.1 that spilled the
    // host disk (>60 GB). Materialization makes the replay linear in the
    // round count (sf0.1 replays in seconds inside an 8 GB spill cap).
    def scoreCte(name: String, candCte: String): String =
      s"""$name AS MATERIALIZED (
         | SELECT probe_id, cand, cos_e6 FROM (
         |  SELECT c.probe_id, c.cand,
         |   CAST(floor($cos * 1000000.0) AS BIGINT) AS cos_e6,
         |   row_number() OVER (PARTITION BY c.probe_id
         |     ORDER BY CAST(floor($cos * 1000000.0) AS BIGINT) DESC, c.cand) AS r
         |  FROM $candCte c
         |   JOIN embeddings ce ON ce.vec_id = c.cand
         |   JOIN probes p ON p.probe_id = c.probe_id)
         | WHERE r <= $BeamWidth)""".stripMargin
    val rounds = (2 to BeamRounds).map { r =>
      s"""cand$r AS MATERIALIZED (
         | SELECT DISTINCT probe_id, cand FROM (
         |  SELECT probe_id, cand FROM beam${r - 1}
         |  UNION ALL
         |  SELECT b.probe_id, g.neighbor_id AS cand
         |  FROM beam${r - 1} b JOIN g ON b.cand = g.vec_id)
         | WHERE cand <> probe_id),
         |${scoreCte(s"beam$r", s"cand$r")}""".stripMargin
    }.mkString(",\n")
    s"""WITH sigs AS MATERIALIZED (
       |$knnBandSql),
       |kcand AS MATERIALIZED (
       | SELECT DISTINCT s1.vec_id AS v1, s2.vec_id AS v2
       | FROM sigs s1 JOIN sigs s2 ON s1.band = s2.band AND s1.sig = s2.sig
       |  AND s1.vec_id < s2.vec_id),
       |kscored AS MATERIALIZED (
       | SELECT c.v1, c.v2,
       |  CAST(floor(${cosSql("a.embedding", "b.embedding")} * 1000000.0) AS BIGINT) AS cos_e6
       | FROM kcand c JOIN embeddings a ON a.vec_id = c.v1
       |  JOIN embeddings b ON b.vec_id = c.v2),
       |kmirrored AS (
       | SELECT v1 AS vec_id, v2 AS neighbor_id, cos_e6 FROM kscored
       | UNION ALL SELECT v2, v1, cos_e6 FROM kscored),
       |g AS MATERIALIZED (
       | SELECT vec_id, neighbor_id FROM (
       |  SELECT vec_id, neighbor_id, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_e6 DESC, neighbor_id) AS rnk
       |  FROM kmirrored) WHERE rnk <= $KnnK),
       |probes AS MATERIALIZED (
       | SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
       | WHERE vec_id < $NumProbes),
       |cand1 AS (
       | SELECT probe_id, e.vec_id AS cand
       | FROM probes CROSS JOIN (SELECT vec_id FROM embeddings
       |   WHERE vec_id < $BeamEntries) e
       | WHERE e.vec_id <> probe_id),
       |${scoreCte("beam1", "cand1")},
       |$rounds
       |SELECT probe_id, rank, cand AS neighbor_id, cos_e6 FROM (
       | SELECT probe_id, cand, cos_e6,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_e6 DESC, cand) AS BIGINT) AS rank
       | FROM beam$BeamRounds)
       |WHERE rank <= $BeamTopK
       |ORDER BY probe_id, rank""".stripMargin
  }

  val HnswLevelMod = 4 // s26: geometric layer sampling, P(level >= l) = 4^-l
  val HnswMaxLevel = 2 // s26: layers 0..2
  val HnswUpperWidth = 2 // s26: beam width in the upper layers
  val HnswUpperRounds = 2 // s26: greedy rounds per upper layer
  val HnswBeamRounds = 3 // s26: layer-0 beam rounds (s19's dial)

  /** `s26_hnsw_layers`: the LAYERED graph-ANN query — s19 beams over a
    * flat kNN graph from 4 fixed entries; a production HNSW descends a
    * layer hierarchy instead, and this operator completes that story.
    * Every vector draws a deterministic geometric level from the md5
    * convention (t5's split rule: level 2 iff md5_60 % 16 = 0, level 1
    * iff % 4 = 0 — P(level>=l) = 4^-l), each upper layer RE-LINKS its
    * own members from the banded-candidate pairs (not a filtered view
    * of layer 0's top-K — an upper layer is its own small-world graph),
    * and the search descends: from the single global entry point (min
    * vec_id of the highest populated layer), [[HnswUpperRounds]] greedy
    * rounds of width [[HnswUpperWidth]] per upper layer, then
    * [[HnswBeamRounds]] full-width beam rounds on layer 0, reporting
    * the top [[BeamTopK]]. The entry set rides along in every round's
    * candidate frame so a probe that IS the entry point still descends
    * through its neighbors.
    *
    * Scale: the layer assignment is one map-side expression; layer l's
    * graph re-rank touches only the level>=l sample of the banded pairs
    * (4^-2l of the pair mass — the layer-2 graph of a 100 TB corpus is
    * 1/256 of its pair work, and the checkpointed pair frame is built
    * ONCE and shared by all three layers); the query phase is s19's
    * probe-grained machinery — every frontier is <= probes x (width+1)
    * x (1 + degree) rows, embeddings attach by key equi-join, probes
    * broadcast. Ranking is on floored e6 integers with id tie-breaks,
    * so beam membership is engine-exact and the oracle replays the
    * identical unrolled rounds. */
  def s26HnswLayers(spark: SparkSession, dir: String): DataFrame = {
    val m = hnswBuild(spark, dir)
    var beam: Option[DataFrame] = None
    for (_ <- 1 to HnswUpperRounds)
      beam = Some(hnswRound(m, beam, m.g2, HnswUpperWidth)._1)
    for (_ <- 1 to HnswUpperRounds)
      beam = Some(hnswRound(m, beam, m.g1, HnswUpperWidth)._1)
    for (_ <- 1 to HnswBeamRounds)
      beam = Some(hnswRound(m, beam, m.g0, BeamWidth)._1)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_e6").desc, col("cand"))
    beam.get
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= BeamTopK)
      .select(col("probe_id"), col("rank"), col("cand").as("neighbor_id"),
        col("cos_e6"))
      .orderBy(col("probe_id"), col("rank"))
  }

  /** s26's build, shared with s31's dial sweep: level table, per-layer
    * re-linked graphs, probe panel, entry set, candidate embeddings. */
  private case class HnswMachinery(probes: DataFrame, entry: DataFrame,
      cembs: DataFrame, g2: DataFrame, g1: DataFrame, g0: DataFrame)

  private def hnswBuild(spark: SparkSession, dir: String): HnswMachinery = {
    val e = emb(spark, dir)
    val h = graft.functions.TextFunctions.md5Long60(col("vec_id").cast("string"))
    val lvl = e.select(col("vec_id"),
        when(h % 16 === 0, 2).when(h % 4 === 0, 1).otherwise(0).as("lvl"))
      .localCheckpoint(true)
    val pairs = knnScoredPairs(spark, dir).localCheckpoint(true)
    def layerGraph(l: Int): DataFrame = {
      val p2 =
        if (l == 0) pairs
        else {
          val members = lvl.filter(col("lvl") >= l).select(col("vec_id"))
          pairs
            .join(members.select(col("vec_id").as("va")), Seq("va"))
            .join(members.select(col("vec_id").as("vb")), Seq("vb"))
        }
      val mirrored = p2.select(explode(array(
          struct(col("va").as("g_src"), col("vb").as("g_dst"), col("cos_e6")),
          struct(col("vb").as("g_src"), col("va").as("g_dst"), col("cos_e6")))).as("p"))
        .select(col("p.g_src"), col("p.g_dst"), col("p.cos_e6"))
      val w = Window.partitionBy(col("g_src"))
        .orderBy(col("cos_e6").desc, col("g_dst"))
      mirrored.withColumn("r", row_number().over(w))
        .filter(col("r") <= KnnK)
        .select(col("g_src"), col("g_dst"))
        .localCheckpoint(true)
    }
    val g2 = layerGraph(2); val g1 = layerGraph(1); val g0 = layerGraph(0)
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .localCheckpoint(true)
    val entryRow = lvl.agg(
        min(when(col("lvl") >= 2, col("vec_id"))).as("e2"),
        min(when(col("lvl") >= 1, col("vec_id"))).as("e1"),
        min(col("vec_id")).as("e0"))
      .select(coalesce(col("e2"), col("e1"), col("e0")).as("cand"))
    val entry = probes.select(col("probe_id"))
      .crossJoin(broadcast(entryRow)).localCheckpoint(true)
    val cembs = e.select(col("vec_id").as("cand"), col("embedding").as("ce"))
    HnswMachinery(probes, entry, cembs, g2, g1, g0)
  }

  /** One descent round: expand the beam (∪ entry) through `graph`, score
    * the distinct candidate set, keep the top `width` per probe. Returns
    * (next beam — checkpointed, it feeds the next round twice — and the
    * scored candidate SET, the per-round cost s31 bills each cell). */
  private def hnswRound(m: HnswMachinery, beam: Option[DataFrame],
      graph: DataFrame, width: Int,
      keepCost: Boolean = false): (DataFrame, DataFrame) = {
    val (scored, candSet) = hnswRoundFrames(m, beam, graph, width, keepCost)
    (scored.localCheckpoint(true), candSet)
  }

  /** [[hnswRound]]'s body with the final checkpoint left OFF — the one
    * shared code path the query loop materializes and the plan probe
    * ([[hnswRoundIntraPlan]]) dumps, so the committed intra-round plan
    * is the executed shape, not a reconstruction (r20 verdict item 2). */
  private def hnswRoundFrames(m: HnswMachinery, beam: Option[DataFrame],
      graph: DataFrame, width: Int,
      keepCost: Boolean): (DataFrame, DataFrame) = {
    val base = beam match {
      case Some(b) => b.select(col("probe_id"), col("cand")).union(m.entry)
      case None => m.entry
    }
    // broadcast the PANEL-grained beam (≤ NumProbes x (width+1) rows, a
    // dial-bounded constant) so the corpus-grained layer graph streams
    // with no exchange and no sort — the structurally right index-probe
    // plan at any scale (guide §3.1/§2.4); a sort-merge here shuffles the
    // graph once per round
    val nb = broadcast(base).join(graph, col("cand") === col("g_src"))
      .select(col("probe_id"), col("g_dst").as("cand"))
    val candSet0 = base.union(nb)
      .filter(col("cand") =!= col("probe_id")).distinct()
    // checkpoint the candidate set only when the caller counts it as the
    // cost axis (s31) — s26's query path consumes it exactly once
    val candSet = if (keepCost) candSet0.localCheckpoint(true) else candSet0
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_e6").desc, col("cand"))
    // same rule for the scoring join: the candidate set is panel-grained,
    // the embedding table is the corpus — broadcast the panel so the
    // corpus side is one exchange-free, sort-free scan per round
    val scored = broadcast(candSet)
      .join(m.cembs, Seq("cand"))
      .join(broadcast(m.probes), Seq("probe_id"))
      .select(col("probe_id"), col("cand"),
        floor(cosineFast(col("pe"), col("ce")) * lit(1000000.0))
          .cast("long").as("cos_e6"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= width)
      .select(col("probe_id"), col("cand"), col("cos_e6"))
    (scored, candSet)
  }

  /** Plan probe (never benched, never on the oracle surface): one full
    * descent round of the SHARED s26/s27/s31 machinery — entry beam
    * through the top upper layer, then the next round's frame BEFORE
    * its localCheckpoint, expansion and scoring joins visible. */
  private[graft] def hnswRoundIntraPlan(spark: SparkSession, dir: String): DataFrame = {
    val m = hnswBuild(spark, dir)
    val first = hnswRound(m, None, m.g2, HnswUpperWidth)._1
    hnswRoundFrames(m, Some(first), m.g2, HnswUpperWidth, keepCost = false)._1
  }

  // AS MATERIALIZED on every multiply-referenced CTE: the unrolled
  // descent rounds each reference the prior beam twice, so DuckDB's
  // default inlining re-expands the banded pipeline exponentially —
  // the r17 sf0.1 replay spilled >60 GB and had to be excluded from the
  // sweep. Materialized, the same statement replays at sf0.1 in ~9 s
  // inside an 8 GB spill cap (measured r18), so the full surface is
  // hash-verifiable at 10x driver scale and no oracle can exhaust disk.
  // (Shared by s26 and s31, which replays the same machinery per cell.)
  private def hnswScoreCteSql(name: String, candCte: String, width: Int): String = {
    val cos = cosSql("p.pe", "ce.embedding")
    s"""$name AS MATERIALIZED (
       | SELECT probe_id, cand, cos_e6 FROM (
       |  SELECT c.probe_id, c.cand,
       |   CAST(floor($cos * 1000000.0) AS BIGINT) AS cos_e6,
       |   row_number() OVER (PARTITION BY c.probe_id
       |     ORDER BY CAST(floor($cos * 1000000.0) AS BIGINT) DESC, c.cand) AS r
       |  FROM $candCte c
       |   JOIN embeddings ce ON ce.vec_id = c.cand
       |   JOIN probes p ON p.probe_id = c.probe_id)
       | WHERE r <= $width)""".stripMargin
  }

  /** The descent-round CTE chain: `<prefix>base$r` / `<prefix>cand$r` /
    * `<prefix>beam$r` for each (graph, width) layer. `startFrom` seeds
    * round 1's base from a prior beam CTE (s31's layer-0 chains start
    * from the shared upper descent); None starts from the entry set
    * alone (s26's round 1). */
  private def hnswRoundChainSql(prefix: String, layers: Seq[(String, Int)],
      startFrom: Option[String]): String =
    layers.zipWithIndex.map { case ((g, width), i) =>
      val r = i + 1
      val base =
        if (r == 1) startFrom match {
          case Some(from) =>
            s"""SELECT probe_id, cand FROM $from
               |  UNION ALL SELECT probe_id, cand FROM entryset""".stripMargin
          case None => "SELECT probe_id, cand FROM entryset"
        }
        else
          s"""SELECT probe_id, cand FROM ${prefix}beam${r - 1}
             |  UNION ALL SELECT probe_id, cand FROM entryset""".stripMargin
      s"""${prefix}base$r AS MATERIALIZED (
         | $base),
         |${prefix}cand$r AS MATERIALIZED (
         | SELECT DISTINCT probe_id, cand FROM (
         |  SELECT probe_id, cand FROM ${prefix}base$r
         |  UNION ALL
         |  SELECT b.probe_id, g.g_dst AS cand
         |  FROM ${prefix}base$r b JOIN $g g ON b.cand = g.g_src)
         | WHERE cand <> probe_id),
         |${hnswScoreCteSql(s"${prefix}beam$r", s"${prefix}cand$r", width)}""".stripMargin
    }.mkString(",\n")

  /** The shared s26/s31 CTE prefix: banded scored pairs, level table,
    * the three re-linked layer graphs, entry point, probe panel. */
  private lazy val hnswPrefixSql: String = {
    def layerGraphCte(name: String, minLvl: Int): String = {
      val flt =
        if (minLvl == 0) ""
        else
          s""" JOIN lvl la ON la.vec_id = s.v1 AND la.lvl >= $minLvl
             | JOIN lvl lb ON lb.vec_id = s.v2 AND lb.lvl >= $minLvl""".stripMargin
      s"""$name AS MATERIALIZED (
         | SELECT g_src, g_dst FROM (
         |  SELECT g_src, g_dst, row_number() OVER (PARTITION BY g_src
         |    ORDER BY cos_e6 DESC, g_dst) AS r
         |  FROM (
         |   SELECT s.v1 AS g_src, s.v2 AS g_dst, s.cos_e6 FROM kscored s$flt
         |   UNION ALL
         |   SELECT s.v2, s.v1, s.cos_e6 FROM kscored s$flt))
         | WHERE r <= $KnnK)""".stripMargin
    }
    s"""sigs AS MATERIALIZED (
       |$knnBandSql),
       |kcand AS MATERIALIZED (
       | SELECT DISTINCT s1.vec_id AS v1, s2.vec_id AS v2
       | FROM sigs s1 JOIN sigs s2 ON s1.band = s2.band AND s1.sig = s2.sig
       |  AND s1.vec_id < s2.vec_id),
       |kscored AS MATERIALIZED (
       | SELECT c.v1, c.v2,
       |  CAST(floor(${cosSql("a.embedding", "b.embedding")} * 1000000.0) AS BIGINT) AS cos_e6
       | FROM kcand c JOIN embeddings a ON a.vec_id = c.v1
       |  JOIN embeddings b ON b.vec_id = c.v2),
       |lvl AS MATERIALIZED (
       | SELECT vec_id, CASE WHEN h % 16 = 0 THEN 2
       |   WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl
       | FROM (SELECT vec_id,
       |   CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM embeddings)),
       |${layerGraphCte("g2", 2)},
       |${layerGraphCte("g1", 1)},
       |${layerGraphCte("g0", 0)},
       |ent AS (
       | SELECT coalesce(min(CASE WHEN lvl >= 2 THEN vec_id END),
       |   min(CASE WHEN lvl >= 1 THEN vec_id END), min(vec_id)) AS cand
       | FROM lvl),
       |probes AS MATERIALIZED (
       | SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
       | WHERE vec_id < $NumProbes),
       |entryset AS MATERIALIZED (SELECT probe_id, cand FROM probes CROSS JOIN ent)""".stripMargin
  }

  private lazy val s26OracleSql: String = {
    // rounds 1..7: (graph, width); round 1 has no prior beam
    val layers = Seq.fill(HnswUpperRounds)(("g2", HnswUpperWidth)) ++
      Seq.fill(HnswUpperRounds)(("g1", HnswUpperWidth)) ++
      Seq.fill(HnswBeamRounds)(("g0", BeamWidth))
    s"""WITH $hnswPrefixSql,
       |${hnswRoundChainSql("", layers, None)}
       |SELECT probe_id, rank, cand AS neighbor_id, cos_e6 FROM (
       | SELECT probe_id, cand, cos_e6,
       |  CAST(row_number() OVER (PARTITION BY probe_id
       |    ORDER BY cos_e6 DESC, cand) AS BIGINT) AS rank
       | FROM beam${layers.size})
       |WHERE rank <= $BeamTopK
       |ORDER BY probe_id, rank""".stripMargin
  }

  /** `s27_hnsw_recall`: s26's eval twin — recall@[[BeamTopK]] of the
    * layered descent against s1's exact truth (TopK = BeamTopK, so the
    * sets compare 1:1), per probe: n_exact, n_approx, n_hit, recall_e6.
    * s8 plays this role for the LSH index; a graph index ships with the
    * same SLO number or it doesn't ship (beam width / round count are
    * tuned against exactly this curve). Shape: both inputs are the
    * already-scale-correct s1/s26 plans, checkpointed once each; the
    * metric is a probe-grained semi-join + three tiny aggregates — the
    * eval adds nothing fact-sized (at 100 TB the probe panel is the
    * sampled SLO panel, so eval cost = index cost). */
  def s27HnswRecall(spark: SparkSession, dir: String): DataFrame =
    recallReport(spark, dir, s26HnswLayers(spark, dir))

  private lazy val s27OracleSql: String =
    s"""WITH ex AS MATERIALIZED ($s1OracleSql),
       |ap AS MATERIALIZED (SELECT probe_id, neighbor_id FROM ($s26OracleSql)),
       |hits AS (
       | SELECT e.probe_id, CAST(count(*) AS BIGINT) AS n_hit
       | FROM ex e JOIN ap a ON a.probe_id = e.probe_id
       |  AND a.neighbor_id = e.neighbor_id
       | GROUP BY 1),
       |ne AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_exact
       | FROM ex GROUP BY 1),
       |na AS (SELECT probe_id, CAST(count(*) AS BIGINT) AS n_approx
       | FROM ap GROUP BY 1)
       |SELECT ne.probe_id AS probe_id, ne.n_exact AS n_exact,
       | COALESCE(na.n_approx, 0) AS n_approx, COALESCE(h.n_hit, 0) AS n_hit,
       | CAST(floor(COALESCE(h.n_hit, 0) * 1000000.0 / ne.n_exact) AS BIGINT)
       |  AS recall_e6
       |FROM ne LEFT JOIN na USING (probe_id) LEFT JOIN hits h USING (probe_id)
       |ORDER BY probe_id""".stripMargin

  /** s31's grid: layer-0 beam widths × round counts swept. Cell (8, 3)
    * is EXACTLY s26's shipped dial ([[BeamWidth]], [[HnswBeamRounds]]),
    * so the sweep's corner reproduces production and the curve shows
    * what each step of the dial bought. */
  val S31Widths: Seq[Int] = Seq(1, 2, 4, 8)
  val S31Rounds = 3

  /** `s31_beam_sweep`: the recall-vs-cost FRONTIER of the layered graph
    * index — s20's nprobe sweep applied to the graph family (s20 tunes
    * the IVF dial; s26's beam width and round count were fixed constants
    * tuned once, and a production store ships the curve, not a point).
    * One row per (beam_width, n_rounds) cell of [[S31Widths]] ×
    * [[S31Rounds]]: aggregate recall@[[BeamTopK]] of the descent over
    * the s27 probe panel against s1's exact truth, and the cell's COST —
    * `scored_candidates`, the number of (probe, candidate) cosines the
    * funnel evaluates end-to-end (shared upper-layer descent + that
    * cell's layer-0 rounds), the number a serving budget is written in.
    * All integers; recall the floor-e6 convention.
    *
    * Scale, and the d13/s20 sweep discipline: the graph build, upper
    * descent (dial-independent — layer-2/1 walk at fixed width) and the
    * exact truth are computed ONCE (checkpointed) and shared by all 12
    * cells; per width the round chain is INCREMENTAL (cell (w, r)
    * extends cell (w, r-1) — 3 rounds pay for 3 cells), so the sweep
    * costs 4 round-chains, not 12 descents. Every per-cell aggregate is
    * probe-grained; the only corpus-sized work is the shared banded
    * build s26 already pays. */
  def s31BeamSweep(spark: SparkSession, dir: String): DataFrame = {
    val m = hnswBuild(spark, dir)
    // shared upper descent: layer 2 then layer 1 at the fixed width —
    // identical for every cell, so its cost is a constant term
    var ub: Option[DataFrame] = None
    val upperCands = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (g <- Seq.fill(HnswUpperRounds)(m.g2) ++ Seq.fill(HnswUpperRounds)(m.g1)) {
      val (b, cs) = hnswRound(m, ub, g, HnswUpperWidth, keepCost = true)
      ub = Some(b); upperCands += cs
    }
    val upper = ub.get
    val upperCost = upperCands.map(_.agg(count(lit(1)).as("n")))
      .reduce(_ unionAll _).agg(sum(col("n")).as("upper_n"))
    val truth = s1AnnBrute(spark, dir)
      .select(col("probe_id"), col("neighbor_id")).localCheckpoint(true)
    val truthStats = truth.agg(
      countDistinct(col("probe_id")).as("n_probes"),
      count(lit(1)).as("n_exact"))
    val wPr = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_e6").desc, col("cand"))
    val cells = S31Widths.flatMap { wdt =>
      var beam = upper
      var costs = Vector.empty[DataFrame]
      (1 to S31Rounds).map { r =>
        val (b, cs) = hnswRound(m, Some(beam), m.g0, wdt, keepCost = true)
        beam = b
        costs = costs :+ cs.agg(count(lit(1)).as("n"))
        val cellCost = costs.reduce(_ unionAll _).agg(sum(col("n")).as("l0_n"))
        val hits = beam
          .withColumn("rank", row_number().over(wPr))
          .filter(col("rank") <= BeamTopK)
          .select(col("probe_id"), col("cand").as("neighbor_id"))
          .join(truth, Seq("probe_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        truthStats.crossJoin(hits).crossJoin(cellCost).crossJoin(upperCost)
          .select(lit(wdt.toLong).as("beam_width"), lit(r.toLong).as("n_rounds"),
            col("n_probes"), col("n_exact"), col("n_hit"),
            floor(col("n_hit") * lit(1000000.0) / col("n_exact"))
              .cast("long").as("recall_e6"),
            (col("upper_n") + col("l0_n")).as("scored_candidates"))
      }
    }
    cells.reduce(_ unionAll _).orderBy(col("beam_width"), col("n_rounds"))
  }

  private lazy val s31OracleSql: String = {
    val upperLayers = Seq.fill(HnswUpperRounds)(("g2", HnswUpperWidth)) ++
      Seq.fill(HnswUpperRounds)(("g1", HnswUpperWidth))
    val nUpper = upperLayers.size
    val upperChain = hnswRoundChainSql("u", upperLayers, None)
    val upperCost = (1 to nUpper)
      .map(r => s"(SELECT count(*) FROM ucand$r)").mkString(" + ")
    val widthChains = S31Widths.map { w =>
      hnswRoundChainSql(s"w${w}_",
        Seq.fill(S31Rounds)(("g0", w)), Some(s"ubeam$nUpper"))
    }.mkString(",\n")
    val cellRows = S31Widths.flatMap { w =>
      (1 to S31Rounds).map { r =>
        val l0Cost = (1 to r)
          .map(i => s"(SELECT count(*) FROM w${w}_cand$i)").mkString(" + ")
        s"""SELECT CAST($w AS BIGINT) AS beam_width,
           | CAST($r AS BIGINT) AS n_rounds, t.n_probes, t.n_exact, h.n_hit,
           | CAST(floor(h.n_hit * 1000000.0 / t.n_exact) AS BIGINT)
           |  AS recall_e6,
           | CAST(($upperCost) + ($l0Cost) AS BIGINT) AS scored_candidates
           |FROM tstats t CROSS JOIN (
           | SELECT CAST(count(*) AS BIGINT) AS n_hit
           | FROM (SELECT probe_id, cand FROM (
           |   SELECT probe_id, cand, row_number() OVER (PARTITION BY probe_id
           |     ORDER BY cos_e6 DESC, cand) AS rank
           |   FROM w${w}_beam$r) WHERE rank <= $BeamTopK) b
           |  JOIN ex e ON e.probe_id = b.probe_id
           |   AND e.neighbor_id = b.cand) h""".stripMargin
      }
    }.mkString("\nUNION ALL\n")
    s"""WITH $hnswPrefixSql,
       |$upperChain,
       |$widthChains,
       |ex AS MATERIALIZED (SELECT probe_id, neighbor_id FROM ($s1OracleSql)),
       |tstats AS (
       | SELECT CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes,
       |  CAST(count(*) AS BIGINT) AS n_exact
       | FROM ex)
       |SELECT * FROM (
       |$cellRows
       |) ORDER BY beam_width, n_rounds""".stripMargin
  }

  /** `s28_hnsw_insert`: incremental insert into s26's layered graph — the
    * operation a production vector store runs continuously (s11 plays
    * this role for the IVF index; the layered graph had no insert path).
    * The d8/s11 batch convention splits the corpus: bucket >=
    * [[Dedup.NewBucketMin]] of the md5 split is "today's batch", the rest
    * is the already-indexed corpus whose per-layer adjacency (top-[[KnnK]]
    * per node over corpus-only banded pairs among level>=l members) is
    * the STORED index. The insert draws each batch vector's level by
    * s26's md5 convention, generates its candidates from the SAME banded
    * family that built the stored layers (band buckets are the candidate
    * generator for construction AND insert, so the delta is
    * batch-proportional: batch signatures probe only their own band
    * buckets, never rescanning corpus×corpus), and re-links ONLY touched
    * neighborhoods — a node's new edge list is the re-rank of its stored
    * top-K merged with its delta edges. One row per edge of the updated
    * adjacency at the touched nodes: (lvl, vec_id, rank, neighbor_id,
    * cos_e6, src_is_batch).
    *
    * The update is EXACT, not an approximation of a rebuild: top-K over
    * (corpus ∪ batch) candidates ⊆ top-K(corpus candidates) ∪ delta
    * candidates — any corpus edge surviving the union's top-K was already
    * in the stored top-K — so merged-re-rank ≡ from-scratch rebuild,
    * node for node. The ORACLE computes the rebuild directly (banded
    * pairs over the union, per-layer top-K, restricted to touched nodes),
    * so the hash match is itself the insert≡rebuild proof, the s11
    * discipline applied to the graph index. At 100 TB: the stored
    * adjacency is a persisted table read (here derived from the shared
    * banded pass — the same frame the rebuild side would scan), the delta
    * join is keyed on (band, sig) with bounded buckets, every window is
    * per-node, and untouched nodes are never rewritten (the left-semi
    * against touched prunes them before the merge shuffle). */
  def s28HnswInsert(spark: SparkSession, dir: String): DataFrame = {
    val h = graft.functions.TextFunctions.md5Long60(col("vec_id").cast("string"))
    val lvl = emb(spark, dir).select(col("vec_id"),
        when(h % 16 === 0, 2).when(h % 4 === 0, 1).otherwise(0).as("lvl"),
        isNewVec(col("vec_id")).as("is_batch"))
      .localCheckpoint(true)
    // one banded pass over the union, then partitioned by batch
    // membership: corpus-corpus pairs reconstruct the stored index (at
    // scale: a read of the persisted adjacency); >=1-batch pairs are the
    // day's delta. The frame is consumed by all three layers — checkpoint.
    val pairs = knnScoredPairs(spark, dir)
      .join(lvl.select(col("vec_id").as("va"), col("lvl").as("la"),
        col("is_batch").as("ba")), Seq("va"))
      .join(lvl.select(col("vec_id").as("vb"), col("lvl").as("lb"),
        col("is_batch").as("bb")), Seq("vb"))
      .localCheckpoint(true)
    def mirror(df: DataFrame): DataFrame = df.select(explode(array(
        struct(col("va").as("g_src"), col("vb").as("g_dst"), col("cos_e6")),
        struct(col("vb").as("g_src"), col("va").as("g_dst"), col("cos_e6")))).as("p"))
      .select(col("p.g_src"), col("p.g_dst"), col("p.cos_e6"))
    def layerRows(l: Int): DataFrame = {
      val p = pairs.filter(col("la") >= l && col("lb") >= l)
      val w = Window.partitionBy(col("g_src"))
        .orderBy(col("cos_e6").desc, col("g_dst"))
      // the stored per-layer adjacency: corpus-only candidates, top-K
      val stored = mirror(p.filter(!col("ba") && !col("bb")))
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= KnnK)
        .select(col("g_src"), col("g_dst"), col("cos_e6"))
      val delta = mirror(p.filter(col("ba") || col("bb")))
      // touched is batch-proportional, stored is the corpus-scaled index:
      // broadcast the batch side so the stored adjacency streams
      // un-shuffled through the prune (guide §3.1) — but batch size is a
      // CONVENTION, not a dial, so the hint is size-bounded (r20 verdict
      // item 3). Checkpoint touched so the bound's count is a near-free
      // job over materialized blocks and the broadcast build reads the
      // same blocks instead of re-deriving the distinct (a bare
      // touched.count() measured +25% solo — the distinct ran twice);
      // an over-bound batch falls back to the planner's shuffle strategy.
      val touched = delta.select(col("g_src")).distinct().localCheckpoint(true)
      val nTouched = touched.count()
      stored.join(BoundedBroadcast.hintIfBounded(touched, nTouched),
          Seq("g_src"), "left_semi")
        .union(delta)
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= KnnK)
        .select(lit(l.toLong).as("lvl"), col("g_src").as("vec_id"),
          col("rank"), col("g_dst").as("neighbor_id"), col("cos_e6"))
    }
    layerRows(2).union(layerRows(1)).union(layerRows(0))
      .join(lvl.select(col("vec_id"), col("is_batch")), Seq("vec_id"))
      .select(col("lvl"), col("vec_id"), col("rank"), col("neighbor_id"),
        col("cos_e6"), col("is_batch").cast("long").as("src_is_batch"))
      .orderBy(col("lvl"), col("vec_id"), col("rank"))
  }

  /** s28 oracle: the from-scratch REBUILD — per-layer top-K over banded
    * pairs of the full union, restricted to touched nodes — so the hash
    * match proves the incremental merge is rebuild-exact. MATERIALIZED on
    * every multiply-referenced CTE (the s26 lesson: default inlining
    * re-expands the banded pipeline once per reference). */
  private lazy val s28OracleSql: String = {
    def isNewSql(x: String) =
      s"CAST(('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 15)) AS BIGINT) % 100 >= ${Dedup.NewBucketMin}"
    def layerCtes(l: Int): String =
      s"""m$l AS MATERIALIZED (
         | SELECT v1 AS g_src, v2 AS g_dst, cos_e6, ba OR bb AS any_batch
         | FROM lp WHERE la >= $l AND lb >= $l
         | UNION ALL
         | SELECT v2, v1, cos_e6, ba OR bb FROM lp WHERE la >= $l AND lb >= $l),
         |g$l AS MATERIALIZED (
         | SELECT g_src, g_dst, cos_e6,
         |  row_number() OVER (PARTITION BY g_src
         |    ORDER BY cos_e6 DESC, g_dst) AS rank
         | FROM m$l),
         |t$l AS MATERIALIZED (SELECT DISTINCT g_src FROM m$l WHERE any_batch)""".stripMargin
    def layerOut(l: Int): String =
      s"""SELECT CAST($l AS BIGINT) AS lvl, g.g_src AS vec_id,
         | CAST(g.rank AS BIGINT) AS rank, g.g_dst AS neighbor_id, g.cos_e6
         |FROM g$l g JOIN t$l t ON t.g_src = g.g_src WHERE g.rank <= $KnnK""".stripMargin
    s"""WITH sigs AS MATERIALIZED (
       |$knnBandSql),
       |kcand AS MATERIALIZED (
       | SELECT DISTINCT s1.vec_id AS v1, s2.vec_id AS v2
       | FROM sigs s1 JOIN sigs s2 ON s1.band = s2.band AND s1.sig = s2.sig
       |  AND s1.vec_id < s2.vec_id),
       |kscored AS MATERIALIZED (
       | SELECT c.v1, c.v2,
       |  CAST(floor(${cosSql("a.embedding", "b.embedding")} * 1000000.0) AS BIGINT) AS cos_e6
       | FROM kcand c JOIN embeddings a ON a.vec_id = c.v1
       |  JOIN embeddings b ON b.vec_id = c.v2),
       |lvl AS MATERIALIZED (
       | SELECT vec_id, CASE WHEN h % 16 = 0 THEN 2
       |   WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl,
       |  ${isNewSql("vec_id")} AS is_batch
       | FROM (SELECT vec_id,
       |   CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM embeddings)),
       |lp AS MATERIALIZED (
       | SELECT k.v1, k.v2, k.cos_e6, a.lvl AS la, b.lvl AS lb,
       |  a.is_batch AS ba, b.is_batch AS bb
       | FROM kscored k JOIN lvl a ON a.vec_id = k.v1
       |  JOIN lvl b ON b.vec_id = k.v2),
       |${layerCtes(2)},
       |${layerCtes(1)},
       |${layerCtes(0)}
       |SELECT u.lvl, u.vec_id, u.rank, u.neighbor_id, u.cos_e6,
       | CAST(CASE WHEN l.is_batch THEN 1 ELSE 0 END AS BIGINT) AS src_is_batch
       |FROM (${layerOut(2)}
       | UNION ALL ${layerOut(1)}
       | UNION ALL ${layerOut(0)}) u
       | JOIN lvl l ON l.vec_id = u.vec_id
       |ORDER BY u.lvl, u.vec_id, u.rank""".stripMargin
  }

  /** s29 spare budget: the stored adjacency keeps K' = [[KnnK]] +
    * HnswSpareK edges per node; a delete that leaves >= K of the K'
    * alive repairs from spares (no scan), else the node re-links. */
  val HnswSpareK = 3

  /** `s29_hnsw_delete`: tombstone deletion from the layered graph —
    * completing the index lifecycle s28's insert opened (s17 plays the
    * tombstone role for the IVF index; the graph index needs its own
    * because deleting a node breaks its NEIGHBORS' adjacency, not a
    * cell list). The md5 bucket convention marks today's tombstones;
    * the stored per-layer adjacency keeps K' = [[KnnK]]+[[HnswSpareK]]
    * edges per node (the standard spare-edge budget a production graph
    * store writes precisely so deletes stay local). Per affected
    * survivor (>= 1 tombstone among its top-K), two repair paths:
    *
    *  - SPARE: if >= K of its stored K' survive — or its stored list
    *    was unsaturated (held every candidate it has) — the new top-K
    *    is a re-rank of the stored list's survivors: stored-list-sized
    *    work, no candidate scan;
    *  - RELINK: otherwise the node re-scans its banded candidates
    *    (alive only) — bounded to exactly these nodes by a semi-join
    *    (9 of 186 affected at sf0.001: the budget makes relinks rare).
    *
    * BOTH paths are rebuild-exact (spare: every candidate outside the
    * saturated stored K' ranks below all of it, so >= K surviving
    * spares dominate everything outside; unsaturated lists hold all
    * candidates) — and the ORACLE computes the survivor rebuild
    * directly, so the hash match proves delete ≡ rebuild per node,
    * with the repair class emitted and oracle-recomputed from the same
    * stored-list statistics. Untouched nodes never appear (their top-K
    * provably can't change); tombstoned nodes drop out entirely. At
    * 100 TB: the stored K' list is a table read, the class split is
    * one aggregate over it, and the only scan-shaped work is the
    * relink minority's keyed semi-join against the banded pairs. */
  def s29HnswDelete(spark: SparkSession, dir: String): DataFrame = {
    val Kp = KnnK + HnswSpareK
    val h = graft.functions.TextFunctions.md5Long60(col("vec_id").cast("string"))
    val lvl = emb(spark, dir).select(col("vec_id"),
        when(h % 16 === 0, 2).when(h % 4 === 0, 1).otherwise(0).as("lvl"),
        isNewVec(col("vec_id")).as("dead"))
      .localCheckpoint(true)
    val pairs = knnScoredPairs(spark, dir)
      .join(lvl.select(col("vec_id").as("va"), col("lvl").as("la"),
        col("dead").as("xa")), Seq("va"))
      .join(lvl.select(col("vec_id").as("vb"), col("lvl").as("lb"),
        col("dead").as("xb")), Seq("vb"))
      .localCheckpoint(true)
    def layerRows(l: Int): DataFrame = {
      val mirrored = pairs.filter(col("la") >= l && col("lb") >= l)
        .select(explode(array(
          struct(col("va").as("g_src"), col("vb").as("g_dst"), col("cos_e6"),
            col("xa").as("src_dead"), col("xb").as("dst_dead")),
          struct(col("vb").as("g_src"), col("va").as("g_dst"), col("cos_e6"),
            col("xb").as("src_dead"), col("xa").as("dst_dead")))).as("p"))
        .select(col("p.*"))
      val w = Window.partitionBy(col("g_src"))
        .orderBy(col("cos_e6").desc, col("g_dst"))
      // the stored K' adjacency (at scale: a table read), consumed by the
      // class split AND the spare repair
      val stored = mirrored.withColumn("r", row_number().over(w))
        .filter(col("r") <= Kp).localCheckpoint(true)
      val stats = stored.groupBy(col("g_src"), col("src_dead"))
        .agg(
          sum(when(col("dst_dead") && col("r") <= KnnK, 1L).otherwise(0L))
            .as("del_in_k"),
          sum(when(!col("dst_dead"), 1L).otherwise(0L)).as("alive_in_kp"),
          count(lit(1)).as("n_stored"))
      val affected = stats
        .filter(!col("src_dead") && col("del_in_k") >= 1L)
        .withColumn("repair_class",
          when(col("alive_in_kp") >= KnnK || col("n_stored") < Kp,
            lit("spare")).otherwise(lit("relink")))
        .select(col("g_src"), col("repair_class"))
        .localCheckpoint(true)
      // `affected` is batch-proportional (nodes whose top-K lost a dead
      // neighbor), the stored list / banded pairs are corpus-scaled:
      // broadcast the small side of all three joins so the corpus side
      // streams un-shuffled (guide §3.1) — the same d8 batch-side
      // discipline the scaladoc's scale note states. Batch size is a
      // convention, not a dial, so the hints are size-bounded: affected
      // is checkpointed, its count is a near-free job, and an over-bound
      // tombstone batch falls back to the planner's shuffle strategy
      // (r20 verdict item 3); both repair-class slices are ⊆ affected.
      val nAffected = affected.count()
      def hintAff(df: DataFrame): DataFrame =
        BoundedBroadcast.hintIfBounded(df, nAffected)
      val spareAdj = stored
        .join(hintAff(affected.filter(col("repair_class") === "spare")
          .select(col("g_src"))), Seq("g_src"), "left_semi")
        .filter(!col("dst_dead"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= KnnK)
      val relinkAdj = mirrored
        .join(hintAff(affected.filter(col("repair_class") === "relink")
          .select(col("g_src"))), Seq("g_src"), "left_semi")
        .filter(!col("dst_dead"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= KnnK)
      spareAdj.select(col("g_src"), col("rank"), col("g_dst"), col("cos_e6"))
        .union(relinkAdj.select(col("g_src"), col("rank"), col("g_dst"),
          col("cos_e6")))
        .join(hintAff(affected), Seq("g_src"))
        .select(lit(l.toLong).as("lvl"), col("g_src").as("vec_id"),
          col("rank"), col("g_dst").as("neighbor_id"), col("cos_e6"),
          col("repair_class"))
    }
    layerRows(2).union(layerRows(1)).union(layerRows(0))
      .orderBy(col("lvl"), col("vec_id"), col("rank"))
  }

  /** s29 oracle: the survivor REBUILD per layer, restricted to affected
    * nodes, with the repair class recomputed from the same stored-K'
    * statistics — hash-matching it proves both repair paths are
    * rebuild-exact. */
  private lazy val s29OracleSql: String = {
    val Kp = KnnK + HnswSpareK
    def isNewSql(x: String) =
      s"CAST(('0x' || substr(md5(CAST($x AS VARCHAR)), 1, 15)) AS BIGINT) % 100 >= ${Dedup.NewBucketMin}"
    def layerCtes(l: Int): String =
      s"""m$l AS MATERIALIZED (
         | SELECT v1 AS g_src, v2 AS g_dst, cos_e6, ba AS sd, bb AS dd
         | FROM lp WHERE la >= $l AND lb >= $l
         | UNION ALL
         | SELECT v2, v1, cos_e6, bb, ba FROM lp WHERE la >= $l AND lb >= $l),
         |f$l AS MATERIALIZED (
         | SELECT g_src, g_dst, cos_e6, sd, dd,
         |  row_number() OVER (PARTITION BY g_src
         |    ORDER BY cos_e6 DESC, g_dst) AS r
         | FROM m$l),
         |a$l AS MATERIALIZED (
         | SELECT g_src,
         |  CASE WHEN sum(CASE WHEN NOT dd THEN 1 ELSE 0 END) >= $KnnK
         |    OR count(*) < $Kp THEN 'spare' ELSE 'relink' END AS repair_class
         | FROM f$l WHERE r <= $Kp GROUP BY g_src, sd
         | HAVING NOT sd
         |  AND sum(CASE WHEN dd AND r <= $KnnK THEN 1 ELSE 0 END) >= 1),
         |g$l AS MATERIALIZED (
         | SELECT g_src, g_dst, cos_e6,
         |  row_number() OVER (PARTITION BY g_src
         |    ORDER BY cos_e6 DESC, g_dst) AS rank
         | FROM m$l WHERE NOT dd)""".stripMargin
    def layerOut(l: Int): String =
      s"""SELECT CAST($l AS BIGINT) AS lvl, g.g_src AS vec_id,
         | CAST(g.rank AS BIGINT) AS rank, g.g_dst AS neighbor_id, g.cos_e6,
         | a.repair_class
         |FROM g$l g JOIN a$l a ON a.g_src = g.g_src WHERE g.rank <= $KnnK""".stripMargin
    s"""WITH sigs AS MATERIALIZED (
       |$knnBandSql),
       |kcand AS MATERIALIZED (
       | SELECT DISTINCT s1.vec_id AS v1, s2.vec_id AS v2
       | FROM sigs s1 JOIN sigs s2 ON s1.band = s2.band AND s1.sig = s2.sig
       |  AND s1.vec_id < s2.vec_id),
       |kscored AS MATERIALIZED (
       | SELECT c.v1, c.v2,
       |  CAST(floor(${cosSql("a.embedding", "b.embedding")} * 1000000.0) AS BIGINT) AS cos_e6
       | FROM kcand c JOIN embeddings a ON a.vec_id = c.v1
       |  JOIN embeddings b ON b.vec_id = c.v2),
       |lvl AS MATERIALIZED (
       | SELECT vec_id, CASE WHEN h % 16 = 0 THEN 2
       |   WHEN h % 4 = 0 THEN 1 ELSE 0 END AS lvl,
       |  ${isNewSql("vec_id")} AS dead
       | FROM (SELECT vec_id,
       |   CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |  FROM embeddings)),
       |lp AS MATERIALIZED (
       | SELECT k.v1, k.v2, k.cos_e6, a.lvl AS la, b.lvl AS lb,
       |  a.dead AS ba, b.dead AS bb
       | FROM kscored k JOIN lvl a ON a.vec_id = k.v1
       |  JOIN lvl b ON b.vec_id = k.v2),
       |${layerCtes(2)},
       |${layerCtes(1)},
       |${layerCtes(0)}
       |SELECT * FROM (${layerOut(2)}
       | UNION ALL ${layerOut(1)}
       | UNION ALL ${layerOut(0)})
       |ORDER BY lvl, vec_id, rank""".stripMargin
  }

  val SweepBudgets = Seq(1, 2, 4, 8) // s20: nprobe budgets swept (<= NumCells)

  /** `s20_nprobe_sweep`: the IVF recall/cost tuning curve — d13's
    * τ-sweep applied to the index side. One row per `nprobe` budget:
    * candidates scanned (the cost an IVF store pays per probe), results
    * returned, hits against s1's exact top-[[TopK]], and the micro
    * recall_e6 — the table an operator reads to SET s3's dial before
    * s8 monitors it in production. Closes the tuning loop: build s3 →
    * monitor s8 → grow s11 → decide rebuild s12 → TUNE s20.
    *
    * Scale, and the d13 discipline: the sweep is ONE computation, never
    * |budgets| re-runs. Cells are ranked once per probe (max-budget
    * prefix of the same scoredCells model s3 uses, broadcast); each
    * candidate is scored once and carries its `cell_rank`, so a budget
    * is a FILTER (`cell_rank <= b`), and the |budgets| fan-out happens
    * only after vectors are reduced to (probe, id, cos_e6) triples —
    * nothing wider than 4 longs crosses the budget explode or its
    * window. The exact baseline is s1's verified plan, checkpointed and
    * joined per budget as a key-only semi join. Centroids publish to the
    * oracle through [[RunOracles]]. */
  def s20NprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val (cents, sweep) = s20Sweep(spark, dir)
    RunOracles.pending("s20_nprobe_sweep", dir, s20OracleSql(cents))
    sweep
  }

  /** s20's plan plus the centroids it trained — s24 builds on both. */
  private def s20Sweep(spark: SparkSession, dir: String): (Seq[(Long, Array[Long])], DataFrame) = {
    val maxB = SweepBudgets.max
    val (cents, data) = kmeansWithData(spark, dir)
    val e = data
      .withColumn("_cos", cosineMatrix(col("embedding"), centroidMatrix(cents)))
    val scored = scoredCells(cents, col("_cos"))
    val topCells = slice(reverse(array_sort(scored)), 1, maxB)
    val assigned = e.select(col("vec_id"), col("embedding"),
      element_at(topCells, 1).getField("cid").as("cell"))
    val probes = e.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"),
        posexplode(transform(topCells, c => c.getField("cid"))))
      .select(col("probe_id"), col("pe"), (col("pos") + 1).as("cell_rank"),
        col("col").as("cell"))
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), col("cell_rank"),
        floor(cosineFast(col("pe"), col("embedding")) * lit(1000000.0))
          .cast("long").as("cos_e6"))
      .localCheckpoint(true) // probe-grained triples; read per budget
    val budgetTable = {
      // literal LocalRelation (not a Range): the suite-wide PlanSpec pin
      // recognizes a <=64-row literal table as the bounded BNLJ side
      import spark.implicits._
      SweepBudgets.map(_.toLong).toDF("nprobe")
    }
    val byBudget = cand
      .crossJoin(broadcast(budgetTable))
      .filter(col("cell_rank") <= col("nprobe"))
    val w = Window.partitionBy(col("probe_id"), col("nprobe"))
      .orderBy(col("cos_e6").desc, col("vec_id"))
    val topk = byBudget
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select(col("nprobe"), col("probe_id"), col("vec_id"))
    val exact = s1AnnBrute(spark, dir)
      .select(col("probe_id"), col("neighbor_id").as("vec_id"))
      .localCheckpoint(true)
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val hits = topk.join(exact, Seq("probe_id", "vec_id"), "left_semi")
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    val sweep = byBudget.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_candidates"))
      .join(topk.groupBy(col("nprobe")).agg(count(lit(1)).as("n_results")),
        Seq("nprobe"))
      .join(hits, Seq("nprobe"), "left")
      .crossJoin(broadcast(nExact))
      .select(col("nprobe").cast("long").as("nprobe"), col("n_candidates"),
        col("n_results"), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_exact"),
        expr("coalesce(n_hits, 0) * 1000000 div n_exact").as("recall_e6"))
      .orderBy(col("nprobe"))
    (cents, sweep)
  }

  private def s20OracleSql(cents: Seq[(Long, Array[Long])]): String = {
    val budgets = SweepBudgets.map(b => s"($b)").mkString(", ")
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, e.embedding, c.cid,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, embedding, cid AS cell FROM scored WHERE rn = 1),
       |probes AS (
       | SELECT vec_id AS probe_id, embedding AS pe, cid AS cell,
       |  rn AS cell_rank
       | FROM scored WHERE vec_id < $NumProbes AND rn <= ${SweepBudgets.max}),
       |cand AS (
       | SELECT p.probe_id, x.vec_id, p.cell_rank,
       |  CAST(floor(${cosSql("p.pe", "x.embedding")} * 1000000.0) AS BIGINT) AS cos_e6
       | FROM probes p JOIN asg x ON x.cell = p.cell AND x.vec_id != p.probe_id),
       |bb AS (
       | SELECT b.nprobe, c.probe_id, c.vec_id, c.cos_e6
       | FROM cand c CROSS JOIN (VALUES $budgets) b(nprobe)
       | WHERE c.cell_rank <= b.nprobe),
       |topk AS (
       | SELECT nprobe, probe_id, vec_id FROM (
       |  SELECT nprobe, probe_id, vec_id,
       |   row_number() OVER (PARTITION BY probe_id, nprobe
       |     ORDER BY cos_e6 DESC, vec_id) AS rank
       |  FROM bb) WHERE rank <= $TopK),
       |exact AS (
       | SELECT probe_id, vec_id FROM (
       |  SELECT p.vec_id AS probe_id, x.vec_id,
       |   row_number() OVER (PARTITION BY p.vec_id
       |     ORDER BY ${cosSql("p.embedding", "x.embedding")} DESC, x.vec_id) AS rank
       |  FROM embeddings p JOIN embeddings x ON x.vec_id != p.vec_id
       |  WHERE p.vec_id < $NumProbes) WHERE rank <= $TopK),
       |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact),
       |hits AS (
       | SELECT nprobe, CAST(count(*) AS BIGINT) AS n_hits
       | FROM topk t WHERE EXISTS (SELECT 1 FROM exact x
       |   WHERE x.probe_id = t.probe_id AND x.vec_id = t.vec_id)
       | GROUP BY nprobe)
       |SELECT CAST(nprobe AS BIGINT) AS nprobe,
       | CAST(nc.n_candidates AS BIGINT) AS n_candidates,
       | CAST(nr.n_results AS BIGINT) AS n_results,
       | COALESCE(h.n_hits, 0) AS n_hits, ne.n_exact,
       | COALESCE(h.n_hits, 0) * 1000000 // ne.n_exact AS recall_e6
       |FROM (SELECT nprobe, count(*) AS n_candidates FROM bb GROUP BY 1) nc
       | JOIN (SELECT nprobe, count(*) AS n_results FROM topk GROUP BY 1) nr
       |  USING (nprobe)
       | LEFT JOIN hits h USING (nprobe) CROSS JOIN ne
       |ORDER BY nprobe""".stripMargin
  }

  // ------------------- s22: posting-list → shard placement plan

  /** s22: serving shards the index's posting lists are packed onto. */
  val NumShards = 4L

  /** `s22_shard_plan`: IVF posting lists → serving shards — the placement
    * step between building an index (s3) and serving it at scale: a
    * 100-TB vector corpus does not serve from one node, and cell sizes
    * are power-law (hot centroids), so naive `cell mod S` placement
    * concentrates load. Placement here is SERPENTINE (boustrophedon)
    * assignment over cells ranked by size — rank cells descending, deal
    * round 0 left-to-right, round 1 right-to-left, … — the classic
    * window-free LPT approximation: every shard receives exactly one
    * cell per round and alternating direction pairs each round's largest
    * with the previous round's smallest receiver. Output carries all
    * three grains p19-style: per CELL its size rank and assigned shard,
    * per SHARD (`~SHARD_k`) its cell count, vector load and hotness
    * (load·S/total, e6 — 1e6 = perfectly balanced), and `~TOTAL` the
    * hottest shard's skew — the number a placement change is judged by.
    *
    * Arithmetic: ranks come from ONE global aggregate that collects the
    * NumCells (size, cell) stats, `sort_array`s them on the strict total
    * order (members desc via sign flip, cell asc — no tie ambiguity) and
    * `posexplode`s the rank back out — the p17-sanctioned
    * explode-from-1-row-aggregate shape: no window, no self-join, and
    * the corpus total rides the same aggregate so no stats join exists
    * at all. The hotness render multiplies vector counts by S·1e6, which
    * would wrap Long past ~2·10¹² vectors, so it runs in
    * `Decimal(38,0)` (the q43 discipline, DuckDB HUGEINT).
    *
    * Scale: ONE assignment scan (broadcast-model cosineMatrix, s6's
    * shape) ends at the map-side-partial cell aggregate; everything
    * after runs on NumCells rows (checkpointed once for its three
    * grain consumers). In a production store the cell stats come
    * straight from the index manifest and the whole plan is
    * metadata-sized (p19/p20's model). */
  /** Serpentine (boustrophedon) cell → shard placement over cell sizes —
    * the LPT deal shared by s22 (the placement report) and s23 (the
    * routing audit). Input: (cell, n_members); output the checkpointed
    * (cell, n_members, rank, shard, total) frame, NumCells rows. */
  private def serpentinePlacement(cells: DataFrame): DataFrame = {
    val packed = cells.agg(
      sort_array(collect_list(struct(
        (-col("n_members")).as("neg"), col("cell"), col("n_members")))).as("arr"),
      sum(col("n_members")).as("total"))
    packed
      .select(col("total"), posexplode(col("arr")).as(Seq("p0", "s")))
      .select(col("s.cell").as("cell"), col("s.n_members").as("n_members"),
        (col("p0") + 1).cast("long").as("rank"), col("total"))
      .withColumn("rnd", expr(s"(rank - 1) div $NumShards"))
      .withColumn("pos", (col("rank") - 1) % NumShards)
      .withColumn("shard",
        when(col("rnd") % 2 === 0, col("pos"))
          .otherwise(lit(NumShards - 1) - col("pos")))
      .localCheckpoint(true) // NumCells rows; every grain consumer reads it
  }

  def s22ShardPlan(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val (cents, data) = kmeansOver(e)
    RunOracles.pending("s22_shard_plan", dir, s22OracleSql(cents))
    val cells = assignCells(data, cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
    val ranked = serpentinePlacement(cells)
    val perCell = ranked
      .select(col("cell").cast("string").as("key"), lit("cell").as("grain"),
        col("shard"), col("rank"), lit(1L).as("n_cells"),
        col("n_members").as("n_vectors"), lit(0L).as("skew_e6"))
    val perShard = ranked.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n_members")).as("n_vectors"),
        max(col("total")).as("total"))
      .withColumn("skew_e6", expr(
        s"CAST(n_vectors AS DECIMAL(38,0)) * ${NumShards * 1000000L}" +
          " div greatest(total, 1)"))
      .select(concat(lit("~SHARD_"), col("shard").cast("string")).as("key"),
        lit("shard").as("grain"), col("shard"), lit(0L).as("rank"),
        col("n_cells"), col("n_vectors"), col("skew_e6"))
    val totRow = perShard
      .agg(sum(col("n_cells")).as("n_cells"), sum(col("n_vectors")).as("n_vectors"),
        max(col("skew_e6")).as("skew_e6"))
      .select(lit("~TOTAL").as("key"), lit("total").as("grain"),
        lit(-1L).as("shard"), lit(0L).as("rank"), col("n_cells"),
        col("n_vectors"), col("skew_e6"))
    perCell.unionByName(perShard).unionByName(totRow).orderBy(col("key"))
  }

  private def s22OracleSql(cents: Seq[(Long, Array[Long])]): String =
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |cells AS (
       | SELECT cid AS cell, CAST(count(*) AS BIGINT) AS n_members
       | FROM scored WHERE rn = 1 GROUP BY 1),
       |rk AS (
       | SELECT a.cell, a.n_members,
       |  1 + (SELECT count(*) FROM cells b
       |       WHERE b.n_members > a.n_members
       |          OR (b.n_members = a.n_members AND b.cell < a.cell)) AS rank
       | FROM cells a),
       |sh AS (
       | SELECT cell, n_members, rank,
       |  CASE WHEN ((rank - 1) // $NumShards) % 2 = 0
       |   THEN (rank - 1) % $NumShards
       |   ELSE ${NumShards - 1} - ((rank - 1) % $NumShards) END AS shard
       | FROM rk),
       |tot AS (SELECT CAST(sum(n_members) AS BIGINT) AS total FROM cells),
       |per_shard AS (
       | SELECT shard, CAST(count(*) AS BIGINT) AS n_cells,
       |  CAST(sum(n_members) AS BIGINT) AS n_vectors
       | FROM sh GROUP BY 1)
       |SELECT key, grain, shard, rank, n_cells, n_vectors, skew_e6 FROM (
       | SELECT CAST(cell AS VARCHAR) AS key, 'cell' AS grain,
       |  CAST(shard AS BIGINT) AS shard, CAST(rank AS BIGINT) AS rank,
       |  CAST(1 AS BIGINT) AS n_cells, n_members AS n_vectors,
       |  CAST(0 AS BIGINT) AS skew_e6
       | FROM sh
       | UNION ALL
       | SELECT '~SHARD_' || CAST(shard AS VARCHAR), 'shard',
       |  CAST(shard AS BIGINT), CAST(0 AS BIGINT), n_cells, n_vectors,
       |  CAST(CAST(n_vectors AS HUGEINT) * ${NumShards * 1000000L}
       |    // greatest(total, 1) AS BIGINT)
       | FROM per_shard CROSS JOIN tot
       | UNION ALL
       | SELECT '~TOTAL', 'total', CAST(-1 AS BIGINT), CAST(0 AS BIGINT),
       |  CAST(sum(n_cells) AS BIGINT), CAST(sum(n_vectors) AS BIGINT),
       |  CAST(max(CAST(CAST(n_vectors AS HUGEINT) * ${NumShards * 1000000L}
       |    // greatest(total, 1) AS BIGINT)) AS BIGINT)
       | FROM per_shard CROSS JOIN tot
       |) ORDER BY key""".stripMargin

  // ------------------- s23: probe routing fan-out over the shard plan

  /** s23: cells each probe routes to — the serving nprobe dial. */
  val RouteNprobe = 4

  /** `s23_route_fanout`: the routing audit that closes the serving loop
    * (build s3 → tune s20 → PLACE s22 → ROUTE s23): an IVF query fans
    * out to the shards holding its nprobe nearest cells, and per-query
    * fan-out times tail latency and network cost — the number a
    * placement is judged by UNDER TRAFFIC, which s22's static load
    * balance cannot see (perfectly balanced shards can still put every
    * probe's cells on [[NumShards]] different machines). Per probe: the
    * cells it routes to ([[RouteNprobe]] nearest, s20's ranked-prefix
    * model), the distinct shards those cells live on under s22's
    * serpentine placement (`n_shards` = the fan-out), and `fanout_e6` =
    * fan-out·1e6. Per shard (`~SHARD_k`): distinct cells touched,
    * distinct probes served, posting-list reads (`hits`), and its
    * `fanout_e6` = load share (hits·1e6 div total hits — 1e6/S =
    * balanced traffic, a hotter value says the HOT cells clustered).
    * `~TOTAL`: mean fan-out e6 (Σ per-probe fan-out·1e6 div probes).
    *
    * Scale: probe→cell ranking is the broadcast-model scan s20 uses
    * (model-sized, no join); the placement is [[serpentinePlacement]]'s
    * NumCells-row frame joined broadcast; everything after runs on
    * (probes × nprobe) rows, checkpointed once for its three grain
    * consumers. In production the placement map IS the index manifest —
    * the whole audit is metadata-sized except the (tiny) probe scan. */
  def s23RouteFanout(spark: SparkSession, dir: String): DataFrame = {
    val (cents, data) = kmeansWithData(spark, dir)
    RunOracles.pending("s23_route_fanout", dir, s23OracleSql(cents))
    val placed = serpentinePlacement(
      assignCells(data, cents).groupBy(col("cell"))
        .agg(count(lit(1)).as("n_members")))
    val eC = data
      .withColumn("_cos", cosineMatrix(col("embedding"), centroidMatrix(cents)))
    val topCells = slice(reverse(array_sort(scoredCells(cents, col("_cos")))),
      1, RouteNprobe)
    val routes = eC.filter(col("vec_id") < NumProbes)
      .select(col("vec_id").as("probe_id"),
        posexplode(transform(topCells, c => c.getField("cid"))))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("cell_rank"),
        col("col").as("cell"))
      .join(broadcast(placed.select(col("cell"), col("shard"))), Seq("cell"))
      .localCheckpoint(true) // probes x nprobe rows; 3 grain consumers
    val perProbe = routes.groupBy(col("probe_id"))
      .agg(countDistinct(col("cell")).as("n_cells"),
        countDistinct(col("shard")).as("n_shards"),
        count(lit(1)).as("hits"))
      .select(col("probe_id").cast("string").as("key"),
        lit("probe").as("grain"), lit(-1L).as("shard"), col("n_cells"),
        col("n_shards"), lit(1L).as("n_probes"), col("hits"),
        (col("n_shards") * 1000000L).as("fanout_e6"))
      .localCheckpoint(true) // probe grain; the total row re-reads it
    val totHits = routes.agg(count(lit(1)).as("total_hits"))
    val perShard = routes.groupBy(col("shard"))
      .agg(countDistinct(col("cell")).as("n_cells"),
        countDistinct(col("probe_id")).as("n_probes"),
        count(lit(1)).as("hits"))
      .crossJoin(broadcast(totHits))
      .select(concat(lit("~SHARD_"), col("shard").cast("string")).as("key"),
        lit("shard").as("grain"), col("shard"), col("n_cells"), lit(1L).as("n_shards"),
        col("n_probes"), col("hits"),
        expr("hits * 1000000 div greatest(total_hits, 1)").as("fanout_e6"))
    val totRow = routes
      .agg(countDistinct(col("cell")).as("n_cells"),
        countDistinct(col("shard")).as("n_shards"),
        countDistinct(col("probe_id")).as("n_probes"),
        count(lit(1)).as("hits"))
      .crossJoin(broadcast(
        perProbe.agg(sum(col("fanout_e6")).as("fsum"))))
      .select(lit("~TOTAL").as("key"), lit("total").as("grain"),
        lit(-1L).as("shard"), col("n_cells"), col("n_shards"),
        col("n_probes"), col("hits"),
        expr("fsum div greatest(n_probes, 1)").as("fanout_e6"))
    perProbe.unionByName(perShard).unionByName(totRow).orderBy(col("key"))
  }

  private def s23OracleSql(cents: Seq[(Long, Array[Long])]): String =
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |cells AS (
       | SELECT cid AS cell, CAST(count(*) AS BIGINT) AS n_members
       | FROM scored WHERE rn = 1 GROUP BY 1),
       |rk AS (
       | SELECT a.cell, a.n_members,
       |  1 + (SELECT count(*) FROM cells b
       |       WHERE b.n_members > a.n_members
       |          OR (b.n_members = a.n_members AND b.cell < a.cell)) AS rank
       | FROM cells a),
       |sh AS (
       | SELECT cell, n_members, rank,
       |  CASE WHEN ((rank - 1) // $NumShards) % 2 = 0
       |   THEN (rank - 1) % $NumShards
       |   ELSE ${NumShards - 1} - ((rank - 1) % $NumShards) END AS shard
       | FROM rk),
       |routes AS (
       | SELECT s.vec_id AS probe_id, s.rn AS cell_rank, s.cid AS cell,
       |  h.shard
       | FROM scored s JOIN sh h ON h.cell = s.cid
       | WHERE s.vec_id < $NumProbes AND s.rn <= $RouteNprobe),
       |pp AS (
       | SELECT probe_id, CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
       |  CAST(count(DISTINCT shard) AS BIGINT) AS n_shards,
       |  CAST(count(*) AS BIGINT) AS hits
       | FROM routes GROUP BY 1),
       |th AS (SELECT CAST(count(*) AS BIGINT) AS total_hits FROM routes),
       |ps AS (
       | SELECT shard, CAST(count(DISTINCT cell) AS BIGINT) AS n_cells,
       |  CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes,
       |  CAST(count(*) AS BIGINT) AS hits
       | FROM routes GROUP BY 1)
       |SELECT key, grain, shard, n_cells, n_shards, n_probes, hits,
       | fanout_e6 FROM (
       | SELECT CAST(probe_id AS VARCHAR) AS key, 'probe' AS grain,
       |  CAST(-1 AS BIGINT) AS shard, n_cells, n_shards,
       |  CAST(1 AS BIGINT) AS n_probes, hits, n_shards * 1000000 AS fanout_e6
       | FROM pp
       | UNION ALL
       | SELECT '~SHARD_' || CAST(shard AS VARCHAR), 'shard',
       |  CAST(shard AS BIGINT), n_cells, CAST(1 AS BIGINT), n_probes, hits,
       |  hits * 1000000 // greatest(total_hits, 1)
       | FROM ps CROSS JOIN th
       | UNION ALL
       | SELECT '~TOTAL', 'total', CAST(-1 AS BIGINT),
       |  CAST(count(DISTINCT cell) AS BIGINT),
       |  CAST(count(DISTINCT shard) AS BIGINT),
       |  CAST(count(DISTINCT probe_id) AS BIGINT), CAST(count(*) AS BIGINT),
       |  (SELECT CAST(sum(n_shards) AS BIGINT) * 1000000 FROM pp)
       |    // greatest((SELECT count(DISTINCT probe_id) FROM routes), 1)
       | FROM routes
       |) ORDER BY key""".stripMargin

  // ------------------- s24: sweep → Pareto frontier + marginal knee

  /** `s24_tuning_frontier`: the DECISION layer over s20's recall/cost
    * sweep — which nprobe settings are Pareto-efficient (no other
    * setting reaches ≥ recall at ≤ candidate cost with one strictly
    * better), and each step's marginal price (Δrecall per Δcandidate,
    * e6) — the number an operator reads to find the knee where another
    * probe stops paying. All integer arithmetic off the sweep's exact
    * e6 recalls and candidate counts; ties in the dominance test are
    * handled by the strictness clause, so the flag is deterministic.
    *
    * Scale: the sweep itself is s20's plan (probe-bounded candidate
    * generation; nothing fact-sized). The frontier math runs on the
    * ≤|budgets|-row sweep folded into ONE global aggregate
    * (sort_array(collect_list) — the p30 cursor idiom), then unrolled
    * by posexplode with per-row array lambdas for dominance and
    * element_at for the lag — no window, no self-join, and the only
    * generate roots in a 1-row aggregate (the sanctioned p17 shape). */
  def s24TuningFrontier(spark: SparkSession, dir: String): DataFrame = {
    val (cents, sweep) = s20Sweep(spark, dir)
    RunOracles.pending("s24_tuning_frontier", dir, s24OracleSql(cents))
    val chain = sweep.agg(sort_array(collect_list(struct(
      col("nprobe"), col("n_candidates"), col("recall_e6")))).as("ch"))
    chain
      .select(col("ch"), posexplode(col("ch")))
      .select(col("ch"), col("pos"),
        col("col.nprobe").as("nprobe"),
        col("col.n_candidates").as("cur_cand"),
        col("col.recall_e6").as("cur_recall"))
      .withColumn("is_pareto", expr(
        "CASE WHEN exists(ch, b -> (b.recall_e6 >= cur_recall AND " +
          "b.n_candidates <= cur_cand) AND (b.recall_e6 > cur_recall OR " +
          "b.n_candidates < cur_cand)) THEN 0L ELSE 1L END"))
      .withColumn("marg_candidates", expr(
        "cur_cand - CASE WHEN pos = 0 THEN 0L " +
          "ELSE element_at(ch, pos).n_candidates END"))
      .withColumn("marg_recall_e6", expr(
        "cur_recall - CASE WHEN pos = 0 THEN 0L " +
          "ELSE element_at(ch, pos).recall_e6 END"))
      .select(col("nprobe"), col("cur_cand").as("n_candidates"),
        col("cur_recall").as("recall_e6"), col("is_pareto"),
        col("marg_candidates"), col("marg_recall_e6"),
        expr("marg_recall_e6 * CAST(1000000 AS DECIMAL(38,0))" +
          " div greatest(marg_candidates, 1)")
          .as("marg_eff_e6"))
      .orderBy(col("nprobe"))
  }

  private def s24OracleSql(cents: Seq[(Long, Array[Long])]): String =
    s"""WITH sweep AS (
       |${s20OracleSql(cents)}
       |),
       |lagged AS (
       | SELECT nprobe, n_candidates, recall_e6,
       |  COALESCE(lag(n_candidates) OVER (ORDER BY nprobe), 0) AS pc,
       |  COALESCE(lag(recall_e6) OVER (ORDER BY nprobe), 0) AS pr
       | FROM sweep)
       |SELECT a.nprobe, a.n_candidates, a.recall_e6,
       | CASE WHEN EXISTS (SELECT 1 FROM sweep b
       |   WHERE b.recall_e6 >= a.recall_e6
       |    AND b.n_candidates <= a.n_candidates
       |    AND (b.recall_e6 > a.recall_e6
       |     OR b.n_candidates < a.n_candidates))
       |  THEN 0 ELSE 1 END AS is_pareto,
       | a.n_candidates - pc AS marg_candidates,
       | a.recall_e6 - pr AS marg_recall_e6,
       | (a.recall_e6 - pr) * 1000000
       |   // greatest(a.n_candidates - pc, 1) AS marg_eff_e6
       |FROM lagged a ORDER BY a.nprobe""".stripMargin

  // ------------------- s25: overfull-cell split / rebalance plan

  /** s25 overfull threshold, as a fraction of the mean cell size:
    * cap = ceil(9·N/(8·k)), i.e. 12.5% above mean. Deliberately tight —
    * the md5-uniform synthetic corpus yields near-balanced cells
    * (max/mean ≈ 1.2), so a production-loose 2x cap would never fire at
    * verification scale; a real drifting index trips ANY fixed fraction
    * eventually and the arithmetic is identical. */
  val RebalanceCapNum = 9L
  val RebalanceCapDen = 8L

  /** `s25_cell_rebalance`: the index-maintenance step between monitoring
    * (s12 sees cells drift hot) and placement (s22 packs whatever cells
    * exist): which IVF cells exceed the size cap, how many subcells each
    * splits into (`ceil(n/cap)`), and the post-split balance — planned
    * BEFORE tail latency pages anyone. Per cell: members, overfull flag,
    * subcell count, post-split cell size, and its own skew contribution
    * (`n·k·1e6/N`); `~TOTAL`: members, overfull count, cells after
    * splitting, the post-split max size, and the post-split imbalance
    * (`post_max·cells_after·1e6/N` — 1e6 = perfectly balanced). Skews
    * ride Decimal(38,0) internally and emit BIGINT via `div` (the q43
    * discipline — n·k wraps ~10¹⁷ vectors·cells).
    *
    * Scale: one assignment scan (broadcast-model cosineMatrix) ends at
    * the map-side-partial cell aggregate; everything after runs on
    * NumCells rows, checkpointed once for its two grain consumers; the
    * cap scalar is a 1-row broadcast (the q46 pattern). */
  def s25CellRebalance(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val (cents, data) = kmeansOver(e)
    RunOracles.pending("s25_cell_rebalance", dir, s25OracleSql(cents))
    val cells = assignCells(data, cents)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_members"))
    val scal = cells.agg(sum(col("n_members")).as("total"),
      count(lit(1)).as("k"))
    val per = cells.join(broadcast(scal))
      .withColumn("cap", expr(
        s"($RebalanceCapNum * total + $RebalanceCapDen * k - 1L)" +
          s" div ($RebalanceCapDen * k)"))
      .withColumn("overfull", (col("n_members") > col("cap")).cast("long"))
      .withColumn("n_subcells", expr(
        "CASE WHEN n_members > cap THEN (n_members + cap - 1L) div cap" +
          " ELSE 1L END"))
      .withColumn("post_members",
        expr("(n_members + n_subcells - 1L) div n_subcells"))
      .localCheckpoint(true) // NumCells rows; both grains below read it
    val rows = per.select(col("cell").cast("string").as("key"),
      lit("cell").as("grain"), col("n_members"), col("overfull"),
      col("n_subcells"), col("post_members"),
      expr("CAST(n_members AS DECIMAL(38,0)) * k * 1000000" +
        " div greatest(total, 1)").as("skew_e6"))
    val tot = per
      .agg(sum(col("n_members")).as("n_members"),
        sum(col("overfull")).as("overfull"),
        sum(col("n_subcells")).as("n_subcells"),
        max(col("post_members")).as("post_members"))
      .select(lit("~TOTAL").as("key"), lit("total").as("grain"),
        col("n_members"), col("overfull"), col("n_subcells"),
        col("post_members"),
        expr("CAST(post_members AS DECIMAL(38,0)) * n_subcells * 1000000" +
          " div greatest(n_members, 1)").as("skew_e6"))
    rows.unionByName(tot).orderBy(col("key"))
  }

  private def s25OracleSql(cents: Seq[(Long, Array[Long])]): String =
    s"""WITH cents(cid, cent) AS (VALUES
       |  ${centroidRowsSql(cents)}),
       |scored AS (
       | SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${cosSql("e.embedding", "c.cent")} DESC, c.cid) AS rn
       | FROM embeddings e CROSS JOIN cents c),
       |cells AS (
       | SELECT cid AS cell, CAST(count(*) AS BIGINT) AS n_members
       | FROM scored WHERE rn = 1 GROUP BY 1),
       |scal AS (SELECT CAST(sum(n_members) AS BIGINT) AS total,
       |  CAST(count(*) AS BIGINT) AS k FROM cells),
       |p AS (
       | SELECT cell, n_members, total, k,
       |  ($RebalanceCapNum * total + $RebalanceCapDen * k - 1)
       |    // ($RebalanceCapDen * k) AS cap
       | FROM cells CROSS JOIN scal),
       |p2 AS (
       | SELECT cell, n_members, total, k,
       |  CASE WHEN n_members > cap THEN 1 ELSE 0 END AS overfull,
       |  CASE WHEN n_members > cap THEN (n_members + cap - 1) // cap
       |   ELSE 1 END AS n_subcells
       | FROM p),
       |p3 AS (SELECT *,
       |  (n_members + n_subcells - 1) // n_subcells AS post_members
       | FROM p2)
       |SELECT key, grain, n_members, overfull, n_subcells, post_members,
       | skew_e6 FROM (
       | SELECT CAST(cell AS VARCHAR) AS key, 'cell' AS grain, n_members,
       |  CAST(overfull AS BIGINT) AS overfull,
       |  CAST(n_subcells AS BIGINT) AS n_subcells,
       |  CAST(post_members AS BIGINT) AS post_members,
       |  CAST(CAST(n_members AS HUGEINT) * k * 1000000
       |    // greatest(total, 1) AS BIGINT) AS skew_e6
       | FROM p3
       | UNION ALL
       | SELECT '~TOTAL', 'total', CAST(sum(n_members) AS BIGINT),
       |  CAST(sum(overfull) AS BIGINT), CAST(sum(n_subcells) AS BIGINT),
       |  CAST(max(post_members) AS BIGINT),
       |  CAST(CAST(max(post_members) AS HUGEINT) * sum(n_subcells)
       |    * 1000000 // greatest(sum(n_members), 1) AS BIGINT)
       | FROM p3
       |) ORDER BY key""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s25_cell_rebalance" -> (s25CellRebalance _),
    "s24_tuning_frontier" -> (s24TuningFrontier _),
    "s23_route_fanout" -> (s23RouteFanout _),
    "s22_shard_plan" -> (s22ShardPlan _),
    "s20_nprobe_sweep" -> (s20NprobeSweep _),
    "s19_graph_beam" -> (s19GraphBeam _),
    "s26_hnsw_layers" -> (s26HnswLayers _),
    "s27_hnsw_recall" -> (s27HnswRecall _),
    "s31_beam_sweep" -> (s31BeamSweep _),
    "s28_hnsw_insert" -> (s28HnswInsert _),
    "s29_hnsw_delete" -> (s29HnswDelete _),
    "s30_cascade_rerank" -> (s30CascadeRerank _),
    "s18_sq8_quantize" -> (s18Sq8Quantize _),
    "s1_ann_brute" -> (s1AnnBrute _),
    "s2_ann_lsh" -> (s2AnnLsh _),
    "s8_recall" -> (s8RecallEval _),
    "s21_rank_metrics" -> (s21RankMetrics _),
    "s3_ann_ivf" -> (s3AnnIvf _),
    "s4_ann_pq" -> (s4AnnPq _),
    "s5_knn_join" -> (s5KnnJoin _),
    "s7_ann_binary" -> (s7AnnBinary _),
    "s6_cluster_assign" -> (s6ClusterAssign _),
    "s10_nn_descent" -> (s10NnDescent _),
    "s11_index_delta" -> (s11IndexDelta _),
    "s12_index_drift" -> (s12IndexDrift _),
    "s13_rank_fusion" -> (s13RankFusion _),
    "s14_ivf_pq" -> (s14IvfPq _),
    "s15_hybrid_search" -> (s15HybridSearch _),
    "s16_filtered_ann" -> (s16FilteredAnn _),
    "s17_tombstone_plan" -> (s17TombstonePlan _),
    "s9_mmr_rerank" -> ((s: SparkSession, d: String) => s9MmrRerank(s, d)))
}
