package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` table (SURVEY.md §2 t1-t4):
  * token statistics, quality scoring, language ID, fingerprinting — the
  * per-document scoring pass of a training-data pipeline.
  *
  * Scale: every operator is a single narrow projection over the documents
  * scan — no shuffle, no UDF, all codegen'd regexp/array expressions — so
  * throughput is scan-bound and embarrassingly parallel at any SF.
  */
object TextAnalysis {

  /** `t1_text_stats`: token counts (whitespace + BPE-ish), char-class
    * counts, average token length. Every count is a `regexp_count` — a
    * matcher walk that allocates nothing per row — where the original
    * formulations (`size(regexp_extract_all(...))`, `length(
    * regexp_replace(...))`) built a token ARRAY / a rewritten STRING per
    * document only to take its size: identical values (a token count is
    * the number of `\S+` matches; a char-class count is the number of
    * single-char matches — the oracle keeps the replace form, the driver
    * hash pins equality), a fraction of the per-row garbage. The ws-token
    * and space counts are materialized once (each has two consumers). */
  def t1TextStats(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("n_ws_tokens", regexp_count(col("text"), lit("\\S+")).cast("long"))
      .withColumn("n_space", regexp_count(col("text"), lit(" ")).cast("long"))
      .select(
        col("doc_id"),
        col("lang"),
        col("n_chars"),
        col("n_ws_tokens"),
        regexp_count(col("text"), lit(BpeTokenPattern)).cast("long").as("n_bpe_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]")).cast("long").as("n_alpha"),
        regexp_count(col("text"), lit("[0-9]")).cast("long").as("n_digit"),
        col("n_space"),
        round((length(col("text")) - col("n_space")).cast("double") /
          greatest(col("n_ws_tokens"), lit(1L)), 4).as("avg_token_len"))

  /** Stopword lists per language profile (tiny, broadcast as literals into
    * the codegen'd plan — no join needed). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
    "es" -> Seq("el", "la", "de", "los", "y", "que", "en"),
    "fr" -> Seq("le", "la", "de", "les", "et", "que", "en"),
    "de" -> Seq("der", "die", "das", "und", "ist", "zu", "in"))

  private def stopCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words)))

  /** `t2_text_quality`: composite quality score from stopword ratio,
    * unique-token ratio, punctuation/digit ratios and a length norm — the
    * standard cheap pre-filter of a web-scale corpus. */
  def t2TextQuality(spark: SparkSession, dir: String): DataFrame = {
    // materialize the token array and the counts with >1 consumer — the
    // ratio expressions below are each referenced twice (their own e6
    // column + the composite score), and lambdas aren't
    // subexpression-eliminated, so the inline form re-ran split/filter/
    // distinct/regex once per consumer
    val base = Tables.load(spark, dir, "documents")
      .withColumn("toks", wsTokens(col("text")))
      .withColumn("_stop_cnt", stopCount(col("toks"), stopwords("en")))
      .withColumn("_uniq_cnt", size(array_distinct(col("toks"))))
      .withColumn("_punct_cnt", regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")))
    val nToks = greatest(size(col("toks")), lit(1)).cast("double")
    val nChars = greatest(length(col("text")), lit(1)).cast("double")
    val stopRatio = col("_stop_cnt").cast("double") / nToks
    val uniqRatio = col("_uniq_cnt").cast("double") / nToks
    val punctRatio = col("_punct_cnt").cast("double") / nChars
    val digitRatio = regexp_count(col("text"), lit("[0-9]")).cast("double") / nChars
    val lenNorm = least(length(col("text")).cast("double") / lit(500.0), lit(1.0))
    // floor-truncated micros (x1e6) integers: IEEE arithmetic is identical
    // in Spark and DuckDB so floor(x*1e6) is bit-stable, whereas decimal
    // round() of a double differs between engines at .5 boundaries.
    def e6(c: Column): Column = floor(c * 1000000d).cast("long")
    base
      .select(
        col("doc_id"),
        e6(stopRatio).as("stop_ratio_e6"),
        e6(uniqRatio).as("uniq_ratio_e6"),
        e6(punctRatio).as("punct_ratio_e6"),
        e6(digitRatio).as("digit_ratio_e6"),
        e6(lenNorm).as("len_norm_e6"),
        e6(lit(0.25) * (lit(1.0) - stopRatio) + lit(0.25) * uniqRatio
          + lit(0.3) * lenNorm + lit(0.2) * (lit(1.0) - punctRatio)).as("quality_score_e6"))
  }

  /** `t3_lang_id`: stopword-profile language ID with a CJK char override.
    * Deterministic argmax with fixed preference order on ties.
    *
    * The token array and each language's count are MATERIALIZED columns:
    * HOF lambda bodies are not subexpression-eliminated, so the previous
    * inline form re-ran the whitespace split once per language and every
    * stopword filter once per consumer (score column, max, tie-break) —
    * roughly a 10x multiplier on the dominant scan cost. As attributes,
    * each is computed once per row (multi-referenced non-trivial aliases
    * are exactly what CollapseProject declines to inline). */
  def t3LangId(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr")
    val withScores = Tables.load(spark, dir, "documents")
      .withColumn("toks", wsTokens(col("text")))
      .withColumns(langs.map(l =>
        s"score_$l" -> stopCount(col("toks"), stopwords(l)).cast("long")).toMap)
      .withColumn("score_zh_chars",
        regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("long"))
    val maxScore = greatest(langs.map(l => col(s"score_$l")): _*)
    // preference order breaks ties deterministically: de < en < es < fr.
    // coalesce takes the FIRST language hitting the max — same semantics as
    // a first-match fold, without building fold-round predicates (the old
    // `acc === "und"` form emitted a trivially-true `'und' == 'und'` Spark
    // warned about on every run)
    val predicted = when(col("score_zh_chars") > 0, lit("zh"))
      .otherwise(coalesce(
        langs.map(l =>
          when(col(s"score_$l") === maxScore && col(s"score_$l") > 0, lit(l)))
          :+ lit("und"): _*))
    val sel = col("doc_id") +: col("lang").as("labeled_lang") +:
      langs.map(l => col(s"score_$l")) :+
      col("score_zh_chars") :+ predicted.as("predicted_lang")
    withScores.select(sel: _*)
  }

  /** `t4_fingerprint`: md5-based 60-bit content fingerprint of the
    * normalized text plus an order-insensitive shingle-set fingerprint. */
  def t4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    // norm and the shingle array both have two consumers — materialized so
    // the normalize-regex and the shingle transform run once per row
    Tables.load(spark, dir, "documents")
      .withColumn("toks", wsTokens(col("text")))
      .withColumn("_norm", normText(col("text")))
      .withColumn("_sh", shingles3FromToks(col("toks")))
      .select(
        col("doc_id"),
        md5(col("_norm")).as("fp_hex"),
        md5Long60(col("_norm")).as("fp60"),
        md5Long60(concat_ws("\u0001", array_sort(col("_sh")))).as("shingle_fp60"),
        size(col("_sh")).cast("long").as("n_shingles"))

  /** `t5_hash_split`: deterministic train/val/test assignment by content
    * hash (md5 of doc_id mod 100 → 80/10/10) with per-source counts — the
    * reproducible dataset-split primitive of a training pipeline: stable
    * under reruns, shard-order independent, no RNG state to coordinate
    * across 1000 executors. */
  def t5HashSplit(spark: SparkSession, dir: String): DataFrame = {
    val split = when(docBucket(col("doc_id")) < 80, "train")
      .when(docBucket(col("doc_id")) < 90, "val").otherwise("test")
    Tables.load(spark, dir, "documents")
      .select(col("source"), split.as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("source"), col("split"))
  }

  /** Stable 0-99 bucket of an id — the hash-split / source-mix primitive
    * (DuckDB: CAST('0x'||substr(md5(id),1,15) AS BIGINT) % 100). */
  private def docBucket(idCol: Column): Column =
    md5Long60(idCol.cast("string")) % 100

  private def splitCol(idCol: Column): Column =
    when(docBucket(idCol) < 80, "train")
      .when(docBucket(idCol) < 90, "val").otherwise("test")

  /** `t6_decontaminate`: train/test contamination report — for every
    * eval-split document, how many train documents share at least one
    * 3-shingle with it and how many distinct shingles leak. The shingle
    * equi-join IS the blocking (posting lists), restricted to the
    * train x test split pair, so no cross join ever forms — the same shape
    * at 100 TB with 13-gram shingles. */
  def t6Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // hashed shingles (fused scan) as the join key — 8-byte longs through
    // the shuffle instead of ~25-char strings — and checkpointed, since
    // both join sides derive from the same scan (otherwise the
    // tokenize+shingle pass runs once per side). The oracle hashes its
    // shingles identically, so distinct counts agree bit-for-bit.
    val sh = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), splitCol(col("doc_id")).as("split"),
        wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), col("split"),
        explode(hashedShingles3FromToks(col("toks"))).as("h"))
      .filter(col("split").isin("train", "test"))
      .localCheckpoint(true)
    val train = sh.filter(col("split") === "train")
      .select(col("doc_id").as("train_doc_id"), col("h"))
    val test = sh.filter(col("split") === "test")
      .select(col("doc_id").as("test_doc_id"), col("h"))
    test.join(train, Seq("h"))
      .groupBy(col("test_doc_id"))
      .agg(
        countDistinct(col("train_doc_id")).as("n_train_docs"),
        countDistinct(col("h")).as("n_shared_shingles"))
      .orderBy(col("test_doc_id"))
  }

  /** PII patterns — valid and equivalent in both Java regex (Spark) and
    * RE2 (DuckDB): no backrefs, no lookaround. Replacement order is part
    * of the contract (emails first — an address may embed a digit run). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  val LongIdRe = "\\b\\d{9,}\\b"

  /** `t7_pii_redact`: PII scrub — count and redact emails, phone numbers
    * and long digit runs (account/SSN-shaped) per document. The standard
    * pre-training privacy pass: a narrow codegen'd projection, no UDFs,
    * no shuffle; the redacted text itself never leaves the scan (only its
    * md5 does, which also lets the oracle verify the exact redaction
    * byte-for-byte). Counts are RAW-TEXT match counts, not
    * redactions-applied: an email whose local part is a long digit run is
    * counted by both patterns but consumed by the (first) email
    * replacement. The synthetic corpus contains no PII — counts are
    * verified as exact zeros and the redaction md5s as identity — while
    * `TextAnalysisSpec` plants real PII and checks the rewriting. */
  def t7PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val redacted = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      LongIdRe, "<ID>")
    Tables.load(spark, dir, "documents")
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
        regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
        regexp_count(col("text"), lit(LongIdRe)).cast("long").as("n_long_ids"),
        md5(redacted).as("redacted_md5"))
  }

  /** `t8_repetition`: repetition metrics per document — the Gopher-style
    * repetition filters of a training pipeline: fraction of 3-grams that
    * are duplicates, and the most frequent token's share. The top-token
    * count is the longest equal run of the SORTED token array, computed
    * in one O(n log n) fold per row (a naive distinct×occurrences scan is
    * quadratic per document, which a 50k-token web page would feel); no
    * shuffle, everything stays in the scan. */
  def t8Repetition(spark: SparkSession, dir: String): DataFrame = {
    val n = size(col("toks"))
    val n3 = greatest(n - 2, lit(0))
    val distinct3 = size(shingles3FromToks(col("toks")))
    // longest equal-adjacent run of the sorted tokens == max occurrence
    // count of any token; empty arrays fold to the zero state's best = 0
    val topN = aggregate(
      array_sort(col("toks")),
      struct(lit(null).cast("string").as("prev"), lit(0).as("cur"), lit(0).as("best")),
      (acc, x) => {
        val cur2 = when(x === acc.getField("prev"), acc.getField("cur") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), cur2.as("cur"),
          greatest(acc.getField("best"), cur2).as("best"))
      },
      acc => acc.getField("best"))
    def e6(c: Column): Column = floor(c * 1000000d).cast("long")
    Tables.load(spark, dir, "documents")
      .withColumn("toks", wsTokens(col("text")))
      .withColumn("_n3", n3)
      .withColumn("_d3", distinct3)
      .withColumn("_top", topN)
      .select(
        col("doc_id"),
        n.cast("long").as("n_toks"),
        col("_n3").cast("long").as("n_3grams"),
        col("_d3").cast("long").as("n_distinct_3grams"),
        when(col("_n3") > 0,
          e6(lit(1.0) - col("_d3").cast("double") / col("_n3").cast("double")))
          .otherwise(lit(0L)).as("dup_3gram_ratio_e6"),
        col("_top").cast("long").as("top_tok_n"),
        when(n > 0, e6(col("_top").cast("double") / n.cast("double")))
          .otherwise(lit(0L)).as("top_tok_ratio_e6"))
  }

  /** `t9_source_mix`: deterministic per-source downsampling — the domain
    * mixing step of corpus assembly. Each source gets a keep-rate (here a
    * fixed policy derived from the source id; in production a config),
    * and a document survives iff its stable md5 bucket falls under the
    * rate — rerun-stable, shard-order independent, no RNG state, same
    * machinery as `t5_hash_split`. Output is the per-source audit:
    * configured rate, totals, kept. */
  def t9SourceMix(spark: SparkSession, dir: String): DataFrame = {
    // total on ANY source value: a digitless source has no capture -> ""
    // -> null cast -> rate 30 (the base rate), mirrored in the oracle
    val ratePct = lit(30L) +
      (coalesce(regexp_extract(col("source"), "(\\d+)", 1).cast("long"), lit(0L)) % 10) * lit(5L)
    Tables.load(spark, dir, "documents")
      .select(col("source"), ratePct.as("rate_pct"), docBucket(col("doc_id")).as("_b"))
      .groupBy(col("source"), col("rate_pct"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("_b") < col("rate_pct"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy(col("source"))
  }

  /** t15: exact per-stratum sample size. */
  val StratQuota = 10

  /** Row shape fed through the t15 bounded-heap sampler. */
  final case class StratRow(source: String, rank_h: Long, doc_id: Long)

  /** `t15_stratified_sample`: EXACT per-stratum quota sampling — every
    * source contributes `min(quota, stratum size)` documents, chosen by a
    * salted md5 rank so the pick is uniform-ish, deterministic, and
    * reproducible forever (the curation counterpart of t9's RATE-based
    * mixing: t9 keeps a deterministic fraction, t15 a deterministic
    * COUNT — the "N examples per domain" eval/finetune set builder).
    *
    * Shape: per-stratum top-k through the q16 bounded-heap Aggregator,
    * NOT a `row_number` window — the window form shuffles and sorts every
    * row of every stratum, while the aggregator reduces each task's rows
    * to k before the exchange, so the shuffle carries `strata × k` rows
    * no matter how large the corpus (the formulation that survives a
    * 100 TB stratum). Order within the heap is (md5 rank, doc_id) — a
    * total order, so ties cannot make the cut nondeterministic. */
  def t15StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Tables.load(spark, dir, "documents")
      .select(col("source"),
        md5Long60(concat(lit("t15|"), col("doc_id").cast("string"))).as("rank_h"),
        col("doc_id"))
      .as[StratRow]
    val byRank: (StratRow, StratRow) => Boolean = (a, b) =>
      a.rank_h < b.rank_h || (a.rank_h == b.rank_h && a.doc_id < b.doc_id)
    val agg = new TopK.TopKAggregator[StratRow](StratQuota, byRank)
    rows.groupByKey(_.source)
      .agg(agg.toColumn.name("pick"))
      .flatMap { case (_, pick) =>
        pick.zipWithIndex.map { case (s, i) => (s.source, i + 1L, s.doc_id) }
      }
      .toDF("source", "sample_rank", "doc_id")
      .orderBy(col("source"), col("sample_rank"))
  }

  private val t15OracleSql: String =
    s"""SELECT source, sample_rank, doc_id FROM (
       | SELECT source, doc_id,
       |  row_number() OVER (PARTITION BY source ORDER BY
       |   CAST(('0x' || substr(md5('t15|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
       |   doc_id) AS sample_rank
       | FROM documents)
       |WHERE sample_rank <= $StratQuota
       |ORDER BY source, sample_rank""".stripMargin

  /** `t16_lm_score`: corpus-bigram language-model pseudo-likelihood per
    * document — the CCNet-style quality signal: documents whose token
    * transitions are typical of the corpus score high, word-salad and
    * boilerplate-mangled text score low. The "model" is the corpus itself
    * (bigram count over prefix-occurrence count = P(w2|w1), estimated and
    * applied in one job), so the operator is self-contained: two
    * map-side-partial aggregations build the conditional table, the
    * doc-bigram stream joins it on hashed string keys (AQE broadcasts the
    * model while it fits; at web scale it hash-joins — never a cross
    * join), and one groupBy(doc_id) folds per-transition scores into the
    * doc verdict. Scores are floor-e6 integers of integer ratios — the
    * libm-free discipline t10/t13 use — so the result hash-matches any
    * engine. Per-doc outputs: transition count, mean conditional
    * (the LM score), and the rarest transition (novelty/garbage spike). */
  def t16LmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("toks", wsTokens(col("text")))
    // bigram OCCURRENCES per doc (t10's construction, doc_id kept).
    // Deliberately NOT materialized: the fact-sized frame is recomputed by
    // its two consumers (round 6 eagerly localCheckpoint'd it, which made
    // every bench rep deposit the whole exploded bigram stream in the
    // block manager — exactly the state accumulation a repeated job must
    // not carry; two column-pruned scans are the stateless price)
    def docBg = docs.select(col("doc_id"), explode(bigramsFromToks(col("toks"))).as("bg"))
    // the LM model itself — distinct-bigram-sized, the operator's one
    // irreducible state — IS worth pinning: two consumers below (prefix
    // marginalization + the scoring join) would otherwise each rebuild it
    // from a full docBg pass
    val bgModel = docBg.groupBy(col("bg")).agg(count(lit(1)).as("c_bg"))
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .localCheckpoint(true)
    // prefix counts by MARGINALIZING the bigram model (sum of c_bg per
    // prefix == direct count of prefix occurrences): model-sized input,
    // so the third full docBg aggregation round 5/6 paid disappears
    val prefModel = bgModel.groupBy(col("w1")).agg(sum(col("c_bg")).as("c_w1"))
    // P(w2|w1) in floor-e6: c_bg <= c_w1 by construction, so <= 1e6;
    // w1 rides in on the bg join key — doc rows never split strings
    val scored = docBg
      .join(bgModel, Seq("bg"))
      .join(prefModel, Seq("w1"))
      .withColumn("r_e6",
        floor(col("c_bg") * lit(1000000.0) / col("c_w1")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("r_e6")).as("sum_r"), min(col("r_e6")).as("min_cond_e6"))
      .withColumn("lm_score_e6", expr("sum_r div n_bigrams"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_score_e6"), col("min_cond_e6"))
      .orderBy(col("doc_id"))
  }

  // lazy: toksCaseSql is declared later in this object
  private lazy val t16OracleSql: String =
    s"""WITH d AS (SELECT doc_id, $toksCaseSql AS toks FROM documents),
       |db AS (
       | SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS bg
       |  FROM d)),
       |bgm AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_bg FROM db GROUP BY bg),
       |pm AS (SELECT w1, CAST(count(*) AS BIGINT) AS c_w1 FROM db GROUP BY w1),
       |s AS (
       | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(CAST(floor(c_bg * 1000000.0 / c_w1) AS BIGINT)) AS BIGINT) AS sum_r,
       |  min(CAST(floor(c_bg * 1000000.0 / c_w1) AS BIGINT)) AS min_cond_e6
       | FROM db JOIN bgm USING (bg) JOIN pm USING (w1) GROUP BY doc_id)
       |SELECT doc.doc_id AS doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams,
       | s.sum_r // s.n_bigrams AS lm_score_e6, s.min_cond_e6 AS min_cond_e6
       |FROM documents doc LEFT JOIN s USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** t19: t16's scores as a CTE (its own ORDER BY is legal there), the
    * identical rank/bucket integer arithmetic over the ascending
    * (score, doc_id) order. */
  private lazy val t19OracleSql: String =
    s"""WITH t16 AS (
       |$t16OracleSql),
       |sc AS (
       | SELECT t16.doc_id, d.source, t16.lm_score_e6
       | FROM t16 JOIN documents d USING (doc_id) WHERE t16.n_bigrams > 0),
       |r AS (
       | SELECT doc_id, source, lm_score_e6,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY lm_score_e6, doc_id) AS BIGINT) AS rank_in_source,
       |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_scored
       | FROM sc),
       |v AS (
       | SELECT *, ((n_scored - rank_in_source) * 3) // n_scored AS bucket FROM r)
       |SELECT d.doc_id, d.source, v.lm_score_e6, v.rank_in_source, v.n_scored,
       | v.bucket,
       | CAST(CASE WHEN v.bucket <= 1 THEN 1 ELSE 0 END AS BIGINT) AS is_kept
       |FROM documents d LEFT JOIN v USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** t21 pair depth per source and the minimum e6 quality gap a shipped
    * pair must carry (a zero-margin pair teaches a preference model
    * nothing). */
  val PrefK = 5
  val MinMarginE6 = 1L

  /** `t21_preference_pairs`: preference-pair mining — the DPO /
    * reward-model data-prep step that turns a SCORED corpus into
    * (chosen, rejected) training pairs: within each source, the i-th
    * BEST document by t19's LM-score rank pairs with the i-th WORST
    * (i ≤ [[PrefK]]), giving [[PrefK]] maximally-separated, rank-aligned
    * pairs per source instead of the k² cross product; pairs must be two
    * distinct docs with a margin ≥ [[MinMarginE6]] (both degenerate when
    * a source has < 2 scored docs — filtered, not invented). Margins are
    * exact e6-integer differences of t19's scores.
    *
    * Scale: all ranking work is t19's distributed machinery; the pairing
    * itself joins two PrefK-per-source slices on (source, pair_idx) —
    * probe-sized both sides, nothing fact-grained moves. */
  def t21PreferencePairs(spark: SparkSession, dir: String): DataFrame = {
    val sc = t19PerplexityPrune(spark, dir)
      .filter(col("rank_in_source").isNotNull)
      .select(col("source"), col("doc_id"), col("lm_score_e6"),
        col("rank_in_source"), col("n_scored"))
      .localCheckpoint(true) // both pair sides read it
    val chosen = sc.filter(col("rank_in_source") > col("n_scored") - PrefK)
      .select(col("source"),
        (col("n_scored") - col("rank_in_source") + 1).as("pair_idx"),
        col("doc_id").as("chosen_id"), col("lm_score_e6").as("chosen_score_e6"))
    val rejected = sc.filter(col("rank_in_source") <= PrefK)
      .select(col("source"), col("rank_in_source").as("pair_idx"),
        col("doc_id").as("rejected_id"), col("lm_score_e6").as("rejected_score_e6"))
    chosen.join(rejected, Seq("source", "pair_idx"))
      .withColumn("margin_e6", col("chosen_score_e6") - col("rejected_score_e6"))
      .filter(col("chosen_id") =!= col("rejected_id") &&
        col("margin_e6") >= MinMarginE6)
      .select(col("source"), col("pair_idx"), col("chosen_id"),
        col("rejected_id"), col("chosen_score_e6"), col("rejected_score_e6"),
        col("margin_e6"))
      .orderBy(col("source"), col("pair_idx"))
  }

  private lazy val t21OracleSql: String =
    s"""WITH t19 AS (
       |$t19OracleSql),
       |sc AS (SELECT * FROM t19 WHERE rank_in_source IS NOT NULL),
       |c AS (
       | SELECT source, n_scored - rank_in_source + 1 AS pair_idx,
       |  doc_id AS chosen_id, lm_score_e6 AS chosen_score_e6
       | FROM sc WHERE rank_in_source > n_scored - $PrefK),
       |rj AS (
       | SELECT source, rank_in_source AS pair_idx,
       |  doc_id AS rejected_id, lm_score_e6 AS rejected_score_e6
       | FROM sc WHERE rank_in_source <= $PrefK)
       |SELECT c.source AS source, c.pair_idx AS pair_idx, c.chosen_id, rj.rejected_id,
       | c.chosen_score_e6, rj.rejected_score_e6,
       | c.chosen_score_e6 - rj.rejected_score_e6 AS margin_e6
       |FROM c JOIN rj ON rj.source = c.source AND rj.pair_idx = c.pair_idx
       |WHERE c.chosen_id != rj.rejected_id
       | AND c.chosen_score_e6 - rj.rejected_score_e6 >= $MinMarginE6
       |ORDER BY source, c.pair_idx""".stripMargin

  val MinPairCount = 3 // t10: bigram must occur this often to be scored
  val TopCollocations = 50 // t10: report size

  /** `t10_collocations`: corpus-level collocation mining — the top bigrams
    * by lift (observed co-occurrence over the independence expectation),
    * the n-gram-LM / tokenizer-merge-candidate statistic of a training
    * pipeline. Two map-side-partial aggregations (unigram + bigram counts)
    * over the corpus scan, a scalar totals row cross-joined back, unigram
    * counts joined to each bigram end (AQE broadcasts the vocab side while
    * it fits; at web scale it hash-joins), and a global top-50 that plans
    * as TakeOrderedAndProject — per-partition heaps, no global sort.
    *
    * Lift instead of log-PMI on purpose: lift is pure IEEE mul/div of
    * integer-derived doubles — bit-identical in any engine — while ln()
    * is libm-implementation-specific and could flip a floor-e6 digit.
    * Ordering ties break on the floored integer then the words, so the
    * top-50 cut is deterministic. */
  def t10Collocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .withColumn("toks", wsTokens(col("text")))
    val bigrams = docs.select(explode(bigramsFromToks(col("toks"))).as("bg"))
    val uni = docs.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bigAll = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
    val big = bigAll.filter(col("c12") >= MinPairCount)
    // n2 is the UNFILTERED bigram total: P(w1 w2) is relative to the whole
    // corpus, not to the pairs that happened to clear the report threshold
    val totals = uni.agg(sum(col("c")).as("n1"))
      .crossJoin(broadcast(bigAll.agg(sum(col("c12")).as("n2"))))
    // lift = P(w1 w2) / (P(w1) * P(w2)); every factor is a long-derived
    // double, the op tree mirrors the oracle SQL exactly
    val lift = (col("c12").cast("double") / col("n2").cast("double")) /
      ((col("c1").cast("double") / col("n1").cast("double")) *
        (col("c2").cast("double") / col("n1").cast("double")))
    big
      .withColumn("w1", element_at(split(col("bg"), " "), 1))
      .withColumn("w2", element_at(split(col("bg"), " "), 2))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12").as("pair_count"),
        col("c1").as("w1_count"), col("c2").as("w2_count"),
        floor(lift * lit(1000000.0)).cast("long").as("lift_e6"))
      .orderBy(col("lift_e6").desc, col("w1"), col("w2"))
      .limit(TopCollocations)
  }

  /** t11 rule list — evaluation ORDER is part of the contract (a document
    * is attributed to the FIRST rule it fails, C4/Gopher style). All six
    * predicates are integer comparisons (ratio thresholds cross-multiplied)
    * so the oracle agrees exactly, no float boundaries. Rules 3 and 6 drop
    * zero documents on the synthetic corpus — verified AS zeros, the same
    * way t7 verifies the no-PII corpus — while `TextAnalysisSpec` plants
    * failing docs for every rule. */
  // high_digit precedes low_alpha: digit ratio > 0.2 IMPLIES alpha ratio
  // < 0.81 (they share the denominator), so the opposite order would
  // starve the digit rule of every document it exists to catch
  val FilterRules: Seq[(Int, String)] = Seq(
    1 -> "min_tokens", 2 -> "max_chars", 3 -> "high_digit",
    4 -> "low_alpha", 5 -> "few_stopwords", 6 -> "repetitive")

  // t11 thresholds, shared by the Spark plan and the oracle SQL
  val MinTokens = 20
  val MaxChars = 450
  val AlphaPct = 81 // low_alpha: alpha_chars / len < 0.81
  val MinStopwords = 2

  /** `t11_filter_funnel`: the quality-filter chain of a pre-training
    * corpus, reported as a funnel — per rule, how many documents reached
    * it, how many it dropped, how many survived. One scan computes every
    * per-document metric, one map-side-partial aggregation counts docs per
    * first-failing rule, and the funnel arithmetic runs on the 7-row
    * result (the single-partition window is over the RULE table, bounded
    * forever — never over documents). */
  /** The t11 rule chain as a per-document verdict: the input documents
    * frame plus a `fail_idx` column (0 = survives every rule, else the
    * FIRST failing rule's index) — the seam [[t11FilterFunnel]] audits
    * through and the corpus pipeline's filter stage keeps by. */
  private[graft] def withFirstFail(docsIn: DataFrame): DataFrame = {
    val docs = docsIn
      .withColumn("toks", wsTokens(col("text")))
      .withColumn("_n", size(col("toks")))
      .withColumn("_len", length(col("text")))
      .withColumn("_alpha", regexp_count(col("text"), lit("[A-Za-z]")))
      .withColumn("_digit", regexp_count(col("text"), lit("[0-9]")))
      .withColumn("_stop", stopCount(col("toks"), stopwords("en")))
      .withColumn("_n3", greatest(col("_n") - 2, lit(0)))
      .withColumn("_d3", size(shingles3FromToks(col("toks"))))
    val firstFail =
      when(col("_n") < MinTokens, 1) // too few tokens
        .when(col("_len") > MaxChars, 2) // too long
        .when(col("_digit") * 5 > col("_len"), 3) // digit ratio > 0.2
        .when(col("_alpha") * 100 < col("_len") * AlphaPct, 4) // alpha ratio < 0.81
        .when(col("_stop") < MinStopwords, 5) // too few stopwords
        .when(col("_d3") * 20 < col("_n3") * 19, 6) // dup-3gram ratio > 0.05
        .otherwise(0)
    docs.withColumn("fail_idx", firstFail)
  }

  /** The documents that survive the whole t11 rule chain, original
    * columns only — the corpus-pipeline filter stage's output. */
  def filterKept(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(spark, dir, "documents")
    withFirstFail(src).filter(col("fail_idx") === 0)
      .select(src.columns.map(col): _*)
  }

  /** The t5 split rule on any id column (train/val/test by stable md5
    * bucket) — shared with the corpus pipeline's split stage. */
  def splitOf(idCol: Column): Column = splitCol(idCol)

  def t11FilterFunnel(spark: SparkSession, dir: String): DataFrame = {
    val docs = withFirstFail(Tables.load(spark, dir, "documents"))
    val drops = docs.select(col("fail_idx"))
      .groupBy(col("fail_idx")).agg(count(lit(1)).as("n"))
    val rulesDf = {
      import spark.implicits._
      FilterRules.toDF("rule_idx", "rule")
    }
    val total = drops.agg(sum(col("n")).as("n_total"))
    import org.apache.spark.sql.expressions.Window
    // deliberately unpartitioned: the frame is the 6-row rule table — one
    // partition IS the design (PlanSpec's global pin asserts the input is
    // rule-grained; the harness mains silence WindowExec's warning)
    val wPrev = Window.orderBy(col("rule_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    rulesDf
      .join(drops, col("rule_idx") === col("fail_idx"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n_dropped", coalesce(col("n"), lit(0L)))
      .withColumn("n_in",
        col("n_total") - coalesce(sum(col("n_dropped")).over(wPrev), lit(0L)))
      .select(col("rule_idx").cast("long").as("rule_idx"), col("rule"),
        col("n_in"), col("n_dropped"),
        (col("n_in") - col("n_dropped")).as("n_out"))
      .orderBy(col("rule_idx"))
  }

  val BinTokens = 1024L // t12: training-sequence token budget

  /** `t12_sequence_pack`: concat-and-chunk sequence packing — the step
    * that turns a document corpus into fixed-token-budget training
    * sequences. Documents are laid on one global token tape in a
    * deterministic shuffle order (md5 of doc_id — rerun-stable, no RNG),
    * and each doc's tape offset tells which bins it lands in (documents
    * split across bin boundaries, GPT-pretraining style).
    *
    * The tape offset is an EXCLUSIVE PREFIX SUM over a global order —
    * the textbook case where the naive form (one `Window.orderBy` with no
    * partitions) collapses to a single task. This is the distributed
    * form, [[PrefixSum]]: any partition count produces byte-identical
    * results (asserted in spec with 3 vs 7 ranges); per-range window
    * state is corpus/ranges rows — ranges scale with the cluster. */
  def t12SequencePack(spark: SparkSession, dir: String): DataFrame =
    t12SequencePackRanged(spark, dir, 0)

  /** [[t12SequencePack]] with an explicit range count (0 = session
    * default) — the spec's partition-invariance hook. */
  def t12SequencePackRanged(spark: SparkSession, dir: String, ranges: Int): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("key"),
        size(wsTokens(col("text"))).cast("long").as("n_toks"))
      .filter(col("n_toks") > 0) // zero-token docs occupy no tape
    PrefixSum(base, Seq(col("key"), col("doc_id")), None, ranges)
      .runningSums("n_toks" -> "tok_end")
      .withColumn("tok_offset", col("tok_end") - col("n_toks"))
      .select(col("doc_id"), col("n_toks"), col("tok_offset"),
        expr(s"tok_offset div $BinTokens").as("start_bin"),
        expr(s"(tok_offset + n_toks - 1) div $BinTokens").as("end_bin"),
        (col("tok_offset") % BinTokens).as("bin_offset"))
      .orderBy(col("tok_offset"))
  }

  val TopKeywords = 3 // t13: keywords reported per document

  /** `t13_tfidf_keywords`: per-document keyword extraction — each
    * document's top terms by a tf·idf weight, the signature/routing
    * statistic of corpus curation (topic bucketing, near-dup triage,
    * retrieval keys). Weight is tf × (N / df) — the LOG-FREE idf
    * surrogate, for the same reason t10 ranks by lift instead of PMI:
    * every factor is an integer-derived double and the op tree is pure
    * IEEE mul/div, bit-identical in any engine, while ln() is
    * libm-implementation-specific and could flip a floor-e6 digit.
    *
    * Scale: term frequencies and document frequencies are two map-side-
    * partial aggregations over one exploded token scan (df aggregates the
    * ALREADY doc-distinct tf rows — never a distinct over raw tokens);
    * the vocab join runs on `term` (AQE broadcasts the df side while it
    * fits, hash-joins at web scale), and the per-document top-k is a
    * row_number window partitioned by doc_id — per-doc frames, no global
    * sort. Ties break on the floored weight then the term string, so the
    * cut is deterministic. */
  def t13TfidfKeywords(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    // tf rows are distinct (doc, term) by construction, so df is a plain
    // count — the expensive distinct already happened in the tf aggregate
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val wTop = Window.partitionBy(col("doc_id"))
      .orderBy(col("weight_e6").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("weight_e6",
        floor(col("tf").cast("double") * col("n_docs").cast("double") /
          col("df").cast("double") * lit(1000000.0)).cast("long"))
      .withColumn("kw_rank", row_number().over(wTop).cast("long"))
      .filter(col("kw_rank") <= TopKeywords)
      .select(col("doc_id"), col("kw_rank"), col("term"),
        col("tf"), col("df"), col("weight_e6"))
      .orderBy(col("doc_id"), col("kw_rank"))
  }

  /** t17 window geometry: 32-token chunks every 24 tokens — an 8-token
    * overlap so no boundary-spanning span is lost to the cut. Real
    * deployments size these to the model context; the stride < window
    * relation is what the operator is about. */
  val ChunkTokens = 32
  val ChunkStride = 24

  /** `t17_context_chunks`: sliding-window chunking of long documents —
    * the SPLITTING half of the sequence-budget story whose CONCAT half is
    * t12 (pack short docs into bins): embedding/RAG indexing and
    * long-document pretraining both consume fixed-size overlapping
    * windows, not whole documents. Each doc's token sequence yields
    * windows of [[ChunkTokens]] every [[ChunkStride]] tokens (overlap =
    * window − stride, so a span crossing a cut survives whole in the next
    * window); the final window is the short tail remainder, never an
    * empty or fully-redundant one. Per chunk: token span, char count, an
    * md5 fingerprint of the space-joined window (what a downstream embed
    * or dedup stage keys on — the chunk itself is reconstructable from
    * (doc_id, tok_start), so only constant-width rows leave the scan).
    * Zero-token docs emit no chunks (same rule as t12's tape).
    *
    * Scale: one narrow documents scan with a per-doc fan-out bounded by
    * n_tokens/stride — no shuffle, no join, no window function; the
    * chunk text exists only transiently inside the scan projection. The
    * trailing orderBy is the deterministic verification tail. */
  def t17ContextChunks(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")).cast("long"))
      .filter(col("n") > 0)
      // ceil((n - W)/S) + 1 tail-aligned windows; a doc at or under one
      // window is exactly one chunk
      .withColumn("nc", when(col("n") <= ChunkTokens, lit(1L))
        .otherwise(expr(
          s"(n - $ChunkTokens + $ChunkStride - 1) div $ChunkStride + 1")))
    base
      .withColumn("chunk_id", explode(sequence(lit(0L), col("nc") - 1)))
      .withColumn("tok_start", col("chunk_id") * ChunkStride)
      .withColumn("chunk_text", concat_ws(" ",
        slice(col("toks"), (col("tok_start") + 1).cast("int"), lit(ChunkTokens))))
      .select(col("doc_id"), col("chunk_id"), col("tok_start"),
        (least(col("n"), col("tok_start") + ChunkTokens) - col("tok_start"))
          .as("n_tokens"),
        length(col("chunk_text")).cast("long").as("n_chars"),
        md5(col("chunk_text")).as("fp"),
        when(col("chunk_id") === col("nc") - 1, 1L).otherwise(0L).as("is_last"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  // ---------------------------------------------------------------- t18

  /** t18 hashed-feature-space size — DSIR's hashed-n-gram dimensionality
    * dial, scaled to this corpus (bigram occurrences ≈ 50/doc). */
  val ImpBuckets = 4096L
  /** The target-domain rule: sources whose numeric id is ≡ 0 (mod 5) —
    * the "curated slice" convention (same source-id arithmetic family as
    * t9's rate policy): 4 of the 20 shipped sources, so the target is a
    * real minority domain, not half the corpus. */
  val ImpTargetMod = 5L

  /** `t18_importance_weights`: DSIR-style data selection for domain
    * matching — per-document importance weights from hashed-n-gram
    * frequency ratios between a TARGET domain and the RAW corpus ("Data
    * Selection for Language Models via Importance Resampling" re-expressed
    * in this engine's exact-integer idiom). t9 picks per-source RATES and
    * t15 per-source QUOTAS; t18 scores individual DOCUMENTS by how
    * target-like their content is, the knob that upsamples in-domain text
    * wherever it lives.
    *
    * Features are word bigrams (every occurrence, not distinct — DSIR
    * weights are frequency ratios) hashed into [[ImpBuckets]] buckets by
    * the shared 60-bit md5. Per bucket, Laplace-smoothed occurrence
    * probabilities under target and raw give an integer ratio
    * `ratio_e6 = ((n_t+1)(T_r+B)·1e6) div ((n_r+1)(T_t+B))`; a document's
    * weight is the MEAN ratio of its bigrams (`div`, floor semantics) —
    * the log-free monotone surrogate of DSIR's log-likelihood-ratio sum,
    * chosen so Spark and DuckDB compute bit-identical BIGINTs end to end.
    * Docs with no bigram carry a null weight (nothing measured, not
    * "weight 0"). `is_target` rides along so the result is
    * self-describing (target docs should skew high — spec-asserted).
    *
    * Scale: one tokenize scan feeds three aggregates — bucket stats
    * ([[ImpBuckets]] rows), a 1-row total, and the per-doc sum; the model
    * (bucket ratio table) is broadcast back, never shuffled with facts.
    * All pair-free: cost is O(corpus bigrams) + doc-count-sized output. */
  def t18ImportanceWeights(spark: SparkSession, dir: String): DataFrame = {
    val isTarget =
      coalesce(regexp_extract(col("source"), "(\\d+)", 1).cast("long"), lit(0L)) % ImpTargetMod === 0
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), wsTokens(col("text")).as("toks"))
    val grams = docs
      .select(col("doc_id"), when(isTarget, 1L).otherwise(0L).as("is_target"),
        explode(bigramsFromToks(col("toks"))).as("gram"))
      .select(col("doc_id"), col("is_target"),
        (md5Long60(col("gram")) % ImpBuckets).as("b"))
      .localCheckpoint(true) // 3 consumers: bucket stats, totals, per-doc sum
    val totals = grams.agg(count(lit(1)).as("tr"), sum(col("is_target")).as("tt"))
    val ratios = grams.groupBy(col("b"))
      .agg(count(lit(1)).as("n_r"), sum(col("is_target")).as("n_t"))
      .crossJoin(broadcast(totals))
      .select(col("b"), expr(
        s"((n_t + 1) * (tr + $ImpBuckets) * 1000000) div ((n_r + 1) * (tt + $ImpBuckets))")
        .as("ratio_e6"))
    val perDoc = grams.join(broadcast(ratios), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("ratio_e6")).as("rsum"))
    docs.select(col("doc_id"), when(isTarget, 1L).otherwise(0L).as("is_target"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("is_target"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        when(col("n_grams") > 0, expr("rsum div n_grams")).otherwise(lit(null: String).cast("long"))
          .as("weight_e6"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- t19

  /** `t19_perplexity_prune`: LM-score-bucketed corpus pruning — the
    * CCNet head/middle/tail policy on t16's corpus-bigram scores: within
    * each source, scored documents split into three near-equal buckets by
    * score rank (0 = head, most in-distribution; 2 = tail), and the
    * shipped policy keeps head+middle — the standard perplexity filter
    * between raw crawl and training corpus. Bucket arithmetic is exact
    * integer over the ascending (score, doc_id) rank:
    * `bucket = ((n - rank) * 3) div n`, so bucket sizes differ by at most
    * one and ties break on doc_id, never on engine sort order. Docs with
    * no bigram carry null score/bucket and are NOT kept (nothing
    * measured — the conservative side of the gate, t16's null rule).
    *
    * Scale: t16's own plans plus a per-source [[PrefixSum]] rank over
    * (score, doc_id) — a bare `partitionBy(source)` window
    * would buffer the largest source in ONE sort task, exactly the
    * pathology the global PlanSpec pin bans. The bucket/keep verdict is
    * a per-row expression on the rank. */
  def t19PerplexityPrune(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"), col("source"))
    val scored = t16LmScore(spark, dir)
      .filter(col("n_bigrams") > 0)
      .join(docs, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("lm_score_e6"))
    val ps = PrefixSum(scored, Seq(col("lm_score_e6"), col("doc_id")), Some("source"), 0)
    val nPer = ps.ranged.groupBy(col("source")).agg(count(lit(1)).as("n_scored"))
    val verdicts = ps.runningCount("rank_in_source")
      .join(broadcast(nPer), Seq("source"))
      .withColumn("bucket", expr("((n_scored - rank_in_source) * 3) div n_scored"))
      .select(col("doc_id"), col("lm_score_e6"), col("rank_in_source"),
        col("n_scored"), col("bucket"))
    docs.join(verdicts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("lm_score_e6"),
        col("rank_in_source"), col("n_scored"), col("bucket"),
        when(col("bucket") <= 1, 1L).otherwise(0L).as("is_kept"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------- t20

  /** `t20_dup_profile`: per-document corpus-duplication profile — the
    * doc-level diagnostic the pairwise dedup family doesn't ship: what
    * FRACTION of each document's 8-token grams also appears in some
    * OTHER document (RefinedWeb-style duplication telemetry: a doc can
    * evade d2/d3's whole-doc thresholds and d14's ≥20-token run cut
    * while still being 30% boilerplate — this is the number that says
    * so). Per doc: gram count, grams with corpus df ≥ 2 (cross-doc df,
    * so intra-doc repetition — t8's axis — does not count), floor-e6
    * share, and the doc's hottest gram df (the boilerplate indicator).
    * Docs shorter than one gram surface with zero counts and null share
    * (t16's null rule).
    *
    * Scale: d14's gram space (8-token grams at every offset, hashed to
    * 60-bit longs AT the scan — raw text never shuffles) but df-grained
    * instead of pair-grained: one exploded scan, one model aggregate,
    * one hash-keyed re-join, one per-doc aggregate — no pair join, no
    * window, nothing quadratic anywhere. */
  def t20DupProfile(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(
        when(size(col("toks")) < Dedup.GramToks, array().cast("array<string>"))
          .otherwise(transform(
            sequence(lit(1), size(col("toks")) - Dedup.GramToks + 1),
            i => concat_ws(" ", slice(col("toks"), i, lit(Dedup.GramToks))))))
        .as("gram"))
      .select(col("doc_id"), md5Long60(col("gram")).as("h"))
      .localCheckpoint(true) // df model + the occurrence side
    val dfm = grams.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("gdf"))
    val prof = grams.join(dfm, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") >= 2, 1L).otherwise(0L)).as("n_dup_grams"),
        max(col("gdf")).as("max_gram_df"))
      .withColumn("dup_share_e6",
        floor(col("n_dup_grams") * lit(1000000.0) / col("n_grams")).cast("long"))
    Tables.load(spark, dir, "documents").select(col("doc_id"))
      .join(prof, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        col("dup_share_e6"), col("max_gram_df"))
      .orderBy(col("doc_id"))
  }

  private lazy val t20OracleSql: String = {
    val k = Dedup.GramToks
    s"""WITH t AS (SELECT doc_id, $toksCaseSql AS toks FROM documents),
       |g AS (
       | SELECT doc_id, CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - $k + 2, 1)),
       |    i -> array_to_string(list_slice(toks, i, i + $k - 1), ' '))) AS gram
       |  FROM t)),
       |d AS (SELECT h, count(DISTINCT doc_id) AS gdf FROM g GROUP BY 1),
       |p AS (
       | SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN d.gdf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
       |  CAST(max(d.gdf) AS BIGINT) AS max_gram_df
       | FROM g JOIN d USING (h) GROUP BY 1)
       |SELECT doc.doc_id AS doc_id, COALESCE(p.n_grams, 0) AS n_grams,
       | COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
       | CAST(floor(p.n_dup_grams * 1000000.0 / p.n_grams) AS BIGINT) AS dup_share_e6,
       | p.max_gram_df
       |FROM documents doc LEFT JOIN p USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** t22 merge-table depth and the BPE symbol alphabet (lower-cased
    * alphanumeric words — the pre-tokenizer's letter/digit runs). */
  val BpeTopMerges = 20
  private val BpeWordRe = "^[a-z0-9]+$"

  /** `t22_bpe_merges`: one iteration of byte-pair-encoding vocabulary
    * induction — the tokenizer-TRAINING step of an LLM data pipeline
    * (the text family so far only consumes tokenizations; this one
    * learns one). For every adjacent symbol pair inside every vocabulary
    * word, the corpus-weighted occurrence count (word frequency × the
    * pair's positions in the word) and the number of distinct word
    * types carrying it; the output is the top-[[BpeTopMerges]] merge
    * candidates — exactly what a BPE trainer would merge next, ranked
    * by weighted count with a lexicographic tie-break.
    *
    * Scale (the classic BPE-on-word-frequency trick): corpus-sized work
    * ends at the word-frequency aggregation (one token explode + a
    * map-side-partial count). ALL pair enumeration runs over the
    * DISTINCT vocabulary — Σ|word| over word types, which saturates on
    * natural text no matter how large the corpus grows — and the merge
    * table itself is a TakeOrdered top-k, never a global sort. */
  def t22BpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("w"))
      .select(lower(col("w")).as("word"))
      .filter(col("word").rlike(BpeWordRe))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
    val pairs = vocab.filter(length(col("word")) >= 2)
      .select(col("word"), col("freq"),
        explode(transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
    pairs.groupBy(col("pair"))
      .agg(sum(col("freq")).as("n_weighted"),
        countDistinct(col("word")).as("n_types"))
      .orderBy(col("n_weighted").desc, col("pair"))
      .limit(BpeTopMerges)
  }

  // lazy: tokSql is declared later in this object
  private lazy val t22OracleSql: String =
    s"""WITH w AS (
       | SELECT lower(unnest($tokSql)) AS word FROM documents),
       |v AS (
       | SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
       | WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY 1),
       |p AS (
       | SELECT word, freq,
       |  unnest(list_transform(range(1, length(word)),
       |    i -> substr(word, CAST(i AS INT), 2))) AS pair
       | FROM v WHERE length(word) >= 2)
       |SELECT pair, CAST(sum(freq) AS BIGINT) AS n_weighted,
       | CAST(count(DISTINCT word) AS BIGINT) AS n_types
       |FROM p GROUP BY 1
       |ORDER BY n_weighted DESC, pair LIMIT $BpeTopMerges""".stripMargin

  // 10 rounds: on the shipped corpus the first merge that CONSUMES an
  // earlier merge's symbol lands at round 8 (p+ar→par), so K=10 provably
  // exercises the trainer's defining behavior (TextAnalysisSpec pins it)
  // while each round stays one vocab-grained aggregate job
  val BpeTrainRounds = 10

  /** `t27_bpe_train`: MULTI-round byte-pair-encoding training — t22
    * promotes to an actual trainer: [[BpeTrainRounds]] greedy merge
    * rounds, each picking the corpus-weighted best adjacent symbol pair
    * and REWRITING the vocabulary before the next round sees it (the t22
    * single shot only ever ranks character bigrams; a trainer's later
    * merges operate on the multi-character symbols earlier merges
    * created). Output: the learned merge table — one row per round with
    * the chosen pair, the merged symbol, and its weighted/type counts at
    * selection time.
    *
    * Representation (the cross-engine trick): a word's symbol sequence is
    * ONE delimited string with every symbol wrapped in its OWN delimiter
    * pair — `|s1||s2||s3|` — and applying merge (a,b) is the plain
    * leftmost non-overlapping `replace('|a||b|', '|ab|')`. Spark and
    * DuckDB share the exact scan-left-continue-after-replacement
    * semantics, which IS the greedy BPE application order, so the oracle
    * states the whole K-round training as K unrolled CTE groups (the q33
    * pattern) with zero procedural code. Each symbol owning BOTH its
    * delimiters matters: with shared single delimiters the replacement
    * would consume the middle `|`, so `aaaa` under merge (a,a) would
    * land `[aa,a,a]` instead of the correct greedy `[aa,aa]`; and a
    * match of `|a||b|` can only occur where a and b are COMPLETE
    * adjacent symbols (symbols are `[a-z0-9]+`, never `|`).
    *
    * Scale: the corpus-sized work ends at the word-frequency aggregate
    * (same as t22); all K rounds run over the DISTINCT vocabulary
    * (Σ|word| over word TYPES — saturates on natural text regardless of
    * corpus size), each round one vocab-grained aggregate job + a
    * model-sized (1-row) collect, the Lloyd-loop shape. The vocabulary
    * frame is re-checkpointed per round so round r's lineage never
    * replays rounds 1..r-1. */
  def t27BpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bpeTrainedMerges(spark, dir)
      .toDF("merge_round", "lhs", "rhs", "merged", "n_weighted", "n_types")
      .orderBy(col("merge_round"))
  }

  /** The initial per-word symbol string — every single character wrapped
    * in its own delimiter pair (`|s1||s2|…`; see [[t27BpeTrain]]). */
  private def bpeSym0(word: Column): Column =
    concat(lit("|"),
      array_join(transform(sequence(lit(1), length(word)),
        i => word.substr(i, lit(1))), "||"), lit("|"))

  /** t27's training loop, shared with the t29 encoder: K greedy rounds
    * over the (len≥2) word-frequency vocabulary, each a vocab-grained
    * aggregate + 1-row collect (the Lloyd shape), the vocabulary
    * re-checkpointed per round. Returns the learned merge table rows
    * `(round, lhs, rhs, merged, n_weighted, n_types)` in round order. */
  private def bpeTrainedMerges(
      spark: SparkSession, dir: String): Seq[(Long, String, String, String, Long, Long)] = {
    val vocab = Tables.load(spark, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("w"))
      .select(lower(col("w")).as("word"))
      .filter(col("word").rlike(BpeWordRe))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .filter(length(col("word")) >= 2)
      .withColumn("sym", bpeSym0(col("word")))
    var cur = vocab.localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long, Long)]()
    for (r <- 1 to BpeTrainRounds) {
      val best = cur
        .select(col("word"), col("freq"),
          expr("filter(split(sym, '[|]'), x -> x != '')").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("word"), col("freq"), col("syms"),
          explode(sequence(lit(1), size(col("syms")) - 1)).as("i"))
        .select(col("word"), col("freq"),
          element_at(col("syms"), col("i")).as("lhs"),
          element_at(col("syms"), expr("i + 1")).as("rhs"))
        .groupBy(col("lhs"), col("rhs"))
        .agg(sum(col("freq")).as("n_weighted"), countDistinct(col("word")).as("n_types"))
        .orderBy(col("n_weighted").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      require(best.nonEmpty, s"BPE round $r found no pairs — corpus degenerate")
      val b = best(0)
      val (bl, br) = (b.getString(0), b.getString(1))
      merges += ((r.toLong, bl, br, bl + br,
        b.getAs[Long]("n_weighted"), b.getAs[Long]("n_types")))
      cur = cur.withColumn("sym",
        expr(s"replace(sym, '|$bl||$br|', '|$bl$br|')")).localCheckpoint(true)
    }
    merges.toSeq
  }

  /** `t29_bpe_encode`: APPLY the trained tokenizer — the daily
    * every-doc step a real pretraining pipeline runs between t27 (train)
    * and t12/t28 (pack/schedule), closing the train→apply gap. The
    * [[BpeTrainRounds]] learned merges are applied to the corpus in
    * training order with t27's own delimiter-replace semantics (greedy
    * leftmost, merges consuming earlier merges' symbols), and the output
    * is the per-document tokenization card: word/char/token counts and
    * the chars-per-token compression ratio (e6 integer) — the number a
    * tokenizer is judged by.
    *
    * Scale: the merge table is the MODEL (K local strings from the
    * Lloyd-shaped trainer); encoding runs once per distinct word TYPE —
    * a K-deep chain of codegen'd `replace` calls over the vocabulary,
    * which saturates on natural text regardless of corpus size — and
    * docs join their words' token counts on the word key (shuffle join,
    * NOT a broadcast: a 100-TB crawl's vocabulary is not worth betting
    * the driver on), then collapse to the doc grain with map-side
    * partials. No corpus-sized row ever carries a symbol string. */
  def t29BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val merges = bpeTrainedMerges(spark, dir)
    val words = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), explode(wsTokens(col("text"))).as("w"))
      .select(col("doc_id"), lower(col("w")).as("word"))
      .filter(col("word").rlike(BpeWordRe))
      .groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("n_occ"))
    // encode each word TYPE once: merges applied in round order, each
    // rewriting the whole symbol string (no len≥2 filter here — a 1-char
    // word is its own single token and every replace is a no-op on it)
    val encoded = merges.foldLeft(
      words.select(col("word")).distinct()
        .withColumn("sym", bpeSym0(col("word")))) {
      case (df, (_, bl, br, _, _, _)) =>
        df.withColumn("sym", expr(s"replace(sym, '|$bl||$br|', '|$bl$br|')"))
    }.select(col("word"),
      size(expr("filter(split(sym, '[|]'), x -> x != '')"))
        .cast("long").as("n_tok"))
    words.join(encoded, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_occ")).as("n_words"),
        sum(col("n_occ") * length(col("word")).cast("long")).as("n_chars"),
        sum(col("n_occ") * col("n_tok")).as("n_tokens"))
      .withColumn("chars_per_token_e6",
        expr("n_chars * CAST(1000000 AS DECIMAL(38,0)) div n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** `t30_temperature_mix`: temperature-scaled source sampling — the
    * published multilingual recipe (sample source i with probability
    * ∝ nᵢ^α, α < 1, so low-resource sources are up-sampled without
    * letting any single giant source dominate; T5's
    * examples-proportional mixing / the XLM-R α-sampling family). α is
    * fixed at 1/2 — not only a standard setting but the one exponent
    * whose power function is EXACT cross-engine: IEEE-754 `sqrt` is
    * correctly rounded in both Spark and DuckDB, where a general `pow`
    * is not, so the floored integer weights below are bit-identical by
    * construction. Weights are INTEGER square roots (`floor(sqrt(n))` —
    * past 2^53 the double rounding may sit ±1 of the true isqrt, but
    * identically so in both engines, and a ±1 on a ~10⁹ sampling weight
    * is immaterial); integer weights make the normalizing sum
    * order-independent where a float Σ√nᵢ would depend on reduction
    * order. Per source: docs, tokens, natural share, temperature share,
    * and the up/down-sampling boost (all e6, Decimal(38,0) internal /
    * BIGINT emitted — the t28 envelope discipline).
    *
    * Scale: ONE corpus scan ends at the source-grained aggregate
    * (map-side partial, |sources| rows, checkpointed); the totals attach
    * as a broadcast 1-row aggregate. The plan's cost is the token-count
    * scan, same as t28 — this is the dial you turn BEFORE t28 budgets
    * epochs. */
  def t30TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val src = Tables.load(spark, dir, "documents")
      .select(col("source"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_toks"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
      .withColumn("w_sqrt", floor(sqrt(col("n_tokens"))).cast("long"))
      .localCheckpoint(true) // |sources| rows; totals + shares read it
    val tot = src.agg(sum(col("n_tokens")).as("tot_tokens"),
      sum(col("w_sqrt")).as("tot_sqrt"))
    src.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * CAST(1000000 AS DECIMAL(38,0)) div tot_tokens")
          .as("natural_share_e6"),
        expr("w_sqrt * CAST(1000000 AS DECIMAL(38,0)) div tot_sqrt")
          .as("temp_share_e6"),
        expr("w_sqrt * CAST(tot_tokens AS DECIMAL(38,0)) * 1000000 div " +
          "(CAST(tot_sqrt AS DECIMAL(38,0)) * n_tokens)").as("boost_e6"))
      .orderBy(col("source"))
  }

  /** `t31_source_divergence`: how far each source's unigram
    * distribution sits from the corpus-wide distribution — exact
    * total-variation distance (TV = ½·Σ_t |p_t − q_t|), the
    * domain-shift number a mixture designer reads BEFORE setting t30's
    * temperature or t28's budgets (a source with high TV is the one
    * whose up/down-sampling moves the mixture most). TV over the UNION
    * vocabulary without densifying: absent terms contribute
    * Σ_{t∉s} g_t·N_s = N_s·(N − Σ_{t∈s} g_t), so the per-source sum
    * rewrites to Σ_{t∈s} (|c·N − g·N_s| − g·N_s) + N_s·N — only
    * PRESENT (source, term) rows are ever touched. Each source also
    * reports its most divergent term (largest |c·N − g·N_s|, smallest
    * term on ties — deterministic because the deviations are exact
    * integers). TV is rational, so unlike a KL/JS divergence no
    * cross-engine log() can skew the hash; all products run in
    * Decimal(38,0) (c·N overflows Long past ~10²⁶ token-pairs) and only
    * BIGINT/string columns emit (the t28 envelope discipline).
    *
    * Scale: ONE corpus scan ends at the (source, term) aggregate
    * (map-side partials; vocab×|sources| rows — orders of magnitude
    * smaller than the corpus), checkpointed because three consumers
    * read it (term totals, source totals, the deviation join). The g_t
    * attach is a term-keyed shuffle join of two VOCAB-sized sides
    * (never broadcast — a 100 TB corpus's vocabulary is not
    * model-sized); source totals and the grand total attach broadcast.
    * Zero windows; the argmax term is a min-of-struct aggregate riding
    * the same grouped pass as the TV sum. */
  def t31SourceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.load(spark, dir, "documents")
      .select(col("source"),
        explode(graft.functions.TextFunctions.wsTokens(col("text")))
          .as("term"))
      .groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // vocab-grain; three consumers below
    val g = st.groupBy(col("term")).agg(sum(col("c")).as("g"))
    val ns = st.groupBy(col("source"))
      .agg(sum(col("c")).as("n_toks"), count(lit(1)).as("n_terms"))
    val nTot = ns.agg(sum(col("n_toks")).as("n_all"))
    st.join(g, "term")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nTot))
      .withColumn("dev", expr(
        "abs(CAST(c AS DECIMAL(38,0)) * n_all - CAST(g AS DECIMAL(38,0)) * n_toks)"))
      .groupBy(col("source"), col("n_toks"), col("n_terms"), col("n_all"))
      .agg(
        sum(expr("dev - CAST(g AS DECIMAL(38,0)) * n_toks")).as("part_sum"),
        min(struct(negate(col("dev")).as("nd"), col("term").as("t")))
          .as("_top"))
      .withColumn("tv_num",
        expr("part_sum + CAST(n_toks AS DECIMAL(38,0)) * n_all"))
      .select(col("source"), col("n_toks"), col("n_terms"),
        expr("tv_num * 1000000 div (2 * CAST(n_toks AS DECIMAL(38,0)) * n_all)")
          .as("tv_e6"),
        col("_top.t").as("top_term"),
        expr("(-_top.nd) * 1000000 div (2 * CAST(n_toks AS DECIMAL(38,0)) * n_all)")
          .as("top_gap_e6"))
      .orderBy(col("source"))
  }

  // lazy: interpolates toksCaseSql, which is defined further down the
  // object body — a strict val here would bake "null" into the SQL
  private lazy val t31OracleSql: String =
    s"""WITH st AS (
       | SELECT source, unnest($toksCaseSql) AS term FROM documents),
       |c AS (SELECT source, term, CAST(count(*) AS BIGINT) AS c
       | FROM st GROUP BY 1, 2),
       |g AS (SELECT term, CAST(sum(c) AS BIGINT) AS g FROM c GROUP BY 1),
       |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_toks,
       | CAST(count(*) AS BIGINT) AS n_terms FROM c GROUP BY 1),
       |nt AS (SELECT CAST(sum(n_toks) AS BIGINT) AS n_all FROM ns),
       |dev AS (
       | SELECT c.source, c.term, n_toks, n_terms, n_all,
       |  abs(CAST(c AS HUGEINT) * n_all - CAST(g AS HUGEINT) * n_toks)
       |    AS dev, CAST(g AS HUGEINT) * n_toks AS gn
       | FROM c JOIN g USING (term) JOIN ns USING (source) CROSS JOIN nt),
       |agg AS (
       | SELECT source, n_toks, n_terms, n_all,
       |  sum(dev - gn) + CAST(n_toks AS HUGEINT) * n_all AS tv_num
       | FROM dev GROUP BY 1, 2, 3, 4),
       |top AS (
       | SELECT source, term AS top_term, dev AS top_dev,
       |  row_number() OVER (PARTITION BY source ORDER BY dev DESC, term)
       |    AS rn
       | FROM dev)
       |SELECT a.source, a.n_toks, a.n_terms,
       | CAST(tv_num * 1000000 // (2 * CAST(a.n_toks AS HUGEINT) * a.n_all)
       |   AS BIGINT) AS tv_e6,
       | t.top_term,
       | CAST(top_dev * 1000000 // (2 * CAST(a.n_toks AS HUGEINT) * a.n_all)
       |   AS BIGINT) AS top_gap_e6
       |FROM agg a JOIN top t ON a.source = t.source AND t.rn = 1
       |ORDER BY a.source""".stripMargin

  private val t30OracleSql: String =
    """WITH s AS (
      | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens
      | FROM documents GROUP BY 1),
      |w AS (
      | SELECT s.*, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_sqrt
      | FROM s),
      |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tokens,
      |  CAST(sum(w_sqrt) AS BIGINT) AS tot_sqrt FROM w)
      |SELECT source, n_docs, n_tokens,
      | CAST(CAST(n_tokens AS HUGEINT) * 1000000 // tot_tokens AS BIGINT)
      |   AS natural_share_e6,
      | CAST(CAST(w_sqrt AS HUGEINT) * 1000000 // tot_sqrt AS BIGINT)
      |   AS temp_share_e6,
      | CAST(CAST(w_sqrt AS HUGEINT) * tot_tokens * 1000000
      |   // (CAST(tot_sqrt AS HUGEINT) * n_tokens) AS BIGINT) AS boost_e6
      |FROM w CROSS JOIN tot ORDER BY source""".stripMargin

  /** t27's oracle: the SAME K rounds unrolled as CTE groups — per round,
    * symbol split → pair explode → weighted argmax (identical tie-break)
    * → the same `replace` rewrite feeding the next round's group. */
  private def bpeOracleRound(r: Int): String = {
    val prev = s"v${r - 1}"
    s"""s$r AS (
       | SELECT word, freq, sym,
       |  list_filter(string_split(sym, '|'), x -> x <> '') AS syms
       | FROM $prev),
       |p$r AS (
       | SELECT word, freq, unnest(range(1, len(syms))) AS i, syms
       | FROM s$r WHERE len(syms) >= 2),
       |q$r AS (
       | SELECT word, freq, syms[CAST(i AS INT)] AS lhs,
       |  syms[CAST(i AS INT) + 1] AS rhs
       | FROM p$r),
       |b$r AS (
       | SELECT lhs, rhs, CAST(sum(freq) AS BIGINT) AS n_weighted,
       |  CAST(count(DISTINCT word) AS BIGINT) AS n_types
       | FROM q$r GROUP BY 1, 2
       | ORDER BY n_weighted DESC, lhs, rhs LIMIT 1),
       |v$r AS (
       | SELECT v.word, v.freq,
       |  replace(v.sym, '|' || b.lhs || '||' || b.rhs || '|',
       |          '|' || b.lhs || b.rhs || '|') AS sym
       | FROM $prev v, b$r b)"""
  }

  private lazy val t27OracleSql: String = {
    val rows = (1 to BpeTrainRounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_round, lhs, rhs, lhs || rhs AS merged, " +
        s"n_weighted, n_types FROM b$r").mkString("\n UNION ALL ")
    s"""WITH $bpeTrainCtes
       |SELECT * FROM (
       | $rows)
       |ORDER BY merge_round""".stripMargin
  }

  /** The shared training-CTE chain (word freqs → v0 symbol strings → K
    * argmax/rewrite round groups b1/v1 … bK/vK) — t27's oracle reads the
    * chosen merges off b1..bK; t29's replays them onto the full word set. */
  private lazy val bpeTrainCtes: String = {
    val rounds = (1 to BpeTrainRounds).map(bpeOracleRound).mkString(",\n")
    s"""w AS (
       | SELECT lower(unnest($tokSql)) AS word FROM documents),
       |vf AS (
       | SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
       | WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY 1),
       |v0 AS (
       | SELECT word, freq,
       |  '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |    i -> substr(word, CAST(i AS INT), 1)), '||') || '|' AS sym
       | FROM vf WHERE length(word) >= 2),
       |$rounds""".stripMargin
  }

  /** t29's oracle: the training chain's own b1..bK merges replayed in
    * round order onto EVERY word type (u-chain — no len≥2 filter, same
    * `replace` semantics), then the per-doc card off the doc×word counts. */
  private lazy val t29OracleSql: String = {
    val applies = (1 to BpeTrainRounds).map { r =>
      s"""u$r AS (
         | SELECT u.word,
         |  replace(u.sym, '|' || b.lhs || '||' || b.rhs || '|',
         |          '|' || b.lhs || b.rhs || '|') AS sym
         | FROM u${r - 1} u, b$r b)"""
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |u0 AS (
       | SELECT word,
       |  '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |    i -> substr(word, CAST(i AS INT), 1)), '||') || '|' AS sym
       | FROM (SELECT DISTINCT word FROM w
       |       WHERE regexp_matches(word, '^[a-z0-9]+$$'))),
       |$applies,
       |enc AS (
       | SELECT word,
       |  CAST(len(list_filter(string_split(sym, '|'), x -> x <> ''))
       |    AS BIGINT) AS n_tok
       | FROM u$BpeTrainRounds),
       |dw AS (
       | SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n_occ FROM (
       |  SELECT doc_id, lower(unnest($tokSql)) AS word FROM documents)
       | WHERE regexp_matches(word, '^[a-z0-9]+$$') GROUP BY 1, 2)
       |SELECT dw.doc_id,
       | CAST(sum(n_occ) AS BIGINT) AS n_words,
       | CAST(sum(n_occ * length(word)) AS BIGINT) AS n_chars,
       | CAST(sum(n_occ * n_tok) AS BIGINT) AS n_tokens,
       | CAST(sum(n_occ * length(word)) * 1000000
       |   // sum(n_occ * n_tok) AS BIGINT) AS chars_per_token_e6
       |FROM dw JOIN enc USING (word)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** `t23_zipf_curve`: corpus health telemetry — the token
    * rank-frequency (Zipf) curve, summarized per power-of-two frequency
    * band. A natural-language corpus follows `freq ∝ 1/rank`; a corpus
    * poisoned by boilerplate or dedup failures bends the curve, so this
    * is the standard before/after fingerprint for every t11/d-family
    * stage.
    *
    * The 100-TB shape is frequency-of-frequencies, NOT a global term
    * rank: `term → freq` is one token-keyed shuffle (map-side partials),
    * `freq → n_terms` a second on the tiny freq domain, and the
    * power-of-two banding (`fbin = |bin(freq)|`, exact integer digits —
    * no float log2 at band edges) collapses it to ≤ 64 rows. Ranks come
    * FROM the bands: `max_rank` is a running sum over the ≤ 64-row band
    * table (deliberately unpartitioned — the frame is band-grained, one
    * partition IS the design), so the full vocabulary is never globally
    * sorted: the curve's (log rank, log freq) endpoints are exact while
    * every shuffle stays aggregate-sized. */
  def t23ZipfCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.load(spark, dir, "documents")
      .select(explode(wsTokens(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
    val bands = freq.groupBy(col("freq"))
      .agg(count(lit(1)).as("nt"))
      .withColumn("fbin", length(bin(col("freq"))).cast("long"))
      .groupBy(col("fbin"))
      .agg(sum(col("nt")).as("n_terms"),
        sum(col("freq") * col("nt")).as("n_occurrences"),
        min(col("freq")).as("min_freq"), max(col("freq")).as("max_freq"))
    val wRank = Window.orderBy(col("fbin").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    bands
      .withColumn("max_rank", sum(col("n_terms")).over(wRank))
      .select(col("fbin"), col("n_terms"), col("n_occurrences"),
        col("min_freq"), col("max_freq"), col("max_rank"))
      .orderBy(col("fbin"))
  }

  val HeapsBuckets = 8L // t36: corpus-prefix checkpoints on the growth curve

  /** `t36_heaps_curve`: vocabulary-growth telemetry — Heaps' law is
    * t23's Zipf sibling (the two exponents together characterize a
    * corpus's lexical health): distinct word types seen vs tokens seen,
    * sampled at [[HeapsBuckets]] equal doc-id prefixes of the corpus.
    * A flattening curve means new data stopped contributing vocabulary
    * (the dedup/source-mix smoke signal a corpus team reads BEFORE
    * training); a linear one means heavy noise/IDs. Per checkpoint:
    * cumulative docs, tokens, types, and the exact e6 type-token ratio.
    *
    * Spark-first: a word's contribution to every prefix is determined
    * by its FIRST bucket alone, so the curve needs no per-prefix rescan
    * (the naive form scans the corpus [[HeapsBuckets]] times): ONE scan
    * materializes token arrays (t12's idiom, checkpointed — doc-grain
    * and word-grain consumers share it), the doc/token histogram is a
    * map-side-partial 8-row aggregate, the type histogram is min(bucket)
    * per word (partial mins ride the one word-grain shuffle) re-grouped
    * to 8 rows, and the cumulative sums ride t23's aggregate-grained
    * unpartitioned window (the frame IS 8 rows by construction).
    * Bucketing is integer arithmetic off one max-doc-id scalar broadcast
    * (the q46 pattern). At 100 TB: one fact scan + one word-grain
    * shuffle, both with partials; everything after is 8 rows. */
  def t36HeapsCurve(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mx = Tables.load(spark, dir, "documents")
      .agg(max(col("doc_id")).as("max_id"))
    val bucketed = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), wsTokens(col("text")).as("toks"))
      .crossJoin(broadcast(mx))
      .select(expr(s"doc_id * $HeapsBuckets div (max_id + 1)").as("ckpt"),
        col("toks"))
      .localCheckpoint(true) // doc-grain; histogram + type paths read it
    val perBucket = bucketed.groupBy(col("ckpt"))
      .agg(count(lit(1)).as("n_docs_b"),
        sum(size(col("toks")).cast("long")).as("n_tokens_b"))
    val typesPerBucket = bucketed
      .select(col("ckpt"), explode(col("toks")).as("term"))
      .groupBy(col("term")).agg(min(col("ckpt")).as("ckpt"))
      .select(col("ckpt"))
      .groupBy(col("ckpt")).agg(count(lit(1)).as("n_types_b"))
    val w = Window.orderBy(col("ckpt"))
      .rowsBetween(Window.unboundedPreceding, 0)
    perBucket.join(typesPerBucket, Seq("ckpt"), "left")
      .select(col("ckpt"), col("n_docs_b"), col("n_tokens_b"),
        coalesce(col("n_types_b"), lit(0L)).as("n_types_b"))
      .withColumn("n_docs", sum(col("n_docs_b")).over(w))
      .withColumn("n_tokens", sum(col("n_tokens_b")).over(w))
      .withColumn("n_types", sum(col("n_types_b")).over(w))
      .select((col("ckpt") + 1).as("checkpoint"), col("n_docs"),
        col("n_tokens"), col("n_types"),
        expr("n_types * CAST(1000000 AS DECIMAL(38,0))" +
          " div greatest(n_tokens, 1)").as("type_token_e6"))
      .orderBy(col("checkpoint"))
  }

  val ClfBuckets = 1024L // t24: hashed feature space width
  val ClfWeightMod = 2001L // t24: integer weights in [-1000, 1000]

  /** `t24_classifier_score`: model-based quality filtering at scale —
    * inference of a hashed-feature linear classifier (the fasttext-style
    * quality-filter shape every production corpus pipeline runs) over
    * every document. Token → md5 bucket in a [[ClfBuckets]]-wide feature
    * space; each bucket carries a deterministic integer weight in
    * [-1000, 1000] (md5-derived — standing in for trained weights, which
    * would arrive as exactly this kind of bucket→weight table); a
    * document's score is the exact integer sum of its token weights,
    * keep/drop = sign. Because both the bucketing and the weights are
    * integer md5 arithmetic, inference is bit-exact in any engine — the
    * property a real filter needs when train and serve run on different
    * stacks.
    *
    * Scale: ONE narrow scan, zero joins, zero shuffles before the output
    * sort — the entire model evaluation is a per-row `transform` +
    * `aggregate` fold over the token array (the weight "table" is pure
    * arithmetic, so there is nothing to broadcast; a trained table would
    * broadcast exactly like s6's centroids). Per-token score is also
    * emitted as e6 rate to make thresholding length-fair. */
  /** t24's per-document classifier score as a column over a token-array
    * column — shared with the streaming quality gate, which must apply
    * the IDENTICAL model to arriving micro-batches. */
  def classifierScoreCol(toksCol: String): Column = {
    val bucket =
      s"CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % $ClfBuckets"
    val weight =
      s"""(CAST(conv(substring(md5(concat('w|', CAST($bucket AS STRING))),
         | 1, 15), 16, 10) AS BIGINT) % $ClfWeightMod - 1000)""".stripMargin
    expr(s"aggregate($toksCol, CAST(0 AS BIGINT), (acc, t) -> acc + $weight)")
  }

  def t24ClassifierScore(spark: SparkSession, dir: String): DataFrame = {
    Tables.load(spark, dir, "documents")
      .withColumn("toks", wsTokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_toks"),
        classifierScoreCol("toks").as("score"))
      .withColumn("score_rate_e6",
        expr("score * 1000000 div greatest(n_toks, 1)"))
      .withColumn("label", when(col("score") > 0, "keep").otherwise("drop"))
      .select(col("doc_id"), col("source"), col("n_toks"), col("score"),
        col("score_rate_e6"), col("label"))
      .orderBy(col("doc_id"))
  }

  // the t24 weight lambda body (DuckDB, over lambda var `t`) — shared
  // with t26's corpus-card score column and st3's streaming-gate oracle
  private[graft] lazy val clfWeightSql: String = {
    val bucket = "CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % " +
      s"$ClfBuckets"
    s"""(CAST(('0x' || substr(md5('w|' || CAST($bucket AS VARCHAR)), 1, 15))
       | AS BIGINT) % $ClfWeightMod - 1000)""".stripMargin
  }

  // lazy: toksCaseSql is declared later in this object
  private lazy val t24OracleSql: String = {
    val weight = clfWeightSql
    s"""SELECT doc_id, source,
       | CAST(len(toks) AS BIGINT) AS n_toks,
       | CAST(COALESCE(list_sum(list_transform(toks, t -> $weight)), 0)
       |   AS BIGINT) AS score,
       | CAST(COALESCE(list_sum(list_transform(toks, t -> $weight)), 0)
       |   AS BIGINT) * 1000000
       |  // greatest(CAST(len(toks) AS BIGINT), 1) AS score_rate_e6,
       | CASE WHEN COALESCE(list_sum(list_transform(toks, t -> $weight)), 0) > 0
       |  THEN 'keep' ELSE 'drop' END AS label
       |FROM (SELECT doc_id, source, $toksCaseSql AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin
  }

  /** `t25_langid_eval`: the language-ID confusion matrix — t3's
    * predictions evaluated against the corpus's labeled `lang` column,
    * one row per (labeled, predicted) cell with exact counts and the
    * e6 recall/precision shares. The eval face of t3: a corpus pipeline
    * does not just RUN a language filter, it monitors where the filter
    * leaks (which labels bleed into which predictions) before trusting
    * it to route documents.
    *
    * Scale: t3's one-scan scoring collapses straight into a
    * (labels × predictions)-bounded cell aggregate (≤ |langs|² rows,
    * data-independent); the marginals are sub-aggregates OF THE CELLS
    * (never a second corpus scan) and attach by broadcast. All shares
    * are exact integer e6 — engine-identical. */
  def t25LangidEval(spark: SparkSession, dir: String): DataFrame = {
    val cells = t3LangId(spark, dir)
      .groupBy(col("labeled_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // <= |langs|^2 rows; marginals re-read it
    val byLabel = cells.groupBy(col("labeled_lang"))
      .agg(sum(col("n")).as("n_labeled"))
    val byPred = cells.groupBy(col("predicted_lang"))
      .agg(sum(col("n")).as("n_predicted"))
    cells
      .join(broadcast(byLabel), Seq("labeled_lang"))
      .join(broadcast(byPred), Seq("predicted_lang"))
      .select(col("labeled_lang"), col("predicted_lang"), col("n"),
        col("n_labeled"), col("n_predicted"),
        expr("n * 1000000 div n_labeled").as("recall_share_e6"),
        expr("n * 1000000 div n_predicted").as("precision_share_e6"),
        (col("labeled_lang") === col("predicted_lang")).cast("long")
          .as("is_correct"))
      .orderBy(col("labeled_lang"), col("predicted_lang"))
  }

  // shared by the t2 entry and d22's keeper-policy audit (Dedup.scala)
  private[operators] lazy val t2OracleSql: String =
    s"""WITH base AS (
       | SELECT doc_id,
       |  ${stopCountSql(stopwords("en"))} AS n_stop,
       |  CAST(greatest(len($tokSql), 1) AS DOUBLE) AS n_toks,
       |  CAST(len(list_distinct($tokSql)) AS DOUBLE) AS n_uniq,
       |  CAST(greatest(length(text), 1) AS DOUBLE) AS n_chars_d,
       |  CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) AS n_punct,
       |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) AS n_digit,
       |  least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_norm
       | FROM documents)
       |SELECT doc_id,
       | CAST(floor(n_stop / n_toks * 1000000) AS BIGINT) AS stop_ratio_e6,
       | CAST(floor(n_uniq / n_toks * 1000000) AS BIGINT) AS uniq_ratio_e6,
       | CAST(floor(n_punct / n_chars_d * 1000000) AS BIGINT) AS punct_ratio_e6,
       | CAST(floor(n_digit / n_chars_d * 1000000) AS BIGINT) AS digit_ratio_e6,
       | CAST(floor(len_norm * 1000000) AS BIGINT) AS len_norm_e6,
       | CAST(floor((0.25 * (1.0 - n_stop / n_toks) + 0.25 * (n_uniq / n_toks)
       |   + 0.3 * len_norm + 0.2 * (1.0 - n_punct / n_chars_d)) * 1000000) AS BIGINT) AS quality_score_e6
       |FROM base""".stripMargin

  // shared by the t3 entry, t25's confusion-matrix CTE and d21's
  // cross-language dup audit (Dedup.scala)
  private[operators] lazy val t3OracleSql: String =
    s"""WITH s AS (
       | SELECT doc_id, lang AS labeled_lang,
       |  ${stopCountSql(stopwords("de"))} AS score_de,
       |  ${stopCountSql(stopwords("en"))} AS score_en,
       |  ${stopCountSql(stopwords("es"))} AS score_es,
       |  ${stopCountSql(stopwords("fr"))} AS score_fr,
       |  length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS score_zh_chars
       | FROM documents)
       |SELECT doc_id, labeled_lang, score_de, score_en, score_es, score_fr, score_zh_chars,
       | CASE WHEN score_zh_chars > 0 THEN 'zh'
       |  WHEN score_de >= greatest(score_en, score_es, score_fr) AND score_de > 0 THEN 'de'
       |  WHEN score_en >= greatest(score_es, score_fr) AND score_en > 0 THEN 'en'
       |  WHEN score_es >= score_fr AND score_es > 0 THEN 'es'
       |  WHEN score_fr > 0 THEN 'fr'
       |  ELSE 'und' END AS predicted_lang
       |FROM s""".stripMargin

  private lazy val t25OracleSql: String = {
    s"""WITH t3 AS (
       |$t3OracleSql),
       |cells AS (
       | SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n
       | FROM t3 GROUP BY 1, 2),
       |bl AS (SELECT labeled_lang, CAST(sum(n) AS BIGINT) AS n_labeled
       | FROM cells GROUP BY 1),
       |bp AS (SELECT predicted_lang, CAST(sum(n) AS BIGINT) AS n_predicted
       | FROM cells GROUP BY 1)
       |SELECT labeled_lang, predicted_lang, n, n_labeled, n_predicted,
       | n * 1000000 // n_labeled AS recall_share_e6,
       | n * 1000000 // n_predicted AS precision_share_e6,
       | CAST(CASE WHEN labeled_lang = predicted_lang THEN 1 ELSE 0 END
       |   AS BIGINT) AS is_correct
       |FROM cells JOIN bl USING (labeled_lang) JOIN bp USING (predicted_lang)
       |ORDER BY labeled_lang, predicted_lang""".stripMargin
  }

  /** `t26_corpus_card`: the per-source dataset datasheet — the summary
    * table a corpus release ships (and the one a curation team reads
    * before changing any t/d-family dial): per source, document and
    * token counts, exact-duplicate documents (d1's normalized-md5
    * grouping), quality-filter keeps (t24's classifier), distinct
    * predicted languages (t3), mean document length, and e6 dup/keep
    * rates. A COMPOSITION operator: every statistic is the verified
    * operator's own arithmetic — d1's hash window, t24's shared score
    * column, t3's verified plan joined at doc grain — never a re-derived
    * approximation that could drift from the operator it summarizes.
    *
    * Scale: one documents scan computes tokens + score + norm-hash in a
    * single pass; the dup flag is d1's hash-keyed window (per-key
    * bounded by duplicate-group size); t3's plan joins on the doc key;
    * the card collapses to source grain with map-side partials. */
  def t26CorpusCard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.load(spark, dir, "documents")
      .withColumn("toks", wsTokens(col("text")))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_toks"),
        classifierScoreCol("toks").as("score"),
        md5(normText(col("text"))).as("norm_hash"))
    val w = Window.partitionBy(col("norm_hash"))
    val flagged = base
      .withColumn("is_dup", (count(lit(1)).over(w) > 1L).cast("long"))
    val langs = t3LangId(spark, dir).select(col("doc_id"), col("predicted_lang"))
    flagged.join(langs, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        sum(col("is_dup")).as("n_dup_docs"),
        sum((col("score") > 0).cast("long")).as("n_keep_docs"),
        countDistinct(col("predicted_lang")).as("n_langs"))
      .withColumn("mean_toks_e2", expr("n_tokens * 100 div n_docs"))
      .withColumn("dup_rate_e6", expr("n_dup_docs * 1000000 div n_docs"))
      .withColumn("keep_rate_e6", expr("n_keep_docs * 1000000 div n_docs"))
      .orderBy(col("source"))
  }

  private lazy val t26OracleSql: String =
    s"""WITH t3 AS (
       |$t3OracleSql),
       |b AS (
       | SELECT doc_id, source,
       |  CAST(len(toks) AS BIGINT) AS n_toks,
       |  CAST(COALESCE(list_sum(list_transform(toks, t -> $clfWeightSql)), 0)
       |    AS BIGINT) AS score,
       |  md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS nh
       | FROM (SELECT doc_id, source, text, $toksCaseSql AS toks FROM documents)),
       |g AS (
       | SELECT b.*, count(*) OVER (PARTITION BY nh) AS gsz FROM b)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       | CAST(sum(n_toks) AS BIGINT) AS n_tokens,
       | CAST(sum(CASE WHEN gsz > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
       | CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep_docs,
       | CAST(count(DISTINCT predicted_lang) AS BIGINT) AS n_langs,
       | CAST(sum(n_toks) AS BIGINT) * 100 // count(*) AS mean_toks_e2,
       | CAST(sum(CASE WHEN gsz > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |   // count(*) AS dup_rate_e6,
       | CAST(sum(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
       |   // count(*) AS keep_rate_e6
       |FROM g JOIN t3 USING (doc_id)
       |GROUP BY source ORDER BY source""".stripMargin

  /** t28: over-epoching cap — the "don't repeat any source more than 4
    * epochs" rule every published mixture recipe carries. */
  val EpochCap = 4L

  /** t28: global token budget as a multiple of the corpus's natural
    * supply — 3x forces the high-weight sources over the epoch cap on
    * any near-uniform corpus (the regime the operator exists for). */
  val BudgetMult = 3L

  /** `t28_epoch_plan`: token-budget mixture scheduling — the planning
    * step BETWEEN choosing data and packing it that nothing else in the
    * t-family computes: t9 picks per-source keep RATES, t15 per-source
    * QUOTAS, t18 per-document WEIGHTS, t12/m9 PACK a tape — but a real
    * pretraining run starts from a global token BUDGET and a target
    * mixture, and must turn "30% source A" into "A runs 2.3 epochs, B
    * saturates its 4-epoch cap and forfeits the rest". Per source:
    * natural token supply, target mixture weight (deterministic digit
    * rule, t9's convention), budget-proportional target tokens, the
    * epoch-cap verdict, realized tokens under the cap, ONE water-filling
    * redistribution round of the capped sources' forfeit to the uncapped
    * ones (pro-rata by weight — a second round would re-split the
    * residue the same way; the single round is the published recipe and
    * is what the spec replays), and exact e6 renders of final epochs and
    * budget share.
    *
    * Arithmetic: everything is exact integer math in the source grain.
    * The e6 renders multiply token counts by 1e6, which exceeds Long at
    * ~9.2e12 tokens — real corpora sit past that, so both renders run in
    * `Decimal(38,0)` (the q43 discipline; DuckDB mirrors in HUGEINT) and
    * the epoch render is saturated at `EpochCap+1` epochs by `least`
    * BEFORE the multiply, with the `over_after` flag carrying the
    * truth — no value silently wraps at any corpus size.
    *
    * Scale: ONE corpus scan ends at the source-grained aggregate
    * (map-side partial, |sources| rows, checkpointed); every later step
    * is model-sized — two scalar aggregates attached `broadcast` (the
    * p19 pattern), zero windows, zero driver collects. At 100 TB the
    * plan's cost IS the token-count scan. */
  def t28EpochPlan(spark: SparkSession, dir: String): DataFrame = {
    val weight = lit(1L) +
      coalesce(regexp_extract(col("source"), "(\\d+)", 1).cast("long"), lit(0L)) % 10
    val src = Tables.load(spark, dir, "documents")
      .select(col("source"), weight.as("weight"),
        regexp_count(col("text"), lit("\\S+")).cast("long").as("n_toks"))
      .groupBy(col("source"), col("weight"))
      .agg(sum(col("n_toks")).as("nat_toks"))
      .localCheckpoint(true) // |sources| rows; totals + plan both read it
    val tot = src.agg(sum(col("nat_toks")).as("t"), sum(col("weight")).as("w"))
    val base = src.crossJoin(broadcast(tot))
      .withColumn("budget", col("t") * BudgetMult)
      .withColumn("target_toks", expr("budget * weight div w"))
      .withColumn("capped",
        when(col("target_toks") > col("nat_toks") * EpochCap, 1L).otherwise(0L))
      .withColumn("realized_toks",
        least(col("target_toks"), col("nat_toks") * EpochCap))
    val pool = base.agg(
      sum(col("target_toks") - col("realized_toks")).as("deficit"),
      sum(when(col("capped") === 0, col("weight")).otherwise(0L)).as("wu"))
    base.crossJoin(broadcast(pool))
      .withColumn("extra_toks",
        when(col("capped") === 0 && col("wu") > 0,
          expr("deficit * weight div wu")).otherwise(0L))
      .withColumn("final_toks", col("realized_toks") + col("extra_toks"))
      .withColumn("over_after",
        when(col("final_toks") > col("nat_toks") * EpochCap, 1L).otherwise(0L))
      .withColumn("epochs_e6", expr(
        s"CAST(least(final_toks, nat_toks * ${EpochCap + 1}) AS DECIMAL(38,0))" +
          " * 1000000 div greatest(nat_toks, 1)"))
      .withColumn("share_e6", expr(
        "CAST(final_toks AS DECIMAL(38,0)) * 1000000 div greatest(budget, 1)"))
      .select(col("source"), col("weight"), col("nat_toks"),
        col("target_toks"), col("capped"), col("realized_toks"),
        col("extra_toks"), col("final_toks"), col("over_after"),
        col("epochs_e6"), col("share_e6"))
      .orderBy(col("source"))
  }

  private val t28OracleSql: String =
    s"""WITH src AS (
       | SELECT source,
       |  1 + (COALESCE(CAST(NULLIF(regexp_extract(source, '(\\d+)', 1), '') AS BIGINT), 0) % 10) AS weight,
       |  CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) AS nat_toks
       | FROM documents GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(nat_toks) AS BIGINT) AS t,
       |  CAST(sum(weight) AS BIGINT) AS w FROM src),
       |base AS (
       | SELECT source, weight, nat_toks, $BudgetMult * t AS budget,
       |  ($BudgetMult * t * weight) // w AS target_toks,
       |  CASE WHEN ($BudgetMult * t * weight) // w > nat_toks * $EpochCap
       |   THEN 1 ELSE 0 END AS capped,
       |  least(($BudgetMult * t * weight) // w, nat_toks * $EpochCap) AS realized_toks
       | FROM src CROSS JOIN tot),
       |pool AS (SELECT CAST(sum(target_toks - realized_toks) AS BIGINT) AS deficit,
       |  CAST(sum(CASE WHEN capped = 0 THEN weight ELSE 0 END) AS BIGINT) AS wu
       | FROM base),
       |fin AS (
       | SELECT base.*, deficit, wu,
       |  CASE WHEN capped = 0 AND wu > 0 THEN (deficit * weight) // wu
       |   ELSE 0 END AS extra_toks
       | FROM base CROSS JOIN pool)
       |SELECT source, weight, nat_toks, target_toks, capped, realized_toks,
       | extra_toks, realized_toks + extra_toks AS final_toks,
       | CASE WHEN realized_toks + extra_toks > nat_toks * $EpochCap
       |  THEN 1 ELSE 0 END AS over_after,
       | CAST(CAST(least(realized_toks + extra_toks, nat_toks * ${EpochCap + 1})
       |   AS HUGEINT) * 1000000 // greatest(nat_toks, 1) AS BIGINT) AS epochs_e6,
       | CAST(CAST(realized_toks + extra_toks AS HUGEINT) * 1000000
       |   // greatest(budget, 1) AS BIGINT) AS share_e6
       |FROM fin ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- t32

  /** `t32_readability`: per-document readability — sentence/word/
    * syllable-proxy counts and the Flesch reading-ease + Flesch-Kincaid
    * grade formulas in EXACT integer e3 arithmetic (`206835 −
    * (1015·w) div s − (84600·syl) div w`; the syllable proxy is the
    * vowel-group count, the standard cheap stand-in), plus a 4-band
    * render. The curriculum/quality signal a corpus build sorts on:
    * curriculum schedules feed easy→hard, and readability outliers
    * (both extremes) are a cheap garbage detector t2's ratios miss.
    *
    * Scale: a pure per-row projection over ONE documents scan — three
    * codegen'd regexp_count matcher walks, integer divisions, a CASE;
    * no shuffle except the output sort. */
  def t32Readability(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "documents")
      .withColumn("n_sentences",
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L)))
      .withColumn("n_words",
        greatest(regexp_count(col("text"), lit("\\S+")).cast("long"), lit(1L)))
      .withColumn("n_syllables",
        greatest(regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).cast("long"),
          lit(1L)))
      .withColumn("fre_e3", expr(
        "206835 - (1015 * n_words) div n_sentences" +
          " - (84600 * n_syllables) div n_words"))
      .select(col("doc_id"), col("n_sentences"), col("n_words"),
        col("n_syllables"), col("fre_e3"),
        expr("(390 * n_words) div n_sentences" +
          " + (11800 * n_syllables) div n_words - 15590").as("fk_grade_e3"),
        when(col("fre_e3") >= 90000L, "elementary")
          .when(col("fre_e3") >= 60000L, "plain")
          .when(col("fre_e3") >= 30000L, "difficult")
          .otherwise("academic").as("band"))
      .orderBy(col("doc_id"))

  private lazy val t32OracleSql: String =
    """WITH c AS (
      | SELECT doc_id,
      |  greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
      |  greatest(len(regexp_extract_all(text, '\S+')), 1) AS n_words,
      |  greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1)
      |    AS n_syllables
      | FROM documents),
      |f AS (
      | SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
      |  CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_syllables AS BIGINT) AS n_syllables,
      |  CAST(206835 - (1015 * n_words) // n_sentences
      |   - (84600 * n_syllables) // n_words AS BIGINT) AS fre_e3,
      |  CAST((390 * n_words) // n_sentences
      |   + (11800 * n_syllables) // n_words - 15590 AS BIGINT) AS fk_grade_e3
      | FROM c)
      |SELECT doc_id, n_sentences, n_words, n_syllables, fre_e3, fk_grade_e3,
      | CASE WHEN fre_e3 >= 90000 THEN 'elementary'
      |  WHEN fre_e3 >= 60000 THEN 'plain'
      |  WHEN fre_e3 >= 30000 THEN 'difficult'
      |  ELSE 'academic' END AS band
      |FROM f ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- t33

  /** `t33_ngram_coverage`: held-out n-gram coverage — what fraction of
    * each eval split's DISTINCT unigrams and bigrams also occur in
    * train. The generalization telemetry t6's contamination report is
    * the inverse of: t6 flags eval content the model may have memorized;
    * t33 measures how much eval content the training distribution even
    * covers (low bigram coverage = the eval tests composition the corpus
    * never exhibits; near-1.0 unigram coverage with low bigram coverage
    * is the healthy shape). Splits are t5's md5 buckets verbatim.
    *
    * Scale: grams hash to 60-bit longs INSIDE the scan (the t6 idiom —
    * 8-byte shuffle keys, the oracle hashes identically) and collapse to
    * DISTINCT (split, order, hash) at the first shuffle (partial
    * distinct map-side, vocabulary-scale thereafter); coverage is one
    * gram-keyed left join of eval grams against train grams — the t6
    * posting shape, never doc×doc — and a 4-row rollup. */
  def t33NgramCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toked = Tables.load(spark, dir, "documents")
      .select(splitCol(col("doc_id")).as("split"), wsTokens(col("text")).as("toks"))
    val uni = toked.select(col("split"), lit(1L).as("ngram_order"),
      explode(col("toks")).as("g"))
    val bi = toked.filter(size(col("toks")) >= 2)
      .select(col("split"), lit(2L).as("ngram_order"),
        explode(expr("transform(sequence(2, size(toks)), " +
          "i -> concat(element_at(toks, i - 1), ' ', element_at(toks, i)))"))
          .as("g"))
    val grams = uni.unionByName(bi)
      .select(col("split"), col("ngram_order"),
        md5Long60(concat(col("ngram_order").cast("string"), lit(":"), col("g")))
          .as("h"))
      .distinct()
      .localCheckpoint(true) // both join sides below derive from it
    val train = grams.filter(col("split") === "train")
      .select(col("ngram_order"), col("h"), lit(1L).as("in_train"))
    grams.filter(col("split").isin("val", "test"))
      .join(train, Seq("ngram_order", "h"), "left")
      .groupBy(col("split"), col("ngram_order"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("in_train"), lit(0L))).as("n_covered"))
      .select(col("split"), col("ngram_order"), col("n_grams"), col("n_covered"),
        expr("n_covered * CAST(1000000 AS DECIMAL(38,0)) div n_grams")
          .as("coverage_e6"))
      .orderBy(col("split"), col("ngram_order"))
  }

  private lazy val t33OracleSql: String =
    s"""WITH d AS (
       | SELECT CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
       |   WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
       |   ELSE 'test' END AS split,
       |  $toksCaseSql AS toks
       | FROM documents),
       |uni AS (SELECT split, 1 AS ngram_order, unnest(toks) AS g FROM d),
       |bi AS (SELECT split, 2 AS ngram_order,
       |  unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1])) AS g
       | FROM d),
       |grams AS (
       | SELECT DISTINCT split, ngram_order,
       |  CAST(('0x' || substr(md5(CAST(ngram_order AS VARCHAR) || ':' || g),
       |    1, 15)) AS BIGINT) AS h
       | FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
       |train AS (SELECT ngram_order, h FROM grams WHERE split = 'train')
       |SELECT e.split, CAST(e.ngram_order AS BIGINT) AS ngram_order,
       | CAST(count(*) AS BIGINT) AS n_grams,
       | CAST(sum(CASE WHEN t.h IS NULL THEN 0 ELSE 1 END) AS BIGINT)
       |   AS n_covered,
       | CAST(sum(CASE WHEN t.h IS NULL THEN 0 ELSE 1 END) * 1000000
       |   // count(*) AS BIGINT) AS coverage_e6
       |FROM grams e LEFT JOIN train t
       | ON e.ngram_order = t.ngram_order AND e.h = t.h
       |WHERE e.split IN ('val', 'test')
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- t34

  /** t34's candidate context length, in whitespace tokens — near the
    * corpus median so both the fits-whole and the truncated regime are
    * exercised at every verification scale. */
  val ContextLenTokens = 64L

  /** `t34_length_histogram`: the document-length histogram + truncation
    * loss curve — per log2 token-length bucket: doc count, token count
    * and share, and the tokens LOST if every doc is truncated at
    * [[ContextLenTokens]] (with the bucket's e6 loss rate); `~TOTAL`
    * carries the corpus loss rate — the number that decides a
    * max_seq_len (t12 PACKS at a chosen length, t17 CHUNKS past it;
    * this is the planning table read before choosing it). All integer:
    * token counts are codegen'd matcher walks, the bucket is the bit
    * length, loss is `greatest(n − L, 0)`.
    *
    * Scale: ONE documents scan collapses to ≤64 log2 buckets at the
    * first shuffle (map-side partials); the bucket frame checkpoints
    * once for its two grain consumers; the share scalar is the same
    * aggregate's total (no second scan). */
  def t34LengthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val L = ContextLenTokens
    val per = Tables.load(spark, dir, "documents")
      .select(regexp_count(col("text"), lit("\\S+")).cast("long").as("n"))
      .groupBy(length(bin(col("n"))).cast("long").as("fbin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"),
        sum(greatest(col("n") - L, lit(0L))).as("lost_tokens"))
      .localCheckpoint(true) // <=64 rows; per-bucket + ~TOTAL read it
    val scal = per.agg(sum(col("n_tokens")).as("tot"))
    val rows = per.join(broadcast(scal))
      .select(lpad(col("fbin").cast("string"), 2, "0").as("key"),
        col("fbin"), col("n_docs"), col("n_tokens"),
        expr("n_tokens * CAST(1000000 AS DECIMAL(38,0)) div greatest(tot, 1)")
          .as("token_share_e6"),
        col("lost_tokens"),
        expr("lost_tokens * CAST(1000000 AS DECIMAL(38,0)) div greatest(n_tokens, 1)")
          .as("loss_e6"))
    val tot = per.agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("lost_tokens")).as("lost_tokens"))
      .select(lit("~TOTAL").as("key"), lit(null).cast("long").as("fbin"),
        col("n_docs"), col("n_tokens"), lit(1000000L).as("token_share_e6"),
        col("lost_tokens"),
        expr("lost_tokens * CAST(1000000 AS DECIMAL(38,0)) div greatest(n_tokens, 1)")
          .as("loss_e6"))
    rows.unionByName(tot).orderBy(col("key"))
  }

  /** `t35_tokenizer_roundtrip`: the audit a tokenizer ships with — does
    * `decode(encode(w))` reproduce the corpus, and what falls outside
    * the vocabulary? Every RAW whitespace token (case preserved — the
    * encoder's `lower()` is itself a loss this audit must see) is
    * judged per type: `exact` (decode reproduces the raw form),
    * `casefold` (decode reproduces only the lowercased form — the
    * case-folding loss), `oov` (the [[BpeWordRe]] gate rejects it — the
    * byte-fallback population, priced by its `n_chars`), and
    * `mismatch` (decode broke the word — impossible by construction
    * since merges only join adjacent symbols, so the row must NEVER
    * appear; its absence in the hash-checked result is the decoder's
    * falsifiable no-loss claim, and the spec asserts it on planted
    * words too). Per verdict: types, occurrences, chars, tokens, and
    * the occurrence share (e6, Decimal envelope).
    *
    * Scale: t29's exact shape — the merge table is the model, encoding
    * and decoding run once per distinct word TYPE (a K-deep codegen'd
    * `replace` chain over the vocabulary), raw types join their
    * decoded twins on the word key, and the corpus collapses to ≤4
    * verdict rows at the second aggregate. No corpus-sized row ever
    * carries a symbol string. */
  def t35TokenizerRoundtrip(spark: SparkSession, dir: String): DataFrame =
    t35Core(Tables.load(spark, dir, "documents"),
      bpeTrainedMerges(spark, dir))

  /** t35's corpus-independent core, split out so the spec can replay it
    * on planted words against a known merge table. */
  private[graft] def t35Core(docs: DataFrame,
      merges: Seq[(Long, String, String, String, Long, Long)]): DataFrame = {
    val raws = docs.select(explode(wsTokens(col("text"))).as("w_raw"))
      .groupBy(col("w_raw")).agg(count(lit(1)).as("n_occ"))
      .withColumn("word", lower(col("w_raw")))
      .withColumn("in_vocab", col("word").rlike(BpeWordRe))
    val encoded = merges.foldLeft(
      raws.filter(col("in_vocab")).select(col("word")).distinct()
        .withColumn("sym", bpeSym0(col("word")))) {
      case (df, (_, bl, br, _, _, _)) =>
        df.withColumn("sym", expr(s"replace(sym, '|$bl||$br|', '|$bl$br|')"))
    }.select(col("word"),
      size(expr("filter(split(sym, '[|]'), x -> x != '')"))
        .cast("long").as("n_tok"),
      // decode = strip the delimiters: symbols carry no '|' (words match
      // ^[a-z0-9]+$), so dropping every pipe concatenates the symbols
      expr("replace(sym, '|', '')").as("decoded"))
    val per = raws.join(encoded, Seq("word"), "left")
      .withColumn("verdict",
        when(!col("in_vocab"), "oov")
          .when(col("decoded") === col("w_raw"), "exact")
          .when(col("decoded") === col("word"), "casefold")
          .otherwise("mismatch"))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("n_occ")).as("n_occ"),
        sum(col("n_occ") * length(col("w_raw")).cast("long")).as("n_chars"),
        coalesce(sum(col("n_occ") * col("n_tok")), lit(0L)).as("n_tokens"))
      .localCheckpoint(true) // <=4 rows; shares + ~TOTAL read it
    val scal = per.agg(sum(col("n_occ")).as("tot_occ"))
    val rows = per.join(broadcast(scal))
      .select(col("verdict"), col("n_types"), col("n_occ"), col("n_chars"),
        col("n_tokens"),
        expr("n_occ * CAST(1000000 AS DECIMAL(38,0)) div tot_occ")
          .as("occ_share_e6"))
    val tot = per.agg(sum(col("n_types")).as("n_types"),
        sum(col("n_occ")).as("n_occ"), sum(col("n_chars")).as("n_chars"),
        sum(col("n_tokens")).as("n_tokens"))
      .select(lit("~TOTAL").as("verdict"), col("n_types"), col("n_occ"),
        col("n_chars"), col("n_tokens"), lit(1000000L).as("occ_share_e6"))
    rows.unionByName(tot).orderBy(col("verdict"))
  }

  private lazy val t35OracleSql: String = {
    val applies = (1 to BpeTrainRounds).map { r =>
      s"""u$r AS (
         | SELECT u.word,
         |  replace(u.sym, '|' || b.lhs || '||' || b.rhs || '|',
         |          '|' || b.lhs || b.rhs || '|') AS sym
         | FROM u${r - 1} u, b$r b)"""
    }.mkString(",\n")
    s"""WITH $bpeTrainCtes,
       |u0 AS (
       | SELECT word,
       |  '|' || array_to_string(list_transform(range(1, length(word) + 1),
       |    i -> substr(word, CAST(i AS INT), 1)), '||') || '|' AS sym
       | FROM (SELECT DISTINCT lower(w_raw) AS word FROM (
       |        SELECT unnest($tokSql) AS w_raw FROM documents)
       |       WHERE regexp_matches(lower(w_raw), '^[a-z0-9]+$$'))),
       |$applies,
       |enc AS (
       | SELECT word,
       |  CAST(len(list_filter(string_split(sym, '|'), x -> x <> ''))
       |    AS BIGINT) AS n_tok,
       |  replace(sym, '|', '') AS decoded
       | FROM u$BpeTrainRounds),
       |raws AS (
       | SELECT w_raw, CAST(count(*) AS BIGINT) AS n_occ FROM (
       |  SELECT unnest($tokSql) AS w_raw FROM documents)
       | WHERE length(w_raw) > 0 GROUP BY 1),
       |per AS (
       | SELECT CASE
       |   WHEN NOT regexp_matches(lower(r.w_raw), '^[a-z0-9]+$$') THEN 'oov'
       |   WHEN e.decoded = r.w_raw THEN 'exact'
       |   WHEN e.decoded = lower(r.w_raw) THEN 'casefold'
       |   ELSE 'mismatch' END AS verdict,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(sum(r.n_occ) AS BIGINT) AS n_occ,
       |  CAST(sum(r.n_occ * length(r.w_raw)) AS BIGINT) AS n_chars,
       |  CAST(coalesce(sum(r.n_occ * e.n_tok), 0) AS BIGINT) AS n_tokens
       | FROM raws r LEFT JOIN enc e ON e.word = lower(r.w_raw)
       | GROUP BY 1),
       |tot AS (SELECT sum(n_occ) AS tot_occ FROM per)
       |SELECT verdict, n_types, n_occ, n_chars, n_tokens, occ_share_e6
       |FROM (
       | SELECT verdict, n_types, n_occ, n_chars, n_tokens,
       |  CAST(CAST(n_occ AS HUGEINT) * 1000000 // tot_occ AS BIGINT)
       |    AS occ_share_e6
       | FROM per CROSS JOIN tot
       | UNION ALL
       | SELECT '~TOTAL', CAST(sum(n_types) AS BIGINT),
       |  CAST(sum(n_occ) AS BIGINT), CAST(sum(n_chars) AS BIGINT),
       |  CAST(sum(n_tokens) AS BIGINT), CAST(1000000 AS BIGINT)
       | FROM per)
       |ORDER BY verdict""".stripMargin
  }

  private lazy val t34OracleSql: String =
    s"""WITH t AS (
       | SELECT CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n
       | FROM documents),
       |per AS (
       | SELECT CAST(length(bin(n)) AS BIGINT) AS fbin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS n_tokens,
       |  CAST(sum(greatest(n - $ContextLenTokens, 0)) AS BIGINT)
       |    AS lost_tokens
       | FROM t GROUP BY 1),
       |scal AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per)
       |SELECT * FROM (
       | SELECT lpad(CAST(fbin AS VARCHAR), 2, '0') AS key, fbin, n_docs,
       |  n_tokens,
       |  CAST(n_tokens * 1000000 // greatest(tot, 1) AS BIGINT)
       |    AS token_share_e6,
       |  lost_tokens,
       |  CAST(lost_tokens * 1000000 // greatest(n_tokens, 1) AS BIGINT)
       |    AS loss_e6
       | FROM per CROSS JOIN scal
       | UNION ALL
       | SELECT '~TOTAL', CAST(NULL AS BIGINT), CAST(sum(n_docs) AS BIGINT),
       |  CAST(sum(n_tokens) AS BIGINT), CAST(1000000 AS BIGINT),
       |  CAST(sum(lost_tokens) AS BIGINT),
       |  CAST(sum(lost_tokens) * 1000000
       |    // greatest(sum(n_tokens), 1) AS BIGINT)
       | FROM per
       |) ORDER BY key""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t34_length_histogram" -> (t34LengthHistogram _),
    "t35_tokenizer_roundtrip" -> (t35TokenizerRoundtrip _),
    "t32_readability" -> (t32Readability _),
    "t33_ngram_coverage" -> (t33NgramCoverage _),
    "t31_source_divergence" -> (t31SourceDivergence _),
    "t30_temperature_mix" -> (t30TemperatureMix _),
    "t29_bpe_encode" -> (t29BpeEncode _),
    "t28_epoch_plan" -> (t28EpochPlan _),
    "t26_corpus_card" -> (t26CorpusCard _),
    "t25_langid_eval" -> (t25LangidEval _),
    "t24_classifier_score" -> (t24ClassifierScore _),
    "t23_zipf_curve" -> (t23ZipfCurve _),
    "t36_heaps_curve" -> (t36HeapsCurve _),
    "t22_bpe_merges" -> (t22BpeMerges _),
    "t27_bpe_train" -> (t27BpeTrain _),
    "t20_dup_profile" -> (t20DupProfile _),
    "t21_preference_pairs" -> (t21PreferencePairs _),
    "t1_text_stats" -> (t1TextStats _),
    "t19_perplexity_prune" -> (t19PerplexityPrune _),
    "t2_text_quality" -> (t2TextQuality _),
    "t3_lang_id" -> (t3LangId _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "t5_hash_split" -> (t5HashSplit _),
    "t6_decontaminate" -> (t6Decontaminate _),
    "t7_pii_redact" -> (t7PiiRedact _),
    "t8_repetition" -> (t8Repetition _),
    "t9_source_mix" -> (t9SourceMix _),
    "t10_collocations" -> (t10Collocations _),
    "t11_filter_funnel" -> (t11FilterFunnel _),
    "t12_sequence_pack" -> (t12SequencePack _),
    "t13_tfidf_keywords" -> (t13TfidfKeywords _),
    "t15_stratified_sample" -> (t15StratifiedSample _),
    "t16_lm_score" -> (t16LmScore _),
    "t17_context_chunks" -> (t17ContextChunks _),
    "t18_importance_weights" -> (t18ImportanceWeights _))

  private val t5OracleSql: String =
    """SELECT source, split, count(*) AS n_docs FROM (
      | SELECT source,
      |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
      |       WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      | FROM documents)
      |GROUP BY source, split ORDER BY source, split""".stripMargin

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  private val trimSql = "regexp_replace(text, '^\\s+|\\s+$', '', 'g')"
  private val tokSql = s"string_split_regex($trimSql, '\\s+')"
  private def stopCountSql(words: Seq[String]): String =
    s"len(list_filter($tokSql, t -> list_contains(${sqlList(words)}, t)))"

  // shingles hashed to the same 60-bit md5 longs the Spark plan joins on
  private val t6OracleSql: String =
    """WITH sh AS (
      | SELECT doc_id, split, CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT) AS h FROM (
      |  SELECT doc_id,
      |   CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
      |        WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
      |        ELSE 'test' END AS split,
      |   unnest(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
      |    ELSE list_distinct(list_transform(range(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END) AS s
      |  FROM (SELECT doc_id,
      |    CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
      |     ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS toks
      |   FROM documents)))
      |SELECT t.doc_id AS test_doc_id,
      | count(DISTINCT r.doc_id) AS n_train_docs,
      | count(DISTINCT t.h) AS n_shared_shingles
      |FROM sh t JOIN sh r ON t.h = r.h AND t.split = 'test' AND r.split = 'train'
      |GROUP BY t.doc_id ORDER BY test_doc_id""".stripMargin

  // empty-text-safe token list: mirrors wsTokens (trim-regex then split).
  // private[operators]: s15's lexical-retrieval oracle tokenizes the same way
  private[graft] val toksCaseSql =
    s"CASE WHEN length($trimSql) = 0 THEN []::VARCHAR[] ELSE $tokSql END"

  private val t7OracleSql: String =
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       | CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
       | CAST(len(regexp_extract_all(text, '$LongIdRe')) AS BIGINT) AS n_long_ids,
       | md5(regexp_replace(regexp_replace(regexp_replace(text,
       |   '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
       |   '$LongIdRe', '<ID>', 'g')) AS redacted_md5
       |FROM documents""".stripMargin

  // top-token count via unnest+group+max — the same number as the Spark
  // side's longest-sorted-run fold (max occurrence count of any token);
  // docs with no tokens fall out of the unnest, hence the LEFT JOIN + 0
  private val t8OracleSql: String =
    s"""WITH d AS (SELECT doc_id, $toksCaseSql AS toks FROM documents),
       |x AS (
       | SELECT doc_id, len(toks) AS n, greatest(len(toks) - 2, 0) AS n3,
       |  len(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
       |   ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END) AS d3
       | FROM d),
       |tops AS (
       | SELECT doc_id, max(c) AS top FROM (
       |  SELECT doc_id, t, count(*) AS c
       |  FROM (SELECT doc_id, unnest(toks) AS t FROM d) GROUP BY doc_id, t)
       | GROUP BY doc_id)
       |SELECT x.doc_id, CAST(n AS BIGINT) AS n_toks, CAST(n3 AS BIGINT) AS n_3grams,
       | CAST(d3 AS BIGINT) AS n_distinct_3grams,
       | CASE WHEN n3 > 0 THEN CAST(floor((1.0 - CAST(d3 AS DOUBLE) / CAST(n3 AS DOUBLE)) * 1000000.0) AS BIGINT)
       |      ELSE 0 END AS dup_3gram_ratio_e6,
       | CAST(COALESCE(tops.top, 0) AS BIGINT) AS top_tok_n,
       | CASE WHEN n > 0 THEN CAST(floor(CAST(COALESCE(tops.top, 0) AS DOUBLE) / CAST(n AS DOUBLE) * 1000000.0) AS BIGINT)
       |      ELSE 0 END AS top_tok_ratio_e6
       |FROM x LEFT JOIN tops ON x.doc_id = tops.doc_id""".stripMargin

  // COALESCE(NULLIF(...)) keeps the oracle total on digitless sources,
  // where a bare CAST('' AS BIGINT) would error out the whole check
  private val t9OracleSql: String =
    """WITH r AS (
      | SELECT source, doc_id,
      |  30 + (COALESCE(CAST(NULLIF(regexp_extract(source, '(\d+)', 1), '') AS BIGINT), 0) % 10) * 5 AS rate_pct
      | FROM documents)
      |SELECT source, rate_pct, count(*) AS n_docs,
      | CAST(sum(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
      |   < rate_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM r GROUP BY 1, 2 ORDER BY source""".stripMargin

  /** t18: the same bigram hash space, smoothing and div arithmetic as the
    * Spark plan, BIGINT end to end. */
  private val t18OracleSql: String =
    s"""WITH t AS (
       | SELECT doc_id,
       |  CASE WHEN COALESCE(CAST(NULLIF(regexp_extract(source, '(\\d+)', 1), '') AS BIGINT), 0)
       |    % $ImpTargetMod = 0 THEN 1 ELSE 0 END AS is_target,
       |  $toksCaseSql AS toks
       | FROM documents),
       |g AS (
       | SELECT doc_id, is_target,
       |  CAST(('0x' || substr(md5(unnest(list_transform(range(1, len(toks)),
       |    i -> toks[i] || ' ' || toks[i+1]))), 1, 15)) AS BIGINT) % $ImpBuckets AS b
       | FROM t),
       |tot AS (SELECT count(*) AS tr, sum(is_target) AS tt FROM g),
       |ratio AS (
       | SELECT b, ((n_t + 1) * (tr + $ImpBuckets) * 1000000) // ((n_r + 1) * (tt + $ImpBuckets)) AS ratio_e6
       | FROM (SELECT b, count(*) AS n_r, sum(is_target) AS n_t FROM g GROUP BY b), tot),
       |pd AS (
       | SELECT doc_id, count(*) AS n_grams, sum(ratio_e6) AS rsum
       | FROM g JOIN ratio USING (b) GROUP BY doc_id)
       |SELECT t.doc_id, CAST(t.is_target AS BIGINT) AS is_target,
       | CAST(COALESCE(pd.n_grams, 0) AS BIGINT) AS n_grams,
       | CAST(CASE WHEN pd.n_grams > 0 THEN pd.rsum // pd.n_grams END AS BIGINT) AS weight_e6
       |FROM t LEFT JOIN pd USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  // same lift op tree as the Spark plan: (c12/n2) / ((c1/n1) * (c2/n1))
  private val t10OracleSql: String =
    s"""WITH d AS (SELECT $toksCaseSql AS toks FROM documents),
       |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c
       | FROM (SELECT unnest(toks) AS w FROM d) GROUP BY w),
       |big0 AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM (
       |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS bg FROM d)
       | GROUP BY bg),
       |big AS (SELECT * FROM big0 WHERE c12 >= $MinPairCount),
       |tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n1,
       |               (SELECT CAST(sum(c12) AS BIGINT) FROM big0) AS n2)
       |SELECT w1, w2, c12 AS pair_count, u1.c AS w1_count, u2.c AS w2_count,
       | CAST(floor(((CAST(c12 AS DOUBLE) / CAST(n2 AS DOUBLE)) /
       |   ((CAST(u1.c AS DOUBLE) / CAST(n1 AS DOUBLE)) * (CAST(u2.c AS DOUBLE) / CAST(n1 AS DOUBLE))))
       |   * 1000000.0) AS BIGINT) AS lift_e6
       |FROM (SELECT c12, string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2 FROM big) b
       |JOIN uni u1 ON u1.w = b.w1 JOIN uni u2 ON u2.w = b.w2 CROSS JOIN tot
       |ORDER BY lift_e6 DESC, w1, w2 LIMIT $TopCollocations""".stripMargin

  private val t11OracleSql: String = {
    val rulesValues = FilterRules
      .map { case (i, r) => s"($i, '$r')" }.mkString(", ")
    s"""WITH m AS (
       | SELECT len(toks) AS n, length(text) AS len,
       |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
       |  length(regexp_replace(text, '[^0-9]', '', 'g')) AS digit,
       |  len(list_filter(toks, t -> list_contains(${sqlList(stopwords("en"))}, t))) AS stop,
       |  greatest(len(toks) - 2, 0) AS n3,
       |  len(CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
       |   ELSE list_distinct(list_transform(range(1, len(toks) - 1),
       |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END) AS d3
       | FROM (SELECT $toksCaseSql AS toks, text FROM documents)),
       |f AS (SELECT CASE WHEN n < $MinTokens THEN 1 WHEN len > $MaxChars THEN 2
       |  WHEN digit * 5 > len THEN 3 WHEN alpha * 100 < len * $AlphaPct THEN 4
       |  WHEN stop < $MinStopwords THEN 5 WHEN d3 * 20 < n3 * 19 THEN 6
       |  ELSE 0 END AS fail_idx FROM m),
       |drops AS (SELECT fail_idx, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY 1),
       |rules(rule_idx, rule) AS (VALUES $rulesValues),
       |j AS (SELECT rule_idx, rule, CAST(COALESCE(n, 0) AS BIGINT) AS n_dropped
       | FROM rules LEFT JOIN drops ON fail_idx = rule_idx),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM drops)
       |SELECT CAST(rule_idx AS BIGINT) AS rule_idx, rule,
       | n_total - CAST(COALESCE(sum(n_dropped) OVER (ORDER BY rule_idx
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_in,
       | n_dropped,
       | n_total - CAST(COALESCE(sum(n_dropped) OVER (ORDER BY rule_idx
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS n_out
       |FROM j CROSS JOIN t ORDER BY rule_idx""".stripMargin
  }

  // the oracle states the pack as the naive single-window prefix sum —
  // same tape, engine-appropriate plan
  private val t12OracleSql: String =
    s"""WITH d AS (
       | SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS key,
       |  CAST(CASE WHEN length($trimSql) = 0 THEN 0 ELSE len($tokSql) END AS BIGINT) AS n_toks
       | FROM documents),
       |o AS (
       | SELECT doc_id, n_toks,
       |  CAST(COALESCE(sum(n_toks) OVER (ORDER BY key, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_offset
       | FROM d WHERE n_toks > 0)
       |SELECT doc_id, n_toks, tok_offset,
       | tok_offset // $BinTokens AS start_bin,
       | (tok_offset + n_toks - 1) // $BinTokens AS end_bin,
       | tok_offset % $BinTokens AS bin_offset
       |FROM o ORDER BY tok_offset""".stripMargin

  // same weight op tree as the Spark plan: tf * n_docs / df * 1e6, floored
  private val t13OracleSql: String =
    s"""WITH d AS (SELECT doc_id, $toksCaseSql AS toks FROM documents),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       | FROM (SELECT doc_id, unnest(toks) AS term FROM d) GROUP BY doc_id, term),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
       |s AS (SELECT doc_id, term, tf, df,
       |  CAST(floor(CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)
       |    * 1000000.0) AS BIGINT) AS weight_e6
       | FROM tf JOIN dfreq USING (term) CROSS JOIN tot),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |  ORDER BY weight_e6 DESC, term) AS kw_rank FROM s)
       |SELECT doc_id, CAST(kw_rank AS BIGINT) AS kw_rank, term, tf, df, weight_e6
       |FROM r WHERE kw_rank <= $TopKeywords ORDER BY doc_id, kw_rank""".stripMargin

  /** t17 oracle: same trim/split parity as t12, DuckDB list slicing
    * (1-based inclusive, end-clipped like Spark's `slice`). */
  private val t17OracleSql: String = {
    val (w, s) = (ChunkTokens, ChunkStride)
    s"""WITH n AS (
       | SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n FROM (
       |  SELECT doc_id, $toksCaseSql AS toks FROM documents)
       | WHERE len(toks) > 0),
       |c AS (
       | SELECT doc_id, toks, n,
       |  CASE WHEN n <= $w THEN 1 ELSE (n - $w + ${s - 1}) // $s + 1 END AS nc
       | FROM n),
       |e AS (
       | SELECT doc_id, toks, n, nc, unnest(range(nc)) AS chunk_id FROM c),
       |x AS (
       | SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       |  CAST(chunk_id * $s AS BIGINT) AS tok_start,
       |  array_to_string(toks[chunk_id*$s+1 : chunk_id*$s+$w], ' ') AS chunk_text,
       |  n, nc
       | FROM e)
       |SELECT doc_id, chunk_id, tok_start,
       | CAST(least(n, tok_start + $w) - tok_start AS BIGINT) AS n_tokens,
       | CAST(length(chunk_text) AS BIGINT) AS n_chars,
       | md5(chunk_text) AS fp,
       | CAST(CASE WHEN chunk_id = nc - 1 THEN 1 ELSE 0 END AS BIGINT) AS is_last
       |FROM x ORDER BY doc_id, chunk_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "t26_corpus_card" -> t26OracleSql,
    "t25_langid_eval" -> t25OracleSql,
    "t24_classifier_score" -> t24OracleSql,
    "t23_zipf_curve" ->
      s"""WITH freq AS (
         | SELECT term, CAST(count(*) AS BIGINT) AS freq FROM (
         |  SELECT unnest($toksCaseSql) AS term FROM documents)
         | GROUP BY term),
         |fof AS (SELECT freq, CAST(count(*) AS BIGINT) AS nt
         | FROM freq GROUP BY freq),
         |b AS (
         | SELECT CAST(length(bin(freq)) AS BIGINT) AS fbin,
         |  CAST(sum(nt) AS BIGINT) AS n_terms,
         |  CAST(sum(freq * nt) AS BIGINT) AS n_occurrences,
         |  CAST(min(freq) AS BIGINT) AS min_freq,
         |  CAST(max(freq) AS BIGINT) AS max_freq
         | FROM fof GROUP BY 1)
         |SELECT fbin, n_terms, n_occurrences, min_freq, max_freq,
         | CAST(sum(n_terms) OVER (ORDER BY fbin DESC
         |   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS max_rank
         |FROM b ORDER BY fbin""".stripMargin,
    "t36_heaps_curve" ->
      s"""WITH mx AS (SELECT max(doc_id) AS max_id FROM documents),
         |d AS (
         | SELECT doc_id * $HeapsBuckets // (max_id + 1) AS bucket,
         |  $toksCaseSql AS toks
         | FROM documents CROSS JOIN mx),
         |pb AS (
         | SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs_b,
         |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens_b
         | FROM d GROUP BY 1),
         |fw AS (
         | SELECT term, min(bucket) AS fb FROM (
         |  SELECT bucket, unnest(toks) AS term FROM d)
         | GROUP BY 1),
         |tb AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_types_b
         | FROM fw GROUP BY 1),
         |j AS (
         | SELECT pb.bucket, n_docs_b, n_tokens_b,
         |  COALESCE(n_types_b, CAST(0 AS BIGINT)) AS n_types_b
         | FROM pb LEFT JOIN tb USING (bucket)),
         |c AS (
         | SELECT bucket,
         |  CAST(sum(n_docs_b) OVER w AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens_b) OVER w AS BIGINT) AS n_tokens,
         |  CAST(sum(n_types_b) OVER w AS BIGINT) AS n_types
         | FROM j WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING))
         |SELECT bucket + 1 AS checkpoint, n_docs, n_tokens, n_types,
         | CAST(n_types * 1000000 // greatest(n_tokens, 1) AS BIGINT)
         |  AS type_token_e6
         |FROM c ORDER BY checkpoint""".stripMargin,
    "t22_bpe_merges" -> t22OracleSql,
    "t27_bpe_train" -> t27OracleSql,
    "t34_length_histogram" -> t34OracleSql,
    "t35_tokenizer_roundtrip" -> t35OracleSql,
    "t32_readability" -> t32OracleSql,
    "t33_ngram_coverage" -> t33OracleSql,
    "t31_source_divergence" -> t31OracleSql,
    "t30_temperature_mix" -> t30OracleSql,
    "t29_bpe_encode" -> t29OracleSql,
    "t28_epoch_plan" -> t28OracleSql,
    "t17_context_chunks" -> t17OracleSql,
    "t15_stratified_sample" -> t15OracleSql,
    "t16_lm_score" -> t16OracleSql,
    "t13_tfidf_keywords" -> t13OracleSql,
    "t12_sequence_pack" -> t12OracleSql,
    "t10_collocations" -> t10OracleSql,
    "t11_filter_funnel" -> t11OracleSql,
    "t6_decontaminate" -> t6OracleSql,
    "t5_hash_split" -> t5OracleSql,
    "t7_pii_redact" -> t7OracleSql,
    "t8_repetition" -> t8OracleSql,
    "t9_source_mix" -> t9OracleSql,
    "t18_importance_weights" -> t18OracleSql,
    "t19_perplexity_prune" -> t19OracleSql,
    "t20_dup_profile" -> t20OracleSql,
    "t21_preference_pairs" -> t21OracleSql,
    "t1_text_stats" ->
      s"""SELECT doc_id, lang, n_chars,
         | CASE WHEN length($trimSql) = 0 THEN 0 ELSE len($tokSql) END AS n_ws_tokens,
         | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
         | length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         | length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         | length(regexp_replace(text, '[^ ]', '', 'g')) AS n_space,
         | round(CAST(length(text) - length(regexp_replace(text, '[^ ]', '', 'g')) AS DOUBLE)
         |   / greatest(CASE WHEN length($trimSql) = 0 THEN 0 ELSE len($tokSql) END, 1), 4) AS avg_token_len
         |FROM documents""".stripMargin,
    "t2_text_quality" -> t2OracleSql,
    "t3_lang_id" -> t3OracleSql,
    "t4_fingerprint" ->
      """WITH n AS (
        | SELECT doc_id,
        |  lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS norm,
        |  CASE WHEN length(regexp_replace(text, '^\s+|\s+$', '', 'g')) = 0 THEN []::VARCHAR[]
        |       ELSE string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+') END AS toks
        | FROM documents),
        |sh AS (
        | SELECT doc_id, norm,
        |  CASE WHEN len(toks) < 3 THEN []::VARCHAR[]
        |   ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS shingles
        | FROM n)
        |SELECT doc_id, md5(norm) AS fp_hex,
        | CAST(('0x' || substr(md5(norm), 1, 15)) AS BIGINT) AS fp60,
        | CAST(('0x' || substr(md5(array_to_string(list_sort(shingles), chr(1))), 1, 15)) AS BIGINT) AS shingle_fp60,
        | len(shingles) AS n_shingles
        |FROM sh""".stripMargin)
}
