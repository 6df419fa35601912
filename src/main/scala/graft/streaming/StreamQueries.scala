package graft.streaming

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The streaming shapes promoted onto the MEASURED oracle surface
  * (SURVEY §2's streaming family was test-only through round 18): each
  * entry drives a real Structured Streaming query — file source →
  * AvailableNow drain → durable state — and emits the drained state as
  * a deterministic frame the DuckDB oracle can restate as batch SQL.
  * The CORRECTNESS row is therefore a stream-vs-batch equivalence proof
  * executed through the actual streaming machinery (source listing
  * order, micro-batch boundaries, foreachBatch idempotence, state-dir
  * merge), not a unit replay of its parts. */
object StreamQueries {

  /** Partition count for the drains' stateful operators. A stateful
    * streaming query instantiates `spark.sql.shuffle.partitions` state
    * stores PER stateful operator and commits every one of them EVERY
    * micro-batch, so the engine's batch default (32 here) pays pure
    * state-machinery overhead on a 2-4-file staged arrival: measured
    * solo at sf0.1, st9 (four join state stores) runs ~12.3s at 32
    * partitions vs ~5.5s at 8 with identical results; the r20
    * optimization pass re-measured the dial same-hour and found 4
    * another ~12% cheaper on st9 (warm 4.4-4.8s vs 5.0-6.1s at 8) with
    * 2 inside noise of 4 — 4 covers local parallelism for this arrival
    * volume. A production deployment sizes this dial per stream — more
    * volume, more partitions — exactly like any shuffle, so it is
    * env-overridable (`SPARK_GRAFT_STREAM_STATE_PARTITIONS`) with the
    * measured local default. Results are partition-count-invariant,
    * which the hash-checked oracle rows prove at every scale
    * (state-partition count is fixed into the checkpoint at first
    * batch, and every drain here starts from a fresh checkpoint).
    * Parsed when a stateful drain builds its session, not when this
    * object initialises: a malformed value fails those drains with an
    * error that names the variable, never the whole query registry. */
  private[graft] def statePartitions(env: Option[String]): Int =
    graft.GraftSession.dial("SPARK_GRAFT_STREAM_STATE_PARTITIONS", env, 4, Int.MaxValue).toInt

  /** A child session for a drain's streaming query: shares the
    * SparkContext, inherits the engine's builder-level tuning from the
    * SparkConf, overrides ONLY the shuffle/state partition count.
    * Staging (plain batch writes) and the read-back of the drained sink
    * stay on the caller's session.
    *
    * Scoped to the NATIVE-state-store drains only (st5 fMGWS, st6/st10
    * windowed aggs, st8 session_window, st9 stream-stream join): their
    * per-batch work is state-store commits, so fewer instances is pure
    * win. The foreachBatch drains (st1-st4) run REAL batch operators
    * inside each micro-batch — windows, joins, state rewrites — whose
    * parallelism wants the engine default; shrinking their shuffle
    * measurably HURT (st4's per-batch SCD2 window ran ~2x slower at 8).
    * st7 is stateless broadcast-join enrichment — partition-count
    * neutral — and stays on the caller's session. */
  private def streamSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      statePartitions(sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS")).toString)
    s
  }

  /** The one drain harness behind st1-st10. In a fresh `graft_<name>`
    * scratch dir it stages `arrivals` in order as `a.parquet`,
    * `b.parquet`, … with forced modification times 1e9, 2e9, … ms, so
    * the file source's oldest-first listing order is deterministic and,
    * at one file per trigger, each arrival is its own micro-batch. It
    * reads them back as a `schema` file stream on `streamOn`, lets `body`
    * build the sink (`work` is the scratch dir, for the sink's state or
    * output path), starts it under a checkpoint with the AvailableNow
    * trigger, awaits the drain and fails if the stream died.
    *
    * The frame `readBack(work)` returns is localCheckpoint'ed (eager):
    * that pins the drained state in block storage, so the scratch dir —
    * staged table copy, checkpoint, state — is deleted the moment this
    * returns instead of leaking a table copy per Bench rep. The delete
    * runs in a `finally`, also when the stream dies or `body` throws, and
    * is best-effort: a cleanup failure never fails the query.
    *
    * Staging writes run on the arrival frames' session and the read-back
    * on the session `readBack` closes over (the caller's); only the
    * stream reads on `streamOn`. */
  private[graft] def drain(name: String, arrivals: Seq[DataFrame], schema: String,
                           streamOn: SparkSession)(
      body: (DataFrame, String) => DataStreamWriter[Row],
      readBack: String => DataFrame): DataFrame = {
    val work = Files.createTempDirectory(s"graft_$name").toString
    try {
      val in = new File(work, "in"); in.mkdirs()
      arrivals.zipWithIndex.foreach { case (side, i) =>
        val stem = ('a' + i).toChar.toString
        val tmp = s"$work/stage_$stem"
        side.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new File(tmp).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        val dst = new File(in, s"$stem.parquet")
        Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified((i + 1) * 1000000000L), s"cannot stamp mtime on $dst")
      }
      val stream = StreamPipelines.fileStream(streamOn, in.toString, schema,
        maxFilesPerTrigger = 1)
      val q = body(stream, work)
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      require(q.exception.isEmpty, s"$name stream died: ${q.exception}")
      readBack(work).localCheckpoint(eager = true)
    } finally StreamPipelines.deleteTree(work)
  }

  /** The documents table as st1/st3's two-batch arrival: even doc_ids
    * as the older file, odd doc_ids as the newer one. */
  private def parityArrivals(spark: SparkSession, dir: String): Seq[DataFrame] = {
    val docs = graft.Tables.load(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    Seq(docs.filter(col("doc_id") % 2 === 0), docs.filter(col("doc_id") % 2 =!= 0))
  }

  /** st2/st4's two-batch TIME split of `ev` (which carries `ts_us`): the
    * older half, below the data-derived midpoint, arrives first. */
  private def midpointHalves(ev: DataFrame): Seq[DataFrame] = {
    val cut = ev.agg(
      expr("CAST((min(ts_us) + max(ts_us) + 1) div 2 AS BIGINT)").as("cut_us"))
    Seq(col("ts_us") < col("cut_us"), col("ts_us") >= col("cut_us"))
      .map(side => ev.crossJoin(broadcast(cut)).filter(side).drop("cut_us")) // hint: scalar
  }

  /** The newest state version of st2/st4's versioned sink, once the
    * two-batch version chain is proven on disk. */
  private def twoBatchState(spark: SparkSession, state: String): DataFrame = {
    val versions = StreamPipelines.versions(state)
    require(versions.contains(2L), s"expected the two-batch version chain, got v$versions")
    StreamPipelines.currentState(spark, state).get
  }

  /** `st1_stream_dedup`: the streaming corpus-dedup ingest
    * ([[StreamPipelines.corpusDedupBatch]] — d1's exact content dedup run
    * as a continuous crawl stage) drained over a DETERMINISTIC two-batch
    * arrival of the documents table: even doc_ids land as the older
    * input file, odd doc_ids as the newer one, `maxFilesPerTrigger=1`
    * makes each file its own micro-batch (the file source processes
    * oldest-first), and the AvailableNow trigger drains the backlog and
    * stops. The accepted set is batch-ORDER-dependent — a hash seen in
    * batch 0 keeps its even-side min doc_id and blocks the odd side —
    * so the oracle must restate the streaming semantics (per-batch
    * keeper + anti-join against prior state), not just d1: exactly the
    * asymmetry that makes this a streaming CORRECTNESS row rather than
    * a re-labeled batch one. Output: one row per accepted document
    * (norm_hash, doc_id, src_batch), ordered by hash.
    *
    * Scale: the staging writes are the test-scale stand-in for a crawl
    * landing zone (production streams FROM such a zone; it doesn't
    * create one). Everything the stream files is fingerprint-sized —
    * text dies in each micro-batch's scan; the state merge is the
    * hash-keyed anti-join d8 ships at batch scale. */
  def st1StreamDedup(spark: SparkSession, dir: String): DataFrame =
    drain("st1", parityArrivals(spark, dir), StreamPipelines.DocumentsSchema, spark)(
      (stream, work) => StreamPipelines.batchSink(stream, s"$work/state")(
        StreamPipelines.corpusDedupBatch(spark, s"$work/state")),
      { work =>
        val state = s"$work/state"
        val batchIds = StreamPipelines.numberedDirs(state, "b")
        require(batchIds.length == 2,
          s"expected 2 micro-batches, got ${batchIds.map(b => s"b$b")}")
        batchIds.map { b =>
          spark.read.parquet(s"$state/b$b")
            .select(col("norm_hash"), col("doc_id"), lit(b).as("src_batch"))
        }.reduce(_ unionByName _)
      }).orderBy(col("norm_hash"), col("doc_id"))

  /** st1 oracle: the STREAMING semantics as batch SQL — batch 0 keeps
    * the min even doc_id per hash; batch 1 keeps the min odd doc_id per
    * hash for hashes batch 0 did not file (the anti-join against prior
    * state). Stating plain d1 here would hash-mismatch whenever a hash's
    * global min id is odd but an even twin arrived first — the
    * batch-order dependence is the thing being verified. The batch-1 arm
    * is NOT EXISTS, not NOT IN: a NULL text yields a NULL hash, and NOT
    * IN against a set containing NULL drops EVERY batch-1 row, while the
    * engine's left_anti join keeps null-key rows (null never matches) —
    * NOT EXISTS has exactly the left_anti null semantics. */
  private val st1Oracle: String =
    """WITH n AS (
      | SELECT doc_id,
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS h
      | FROM documents),
      |a AS (SELECT h, CAST(min(doc_id) AS BIGINT) AS doc_id
      | FROM n WHERE doc_id % 2 = 0 GROUP BY 1),
      |b AS (SELECT h, CAST(min(doc_id) AS BIGINT) AS doc_id
      | FROM n WHERE doc_id % 2 = 1 GROUP BY 1)
      |SELECT h AS norm_hash, doc_id, CAST(0 AS BIGINT) AS src_batch FROM a
      |UNION ALL
      |SELECT b.h, b.doc_id, CAST(1 AS BIGINT)
      |FROM b WHERE NOT EXISTS (SELECT 1 FROM a WHERE a.h = b.h)
      |ORDER BY norm_hash, doc_id""".stripMargin

  /** `st2_stream_upsert`: the incremental-merge stream
    * ([[StreamPipelines.upsertBatch]] — p7's last-writer-wins merge run
    * as a continuous foreachBatch stage with versioned parquet state)
    * drained over a deterministic two-batch arrival of the events
    * change log: the older TIME HALF (ts below the data-derived
    * midpoint) lands as batch 0, the newer half as batch 1, so batch 1
    * OVERWRITES batch-0 state for every user active in both halves —
    * on this corpus that is most users, making the cross-batch merge
    * arm corpus-non-vacuous (st1's anti-join arm, by contrast, is
    * planted in StreamingSpec: the corpus has no exact dups). The final
    * drained state is per-user the latest event (ts desc, event_id desc
    * tie) — upsert is split-invariant, so the oracle states the global
    * argmax and the hash match proves the versioned two-batch merge
    * reproduces it THROUGH the streaming machinery (source listing,
    * micro-batch boundaries, version-dir merge chain, GC).
    *
    * Scale: state is user-grained (dimension-sized); each batch pays
    * one batch-sized window + a state rewrite — [[StreamPipelines.upsertBatch]]'s
    * documented shape. Integer columns only (epoch micros, value
    * cents). */
  def st2StreamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"),
        floor(col("value") * 100).cast("long").as("value_c"))
    drain("st2", midpointHalves(ev),
        "user_id LONG, event_id LONG, ts_us LONG, event_type STRING, value_c LONG", spark)(
      (stream, work) => StreamPipelines.batchSink(stream, s"$work/state")(
        StreamPipelines.upsertBatch(spark, s"$work/state", Seq("user_id"), "ts_us", "event_id")),
      work => twoBatchState(spark, s"$work/state")
        .select(col("user_id"), col("event_id"), col("ts_us"),
          col("event_type"), col("value_c")))
      .orderBy(col("user_id"))
  }

  /** st2 oracle: upsert over a time-split is split-invariant, so the
    * batch statement is the global per-user argmax on (ts, event_id). */
  private val st2Oracle: String =
    """SELECT user_id, event_id, ts_us, event_type, value_c FROM (
      | SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
      |  CAST(floor(value * 100) AS BIGINT) AS value_c,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      | FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  /** `st3_stream_quality`: the streaming quality gate
    * ([[StreamPipelines.qualityGateBatch]] — t24's hashed-linear
    * classifier run as a continuous crawl-ingest filter) drained over a
    * deterministic two-batch arrival of the documents table (even
    * doc_ids older, odd newer — st1's split). Each micro-batch scores
    * its documents with the SAME model the batch operator applies,
    * admits score>0, and files a per-batch yield ledger. Output: one row
    * per ADMITTED document (doc_id, n_toks, score, src_batch), so the
    * oracle proves train/serve scoring parity THROUGH the streaming
    * machinery plus the batch-assignment bookkeeping; the per-batch
    * ledgers are replayed against the admitted rows as an engine-side
    * invariant before the frame is returned (a ledger that disagrees
    * with its own keep set fails the query, not just a test).
    *
    * Scale: scoring is t24's zero-join per-row fold; only (doc_id,
    * n_toks, score) outlive each micro-batch scan, and state is
    * append-only batch dirs. */
  def st3StreamQuality(spark: SparkSession, dir: String): DataFrame =
    drain("st3", parityArrivals(spark, dir), StreamPipelines.DocumentsSchema, spark)(
      (stream, work) => StreamPipelines.batchSink(stream, s"$work/state")(
        StreamPipelines.qualityGateBatch(spark, s"$work/state")),
      { work =>
        val state = s"$work/state"
        val batchIds = StreamPipelines.numberedDirs(state, "keep_b")
        require(batchIds == Seq(0L, 1L), s"expected 2 micro-batches, got $batchIds")
        batchIds.map { b =>
          val k = spark.read.parquet(s"$state/keep_b$b")
            .select(col("doc_id"), col("n_toks"), col("score"),
              lit(b).as("src_batch"))
          // the yield ledger must agree with its own keep set — the
          // streaming bookkeeping is part of what this row verifies
          val led = spark.read.parquet(s"$state/ledger_b$b")
            .select(col("n_keep")).head.getLong(0)
          val nk = k.count()
          require(led == nk, s"st3 batch $b ledger n_keep=$led but kept $nk")
          k
        }.reduce(_ unionByName _)
      }).orderBy(col("doc_id"))

  /** st3 oracle: t24's score restated per document (the same md5-bucket
    * integer-weight fold), admitted at score>0, with src_batch the
    * even/odd arrival split. Scoring is per-row, so the streaming value
    * verified here is the machinery: per-batch scan boundaries, ledger
    * bookkeeping, batch provenance. */
  private def st3Oracle: String = {
    val weight = graft.operators.TextAnalysis.clfWeightSql
    val toks = graft.operators.TextAnalysis.toksCaseSql
    s"""SELECT doc_id, n_toks, score, src_batch FROM (
       | SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_toks,
       |  CAST(COALESCE(list_sum(list_transform(toks, t -> $weight)), 0)
       |    AS BIGINT) AS score,
       |  CAST(doc_id % 2 AS BIGINT) AS src_batch
       | FROM (SELECT doc_id, $toks AS toks FROM documents))
       |WHERE score > 0
       |ORDER BY doc_id""".stripMargin
  }

  /** `st4_stream_scd2`: the streaming SCD2 dimension build
    * ([[StreamPipelines.scd2Batch]] — p5's dbt-curation shape run as an
    * idempotent foreachBatch stage with versioned parquet state) drained
    * over st2's deterministic two-batch TIME split of the events change
    * log (older half below the data-derived midpoint arrives first).
    * The split satisfies the sink's stated replay condition — per-key
    * ascending event time across batches, ties co-located (the cut is a
    * constant, so equal timestamps land on one side) — under which the
    * accumulated state is ROW-IDENTICAL to the batch `p5_scd2_user`
    * over the full log: closing-at-next-change commutes with the batch
    * split. The oracle is therefore p5's own SQL, and the hash match
    * proves the batch-extension arithmetic (close the open version at
    * the batch's first change per key, renumber versions from the
    * key's prior max) THROUGH the streaming machinery.
    *
    * Scale: per-batch cost is one batch-sized window + one key-grained
    * join against dimension-sized state (the scd2Batch caveat applies:
    * whole-state rewrite per batch — right for a dimension). */
  def st4StreamScd2(spark: SparkSession, dir: String): DataFrame = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"), col("value"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
    val arrivals = midpointHalves(ev).map(_.select(col("user_id"), col("event_id"),
      col("event_type"), col("value"), col("ts")))
    drain("st4", arrivals,
        "user_id LONG, event_id LONG, event_type STRING, value DOUBLE, ts TIMESTAMP", spark)(
      (stream, work) => StreamPipelines.batchSink(stream, s"$work/state")(
        StreamPipelines.scd2Batch(spark, s"$work/state")),
      work => twoBatchState(spark, s"$work/state")
        .select(col("user_id"), col("version"), col("event_type"),
          col("value"), col("effective_from_us"), col("effective_to_us"),
          col("is_current")))
      .orderBy(col("user_id"), col("version"))
  }

  /** `st5_stream_funnel`: the stateful streaming funnel
    * ([[StreamPipelines.funnelize]] — q20's ordered-funnel verdicts
    * emitted per CLOSED session from flatMapGroupsWithState with an
    * event-time watermark) drained over a deterministic arrival: one
    * file carrying the whole events table (watermark starts at 0, so
    * in-batch disorder cannot drop anything), then TWO far-future
    * sentinel files (a synthetic user −1, one and two years past the
    * corpus max). Sentinel 1's batch runs with the watermark already at
    * the corpus max — most sessions' event-time timeouts fire and their
    * verdicts emit; sentinel 2's batch runs with the watermark a year
    * past the corpus, closing every remaining real session REGARDLESS of
    * whether the engine schedules a trailing no-data batch — the drained
    * output is deterministic without depending on that scheduling
    * detail. The sentinel user's own session stays open (its timeout is
    * past the final watermark) and is filtered by user_id ≥ 0. The
    * oracle restates per-session ordered-funnel verdicts in batch SQL
    * over the gap split, so the hash match proves q20's step semantics
    * THROUGH the stateful-streaming machinery: state buffering, gap
    * splits, per-user session numbering across batches, event-time
    * timeout flushes.
    *
    * Scale: state is per-user open-tail only (closed sessions leave the
    * buffer); the emitted rows are session-grained. */
  def st5StreamFunnel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("ts"), col("event_type"))
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val ss = streamSession(spark)
    drain("st5", ev +: sentinels(spark, maxUs).map(_.select(col("user_id"),
        col("event_id"), col("ts"), col("event_type"))),
        "user_id LONG, event_id LONG, ts TIMESTAMP, event_type STRING", ss)(
      (stream, work) => StreamPipelines.funnelize(stream.as[StreamPipelines.FunnelEv])(ss)
        .filter(col("user_id") >= 0).toDF()
        .writeStream.format("parquet").option("path", s"$work/out"),
      work => spark.read.parquet(s"$work/out")
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("reached1"), col("reached2"), col("reached3"),
          col("has1"), col("has2"), col("has3")))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** st5 oracle: per-session ordered-funnel verdicts as batch SQL —
    * q20's gap split (the shared session CTE) and its at-or-after step
    * times, one row PER SESSION instead of q20's three global step
    * rows. Every real session closes by the final sentinel watermark,
    * so the drained set is exactly all sessions. */
  private def st5Oracle: String =
    s"""WITH ${graft.operators.Behavior.sessionCteSql},
       |base AS (
       | SELECT user_id, session_id, count(*) AS n_events,
       |  CAST(max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS has1,
       |  CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS has2,
       |  CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |    AS BIGINT) AS has3
       | FROM s GROUP BY 1, 2),
       |t1 AS (
       | SELECT user_id, session_id,
       |  min(CASE WHEN event_type = 'view' THEN ts_us END) AS t1
       | FROM s GROUP BY 1, 2),
       |t2 AS (
       | SELECT s.user_id, s.session_id,
       |  min(CASE WHEN s.event_type = 'click' AND s.ts_us >= t1.t1
       |    THEN s.ts_us END) AS t2
       | FROM s JOIN t1 USING (user_id, session_id) GROUP BY 1, 2),
       |t3 AS (
       | SELECT s.user_id, s.session_id,
       |  min(CASE WHEN s.event_type = 'purchase' AND s.ts_us >= t2.t2
       |    THEN s.ts_us END) AS t3
       | FROM s JOIN t2 USING (user_id, session_id) GROUP BY 1, 2)
       |SELECT b.user_id, b.session_id, b.n_events,
       | CAST(CASE WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS reached1,
       | CAST(CASE WHEN t2.t2 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS reached2,
       | CAST(CASE WHEN t3.t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS reached3,
       | b.has1, b.has2, b.has3
       |FROM base b
       | JOIN t1 USING (user_id, session_id)
       | JOIN t2 USING (user_id, session_id)
       | JOIN t3 USING (user_id, session_id)
       |ORDER BY user_id, session_id""".stripMargin

  /** Load the events table projected to the streaming-row column set and
    * return it with the data-derived time cut for the two-batch split —
    * shared by the r20 promotions st6/st8/st9/st10. The cut is st2's
    * midpoint NUDGED 29m10s forward: the corpus spans ~exactly 30
    * midnight-aligned days, so the raw midpoint lands pathologically at a
    * day/hour boundary and the cross-batch arms (an hour window updated
    * by both batches, an interval-join match crossing the cut) would be
    * vacuous; the odd offset sits mid-hour and mid-half-hour, so at the
    * driver's sf0.01/sf0.1 gate scales both arms measurably fire
    * (verified against the shipped testdata). The min/max fold is one
    * 1-row aggregate over the pruned (ts) scan. */
  private def eventsWithCut(spark: SparkSession, dir: String)
      : (DataFrame, Long, Long) = {
    val ev = graft.Tables.load(spark, dir, "events")
      .select(col("event_id").cast("long").as("event_id"), col("ts"),
        col("user_id").cast("long").as("user_id"), col("event_type"),
        col("value").cast("double").as("value"))
    val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head
    val (minUs, maxUs) = (r.getLong(0), r.getLong(1))
    (ev, (minUs + maxUs + 1) / 2 + 1750L * 1000000L, maxUs)
  }

  /** The r20 rows' two-batch time split of `ev` at `cutUs`. */
  private def timeHalves(ev: DataFrame, cutUs: Long): Seq[DataFrame] =
    Seq(ev.filter(unix_micros(col("ts")) < cutUs), ev.filter(unix_micros(col("ts")) >= cutUs))

  /** The two far-future sentinel arrivals (st5's flush rule): a synthetic
    * user −1 event one and two years past the corpus max, typed
    * `zz_sentinel` so window grains that carry event_type can filter it
    * by name and the rest by its out-of-range event time. The two batches
    * advance the watermark past every real window/session end
    * independent of trailing no-data-batch scheduling. */
  private def sentinels(spark: SparkSession, maxUs: Long): Seq[DataFrame] =
    Seq(YearUs, 2 * YearUs).map(offsetUs =>
      spark.range(1).select(lit(-1L).as("event_id"),
        timestamp_micros(lit(maxUs + offsetUs)).as("ts"), lit(-1L).as("user_id"),
        lit("zz_sentinel").as("event_type"), lit(0.0).as("value")))

  private val YearUs = 365L * 86400L * 1000000L

  /** `st6_stream_window`: the watermarked windowed aggregate
    * ([[StreamPipelines.windowedTypeCounts]] — hourly per-type counts and
    * value sums, 30-minute watermark; the reference's micro-batch windowed
    * rollup shape) AS AN ORACLE ROW (r20 promotion). The two-batch
    * time-midpoint arrival is globally time-ordered, and the watermark
    * only advances AFTER a batch, so it never passes an unseen event's
    * hour — zero late drops by construction; two far-future sentinel
    * batches then advance the watermark past every real window's end so
    * append mode emits them all before the drain stops (sentinel groups
    * carry their own event_type and are filtered from the drained
    * output). Under exactly those two conditions the streamed result
    * equals the batch GROUP BY (hour, type) the oracle states, so the
    * hash match proves watermark bookkeeping, window-close emission and
    * state reclamation through the real machinery.
    *
    * Scale: state is one row per OPEN (hour, type) group — bounded by
    * the watermark horizon, never by history; the aggregate itself is
    * partial/merge-shaped like any batch agg. */
  def st6StreamWindow(spark: SparkSession, dir: String): DataFrame = {
    val (ev, cutUs, maxUs) = eventsWithCut(spark, dir)
    drain("st6", timeHalves(ev, cutUs) ++ sentinels(spark, maxUs),
        StreamPipelines.EventsSchema, streamSession(spark))(
      (stream, work) => StreamPipelines.windowedTypeCounts(stream)
        .writeStream.format("parquet").option("path", s"$work/out"),
      work => spark.read.parquet(s"$work/out")
        .filter(col("event_type") =!= "zz_sentinel")
        .select(unix_micros(col("win_start")).as("win_start_us"),
          col("event_type"), col("n_events"), col("sum_value")))
      .orderBy(col("win_start_us"), col("event_type"))
  }

  /** st6 oracle: zero drops + full flush reduce the stream to the batch
    * hourly rollup. Spark's `window('1 hour')` aligns to the epoch, which
    * in the UTC session is `date_trunc('hour', …)`. */
  private val st6Oracle: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, event_type,
      | count(*) AS n_events, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** `st7_stream_enrich`: the stream-static enrichment join
    * ([[StreamPipelines.enrichStream]] — p6's curated join run
    * continuously, with p15's late-dimension placeholder row shape) AS AN
    * ORACLE ROW (r20 promotion). The events stream arrives as the
    * two-batch time split; the STATIC dimension is p15's "arrived"
    * customer snapshot (same md5-bucket late filter, same
    * [[graft.pipeline.Curated.LateBucketMax]] constant), so the inferred
    * arm is non-vacuous on a corpus where every FK resolves. The join is
    * STATELESS — each micro-batch joins the dim with batch semantics and
    * appends — so the drained output equals the batch left join
    * regardless of batching; what the row verifies is the machinery (a
    * dim that re-resolves per batch, per-batch broadcast, placeholder
    * projection) at exact row grain.
    *
    * Scale: the dim broadcasts while it fits (p15's own bound); nothing
    * is stateful, so throughput is scan-bound. */
  def st7StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val (ev, cutUs, _) = eventsWithCut(spark, dir)
    val arrived = graft.Tables.load(spark, dir, "customer")
      .filter(expr(s"CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100") >= graft.pipeline.Curated.LateBucketMax)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    drain("st7", timeHalves(ev, cutUs), StreamPipelines.EventsSchema, spark)(
      (stream, work) => StreamPipelines.enrichStream(stream, arrived, "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"),
          coalesce(col("c_name"), lit("INFERRED")).as("c_name"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("c_mktsegment"),
          col("is_inferred"))
        .writeStream.format("parquet").option("path", s"$work/out"),
      work => spark.read.parquet(s"$work/out")
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment"), col("is_inferred")))
      .orderBy(col("event_id"))
  }

  /** st7 oracle: the batch left join against p15's arrived-snapshot CTE
    * (stateless enrichment is batching-invariant). */
  private val st7Oracle: String =
    s"""WITH arrived AS (
       | SELECT c_custkey, c_name, c_mktsegment FROM customer
       | WHERE CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT) % 100 >= ${graft.pipeline.Curated.LateBucketMax})
       |SELECT event_id, user_id,
       | COALESCE(c_name, 'INFERRED') AS c_name,
       | COALESCE(c_mktsegment, 'UNKNOWN') AS c_mktsegment,
       | CAST(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_inferred
       |FROM events LEFT JOIN arrived ON user_id = c_custkey
       |ORDER BY event_id""".stripMargin

  /** `st8_stream_sessions`: the built-in `session_window` aggregation
    * ([[StreamPipelines.sessionWindowAgg]] — per-user gap sessions with
    * Spark owning the merge state, the declarative twin of st5's fMGWS
    * sessionizer) AS AN ORACLE ROW (r20 promotion). st5's arrival shape:
    * the whole table as batch 0 (watermark starts at 0 — in-batch
    * disorder drops nothing), then two far-future sentinel batches so the
    * watermark passes every real session's end and append mode emits them
    * all; the sentinel user −1's own open session is filtered. Spark
    * merges sessions while consecutive events are ≤ gap apart (probed:
    * exactly-gap-apart events DO merge — the same `diff > gap ⇒ new
    * session` rule as q12's batch CTE), so the oracle restates the gap
    * split with per-session aggregates. The hash match proves the
    * engine-owned session-merge state machine, watermark finalization and
    * append emission at session grain.
    *
    * Scale: state is per OPEN session (merged intervals), reclaimed at
    * finalization; the aggregate partial-merges map-side like any agg. */
  def st8StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    val (ev, _, maxUs) = eventsWithCut(spark, dir)
    drain("st8", ev +: sentinels(spark, maxUs),
        StreamPipelines.EventsSchema, streamSession(spark))(
      (stream, work) => StreamPipelines.sessionWindowAgg(stream)
        .writeStream.format("parquet").option("path", s"$work/out"),
      // The sentinel filter MUST happen on the read-back, not in the
      // streaming query: a filter on a grouping key placed after the
      // aggregation is pushed by Catalyst below the EventTimeWatermark
      // node, so the sentinel rows would be dropped AT THE SCAN, the
      // watermark would never advance past the corpus max, and the last
      // real session would never flush (measured: the corpus-max session
      // silently vanished from the drained output).
      work => spark.read.parquet(s"$work/out")
        .filter(col("user_id") >= 0)
        .select(col("user_id"), unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"), col("n_events"), col("sum_value")))
      .orderBy(col("user_id"), col("start_us"))
  }

  /** st8 oracle: the q12 gap split (non-strict merge — `diff > gap` opens
    * a session, matching the probed session_window behavior) with
    * session_window's interval arithmetic: start = first event, end =
    * last event + gap. The gap literal is
    * [[graft.operators.Analytics.SessionGapUs]] — one definition with
    * q12/q20/st5 and the 30-minute default of sessionWindowAgg. */
  private def st8Oracle: String = {
    val gap = graft.operators.Analytics.SessionGapUs
    s"""WITH e AS (
       | SELECT user_id, epoch_us(ts) AS ts_us, value,
       |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
       |       WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > $gap THEN 1
       |       ELSE 0 END AS new_session
       | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
       |s AS (
       | SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id
       |   ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
       | FROM e)
       |SELECT user_id, min(ts_us) AS start_us,
       | max(ts_us) + $gap AS end_us,
       | count(*) AS n_events, round(sum(value), 2) AS sum_value
       |FROM s GROUP BY user_id, sid
       |ORDER BY user_id, start_us""".stripMargin
  }

  /** `st9_stream_interval`: the stream-stream interval join
    * ([[StreamPipelines.intervalJoin]] — purchases matched to the same
    * user's clicks in the preceding 12 hours, watermarks bounding both
    * sides' state; the window is sized so same-user cross-type pairs
    * exist at the gate scales on this corpus) AS AN ORACLE ROW (r20
    * promotion). Both sides are event-type filters of ONE staged arrival
    * (a streaming self-join), split at the nudged time midpoint, so
    * batch-1 purchases genuinely match batch-0 clicks OUT OF STATE at
    * sf0.01/sf0.1 — the cross-batch retention arm runs.
    * Completeness is structural: batches are time-ordered, so a match
    * with the click in a LATER batch than the purchase would need
    * click_ts ≥ cut > purchase_ts ≥ click_ts — impossible; and Spark
    * evicts a buffered click only once the watermark proves no future
    * purchase can reach it. Inner-join results emit in the batch that
    * computes them (no flush sentinels needed), so the drained output
    * equals the batch interval join the oracle states, at exact pair
    * grain.
    *
    * Scale: state per side is the watermark-deep tail only; the join
    * shuffles on the key like its batch twin (q23's range join). */
  def st9StreamInterval(spark: SparkSession, dir: String): DataFrame = {
    val (ev, cutUs, _) = eventsWithCut(spark, dir)
    drain("st9", timeHalves(ev, cutUs), StreamPipelines.EventsSchema, streamSession(spark))(
      (stream, work) => StreamPipelines.intervalJoin(
          stream.filter(col("event_type") === "click"),
          stream.filter(col("event_type") === "purchase"),
          "user_id", windowMinutes = 720)
        .select(col("l_key").as("user_id"),
          col("l_event_id").as("click_id"), col("r_event_id").as("purch_id"),
          unix_micros(col("l_ts")).as("click_ts_us"),
          unix_micros(col("r_ts")).as("purch_ts_us"))
        .writeStream.format("parquet").option("path", s"$work/out"),
      work => spark.read.parquet(s"$work/out"))
      .orderBy(col("click_id"), col("purch_id"))
  }

  /** st9 oracle: the batch self-join — every (click, purchase) pair per
    * user with the click in the purchase's preceding 12 hours. */
  private val st9Oracle: String =
    """SELECT l.user_id, l.event_id AS click_id, r.event_id AS purch_id,
      | epoch_us(l.ts) AS click_ts_us, epoch_us(r.ts) AS purch_ts_us
      |FROM events l JOIN events r
      | ON l.user_id = r.user_id
      | AND l.event_type = 'click' AND r.event_type = 'purchase'
      | AND l.ts <= r.ts AND l.ts >= r.ts - INTERVAL 720 MINUTE
      |ORDER BY click_id, purch_id""".stripMargin

  /** `st10_stream_histogram`: the streaming mergeable histogram
    * ([[StreamPipelines.histogramStream]] — q61's fixed value grid as a
    * watermarked per-(day, bucket) counting aggregate; mergeability by
    * addition is exactly what makes the sketch streamable) AS AN ORACLE
    * ROW (r20 promotion). st6's arrival shape: the time-ordered two-batch
    * split (watermark never drops) plus two sentinel flush batches;
    * sentinel rows land a year out and are filtered by day. Counts are
    * exact integers, so the drained grid equals the batch GROUP BY the
    * oracle states — the hash match proves additive state-store
    * increments across micro-batches, window close and reclamation, on
    * the grid q61's quantile selection reads at batch cost.
    *
    * Scale: state is (open days × ≤[[graft.operators.Behavior.QBuckets]])
    * rows — watermark-bounded, data-volume-free. */
  def st10StreamHistogram(spark: SparkSession, dir: String): DataFrame = {
    val (ev, cutUs, maxUs) = eventsWithCut(spark, dir)
    drain("st10", timeHalves(ev, cutUs) ++ sentinels(spark, maxUs),
        StreamPipelines.EventsSchema, streamSession(spark))(
      (stream, work) => StreamPipelines.histogramStream(stream)
        .writeStream.format("parquet").option("path", s"$work/out"),
      work => spark.read.parquet(s"$work/out")
        .filter(unix_micros(col("day_start")) <= maxUs)
        .select(unix_micros(col("day_start")).as("day_start_us"),
          col("bucket"), col("cnt")))
      .orderBy(col("day_start_us"), col("bucket"))
  }

  /** st10 oracle: the batch daily grid on q61's bucket formula (values
    * are non-negative, so truncating and flooring division agree). */
  private def st10Oracle: String = {
    val cents = graft.operators.Behavior.QBucketCents
    val top = graft.operators.Behavior.QBuckets - 1
    s"""SELECT epoch_us(date_trunc('day', ts)) AS day_start_us,
       | least(CAST(floor(value * 100) AS BIGINT) // $cents, $top) AS bucket,
       | count(*) AS cnt
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st1_stream_dedup" -> (st1StreamDedup _),
    "st2_stream_upsert" -> (st2StreamUpsert _),
    "st3_stream_quality" -> (st3StreamQuality _),
    "st4_stream_scd2" -> (st4StreamScd2 _),
    "st5_stream_funnel" -> (st5StreamFunnel _),
    "st6_stream_window" -> (st6StreamWindow _),
    "st7_stream_enrich" -> (st7StreamEnrich _),
    "st8_stream_sessions" -> (st8StreamSessions _),
    "st9_stream_interval" -> (st9StreamInterval _),
    "st10_stream_histogram" -> (st10StreamHistogram _))

  val oracle: Map[String, String] = Map(
    "st1_stream_dedup" -> st1Oracle,
    "st2_stream_upsert" -> st2Oracle,
    "st3_stream_quality" -> st3Oracle,
    "st4_stream_scd2" -> graft.pipeline.Scd2.oracle,
    "st5_stream_funnel" -> st5Oracle,
    "st6_stream_window" -> st6Oracle,
    "st7_stream_enrich" -> st7Oracle,
    "st8_stream_sessions" -> st8Oracle,
    "st9_stream_interval" -> st9Oracle,
    "st10_stream_histogram" -> st10Oracle)
}
