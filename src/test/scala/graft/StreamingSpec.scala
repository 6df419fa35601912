package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp
import graft.streaming.StreamPipelines
import graft.streaming.StreamPipelines.{Ev, SessionOut}

class StreamingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60L * 1000L)

  test("file-source stream ingests incremental parquet drops") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream_in")
    val out = s"mem_file_${System.nanoTime()}"
    // drops must be flat files in the watched dir — write to a staging dir
    // and move the part file in (the same land-then-rename pattern a real
    // file-drop producer uses)
    def drop(name: String, rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit = {
      val tmp = Files.createTempDirectory("graft_stage")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().next // deterministic single part
      val parts = java.nio.file.Files.walk(tmp).filter(_.toString.endsWith(".parquet")).iterator()
      Files.copy(parts.next, dir.resolve(name))
    }
    drop("drop1.parquet", Seq((1L, ts(10), 7L, "click", 1.0), (2L, ts(20), 7L, "view", 2.0)))
    val q = StreamPipelines.fileStream(spark, dir.toString, StreamPipelines.EventsSchema)
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table(out).count() == 2)
      // second drop picked up without restart — the streaming "sensor"
      drop("drop2.parquet", Seq((3L, ts(30), 8L, "click", 3.0)))
      q.processAllAvailable()
      assert(spark.table(out).count() == 3)
      // landing-zone noise (manifests, markers, temp files) must be
      // ignored, not kill the continuous query
      Files.writeString(dir.resolve("_SUCCESS"), "")
      Files.writeString(dir.resolve("manifest.json"), "{}")
      drop("drop3.parquet", Seq((4L, ts(40), 9L, "view", 4.0)))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"stream died on landing noise: ${q.exception}")
      assert(spark.table(out).count() == 4)
    } finally q.stop()
  }

  test("AvailableNow trigger drains the backlog, checkpoints, stops — and " +
    "a later run resumes past what the first consumed") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = Files.createTempDirectory("graft_avnow_in")
    val ckpt = Files.createTempDirectory("graft_avnow_ck").toString
    val sink = Files.createTempDirectory("graft_avnow_out").toString
    def drop(name: String, rows: Seq[(Long, Timestamp, Long, String, Double)]): Unit = {
      val tmp = Files.createTempDirectory("graft_stage2")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val parts = java.nio.file.Files.walk(tmp)
        .filter(_.toString.endsWith(".parquet")).iterator()
      Files.copy(parts.next, dir.resolve(name))
    }
    // the batch-catchup operating mode: run the STREAMING pipeline as a
    // scheduled job — drain everything available, commit the offset
    // checkpoint, exit. Re-running later consumes only what arrived since.
    def runOnce(): Unit = {
      val q = StreamPipelines.fileStream(spark, dir.toString, StreamPipelines.EventsSchema)
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
      assert(!q.isActive, "AvailableNow must stop by itself")
      assert(q.exception.isEmpty, s"run died: ${q.exception}")
    }
    drop("a.parquet", Seq((1L, ts(10), 1L, "click", 1.0), (2L, ts(20), 1L, "view", 2.0)))
    runOnce()
    assert(spark.read.parquet(sink).count() == 2)
    drop("b.parquet", Seq((3L, ts(30), 2L, "click", 3.0)))
    runOnce()
    val rows = spark.read.parquet(sink)
    assert(rows.count() == 3, "second run consumes ONLY the new drop")
    assert(rows.select("event_id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("windowed agg with watermark groups by hour and type") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "event_type", "value")
    val out = s"mem_win_${System.nanoTime()}"
    val q = StreamPipelines.windowedTypeCounts(events)
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      mem.addData((1L, ts(10), "click", 1.0), (2L, ts(20), "click", 2.0),
        (3L, ts(70), "view", 5.0))
      q.processAllAvailable()
      // advance watermark far enough to close both windows
      mem.addData((9L, ts(600), "view", 0.0))
      q.processAllAvailable()
      val rows = spark.table(out).collect()
        .map(r => (r.getAs[Timestamp]("win_start").getTime / 60000, r.getAs[String]("event_type"),
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
      assert(rows.contains((0L, "click", 2L, 3.0)))
      assert(rows.contains((60L, "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming sessionization matches batch gap semantics") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = s"mem_sess_${System.nanoTime()}"
    val q = StreamPipelines.sessionize(mem.toDS())
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      // base offset keeps the first event strictly above the initial
      // watermark (epoch 0), which would otherwise drop it as late
      val b = 1000L
      // user 1: events at +0,+10,+20 (one session), then +60,+65 (second)
      // user 2: single event at +5
      mem.addData(
        Ev(1L, 1L, ts(b + 0), 1.0), Ev(1L, 2L, ts(b + 10), 2.0), Ev(1L, 3L, ts(b + 20), 3.0),
        Ev(1L, 4L, ts(b + 60), 4.0), Ev(1L, 5L, ts(b + 65), 5.0),
        Ev(2L, 6L, ts(b + 5), 7.5))
      q.processAllAvailable()
      // sentinel far in the future advances the global watermark → closes all
      mem.addData(Ev(99L, 999L, ts(b + 10000), 0.0))
      q.processAllAvailable()
      val sessions = spark.table(out).as[SessionOut].collect()
        .filter(_.user_id != 99L).sortBy(s => (s.user_id, s.session_id))
      assert(sessions.map(s => (s.user_id, s.session_id, s.n_events, s.start_us / 60000000L - b,
        s.duration_us / 60000000L, s.sum_value)).toSeq == Seq(
        (1L, 1L, 3L, 0L, 20L, 6.0),
        (1L, 2L, 2L, 60L, 5L, 9.0),
        (2L, 1L, 1L, 5L, 0L, 7.5)))
    } finally q.stop()
  }

  test("streaming sessionization splits on sub-millisecond gaps like " +
    "batch q12") {
    import spark.implicits._
    implicit val s: SparkSession = spark
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = s"mem_sess_us_${System.nanoTime()}"
    val q = StreamPipelines.sessionize(mem.toDS())
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    def tsUs(minutes: Long, us: Int): Timestamp = {
      val t = ts(minutes); t.setNanos(us * 1000); t
    }
    try {
      val b = 1000L
      // events at T+100 µs and T+30 min+900 µs: 30 min + 800 µs apart,
      // more than the gap at q12's microsecond grain, so two sessions
      // (at millisecond grain they sit exactly 30 min apart and merge)
      mem.addData(Ev(1L, 1L, tsUs(b, 100), 1.0), Ev(1L, 2L, tsUs(b + 30, 900), 2.0))
      q.processAllAvailable()
      mem.addData(Ev(99L, 999L, ts(b + 10000), 0.0))
      q.processAllAvailable()
      val sessions = spark.table(out).as[SessionOut].collect()
        .filter(_.user_id == 1L).sortBy(_.session_id)
      val t0 = b * 60000000L
      assert(sessions.map(s => (s.session_id, s.n_events, s.start_us, s.duration_us)).toSeq ==
        Seq((1L, 1L, t0 + 100L, 0L), (2L, 1L, t0 + 30L * 60000000L + 900L, 0L)))
    } finally q.stop()
  }

  test("built-in session_window agg closes the same sessions as the " +
    "fMGWS sessionizer on the same stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import StreamPipelines.Ev
    val mem = MemoryStream[Ev]
    val out = s"mem_swin_${System.nanoTime()}"
    val q = StreamPipelines.sessionWindowAgg(
        mem.toDS().toDF().select(col("user_id"), col("ts"), col("value")))
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      val b = 1000L
      // same layout as the fMGWS test: u1 {+0,+10,+20} then {+60,+65}, u2 {+5}
      mem.addData(
        Ev(1L, 1L, ts(b + 0), 1.0), Ev(1L, 2L, ts(b + 10), 2.0), Ev(1L, 3L, ts(b + 20), 3.0),
        Ev(1L, 4L, ts(b + 60), 4.0), Ev(1L, 5L, ts(b + 65), 5.0),
        Ev(2L, 6L, ts(b + 5), 7.5))
      q.processAllAvailable()
      mem.addData(Ev(99L, 999L, ts(b + 10000), 0.0)) // advance watermark
      q.processAllAvailable()
      val got = spark.table(out).collect()
        .filter(_.getAs[Long]("user_id") != 99L)
        .map(r => (r.getAs[Long]("user_id"),
          r.getAs[java.sql.Timestamp]("start").getTime / 60000L - b,
          r.getAs[java.sql.Timestamp]("end").getTime / 60000L - b,
          r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
        .sortBy(t => (t._1, t._2)).toSeq
      // session end = last event + gap (the merged-interval invariant)
      assert(got == Seq(
        (1L, 0L, 50L, 3L, 6.0),
        (1L, 60L, 95L, 2L, 9.0),
        (2L, 5L, 35L, 1L, 7.5)))
    } finally q.stop()
  }

  test("stream-static enrichment join resolves dim attributes per batch " +
    "and keeps unknown keys as inferred placeholders") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    val mem = MemoryStream[(Long, Long, Double)]
    val out = s"mem_enrich_${System.nanoTime()}"
    val q = StreamPipelines.enrichStream(
        mem.toDF().toDF("event_id", "user_id", "value"), dim, "user_id", "cust_id")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      mem.addData((10L, 1L, 5.0), (11L, 2L, 6.0), (12L, 99L, 7.0))
      q.processAllAvailable()
      val got = spark.table(out).collect()
        .map(r => r.getAs[Long]("event_id") ->
          ((Option(r.getAs[String]("tier")), r.getAs[Long]("is_inferred")))).toMap
      assert(got(10L) == ((Some("gold"), 0L)))
      assert(got(11L) == ((Some("silver"), 0L)))
      assert(got(12L) == ((None, 1L)), "unknown key survives, flagged inferred")
    } finally q.stop()
  }

  test("stream-stream interval join matches preceding events per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long, Double)]
    val buys = MemoryStream[(Long, Timestamp, Long, Double)]
    def named(m: MemoryStream[(Long, Timestamp, Long, Double)]) =
      m.toDF().toDF("user_id", "ts", "event_id", "value")
    val out = s"mem_ssj_${System.nanoTime()}"
    val q = StreamPipelines.intervalJoin(named(clicks), named(buys), "user_id", windowMinutes = 60)
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      val b = 1000L
      clicks.addData((7L, ts(b + 0), 1L, 1.0), (7L, ts(b + 30), 2L, 2.0),
        (7L, ts(b + 200), 3L, 3.0), (8L, ts(b + 10), 4L, 4.0))
      buys.addData((7L, ts(b + 45), 100L, 9.9))
      q.processAllAvailable()
      val rows = spark.table(out).collect()
        .map(r => (r.getAs[Long]("l_event_id"), r.getAs[Long]("r_event_id"))).sorted
      // purchase at +45 matches clicks at +0 and +30 (within 60m, same user);
      // the +200 click and user 8's click do not match
      assert(rows.toSeq == Seq((1L, 100L), (2L, 100L)))
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered ids within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val events = mem.toDF().toDF("event_id", "ts", "v")
    val out = s"mem_dedup_${System.nanoTime()}"
    val q = StreamPipelines.dedupStream(events, Seq("event_id"))
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      mem.addData((1L, ts(1000), "a"), (2L, ts(1001), "b"), (1L, ts(1000), "a-dup"))
      q.processAllAvailable()
      // re-delivery in a later micro-batch, still within the watermark
      mem.addData((2L, ts(1002), "b-dup"), (3L, ts(1003), "c"))
      q.processAllAvailable()
      val ids = spark.table(out).collect().map(_.getAs[Long]("event_id")).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("foreachBatch upsert sink is last-writer-wins across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stateDir = Files.createTempDirectory("graft_upsert").toString
    val mem = MemoryStream[(Long, String, Long, Long)]
    val stream = mem.toDF().toDF("k", "v", "ver", "tie")
    val q = StreamPipelines.batchSink(stream, stateDir)(
      StreamPipelines.upsertBatch(spark, stateDir, Seq("k"), "ver", "tie")).start()
    try {
      mem.addData((1L, "a1", 1L, 1L), (2L, "b1", 1L, 2L))
      q.processAllAvailable()
      mem.addData((1L, "a2", 2L, 3L), (3L, "c1", 1L, 4L))
      q.processAllAvailable()
      val state = StreamPipelines.currentState(spark, stateDir).get.collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      assert(state == Map(1L -> "a2", 2L -> "b1", 3L -> "c1"))
      // superseded versions are GC'd after each batch: never more than
      // current + UpsertKeepVersions dirs on disk
      for (i <- 3L to 6L) {
        mem.addData((1L, s"a$i", i, i * 10))
        q.processAllAvailable()
      }
      val dirs = new java.io.File(stateDir).listFiles()
        .filter(_.getName.startsWith("v")).map(_.getName)
      assert(dirs.length <= StreamPipelines.UpsertKeepVersions + 1,
        s"stale versions not GC'd: ${dirs.mkString(",")}")
      val fin = StreamPipelines.currentState(spark, stateDir).get.collect()
        .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
      assert(fin == Map(1L -> "a6", 2L -> "b1", 3L -> "c1"))
    } finally q.stop()
  }

  test("upsert sink batch replay is idempotent — at-least-once foreachBatch " +
    "plus an idempotent batch body = effectively-once state") {
    import spark.implicits._
    val stateDir = Files.createTempDirectory("graft_replay").toString
    val apply = StreamPipelines.upsertBatch(spark, stateDir, Seq("k"), "ver", "tie") _
    def snapshot() = StreamPipelines.currentState(spark, stateDir).get.collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"), r.getAs[Long]("ver")))
      .toSet
    // the normal run: batches 0 and 1 commit
    apply(Seq((1L, "a1", 1L, 1L), (2L, "b1", 1L, 2L)).toDF("k", "v", "ver", "tie"), 0L)
    apply(Seq((1L, "a2", 2L, 3L), (3L, "c1", 1L, 4L)).toDF("k", "v", "ver", "tie"), 1L)
    val committed = snapshot()
    assert(committed == Set((1L, "a2", 2L), (2L, "b1", 1L), (3L, "c1", 1L)))
    // crash-replay: batch 1's write COMPLETED but its streaming checkpoint
    // commit did not, so recovery re-delivers the same batch — the body
    // finds its own output as the latest version and must leave the state
    // content exactly as committed
    apply(Seq((1L, "a2", 2L, 3L), (3L, "c1", 1L, 4L)).toDF("k", "v", "ver", "tie"), 1L)
    assert(snapshot() == committed, "replay changed committed state")
    // replaying twice more is still a fixpoint
    apply(Seq((1L, "a2", 2L, 3L), (3L, "c1", 1L, 4L)).toDF("k", "v", "ver", "tie"), 1L)
    assert(snapshot() == committed)
    // TORN WRITE: the previous attempt crashed mid-write of v2, leaving a
    // readable-but-partial dir (only one of the three state rows). The
    // replay must NOT merge from it — recovery re-derives v2 from the
    // retained pre-batch v1 plus the re-delivered batch.
    val v2 = new java.io.File(s"$stateDir/v2")
    v2.listFiles().foreach(_.delete())
    Seq((2L, "b1", 1L, 2L)).toDF("k", "v", "ver", "tie")
      .coalesce(1).write.mode("overwrite").parquet(v2.toString)
    assert(snapshot() != committed, "torn-write precondition")
    apply(Seq((1L, "a2", 2L, 3L), (3L, "c1", 1L, 4L)).toDF("k", "v", "ver", "tie"), 1L)
    assert(snapshot() == committed, "torn v2 not recovered from pre-batch state")
  }

  test("streaming Misra-Gries candidates cover every batch heavy hitter " +
    "whatever the arrival order and batching") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val k = graft.operators.HeavyHitters.MgK
    val toks = graft.Tables.load(spark, sf, "documents")
      .select(explode(graft.functions.TextFunctions.wsTokens(col("text"))).as("w"))
      .as[String].collect().toSeq
    val n = toks.size
    // ground truth = t14's contract: tokens with exact freq > n/k
    val exactHeavy = toks.groupBy(identity)
      .collect { case (t, g) if g.size.toLong * k > n => t }.toSet
    assert(exactHeavy.nonEmpty, "corpus must have heavy hitters for the test to bite")
    // adversarial delivery: shuffled order, uneven micro-batches
    val shuffled = new scala.util.Random(42).shuffle(toks)
    val chunks = Seq(
      shuffled.take(n / 7),
      shuffled.slice(n / 7, n / 2),
      shuffled.drop(n / 2))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val out = s"mem_mg_${System.nanoTime()}"
    val q = StreamPipelines.mgCandidateStream(mem.toDS(), k)
      .writeStream.format("memory").queryName(out).outputMode("complete").start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      val cands = spark.table(out).select(col("candidates"))
        .as[Array[String]].head().toSet
      assert(cands.size <= k - 1, s"summary overflows its bound: ${cands.size}")
      val missed = exactHeavy.diff(cands)
      assert(missed.isEmpty,
        s"MG guarantee violated under streaming delivery — missing: $missed")
    } finally q.stop()
  }

  test("streaming index maintenance: micro-batched delta filing equals the " +
    "one-shot batch assignment exactly; batch replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // hand-made fixed model: two axis-aligned centroids (e6 fixed-point,
    // dim 2) — the model predates the stream, s11's convention
    val cents = Seq(10L -> Array(1000000L, 0L), 20L -> Array(0L, 1000000L))
    val in = Files.createTempDirectory("graft_idx_in")
    val state = Files.createTempDirectory("graft_idx_state").toString
    val ckpt = Files.createTempDirectory("graft_idx_ck").toString
    def drop(name: String, rows: Seq[(Long, Array[Float])]): Unit = {
      val tmp = Files.createTempDirectory("graft_idx_stage")
      rows.toDF("vec_id", "embedding")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val parts = java.nio.file.Files.walk(tmp)
        .filter(_.toString.endsWith(".parquet")).iterator()
      Files.copy(parts.next, in.resolve(name))
    }
    val vecs = Seq(
      1L -> Array(0.9f, 0.1f), 2L -> Array(0.2f, 0.8f),
      3L -> Array(0.7f, 0.6f), 4L -> Array(-0.5f, 0.9f))
    drop("a.parquet", vecs.take(2))
    drop("b.parquet", vecs.drop(2))
    // maxFilesPerTrigger=1 forces one micro-batch per drop — the point is
    // batch-decomposition invariance, so MAKE it decompose
    val q = StreamPipelines.batchSink(
        StreamPipelines.fileStream(spark, in.toString, StreamPipelines.EmbeddingsSchema,
          maxFilesPerTrigger = 1),
        state)(StreamPipelines.indexDeltaBatch(spark, state, cents))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(!q.isActive && q.exception.isEmpty, s"stream died: ${q.exception}")
    val batchDirs = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("b")).map(_.getName).sorted
    assert(batchDirs.length >= 2, s"expected multiple micro-batches, got $batchDirs")
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        r.getAs[Long]("cell_cos_e6"))).sortBy(_._1).toSeq
    val streamed = key(spark.read.parquet(s"$state/b*")
      .select("vec_id", "cell", "cell_cos_e6").collect())
    // the invariant: accumulated streaming state == one-shot assignment
    val oneShot = key(graft.operators.Similarity.assignCells(
        vecs.toDF("vec_id", "embedding"), cents)
      .select("vec_id", "cell", "cell_cos_e6").collect())
    assert(streamed == oneShot, "micro-batching changed the filed index")
    assert(streamed.map(_._1) == Seq(1L, 2L, 3L, 4L), "every vector filed once")
    // at-least-once replay: re-running batch 0 with its own id overwrites
    // its previous attempt — state unchanged
    StreamPipelines.indexDeltaBatch(spark, state, cents)(
      vecs.take(2).toDF("vec_id", "embedding"), 0L)
    val replayed = key(spark.read.parquet(s"$state/b*")
      .select("vec_id", "cell", "cell_cos_e6").collect())
    assert(replayed == streamed, "replay double-filed or altered vectors")
  }

  test("streaming corpus dedup: accumulated survivors equal batch d1's " +
    "keepers under ascending arrival, and batch replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val in = Files.createTempDirectory("graft_cd_in")
    val state = Files.createTempDirectory("graft_cd_state").toString
    val ckpt = Files.createTempDirectory("graft_cd_ck").toString
    var mtime = System.currentTimeMillis()
    def drop(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_cd_stage")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val parts = java.nio.file.Files.walk(tmp)
        .filter(_.toString.endsWith(".parquet")).iterator()
      val dst = in.resolve(name)
      Files.copy(parts.next, dst)
      mtime += 2000 // file source orders by modification time: force it
      dst.toFile.setLastModified(mtime)
    }
    // duplicate shapes: within-batch (2,3), cross-batch (3→6), and a
    // cross-batch dup only AFTER normalization (1 vs 4: case + ws runs)
    val batchA = Seq(1L -> "Alpha beta  gamma", 2L -> "same text", 3L -> "same text")
    val batchB = Seq(4L -> "alpha beta gamma", 5L -> "novel content here", 6L -> "same text")
    drop("a.parquet", batchA)
    drop("b.parquet", batchB)
    val q = StreamPipelines.batchSink(
        StreamPipelines.fileStream(spark, in.toString, StreamPipelines.DocumentsSchema,
          maxFilesPerTrigger = 1),
        state)(StreamPipelines.corpusDedupBatch(spark, state))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(!q.isActive && q.exception.isEmpty, s"stream died: ${q.exception}")
    val batchDirs = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("b")).map(_.getName).sorted
    assert(batchDirs.length >= 2, s"expected multiple micro-batches, got ${batchDirs.toSeq}")
    def kept() = spark.read.parquet(s"$state/b*").collect()
      .map(r => (r.getAs[String]("norm_hash"), r.getAs[Long]("doc_id")))
      .sortBy(_._2).toSeq
    val streamed = kept()
    // ascending-id arrival order ⇒ first arrival per hash == min doc_id
    // == batch d1's keeper: pin against the REAL batch operator on the
    // union corpus, not a hand copy of its rule
    val corpus = Files.createTempDirectory("graft_cd_corpus").toString
    (batchA ++ batchB).toDF("doc_id", "text")
      .write.parquet(s"$corpus/documents.parquet")
    val d1Keepers = graft.operators.Dedup.d1DedupExact(spark, corpus)
      .filter(col("is_keeper") === 1L)
      .select(col("norm_hash"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    assert(streamed == d1Keepers,
      s"streamed survivors $streamed != batch d1 keepers $d1Keepers")
    assert(streamed.map(_._2) == Seq(1L, 2L, 5L))
    // at-least-once replay of the last micro-batch: merge base skips its
    // own dir, output overwrites it — state must not change
    StreamPipelines.corpusDedupBatch(spark, state)(
      batchB.toDF("doc_id", "text"), batchDirs.last.drop(1).toLong)
    assert(kept() == streamed, "replay double-filed or altered survivors")
  }

  test("streaming SCD2: accumulated dimension state equals batch p5 " +
    "row-for-row under ascending event time, and batch replay is " +
    "idempotent") {
    val sfDir = "/root/testdata/sf0.001"
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), col("ts"))
    // cut at VALUE boundaries so same-instant ties co-locate in one
    // batch — the sink's documented replay condition
    val Array(c1, c2) = ev.select(unix_micros(col("ts")).as("us"))
      .stat.approxQuantile("us", Array(0.33, 0.66), 0.0)
    val state = Files.createTempDirectory("graft_scd2_state").toString
    val apply = StreamPipelines.scd2Batch(spark, state) _
    val us = unix_micros(col("ts"))
    val batches = Seq(
      ev.filter(us <= c1.toLong),
      ev.filter(us > c1.toLong && us <= c2.toLong),
      ev.filter(us > c2.toLong))
    batches.foreach(b => assert(b.count() > 0, "a batch split is empty"))
    // cross-batch closing must be exercised: some key spans batches
    val spanning = batches(0).select("user_id")
      .intersect(batches(2).select("user_id")).count()
    assert(spanning > 0, "no key spans batches — closing logic untested")
    batches.zipWithIndex.foreach { case (b, i) => apply(b, i.toLong) }
    def stateRows() = StreamPipelines.currentState(spark, state).get
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[Long]("effective_from_us"),
        Option(r.getAs[java.lang.Long]("effective_to_us")).map(_.longValue),
        r.getAs[Long]("is_current"))).toSet
    val streamed = stateRows()
    val batch = graft.pipeline.Scd2.p5Scd2User(spark, sfDir).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("event_type"), r.getAs[Double]("value"),
        r.getAs[Long]("effective_from_us"),
        Option(r.getAs[java.lang.Long]("effective_to_us")).map(_.longValue),
        r.getAs[Long]("is_current"))).toSet
    assert(streamed.size == batch.size,
      s"row counts diverged: ${streamed.size} vs ${batch.size}")
    assert(streamed == batch, "streamed SCD2 state diverged from batch p5")
    // at-least-once replay of the final micro-batch: merge base must skip
    // its own prior output, so the state is bit-stable
    apply(batches(2), 2L)
    assert(stateRows() == streamed, "replay altered the dimension state")
  }

  test("SCD2 sink recovers a torn write of its latest version from the " +
    "pre-batch state, and GC keeps the version bound") {
    import spark.implicits._
    val state = Files.createTempDirectory("graft_scd2_torn").toString
    val apply = StreamPipelines.scd2Batch(spark, state) _
    def changes(rows: (Long, Long, String, Double, Long)*) =
      rows.map { case (u, e, t, v, m) => (u, e, t, v, ts(m)) }
        .toDF("user_id", "event_id", "event_type", "value", "ts")
    val batches = Seq(
      changes((1L, 1L, "view", 1.0, 1L), (2L, 2L, "click", 2.0, 2L)),
      changes((1L, 3L, "click", 3.0, 3L)),
      changes((2L, 4L, "purchase", 4.0, 4L), (3L, 5L, "view", 5.0, 5L)))
    batches.zipWithIndex.foreach { case (b, i) => apply(b, i.toLong) }
    def stateRows() = StreamPipelines.currentState(spark, state).get
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("version"),
        r.getAs[String]("event_type"), r.getAs[Long]("effective_from_us"),
        Option(r.getAs[java.lang.Long]("effective_to_us")).map(_.longValue),
        r.getAs[Long]("is_current"))).toSet
    val committed = stateRows()
    assert(committed.size == 5 && committed.count(_._6 == 1L) == 3,
      s"unexpected committed dimension: $committed")
    // TORN WRITE: the previous attempt of batch 2 crashed mid-write of v3,
    // leaving a readable-but-partial dir (one of its five rows)
    val v3 = new java.io.File(s"$state/v3")
    val v3Df = spark.read.parquet(v3.toString)
    val partial = v3Df.collect().take(1)
    val schema = v3Df.schema
    v3.listFiles().foreach(_.delete())
    spark.createDataFrame(java.util.Arrays.asList(partial: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(v3.toString)
    assert(stateRows() != committed, "torn-write precondition")
    apply(batches(2), 2L)
    assert(stateRows() == committed, "torn v3 not recovered from pre-batch state")
    val versions = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("v")).map(_.getName)
    assert(versions.length <= StreamPipelines.UpsertKeepVersions + 1,
      s"stale versions not GC'd: ${versions.mkString(",")}")
  }

  test("streaming quality gate: streamed keeps equal batch t24's keep " +
    "labels on the same corpus, the ledger conserves counts, and batch " +
    "replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.load(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    val (batchA, batchB) = docs.splitAt(docs.length / 2)
    val in = Files.createTempDirectory("graft_qg_in")
    val state = Files.createTempDirectory("graft_qg_state").toString
    val ckpt = Files.createTempDirectory("graft_qg_ck").toString
    var mtime = System.currentTimeMillis()
    def drop(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = Files.createTempDirectory("graft_qg_stage")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val parts = java.nio.file.Files.walk(tmp)
        .filter(_.toString.endsWith(".parquet")).iterator()
      val dst = in.resolve(name)
      Files.copy(parts.next, dst)
      mtime += 2000
      dst.toFile.setLastModified(mtime)
    }
    drop("a.parquet", batchA)
    drop("b.parquet", batchB)
    val q = StreamPipelines.batchSink(
        StreamPipelines.fileStream(spark, in.toString, StreamPipelines.DocumentsSchema,
          maxFilesPerTrigger = 1),
        state)(StreamPipelines.qualityGateBatch(spark, state))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(!q.isActive && q.exception.isEmpty, s"stream died: ${q.exception}")
    def keptIds() = spark.read.parquet(s"$state/keep_b*")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // the stream must admit EXACTLY the docs the batch operator labels
    // keep — the real t24, not a hand copy of its scoring
    val batchKeeps = graft.operators.TextAnalysis.t24ClassifierScore(spark, sf)
      .filter(col("label") === "keep")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val streamed = keptIds()
    assert(streamed == batchKeeps, "streamed keeps != batch t24 keeps")
    assert(streamed.nonEmpty && streamed.length < docs.length,
      "the gate must admit some and reject some")
    // ledger conservation across micro-batches
    val ledger = spark.read.parquet(s"$state/ledger_b*").collect()
    assert(ledger.length >= 2, "expected one ledger row per micro-batch")
    assert(ledger.map(_.getAs[Long]("n_in")).sum == docs.length.toLong)
    assert(ledger.map(_.getAs[Long]("n_keep")).sum == streamed.length.toLong)
    ledger.foreach(r => assert(
      r.getAs[Long]("n_keep") + r.getAs[Long]("n_drop") == r.getAs[Long]("n_in")))
    // at-least-once replay of the last micro-batch
    val lastId = new java.io.File(state).listFiles()
      .filter(_.getName.startsWith("keep_b")).map(_.getName.drop(6).toLong).max
    StreamPipelines.qualityGateBatch(spark, state)(
      batchB.toDF("doc_id", "text"), lastId)
    assert(keptIds() == streamed, "replay altered the admitted set")
  }

  test("streaming funnel: per-session verdicts on the real corpus sum to " +
    "batch q20's step counts, and every step is non-vacuously reached") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    implicit val sp: SparkSession = spark
    import StreamPipelines.{FunnelEv, FunnelOut}
    val sfDir = "/root/testdata/sf0.001"
    val evs = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[FunnelEv].collect().toSeq
    val mem = MemoryStream[FunnelEv]
    val out = s"mem_funnel_${System.nanoTime()}"
    val q = StreamPipelines.funnelize(mem.toDS())
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      // one micro-batch holds the whole corpus (watermark starts at 0, so
      // in-batch disorder can't drop anything), then a far-future sentinel
      // advances the watermark past every session's close
      mem.addData(evs: _*)
      q.processAllAvailable()
      val maxTs = evs.map(_.ts.getTime).max
      mem.addData(FunnelEv(-1L, -1L,
        new Timestamp(maxTs + 365L * 86400L * 1000L), "view"))
      q.processAllAvailable()
      val sessions = spark.table(out).as[FunnelOut].collect()
        .filter(_.user_id >= 0L)
      val batch = operators.Behavior.q20FunnelSteps(spark, sfDir).collect()
        .map(r => r.getAs[String]("step") ->
          ((r.getAs[Long]("n_reached"), r.getAs[Long]("n_sessions")))).toMap
      val n0 = batch.head._2._2
      assert(sessions.length.toLong == n0,
        s"session count diverged: streamed ${sessions.length} vs batch $n0")
      assert(sessions.map(_.n_events).sum == evs.length.toLong,
        "closed sessions do not cover the corpus")
      val streamedSteps = Seq(
        sessions.count(_.reached1 == 1L).toLong,
        sessions.count(_.reached2 == 1L).toLong,
        sessions.count(_.reached3 == 1L).toLong)
      val batchSteps = Seq(batch("1_view")._1, batch("2_click")._1,
        batch("3_purchase")._1)
      assert(streamedSteps == batchSteps,
        s"funnel counts diverged: streamed $streamedSteps vs batch $batchSteps")
      // corpus fact: sf0.001 has ZERO ordered full conversions (s2=2,
      // s3=0 — 202 purchases, none after a click-after-view), so the
      // depth arm pins step 2; step 3's semantics are pinned by the
      // order-constraint witness below instead
      assert(streamedSteps(1) > 0L && streamedSteps.head < n0,
        "funnel is vacuous — step 2 empty or top step universal")
      // the ordered constraint must bind somewhere: a session containing
      // all three types but NOT converting (click-before-view etc.) is
      // what separates q20 from a bag-of-types count
      assert(sessions.exists(s =>
          s.has1 == 1L && s.has2 == 1L && s.has3 == 1L && s.reached3 == 0L),
        "no all-types session failed the ORDER — the constraint never bound")
    } finally q.stop()
  }

  test("streaming mergeable histogram matches the batch daily grid " +
    "(q61's state shape), including the clamp arm") {
    import spark.implicits._
    import graft.operators.Behavior.{QBucketCents, QBuckets}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val events = mem.toDF().toDF("event_id", "ts", "value")
    val out = s"mem_hist_${System.nanoTime()}"
    val q = StreamPipelines.histogramStream(events)
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    try {
      // day 1 (minutes 0-1439): buckets 0, 0, 10; day 2: bucket 1 and a
      // value past the grid edge that must CLAMP into the last bucket
      val data = Seq(
        (1L, ts(10), 5.0), (2L, ts(20), 9.99), (3L, ts(30), 100.0),
        (4L, ts(1500), 10.0), (5L, ts(1510), 650.0))
      mem.addData(data: _*)
      q.processAllAvailable()
      mem.addData((9L, ts(20000), 0.0)) // sentinel: closes both days
      q.processAllAvailable()
      val dayMs = 86400L * 1000L
      val got = spark.table(out).collect()
        .map(r => (r.getAs[Timestamp]("day_start").getTime / dayMs,
          r.getAs[Long]("bucket"), r.getAs[Long]("cnt")))
        .filter(_._1 < 10L).toSet // drop the sentinel's day
      val expected = data
        .map { case (_, t, v) =>
          (t.getTime / dayMs,
            math.min(math.floor(v * 100).toLong / QBucketCents, QBuckets - 1)) }
        .groupBy(identity).map { case ((d, b), g) => (d, b, g.size.toLong) }
        .toSet
      assert(got == expected, "streamed histogram diverged from the batch grid")
      assert(got.exists(_._2 == QBuckets - 1),
        "the clamp arm never fired — the grid edge is untested")
      assert(got.exists(_._3 > 1L), "no bucket merged two events — " +
        "the additive state never actually added")
    } finally q.stop()
  }

  test("st1/st2 (the measured streaming rows): st2's cross-batch " +
    "overwrite arm fires on the real corpus and the drained state " +
    "replays as the global per-user argmax; st1's drained keepers " +
    "equal d1's on a dup-free corpus") {
    val sf = "/root/testdata/sf0.001"
    // ---- st2: replay the argmax from raw events, and prove batch 1
    // actually overwrote batch-0 state (a user with events in BOTH time
    // halves whose final row is from the newer half)
    val raw = Tables.load(spark, sf, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val cut = (raw.map(_._3).min + raw.map(_._3).max + 1) / 2
    val expect = raw.groupBy(_._1).view.mapValues(
      _.maxBy(e => (e._3, e._2))).toMap
    val got = graft.streaming.StreamQueries.st2StreamUpsert(spark, sf)
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("event_id"), r.getAs[Long]("ts_us"))).toMap
    assert(got.size == expect.size)
    expect.foreach { case (u, e) =>
      assert(got(u) == ((e._2, e._3)), s"user $u final row diverged") }
    val overwritten = raw.groupBy(_._1).count { case (_, evs) =>
      evs.exists(_._3 < cut) && expect(evs.head._1)._3 >= cut }
    assert(overwritten > 0,
      "no user's batch-0 state was overwritten — the merge arm is vacuous")
    info(s"st2: ${got.size} users, $overwritten cross-batch overwrites")
    // ---- st1: on a corpus with no exact-dup groups the streamed
    // keepers are exactly d1's keeper set (the cross-batch anti-join
    // arm is pinned on the planted corpus in the streaming corpus dedup test)
    val st1 = graft.streaming.StreamQueries.st1StreamDedup(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val d1 = graft.operators.Dedup.d1DedupExact(spark, sf)
      .filter(col("is_keeper") === 1L)
      .select(col("norm_hash"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(st1 == d1, "streamed dedup state != batch d1 keepers")
  }

  test("st3 (the streaming quality-gate row): the drained (doc_id, " +
    "n_toks, score) rows are t24's keep rows, each from the arrival its " +
    "doc_id parity stages it in") {
    val sf = "/root/testdata/sf0.001"
    val st3 = graft.streaming.StreamQueries.st3StreamQuality(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_toks"),
        r.getAs[Long]("score"), r.getAs[Long]("src_batch"))).toSeq
    val keeps = graft.operators.TextAnalysis.t24ClassifierScore(spark, sf)
      .filter(col("label") === "keep")
      .select(col("doc_id"), col("n_toks"), col("score")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(keeps.nonEmpty)
    assert(st3.map(r => (r._1, r._2, r._3)) == keeps,
      "streamed quality-gate rows != batch t24 keep rows")
    st3.foreach { case (id, _, _, b) =>
      assert(b == id % 2, s"doc $id drained from batch $b") }
  }

  test("st4 (the streaming SCD2 row): the drained dimension equals " +
    "batch p5_scd2_user row for row — st4's oracle is p5's SQL") {
    val sf = "/root/testdata/sf0.001"
    val st4 = graft.streaming.StreamQueries.st4StreamScd2(spark, sf).collect().toSeq
    val p5 = graft.pipeline.Scd2.p5Scd2User(spark, sf)
      .orderBy(col("user_id"), col("version")).collect().toSeq
    assert(p5.nonEmpty)
    assert(st4 == p5, "streamed SCD2 dimension != batch p5")
  }

  test("drain harness: no scratch dir survives a drain that returns or " +
    "one whose body throws, the throw surfaces, and the returned frame " +
    "outlives its deleted files") {
    import spark.implicits._
    import graft.streaming.StreamQueries
    val name = s"drainspec${System.nanoTime()}"
    def leftovers() = new java.io.File(System.getProperty("java.io.tmpdir"))
      .listFiles().map(_.getName).filter(_.startsWith(s"graft_$name")).toSeq
    val rows = Seq(1L -> "older arrival", 2L -> "newer arrival")
    val arrivals = rows.map(r => Seq(r).toDF("doc_id", "text"))
    val drained = StreamQueries.drain(name, arrivals,
        StreamPipelines.DocumentsSchema, spark)(
      (stream, work) => stream.writeStream.format("parquet")
        .option("path", s"$work/out"),
      work => spark.read.parquet(s"$work/out"))
    assert(leftovers().isEmpty, s"scratch dir left behind: ${leftovers()}")
    assert(drained.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq == rows)
    val boom = intercept[IllegalStateException] {
      StreamQueries.drain(name, arrivals, StreamPipelines.DocumentsSchema, spark)(
        (_, _) => throw new IllegalStateException("planted sink failure"),
        work => spark.read.parquet(s"$work/out"))
    }
    assert(boom.getMessage == "planted sink failure")
    assert(leftovers().isEmpty,
      s"scratch dir left behind by a failed drain: ${leftovers()}")
  }

  test("state-partition dial: unset gives the default 4; a non-integer " +
    "or non-positive value is rejected with the variable's name") {
    import graft.streaming.StreamQueries.statePartitions
    assert(statePartitions(None) == 4)
    assert(statePartitions(Some("8")) == 8)
    Seq("0", "-1", "", "x", "4x").foreach { v =>
      val e = intercept[IllegalArgumentException](statePartitions(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_STREAM_STATE_PARTITIONS"),
        s"'$v' rejected without naming the variable: ${e.getMessage}")
    }
    // an Int dial: one past Int.MaxValue is rejected, with the same message
    val e = intercept[IllegalArgumentException](statePartitions(Some("2147483648")))
    assert(e.getMessage == "requirement failed: SPARK_GRAFT_STREAM_STATE_PARTITIONS " +
      "must be a positive integer, got '2147483648'")
  }

  test("st6-st10 (the r20 promoted streaming rows): each drained state " +
    "equals its batch statement on the real corpus — windowed rollup, " +
    "stream-static enrich, session_window, interval join, histogram " +
    "grid (cross-batch/inferred arms fire at the driver's sf0.01 gate " +
    "scale; this corpus slice pins the equivalence itself)") {
    import graft.streaming.StreamQueries
    val sf = "/root/testdata/sf0.001"
    val gap = graft.operators.Analytics.SessionGapUs
    val ev = Tables.load(spark, sf, "events").select(
      col("event_id").cast("long").as("event_id"), col("ts"),
      col("user_id").cast("long").as("user_id"), col("event_type"),
      col("value").cast("double").as("value"))

    // ---- st6: hourly windowed rollup
    val st6 = StreamQueries.st6StreamWindow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val b6 = ev.groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(unix_micros(col("h")), col("event_type"), col("n"), col("sv"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(st6.nonEmpty && st6 == b6,
      "streamed hourly rollup != batch GROUP BY (hour, type)")

    // ---- st7: stream-static enrichment against p15's arrived snapshot
    val st7 = StreamQueries.st7StreamEnrich(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    val arrived = Tables.load(spark, sf, "customer")
      .filter(expr("CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100")
        >= graft.pipeline.Curated.LateBucketMax)
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    val b7 = ev.join(arrived, col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("c_name"), lit("INFERRED")).as("n"),
        coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("m"),
        col("c_custkey").isNull.cast("long").as("i"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSet
    assert(st7.size == ev.count() && st7 == b7,
      "streamed enrichment != batch left join (row grain)")

    // ---- st8: built-in session_window vs the q12 gap rule
    import org.apache.spark.sql.expressions.Window
    val byU = Window.partitionBy("user_id").orderBy("ts_us")
    val e8 = ev.select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .withColumn("ns", when(lag(col("ts_us"), 1).over(byU).isNull, 1L)
        .when(col("ts_us") - lag(col("ts_us"), 1).over(byU) > gap, 1L)
        .otherwise(0L))
      .withColumn("sid", sum(col("ns")).over(
        byU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val b8 = e8.groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("s"), max(col("ts_us")).as("last"),
        count(lit(1)).as("n"), round(sum(col("value")), 2).as("sv"))
      .select(col("user_id"), col("s"), (col("last") + gap).as("e"),
        col("n"), col("sv")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val st8 = StreamQueries.st8StreamSessions(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    assert(st8 == b8, "streamed session_window state != batch gap split")
    assert(st8.exists(_._4 > 1L),
      "no session merged two events — the merge state machine never ran")

    // ---- st9: stream-stream interval join (12h window)
    val l = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("lu"), col("event_id").as("lid"),
        unix_micros(col("ts")).as("lts"))
    val rr = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("ru"), col("event_id").as("rid"),
        unix_micros(col("ts")).as("rts"))
    val b9 = l.join(rr, col("lu") === col("ru") &&
        col("lts") <= col("rts") &&
        col("lts") >= col("rts") - 720L * 60L * 1000000L)
      .select(col("lid"), col("rid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val st9 = StreamQueries.st9StreamInterval(spark, sf).collect()
      .map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purch_id"))).toSet
    assert(st9.nonEmpty && st9 == b9,
      "streamed interval join pairs != batch self-join pairs")

    // ---- st10: daily histogram grid
    val cents = graft.operators.Behavior.QBucketCents
    val top = graft.operators.Behavior.QBuckets - 1
    val b10 = ev.groupBy(date_trunc("day", col("ts")).as("d"),
        least(expr(s"CAST(floor(value * 100) AS BIGINT) div $cents"),
          lit(top)).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("d")), col("bucket"), col("cnt")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val st10 = StreamQueries.st10StreamHistogram(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(st10.nonEmpty && st10 == b10,
      "streamed histogram grid != batch daily GROUP BY")
    assert(st10.exists(_._3 > 1L),
      "no bucket merged two events — additive state never actually added")
  }
}
