package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
import graft.pipeline._

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  test("ingest: CSV with schema, header, and DROPMALFORMED") {
    val dir = Files.createTempDirectory("graft_csv")
    val csv = dir.resolve("emp.csv")
    Files.writeString(csv,
      "id,name,salary\n1,alice,100.5\n2,bob,200.0\nbad,row,NOTANUMBER\n4,dana,50\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("salary", DoubleType)))
    val ok = Ingest.readCsv(spark, csv.toString, schema, header = true, mode = "DROPMALFORMED")
    // collect (not count) so every column is parsed — CSV column pruning
    // would otherwise skip parsing and never see the malformed row
    assert(ok.collect().length == 3) // bad row dropped
    val permissive = Ingest.readCsv(spark, csv.toString, schema)
    assert(permissive.count() == 4) // bad row kept with nulls
    assert(permissive.filter("id IS NULL").count() == 1)
  }

  test("ingest: malformed rows are quarantined to rejects, not dropped") {
    val dir = Files.createTempDirectory("graft_csvq")
    val csv = dir.resolve("emp.csv")
    Files.writeString(csv,
      "id,name,salary\n1,alice,100.5\nbad,row,NOTANUMBER\n3,cara,75.0\n7,short\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("salary", DoubleType)))
    val (good, rejects) = Ingest.readCsvWithRejects(spark, csv.toString, schema)
    assert(good.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val rej = rejects.collect()
    assert(rej.length == 2, "both planted bad rows must land in rejects")
    val raws = rej.map(_.getAs[String]("_raw_record")).toSet
    assert(raws == Set("bad,row,NOTANUMBER", "7,short"),
      s"rejects must preserve the raw line, got $raws")
  }

  test("ingest: malformed JSON lines are quarantined with the raw line " +
    "preserved; typed rows parse") {
    val dir = Files.createTempDirectory("graft_jsonq")
    val f = dir.resolve("ev.jsonl")
    Files.writeString(f,
      """{"id": 1, "name": "alice", "score": 9.5}
        |not json at all
        |{"id": 2, "name": "bob", "score": 3.25}
        |{"id": "NaN-ish", "name": 7}
        |{"id": 3, "name": "cara", "score"
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val (good, rejects) = Ingest.readJsonWithRejects(spark, f.toString, schema)
    assert(good.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L),
      "only fully-typed rows pass")
    val raws = rejects.collect().map(_.getAs[String]("_raw_record"))
    assert(raws.length == 3, s"all three planted bad lines quarantine, got ${raws.toSeq}")
    assert(raws.exists(_.contains("not json at all")),
      "raw line survives for forensics")
  }

  test("config: defaults parse, drive entities, and reject typos") {
    val c = PipelineConfig.default
    assert(c.entities.map(_.name) == Seq("customer", "orders"))
    assert(c.retries == 1 && c.retryDelayMs == 200L)
    val orders = c.entity("orders")
    assert(orders.table == "orders" && orders.pattern == "Department.csv")
    assert(orders.pk == Seq("o_orderkey"))
    assert(orders.hashCols.contains("o_totalprice" -> "money"))
    assert(orders.hashCols.contains("o_orderdate" -> "ts"))
    intercept[IllegalArgumentException](c.entity("ghost"))

    // file round-trip: a user config overrides the default
    val f = Files.createTempDirectory("graft_cfg").resolve("p.properties")
    Files.writeString(f,
      "pipeline.entities=nation\nentity.nation.pattern=Nation.csv\n" +
        "entity.nation.pk=n_nationkey\nentity.nation.hashCols=n_nationkey,n_name\n")
    val c2 = PipelineConfig.load(f.toString)
    assert(c2.entities.map(_.name) == Seq("nation"))
    assert(c2.entity("nation").table == "nation") // table defaults to name
    assert(c2.retries == 0)

    // unknown keys (config typos) fail loudly
    val bad = Files.createTempDirectory("graft_cfg2").resolve("p.properties")
    Files.writeString(bad,
      "pipeline.entities=nation\nentity.nation.pattern=N.csv\n" +
        "entity.nation.pk=n_nationkey\nentity.nation.hashCols=n_nationkey\n" +
        "entity.nation.sensorTimeout=oops\n")
    intercept[IllegalArgumentException](PipelineConfig.load(bad.toString))
    // bad render hint fails loudly
    val bad2 = Files.createTempDirectory("graft_cfg3").resolve("p.properties")
    Files.writeString(bad2,
      "pipeline.entities=n\nentity.n.pattern=N.csv\nentity.n.pk=k\n" +
        "entity.n.hashCols=k:florps\n")
    intercept[IllegalArgumentException](PipelineConfig.load(bad2.toString))
  }

  test("ingest: second configured entity flows through the same audited path") {
    val df = PipelineQueries.p8IngestOrders(spark, sf)
    val n = df.count()
    assert(n > 0)
    assert(df.select("_row_hash").distinct().count() == n)
    assert(df.filter("_src = 'orders'").count() == n)
  }

  test("ingest: audit hash is deterministic and distinct per row") {
    val df = Ingest.p1IngestRaw(spark, sf)
    val n = df.count()
    assert(df.select("_row_hash").distinct().count() == n)
    assert(df.filter("_src = 'customer'").count() == n)
  }

  test("staging: dedupKeepFirst keeps exactly one row per key") {
    import spark.implicits._
    val df = Seq((1, "b"), (1, "a"), (2, "z")).toDF("k", "v")
    val out = Staging.dedupKeepFirst(df, Seq("k"),
      Seq(org.apache.spark.sql.functions.col("v"))).collect()
    assert(out.length == 2)
    assert(out.find(_.getInt(0) == 1).get.getString(1) == "a")
  }

  test("quality: gate passes on clean tables, catches real + planted dups") {
    import spark.implicits._
    val clean = Quality.tableMetrics(Tables.load(spark, sf, "customer"), "customer", Seq("c_custkey"))
      .unionAll(Quality.tableMetrics(Tables.load(spark, sf, "orders"), "orders", Seq("o_orderkey")))
    assert(Quality.gatePasses(clean))
    // the synthetic lineitem table has duplicate (l_orderkey, l_linenumber)
    // pairs — the full report must catch them
    assert(!Quality.gatePasses(Quality.p4QualityChecks(spark, sf)))
    val dup = Seq((1L, "x"), (1L, "y")).toDF("pk", "v")
    assert(!Quality.gatePasses(Quality.tableMetrics(dup, "dup_table", Seq("pk"))))
  }

  test("scd2: versions chain and exactly one current per key") {
    val scd = Scd2.p5Scd2User(spark, sf).cache()
    val users = scd.select("user_id").distinct().count()
    assert(scd.filter("is_current = 1").count() == users)
    // non-current versions must close exactly when the next one opens
    assert(scd.filter("is_current = 0 AND effective_to_us IS NULL").count() == 0)
    assert(scd.filter("effective_to_us IS NOT NULL AND effective_to_us < effective_from_us").count() == 0)
    scd.unpersist()
  }

  test("merge: upsert is last-writer-wins and keeps unmatched rows") {
    import spark.implicits._
    val current = Seq((1L, "old", 1L, 1L), (2L, "keep", 1L, 2L)).toDF("k", "v", "ver", "tie")
    val updates = Seq((1L, "new", 2L, 3L), (3L, "ins", 1L, 4L)).toDF("k", "v", "ver", "tie")
    val out = Merge.upsert(current, updates, Seq("k"), "ver", "tie")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "new", 2L -> "keep", 3L -> "ins"))
  }

  test("archive: moves files with date suffix") {
    val landing = Files.createTempDirectory("graft_landing")
    val archived = landing.resolveSibling(landing.getFileName.toString + "_arch")
    Files.writeString(landing.resolve("Employee.csv"), "a,b\n")
    Files.writeString(landing.resolve("noext"), "x")
    val moved = Archive.archive(landing.toString, archived.toString, "20260812")
    assert(moved.map(_._2).map(p => Paths.get(p).getFileName.toString).toSet ==
      Set("Employee_20260812.csv", "noext_20260812"))
    assert(Files.list(landing).count() == 0)
    // idempotent on empty landing
    assert(Archive.archive(landing.toString, archived.toString, "20260812").isEmpty)
  }

  test("sensor: arrives within timeout, times out when absent") {
    val dir = Files.createTempDirectory("graft_sense")
    val target = dir.resolve("Department.csv")
    val writer = new Thread(() => { Thread.sleep(200); Files.writeString(target, "x") })
    writer.start()
    assert(Sensor.await(Seq(target.toString), timeoutMs = 5000, pollMs = 20))
    writer.join()
    assert(!Sensor.await(Seq(dir.resolve("never.csv").toString), timeoutMs = 200, pollMs = 20))
  }

  test("runner: topological order, fail-fast skips dependents only") {
    import Runner._
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    // each body's (start, end): perfbench attributes work to a stage by
    // time window, which holds only while no two stage spans overlap
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def body(name: String, fail: Boolean = false): () => Unit = () => {
      val t0 = System.nanoTime()
      ran += name
      Thread.sleep(5)
      spans += (t0 -> System.nanoTime())
      if (fail) throw new RuntimeException("boom")
    }
    val stages = Seq(
      Stage("sense")(body("sense")),
      Stage("ingest", Seq("sense"))(body("ingest", fail = true)),
      Stage("stage", Seq("ingest"))(body("stage")),
      Stage("quality", Seq("stage"))(body("quality")),
      Stage("archive", Seq("sense"))(body("archive")))
    val results = Runner.run(stages)
    val res = results.map(r => r.name -> r.status).toMap
    assert(res("sense") == Succeeded)
    assert(res("ingest").isInstanceOf[Failed])
    assert(res("stage").isInstanceOf[Skipped])
    assert(res("quality").isInstanceOf[Skipped])
    assert(res("archive") == Succeeded)
    assert(!ran.contains("stage") && !ran.contains("quality"))
    assert(ran.toList == List("sense", "ingest", "archive"))
    assert(results.map(_.name) == Seq("sense", "ingest", "archive", "stage", "quality"),
      "results are not in Kahn order")
    val bySt = spans.sortBy(_._1)
    bySt.zip(bySt.tail).foreach { case ((_, end), (next, _)) =>
      assert(end <= next, s"stage spans overlap: $spans")
    }
  }

  test("runner: retries recover transient failures; exhaustion skips " +
    "dependents and fires the failure hook once") {
    import Runner._
    // transient: fails twice, succeeds on the 3rd attempt within budget
    val flakyCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val hook = (n: String, e: Throwable) => { failures += (n -> e.getMessage); () }
    val ok = Runner.run(Seq(
      Stage("flaky", retries = 2)(() =>
        if (flakyCalls.incrementAndGet() < 3) throw new RuntimeException("transient")),
      Stage("after", Seq("flaky"))(() => ())), onFailure = hook)
    assert(ok.map(r => r.name -> r.status).toMap ==
      Map("flaky" -> Succeeded, "after" -> Succeeded))
    assert(flakyCalls.get() == 3)
    assert(failures.isEmpty, "hook must not fire on recovered stages")

    // exhausted: 1 + retries attempts, then Failed + Skipped dependents +
    // exactly one hook invocation
    val doomedCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val bad = Runner.run(Seq(
      Stage("doomed", retries = 2, retryDelayMs = 5)(() => {
        doomedCalls.incrementAndGet(); throw new RuntimeException("permanent")
      }),
      Stage("child", Seq("doomed"))(() => ())), onFailure = hook)
    val byName = bad.map(r => r.name -> r.status).toMap
    assert(byName("doomed").isInstanceOf[Failed])
    assert(byName("child").isInstanceOf[Skipped])
    assert(doomedCalls.get() == 3, "1 initial + 2 retries")
    assert(failures.toList == List("doomed" -> "permanent"), "hook fires once, after exhaustion")
  }

  test("runner: rejects cycles and unknown deps") {
    import Runner._
    assertThrows[IllegalArgumentException] {
      Runner.run(Seq(Stage("a", Seq("b"))(() => ()), Stage("b", Seq("a"))(() => ())))
    }
    assertThrows[IllegalArgumentException] {
      Runner.run(Seq(Stage("a", Seq("ghost"))(() => ())))
    }
  }

  test("runner: concurrent runs of one named pipeline serialize under " +
    "QueueRun, fail fast under FailFast, and never block other pipelines " +
    "— the reference's max_active_runs=1") {
    import Runner._
    // two QueueRun runs of the same name on two threads: stage bodies
    // track concurrent occupancy; the guard must keep it at 1
    val active = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxActive = new java.util.concurrent.atomic.AtomicInteger(0)
    def body(): Unit = {
      val a = active.incrementAndGet()
      maxActive.updateAndGet(m => math.max(m, a))
      Thread.sleep(40)
      active.decrementAndGet()
    }
    def stages = Seq(Stage("s1")(body _), Stage("s2", Seq("s1"))(body _))
    val threads = (1 to 2).map(_ => new Thread(() =>
      Runner.run("etl_daily", QueueRun, stages)))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(maxActive.get() == 1,
      s"two QueueRun runs of one pipeline interleaved (max active ${maxActive.get()})")
    // FailFast: while a run holds the name, a second invocation throws —
    // and a DIFFERENT pipeline name is not blocked
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => Runner.run("etl_daily", QueueRun, Seq(
      Stage("hold")(() => { started.countDown(); release.await() }))))
    holder.start(); started.await()
    try {
      intercept[ConcurrentRunException] {
        Runner.run("etl_daily", FailFast, Seq(Stage("s")(() => ())))
      }
      val other = Runner.run("etl_hourly", FailFast, Seq(Stage("s")(() => ())))
      assert(other.head.status == Succeeded,
        "an unrelated pipeline was blocked by another name's run")
    } finally { release.countDown(); holder.join() }
    // the lock releases on completion: a fresh FailFast run now succeeds
    val after = Runner.run("etl_daily", FailFast, Seq(Stage("s")(() => ())))
    assert(after.head.status == Succeeded)
  }

  test("runner: a hung stage times out, fires the hook, and skips " +
    "dependents") {
    import Runner._
    val notified = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val t0 = System.nanoTime()
    val byName = Runner.run(Seq(
      Stage("hung", timeoutMs = 200)(() => Thread.sleep(60000)),
      Stage("after", Seq("hung"))(() => ()),
      Stage("free")(() => ())), (n, _) => { notified.add(n); () })
      .map(r => r.name -> r.status).toMap
    val tookMs = (System.nanoTime() - t0) / 1000000
    byName("hung") match {
      case Failed(e) => assert(e.isInstanceOf[java.util.concurrent.TimeoutException],
        s"expected TimeoutException, got $e")
      case other => fail(s"hung stage: $other")
    }
    assert(byName("after").isInstanceOf[Skipped])
    assert(byName("free") == Succeeded)
    assert(tookMs < 30000, s"timeout did not bound the run (${tookMs}ms)")
    assert(notified.contains("hung"), "failure hook did not fire on timeout")
  }

  test("runner: a timed-out attempt retries like any failure") {
    import Runner._
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val res = Runner.run(Seq(
      Stage("flaky_hang", retries = 1, timeoutMs = 300)(() => {
        if (attempts.incrementAndGet() == 1) Thread.sleep(60000) // first attempt hangs
      })))
    assert(res.head.status == Succeeded, s"retry after timeout: ${res.head.status}")
    assert(attempts.get() == 2)
  }

  test("runner: a body that ignores interrupts fails WITHOUT retrying — " +
    "a retry would run concurrently with the still-live attempt") {
    import Runner._
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val res = Runner.run(Seq(
      Stage("wedged", retries = 3, timeoutMs = 200)(() => {
        attempts.incrementAndGet()
        val until = System.nanoTime() + 5000000000L // outlive timeout + grace
        while (System.nanoTime() < until)
          try Thread.sleep(100) catch { case _: InterruptedException => () }
      })))
    res.head.status match {
      case Failed(e) => assert(e.isInstanceOf[Runner.StageWedgedException],
        s"expected StageWedgedException, got $e")
      case other => fail(s"wedged stage: $other")
    }
    assert(attempts.get() == 1, s"retried a live attempt ${attempts.get() - 1} times")
  }

  test("runner: a failure landing during the timeout grace window keeps " +
    "its root cause instead of a bare TimeoutException") {
    import Runner._
    val res = Runner.run(Seq(
      Stage("grace_fail", timeoutMs = 200)(() => {
        try Thread.sleep(60000)
        catch { case _: InterruptedException =>
          // the interrupt landed; the attempt dies with a REAL error whose
          // identity logs and the onFailure hook must not lose
          throw new IllegalStateException("cleanup exploded")
        }
      })))
    res.head.status match {
      case Failed(e) =>
        assert(e.isInstanceOf[java.util.concurrent.TimeoutException],
          s"timeout classification lost: $e")
        val causes = Iterator.iterate(e.getCause)(_.getCause)
          .takeWhile(_ != null).toList
        assert(causes.exists(c => Option(c.getMessage).exists(_.contains("cleanup exploded"))),
          s"root cause discarded: $e / causes=$causes")
      case other => fail(s"expected Failed, got $other")
    }
  }

  test("p10: drifted batches align by NAME with null fill, provenance " +
    "splits the corpus, and no row is lost or duplicated") {
    val r = PipelineQueries.p10SchemaDrift(spark, sf).collect()
    val total = Tables.load(spark, sf, "orders").count()
    assert(r.length == total, "drift union must preserve every row")
    assert(r.map(_.getAs[Long]("o_orderkey")).distinct.length == r.length)
    val (v1, v2) = r.partition(_.getAs[String]("_batch") == "v1")
    assert(v1.nonEmpty && v2.nonEmpty)
    // the column each batch lacked is null there and only there
    assert(v1.forall(_.getAs[String]("o_orderstatus") == null))
    assert(v1.forall(_.getAs[String]("o_orderpriority") != null))
    assert(v2.forall(_.getAs[String]("o_orderpriority") == null))
    assert(v2.forall(_.getAs[String]("o_orderstatus") != null))
  }

  test("p11: snapshot diff classifies planted add/remove/change exactly " +
    "and drops unchanged rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val oldSnap = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "s", "v")
    val newSnap = Seq((1L, "a", 10L), (2L, "B", 20L), (4L, "d", 40L))
      .toDF("k", "s", "v")
    val d = Merge.snapshotDiff(oldSnap, newSnap, "k").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("change_type")).toMap
    assert(d == Map(2L -> "changed", 3L -> "removed", 4L -> "added"),
      s"got $d") // k=1 is unchanged and must not appear
    // the orders-derived query matches the planted key arithmetic
    val q = Merge.p11SnapshotDiff(spark, sf).collect()
    val byType = q.groupBy(_.getAs[String]("change_type"))
      .view.mapValues(_.map(_.getAs[Long]("o_orderkey")).toSet).toMap
    val keys = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey")).collect().map(_.getLong(0)).toSet
    assert(byType.getOrElse("added", Set()) == keys.filter(_ % 100 == 98))
    assert(byType.getOrElse("removed", Set()) == keys.filter(_ % 100 == 97))
    assert(byType.getOrElse("changed", Set()) ==
      keys.filter(_ % 100 == 99)) // status rewrite touches only these
    q.foreach { r =>
      val (o, n) = (r.getAs[String]("old_fp"), r.getAs[String]("new_fp"))
      r.getAs[String]("change_type") match {
        case "added"   => assert(o == null && n != null)
        case "removed" => assert(o != null && n == null)
        case "changed" => assert(o != null && n != null && o != n)
      }
    }
  }

  test("p12: every z-order bucket is a real quadtree cell — per-cell " +
    "spans in BOTH dims are bounded by the cell geometry, no row lost") {
    val r = PipelineQueries.p12ZorderLayout(spark, sf).collect()
    val total = Tables.load(spark, sf, "orders").count()
    assert(r.map(_.getAs[Long]("n_orders")).sum == total)
    // depth-3 quadtree on a 16-bit lattice: each bucket fixes the top 3
    // bits of each dim, so the within-cell span is < 2^13 lattice steps.
    // This bound IS the min/max file-skipping guarantee of the layout.
    val cellSpan = 1L << (PipelineQueries.ZGridBits - PipelineQueries.ZBucketBits / 2)
    r.foreach { b =>
      assert(b.getAs[Long]("x_max") - b.getAs[Long]("x_min") < cellSpan,
        s"bucket ${b.getAs[Long]("bucket")} x-span breaks the cell bound")
      assert(b.getAs[Long]("y_max") - b.getAs[Long]("y_min") < cellSpan,
        s"bucket ${b.getAs[Long]("bucket")} y-span breaks the cell bound")
    }
    // buckets are valid depth-3 cells and the layout actually spreads
    val ids = r.map(_.getAs[Long]("bucket"))
    assert(ids.forall(b => b >= 0 && b < (1L << PipelineQueries.ZBucketBits)))
    assert(ids.length > 1, "a one-cell layout clusters nothing")
  }

  test("single-stage groups: curation runs in isolation against a " +
    "pre-populated workDir; staging drops its cross-group deps") {
    val work = Files.createTempDirectory("graft_stage").toString
    val landing = Files.createTempDirectory("graft_stage_landing")
    val config = PipelineConfig.default
    config.entities.foreach(e => Files.writeString(landing.resolve(e.pattern), "x\n"))
    val all = PipelineMain.stageGroups(spark, sf, work, landing.toString, config)

    // staging standalone: only staging_* stages, ingest deps pruned
    val staging = PipelineMain.stagesFor(all, Some("staging"))
    assert(staging.map(_.name).toSet == config.entities.map(e => s"staging_${e.name}").toSet)
    assert(staging.forall(_.deps.isEmpty), "cross-group deps must be pruned")

    // pre-populate the zones an isolated curation run reads/overwrites,
    // then run ONLY the curation group — the operational "re-run one zone
    // after a partial failure" path
    val stagingRes = Runner.run(staging)
    assert(stagingRes.forall(_.status == Runner.Succeeded))
    val curation = PipelineMain.stagesFor(all, Some("curation"))
    assert(curation.map(_.name).toSet == Set("quality", "curate_scd2", "curate_join", "merge"))
    // intra-group deps survive the pruning
    assert(curation.find(_.name == "merge").get.deps == Seq("curate_join"))
    val curationRes = Runner.run(curation)
    assert(curationRes.forall(_.status == Runner.Succeeded),
      s"curation standalone: $curationRes")
    assert(Files.exists(Paths.get(work, "curated_customer")))
    assert(Files.exists(Paths.get(work, "merged_orders")))

    // unknown group fails loudly
    assertThrows[IllegalArgumentException] {
      PipelineMain.stagesFor(all, Some("nonsense"))
    }
    // the full selection keeps every stage and every dep
    assert(PipelineMain.stagesFor(all, None).size == all.size)
  }

  test("p13: PIT join picks the version in effect at fact time — planted " +
    "change log covers zero-width supersession, pre-first-version and " +
    "unkeyed facts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_pit").toString
    def us(s: Long): Long = s * 1000000L
    // one events table carrying BOTH sides: user 1's profile changes at
    // t=100s, two at the SAME instant t=200s (v2 zero-width, v3
    // supersedes it), one at t=300s — and purchase facts before the first
    // version, exactly at a version start, at the double-change instant,
    // and after the last version. user 3 purchases with no state at all.
    Seq(
      (1L, us(100), 1L, "signup", 1.0),
      (2L, us(200), 1L, "view", 2.0), // zero-width: closed by v3 at same t
      (3L, us(200), 1L, "click", 3.0),
      (4L, us(300), 1L, "error", 4.0),
      (10L, us(99), 1L, "purchase", 10.0),  // before first version
      (11L, us(100), 1L, "purchase", 11.0), // == v1.from (inclusive)
      (12L, us(200), 1L, "purchase", 12.0), // double-change instant
      (13L, us(301), 1L, "purchase", 13.0), // open current version
      (14L, us(200), 3L, "purchase", 14.0)) // key with no dimension rows
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      // long-nanos events.ts encoding (Tables.load normalizes it; the
      // cross-encoding equivalence is pinned in SourcesSpec)
      .select(col("event_id"), (col("ts_us") * 1000L).as("ts"), col("user_id"),
        col("event_type"), col("value"), org.apache.spark.sql.functions.lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    val got = Scd2.p13PitJoin(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        (Option(r.getAs[java.lang.Long]("pit_version")).map(_.toLong),
          Option(r.getAs[String]("pit_state")))).toMap
    assert(got.keySet == Set(10L, 11L, 12L, 13L, 14L),
      "only purchase rows are facts")
    assert(got(10L) == (None, None), "fact before the first version")
    assert(got(11L) == (Some(1L), Some("signup")), "from is inclusive")
    assert(got(12L) == (Some(3L), Some("click")),
      "a zero-width version must never win at its own instant")
    assert(got(13L) == (Some(4L), Some("error")), "open version carries forward")
    assert(got(14L) == (None, None), "key absent from the dimension")
    // non-vacuous on the shipped corpus: both matched and unmatched facts
    val corpus = Scd2.p13PitJoin(spark, sf)
    assert(corpus.filter(col("pit_version").isNotNull).limit(1).count() == 1)
    assert(corpus.filter(col("pit_version").isNull).limit(1).count() == 1)
  }

  test("p13: a NULL-valued state version is carried faithfully, not " +
    "skipped past to an older version's value") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_pit_null").toString
    def us(s: Long): Long = s * 1000000L
    // v1 at t=100s has value 1.0; v2 at t=200s has value NULL. A fact in
    // v2's window must see pit_value NULL — the naive
    // last(when(state, value), ignoreNulls) carry would resurrect v1's 1.0.
    Seq(
      (1L, us(100), 1L, "signup", Some(1.0)),
      (2L, us(200), 1L, "view", None),
      (10L, us(150), 1L, "purchase", Some(10.0)),
      (11L, us(250), 1L, "purchase", Some(11.0)))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), (col("ts_us") * 1000L).as("ts"), col("user_id"),
        col("event_type"), col("value"), org.apache.spark.sql.functions.lit("{}").as("props"))
      .write.parquet(s"$dir/events.parquet")
    val got = Scd2.p13PitJoin(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        ((Option(r.getAs[java.lang.Long]("pit_version")).map(_.toLong),
          Option(r.getAs[String]("pit_state")),
          Option(r.getAs[java.lang.Double]("pit_value")).map(_.toDouble)))).toMap
    assert(got(10L) == ((Some(1L), Some("signup"), Some(1.0))))
    assert(got(11L) == ((Some(2L), Some("view"), None)),
      "the NULL-valued v2 must be carried as NULL, not v1's value")
  }

  test("p18: FK audit metrics match a hand-replayed planted edge (null " +
    "FKs, orphans, fan-out, unused parents) and the gate thresholds " +
    "orphans") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_fk").toString
    // parent: nation keys 1..10; the audit itself drops the >= 97 md5
    // bucket, so replay the same rule here rather than assuming survival
    (1 to 10).map(k => (k, s"N$k", k)).toDF("n_nationkey", "n_name", "n_regionkey")
      .write.parquet(s"$dir/nation.parquet")
    // child: key 1 referenced 3x (fan-out), 999 an always-orphan, one
    // null FK, keys 2/3 once each; parents 4..10 unreferenced
    Seq(Some(1), Some(1), Some(1), Some(2), Some(3), Some(999), None)
      .zipWithIndex.map { case (k, i) => (i.toLong, s"C$i", k, 0.0, "SEG") }
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .write.parquet(s"$dir/customer.parquet")
    def md5Hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def dropped(k: Int): Boolean =
      java.lang.Long.parseLong(md5Hex(s"$k:p18").substring(0, 15), 16) % 100 >=
        Quality.FkParentDropMin
    val parents = (1 to 10).filterNot(dropped).toSet
    val refs = Seq(1, 1, 1, 2, 3, 999)
    val r = Quality.p18FkAudit(spark, dir,
      Seq(("customer", "c_nationkey", "nation", "n_nationkey"))).collect()(0)
    assert(r.getAs[String]("edge") == "customer.c_nationkey->nation.n_nationkey")
    assert(r.getAs[Long]("n_child") == 7L)
    assert(r.getAs[Long]("n_null_fk") == 1L)
    assert(r.getAs[Long]("n_orphan") == refs.count(k => !parents(k)).toLong)
    assert(r.getAs[Long]("n_distinct_fk") == 4L) // 1, 2, 3, 999
    assert(r.getAs[Long]("n_parents") == parents.size.toLong)
    assert(r.getAs[Long]("n_matched_parents") ==
      refs.distinct.count(parents).toLong)
    assert(r.getAs[Long]("n_unused_parents") ==
      parents.count(p => !refs.contains(p)).toLong)
    assert(r.getAs[Long]("max_fanout") ==
      (if (parents(1)) 3L else refs.distinct.filter(parents)
        .map(k => refs.count(_ == k)).max.toLong))
    // the gate: null FKs always fail; orphans fail at 0 tolerance and
    // pass once the threshold absorbs them
    val report = Quality.p18FkAudit(spark, sf)
    assert(!Quality.fkGatePasses(report), "planted 3% parent drop must trip")
    assert(Quality.fkGatePasses(report, maxOrphans = 1000000L))
    // every audit rule is exercised somewhere on the shipped corpus
    val corpus = report.collect()
    assert(corpus.map(_.getAs[Long]("n_orphan")).sum > 0)
    assert(corpus.map(_.getAs[Long]("n_unused_parents")).sum > 0)
    assert(corpus.forall(_.getAs[Long]("max_fanout") >= 1L))
  }

  test("p14: drift shares and the L1 total match hand arithmetic, " +
    "including a bucket that vanishes in batch B") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_drift").toString
    def o(key: Long, yr: Int, prio: String) =
      (key, java.sql.Timestamp.valueOf(s"$yr-06-01 00:00:00"), prio)
    // A: 2 P1, 1 P2, 1 P3 (P3 vanishes in B); B: 1 P1, 3 P2; 2090 ignored
    Seq(o(1, 1996, "P1"), o(2, 1996, "P1"), o(3, 1996, "P2"), o(4, 1996, "P3"),
      o(5, 1997, "P1"), o(6, 1997, "P2"), o(7, 1997, "P2"), o(8, 1997, "P2"),
      o(9, 2090, "P9"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dir/orders.parquet")
    val got = Quality.p14DriftCheck(spark, dir).collect()
      .map(r => r.getAs[String]("bucket") ->
        ((r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Long]("share_a_e6"), r.getAs[Long]("share_b_e6"),
          r.getAs[Long]("abs_delta_e6")))).toMap
    assert(!got.contains("P9"), "out-of-cohort years are excluded")
    assert(got("P1") == ((2L, 1L, 500000L, 250000L, 250000L)))
    assert(got("P2") == ((1L, 3L, 250000L, 750000L, 500000L)))
    assert(got("P3") == ((1L, 0L, 250000L, 0L, 250000L)),
      "a vanished bucket must surface with share 0, not disappear")
    assert(got("~TOTAL") == ((4L, 4L, 1000000L, 1000000L, 1000000L)),
      "total delta is the L1 distance")
    // the gate thresholds exactly that total
    val report = Quality.p14DriftCheck(spark, dir)
    assert(!Quality.driftGatePasses(report, maxL1E6 = 999999L))
    assert(Quality.driftGatePasses(report, maxL1E6 = 1000000L))
    // dead feed: batch B empty -> shares 0, L1 maxes, the gate FIRES
    // (0/0 must never silently become "no drift")
    val dead = Files.createTempDirectory("graft_drift0").toString
    Seq(o(1, 1996, "P1"), o(2, 1996, "P2"))
      .toDF("o_orderkey", "o_orderdate", "o_orderpriority")
      .write.parquet(s"$dead/orders.parquet")
    val deadReport = Quality.p14DriftCheck(spark, dead)
    val tot = deadReport.collect().find(_.getAs[String]("bucket") == "~TOTAL").get
    assert(tot.getAs[Long]("abs_delta_e6") == 1000000L,
      "an empty cohort is maximal drift")
    assert(!Quality.driftGatePasses(deadReport, maxL1E6 = 999999L))
  }

  test("p15: every fact survives the late-dim join; inferred members carry " +
    "the placeholder; the arrived/late split matches the bucket rule") {
    import org.apache.spark.sql.functions.col
    val q = Curated.p15LateArrivingDim(spark, sf)
    val orders = Tables.load(spark, sf, "orders")
    assert(q.count() == orders.count(), "the join must never drop a fact")
    val rows = q.collect()
    // recompute each key's bucket with the same md5 rule
    val late = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"),
        org.apache.spark.sql.functions.expr(
          "CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100")
          .as("b"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1) < Curated.LateBucketMax)).toMap
    rows.foreach { r =>
      val isLate = late.getOrElse(r.getAs[Long]("o_custkey"), true)
      assert(r.getAs[Long]("is_inferred") == (if (isLate) 1L else 0L))
      if (isLate) {
        assert(r.getAs[String]("c_name") == "INFERRED")
        assert(r.getAs[Int]("c_nationkey") == -1)
      } else assert(r.getAs[String]("c_name") != "INFERRED")
    }
    // the simulated late set must be non-vacuous in both directions
    assert(rows.exists(_.getAs[Long]("is_inferred") == 1L))
    assert(rows.exists(_.getAs[Long]("is_inferred") == 0L))
  }

  test("full DAG: sense → ingest → stage → quality → curate → archive") {
    import Runner._
    val landing = Files.createTempDirectory("graft_e2e")
    Files.writeString(landing.resolve("Employee.csv"), "x\n")
    var gate = false
    val res = Runner.run(Seq(
      Stage("sense")(() => assert(Sensor.await(
        Seq(landing.resolve("Employee.csv").toString), 1000))),
      Stage("ingest", Seq("sense"))(() => assert(Ingest.p1IngestRaw(spark, sf).count() > 0)),
      Stage("staging", Seq("ingest"))(() =>
        assert(Staging.p2StagingCustomer(spark, sf).count() > 0)),
      Stage("quality", Seq("staging"))(() => {
        gate = Quality.gatePasses(Quality.tableMetrics(
          Tables.load(spark, sf, "customer"), "customer", Seq("c_custkey")))
        assert(gate) }),
      Stage("curate", Seq("quality"))(() =>
        assert(Curated.p6CuratedJoin(spark, sf).count() > 0)),
      Stage("archive", Seq("curate"))(() =>
        Archive.archive(landing.toString, landing.toString + "_arch", "d"))))
    assert(res.forall(_.status == Succeeded))
    assert(gate)
  }

  test("p16: compaction plan packs z-contiguous files into at most " +
    "CompactBins bins, each within one file of target, nothing lost") {
    import org.apache.spark.sql.functions._
    val files = PipelineQueries.zkeyedOrders(spark, sf)
      .withColumn("zcell", shiftrightunsigned(col("zkey"),
        2 * PipelineQueries.ZGridBits - PipelineQueries.ZFileBits))
      .groupBy(col("zcell")).agg(count(lit(1)).as("n_rows"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val totalBytes = files.values.map(_ * PipelineQueries.RowBytes).sum
    val maxFile = files.values.map(_ * PipelineQueries.RowBytes).max
    val target = (totalBytes + PipelineQueries.CompactBins - 1) /
      PipelineQueries.CompactBins
    val plan = PipelineQueries.p16CompactionPlan(spark, sf).collect()
    // at most CompactBins bins (ceil target guarantees the index bound)
    assert(plan.length <= PipelineQueries.CompactBins, s"${plan.length} bins")
    // conservation: every file, row and byte lands in exactly one bin
    assert(plan.map(_.getAs[Long]("n_files")).sum == files.size)
    assert(plan.map(_.getAs[Long]("bytes")).sum == totalBytes)
    assert(plan.map(_.getAs[Long]("n_rows")).sum == files.values.sum)
    // greedy-by-offset bound: a bin exceeds target only by the tail of
    // its last straddling file
    plan.foreach { b =>
      assert(b.getAs[Long]("bytes") < target + maxFile,
        s"bin ${b.getAs[Long]("bin")} overpacked: ${b.getAs[Long]("bytes")}")
    }
    // z-locality: bins are contiguous, non-overlapping z-ranges in order
    val ranges = plan.sortBy(_.getAs[Long]("bin"))
      .map(b => (b.getAs[Long]("z_lo"), b.getAs[Long]("z_hi")))
    ranges.foreach { case (lo, hi) => assert(lo <= hi) }
    ranges.sliding(2).foreach {
      case Array((_, h1), (l2, _)) =>
        assert(h1 < l2, s"bin z-ranges overlap: $h1 >= $l2")
      case _ =>
    }
    // partition invariance: the exact-integer prefix sum makes the plan
    // independent of where the range bounds land (t12's guarantee)
    val at3 = PipelineQueries.p16CompactionPlanRanged(spark, sf, 3)
      .collect().map(_.toSeq).toSeq
    val at7 = PipelineQueries.p16CompactionPlanRanged(spark, sf, 7)
      .collect().map(_.toSeq).toSeq
    assert(at3 == at7, "compaction plan depends on the range count")
    assert(at3 == plan.map(_.toSeq).toSeq, "ranged form diverges from default")
  }

  test("corpus pipeline: the full ingest→filter→dedup→decontaminate→" +
    "split→pack chain runs green through the DAG runner with all four " +
    "gates, and each handoff shrinks or holds the corpus") {
    import org.apache.spark.sql.functions.col
    val work = Files.createTempDirectory("graft_corpus").toString
    val results = CorpusPipeline.run(spark, sf, work)
    val status = results.map(r => r.name -> r.status).toMap
    assert(status.size == 10)
    results.foreach(r => assert(r.status == Runner.Succeeded,
      s"stage ${r.name}: ${r.status}"))
    def count(sub: String): Long =
      spark.read.parquet(s"$work/$sub/documents.parquet").count()
    val raw = Tables.load(spark, sf, "documents").count()
    val filtered = count("filtered")
    val deduped = count("deduped")
    val clean = count("clean")
    val train = count("train")
    assert(raw >= filtered && filtered >= deduped && deduped >= clean &&
      clean >= train, s"handoffs must shrink: $raw/$filtered/$deduped/$clean/$train")
    assert(train > 0, "an empty train split means the chain ate the corpus")
    // the filter stage applied exactly the t11 verdict: 259 is the n_out of
    // rule 6 (`repetitive`) that the t11_filter_funnel DuckDB oracle
    // (SparkEntry.oracleSql) reports on sf0.001's raw corpus
    assert(filtered == 259L, s"filter kept $filtered docs, t11 oracle says 259")
    // every train doc is train-split by the t5 rule
    val offSplit = spark.read.parquet(s"$work/train/documents.parquet")
      .filter(graft.operators.TextAnalysis.splitOf(col("doc_id")) =!= "train")
      .count()
    assert(offSplit == 0L)
    // the packed output exists, is non-empty, and covers every train doc
    val packed = spark.read.parquet(s"$work/packed.parquet")
    assert(packed.count() == train, "t12 packs one row per train document")
  }

  test("corpus pipeline: a corpus that fails a DQ gate fail-fasts — the " +
    "gate stage Fails, every build stage is Skipped, nothing is written") {
    import spark.implicits._
    val bad = Files.createTempDirectory("graft_corpus_bad").toString
    val work = Files.createTempDirectory("graft_corpus_badwork").toString
    // duplicate doc_id: passes file sensing, fails gate_quality's pk_dups
    Seq((1L, "a perfectly ordinary document body here", "en", "src0", 38L),
      (1L, "a second body under the SAME id", "en", "src1", 31L),
      (2L, "another fine document", "en", "src2", 21L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$bad/documents.parquet")
    Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
      .write.parquet(s"$bad/embeddings.parquet")
    var hookFired = List.empty[String]
    val results = CorpusPipeline.run(spark, bad, work,
      onFailure = (stage, _) => hookFired ::= stage)
    val status = results.map(r => r.name -> r.status).toMap
    assert(status("sense") == Runner.Succeeded)
    assert(status("gate_quality").isInstanceOf[Runner.Failed])
    // independent gates still ran (Airflow semantics: only dependents skip)
    assert(status("gate_fk") == Runner.Succeeded)
    Seq("filter", "dedup", "gate_drift", "decontaminate", "split", "pack")
      .foreach(s => assert(status(s).isInstanceOf[Runner.Skipped], s))
    assert(hookFired.contains("gate_quality"), "onFailure hook must fire")
    assert(!Files.exists(Paths.get(s"$work/filtered")), "skipped stages must not write")
  }

  test("p19: pruning is sound (skipped files hold zero matches), the match " +
    "total replays independently from raw orders, and the layout prunes") {
    import org.apache.spark.sql.functions.col
    val rows = PipelineQueries.p19PruneAudit(spark, sf).collect()
    val (tot, per) = rows.partition(_.getString(0) == "~TOTAL")
    assert(tot.length == 1 && per.nonEmpty)
    val t = tot.head
    // soundness: a skipped file was PROVEN empty of matches by its stats
    per.foreach { r =>
      if (r.getAs[Long]("must_read") == 0L) {
        assert(r.getAs[String]("verdict") == "skipped")
        assert(r.getAs[Long]("n_match") == 0L, s"skipped file with matches: $r")
        assert(r.getAs[Long]("scan_share_e6") == 0L)
      }
    }
    // the total row is the exact column-wise sum of the per-file rows
    for (c <- Seq("n_files", "n_rows", "must_read", "n_match", "scan_share_e6"))
      assert(t.getAs[Long](c) == per.map(_.getAs[Long](c)).sum, s"total drift in $c")
    // independent replay of the truth side from raw orders: same day/cust
    // derivation, same monotone lattice map, same box — pure Scala
    import org.apache.spark.sql.functions.unix_micros
    val oc = Tables.load(spark, sf, "orders")
      .select(unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        col("o_custkey"))
      .collect().map(r => (Math.floorDiv(r.getLong(0), 86400L * 1000000L), r.getLong(1)))
    val grid = 1L << PipelineQueries.ZGridBits
    val (dMin, dMax) = (oc.map(_._1).min, oc.map(_._1).max)
    val (cMin, cMax) = (oc.map(_._2).min, oc.map(_._2).max)
    val expectMatches = oc.count { case (d, c) =>
      val xn = (d - dMin) * grid / (dMax - dMin + 1)
      val yn = (c - cMin) * grid / (cMax - cMin + 1)
      xn >= PipelineQueries.PruneXLo && xn <= PipelineQueries.PruneXHi &&
        yn >= PipelineQueries.PruneYLo && yn <= PipelineQueries.PruneYHi
    }.toLong
    assert(t.getAs[Long]("n_match") == expectMatches,
      s"truth side diverged: ${t.getAs[Long]("n_match")} vs $expectMatches")
    // the layout must actually prune: a quarter-ish box on a z-ordered
    // 2-D layout skips well over half the files (measured ~0.9 skipped)
    val skipped = per.count(_.getAs[Long]("must_read") == 0L)
    info(s"files ${per.length}, skipped $skipped, " +
      s"forced-scan share ${t.getAs[Long]("scan_share_e6")} e-6")
    assert(skipped * 2 > per.length, s"layout barely prunes: $skipped/${per.length}")
  }

  test("p20: the backfill plan replays exactly in Scala — islands, year " +
    "splits and batch chunking — and the batch split is non-vacuous") {
    import java.time.LocalDate
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def missing(s: String): Boolean =
      java.lang.Long.parseLong(md5hex(s).take(15), 16) % 100 >=
        PipelineQueries.MaterializedPct
    // walk the spine, collecting islands (split at gaps AND year starts)
    val islands = scala.collection.mutable.ArrayBuffer[List[String]]()
    var cur = List.empty[String]
    var d = LocalDate.of(1995, 1, 1)
    val end = LocalDate.of(1998, 12, 31)
    var prevMissing = false
    while (!d.isAfter(end)) {
      val s = d.toString
      val m = missing(s)
      if (m && prevMissing && d.getDayOfYear != 1) cur = cur :+ s
      else if (m) { if (cur.nonEmpty) islands += cur; cur = List(s) }
      else if (cur.nonEmpty) { islands += cur; cur = List.empty }
      prevMissing = m
      d = d.plusDays(1)
    }
    if (cur.nonEmpty) islands += cur
    val expected = islands.flatMap { isl =>
      isl.grouped(PipelineQueries.BackfillBatchDays).map { run =>
        (run.head.take(4).toLong, run.head, run.last, run.length.toLong)
      }
    }.sortBy(_._2).toSeq
    val got = PipelineQueries.p20BackfillPlan(spark, sf).collect()
      .map(r => (r.getAs[Long]("yr"), r.getAs[String]("run_start"),
        r.getAs[String]("run_end"), r.getAs[Long]("n_days"))).toSeq
    assert(got == expected, s"plan diverged: ${got.take(5)} vs ${expected.take(5)}")
    // the chunking must actually fire: the 45%-missing ledger contains an
    // island longer than one batch, so two adjacent runs are contiguous
    val split = got.sliding(2).exists { case Seq(a, b) =>
      a._4 == PipelineQueries.BackfillBatchDays &&
        LocalDate.parse(a._3).plusDays(1).toString == b._2
      case _ => false
    }
    info(s"${got.length} runs over ${islands.length} islands")
    assert(split, "no island needed a batch split — the chunking is untested")
  }

  test("p21: the erasure plan is sound (skipped files provably hold no " +
    "victim), complete (every victim row lands in a rewrite file), and " +
    "the victim total replays from raw orders x the request list") {
    import org.apache.spark.sql.functions.col
    val rows = PipelineQueries.p21ErasurePlan(spark, sf).collect()
    val (tot, per) = rows.partition(_.getString(0) == "~TOTAL")
    assert(tot.length == 1 && per.nonEmpty)
    val t = tot.head
    per.foreach { r =>
      val (v, reqIn, vic) = (r.getAs[String]("verdict"),
        r.getAs[Long]("n_req_in_range"), r.getAs[Long]("n_victims"))
      assert(vic <= r.getAs[Long]("n_rows"))
      v match {
        case "rewrite" =>
          assert(vic > 0L)
          // a victim's key is in the file, so the manifest range covers it
          assert(reqIn > 0L, s"rewrite file invisible to the manifest: $r")
          assert(r.getAs[Long]("rewrite_rows") == r.getAs[Long]("n_rows"))
        case "false_read" =>
          assert(vic == 0L && reqIn > 0L)
          assert(r.getAs[Long]("rewrite_rows") == 0L)
        case "skipped" =>
          assert(vic == 0L && reqIn == 0L, s"skipped file not provably clear: $r")
          assert(r.getAs[Long]("rewrite_rows") == 0L)
      }
    }
    for (c <- Seq("n_files", "n_rows", "n_req_in_range", "n_victims", "rewrite_rows"))
      assert(t.getAs[Long](c) == per.map(_.getAs[Long](c)).sum, s"total drift in $c")
    // independent victim total: orders joined against the request list
    val reqKeys = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % PipelineQueries.ErasureMod === 0)
      .collect().map(_.getAs[Long]("c_custkey")).toSet
    val victims = Tables.load(spark, sf, "orders").select("o_custkey")
      .collect().count(r => reqKeys.contains(r.getLong(0))).toLong
    assert(t.getAs[Long]("n_victims") == victims,
      s"victim total diverged: ${t.getAs[Long]("n_victims")} vs $victims")
    assert(victims > 0L, "the shipped corpus must contain victims")
    val nRewrite = per.count(_.getAs[String]("verdict") == "rewrite")
    info(s"files ${per.length}, rewrite $nRewrite, victims $victims, " +
      s"write amplification ${t.getAs[Long]("rewrite_rows")} rows")
    // the layout must localize the rewrite: most files are untouched
    assert(nRewrite * 2 < per.length, s"erasure touches most files: $nRewrite/${per.length}")
  }

  test("p22: the tier plan replays exactly in Scala, and the moves are " +
    "precisely the partitions whose age crossed a boundary this review") {
    def tier(age: Long): String =
      if (age < PipelineQueries.HotMonths) "HOT"
      else if (age < PipelineQueries.WarmMonths) "WARM" else "COLD"
    val months = Tables.load(spark, sf, "orders")
      .select("o_orderdate").collect()
      .map { r =>
        val d = r.getAs[java.time.LocalDateTime](0) // o_orderdate is NTZ
        (d.getYear.toLong * 12 + d.getMonthValue - 1,
          f"${d.getYear}%04d-${d.getMonthValue}%02d")
      }
    val maxM = months.map(_._1).max
    val expected = months.groupBy(identity).map { case ((m, ym), rs) =>
      val age = maxM - m
      val from = if (age < PipelineQueries.TierReviewLagMonths) "NEW"
        else tier(age - PipelineQueries.TierReviewLagMonths)
      val to = tier(age)
      ym -> (rs.length.toLong, rs.length.toLong * PipelineQueries.OrderRowBytes,
        from, to, if (from == to) "stay" else "move")
    }
    val got = PipelineQueries.p22TierPlan(spark, sf).collect()
      .map(r => r.getAs[String]("ym") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("est_bytes"),
          r.getAs[String]("tier_from"), r.getAs[String]("tier_to"),
          r.getAs[String]("action"))).toMap
    assert(got == expected, "tier plan diverged from the Scala replay")
    // the review window makes the plan non-vacuous in all three ways:
    // fresh arrivals, at least one boundary crossing, and stable mass
    val actions = got.values.groupBy(_._5).view.mapValues(_.size).toMap
    assert(got.values.exists(_._3 == "NEW"), "no arrivals in the window")
    assert(actions.getOrElse("move", 0) > 0, "no partition aged across a boundary")
    assert(actions.getOrElse("stay", 0) > 0, "everything moved — lag too coarse")
    // moves are EXACTLY the age-crossed partitions: no same-tier row is
    // ever marked move (the policy must not churn storage for nothing)
    got.values.foreach { case (_, _, from, to, act) =>
      assert((act == "move") == (from != to))
    }
    info(s"${got.size} month partitions, actions: $actions")
  }

  test("p23: the bloom index replays the literal filter semantics — no " +
    "false negatives ever, candidates come only from set bits, and the " +
    "audit counts match a brute bloom built in Scala") {
    import org.apache.spark.sql.functions.col
    import PipelineQueries.{BloomBits, BloomFileRows, BloomHashes, BloomProbeMod}
    def md5l(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(d.substring(0, 15), 16)
    }
    def positions(key: Long): Seq[Long] =
      (0 until BloomHashes).map(i => md5l(s"p23|$i|$key") % BloomBits)
    val fileKeys = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0) / BloomFileRows, r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val blooms = fileKeys.view.mapValues(
      _.flatMap(positions).toSet).toMap // set-of-positions == the bitset
    val probes = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % BloomProbeMod === 0)
      .collect().map(_.getAs[Long]("c_custkey"))
    val expected = probes.map { pk =>
      val ps = positions(pk)
      val cand = blooms.count(_._2.intersect(ps.toSet).size == ps.toSet.size)
      val tru = fileKeys.count(_._2.contains(pk))
      pk -> (cand.toLong, tru.toLong)
    }.toMap
    val got = PipelineQueries.p23BloomIndex(spark, sf).collect()
      .map(r => r.getAs[Long]("pk") ->
        (r.getAs[Long]("n_candidate_files"), r.getAs[Long]("n_true_files"),
          r.getAs[Long]("n_false_pos"), r.getAs[Long]("n_files"))).toMap
    assert(got.keySet == expected.keySet, "probe set drift")
    got.foreach { case (pk, (cand, tru, fp, nf)) =>
      val (ec, et) = expected(pk)
      assert((cand, tru) == (ec, et), s"probe $pk diverged from brute bloom")
      assert(tru <= cand, s"false negative at $pk — blooms must never miss")
      assert(fp == cand - tru && cand <= nf)
      assert(nf == fileKeys.size.toLong)
    }
    assert(got.nonEmpty, "the shipped corpus must exercise the shape")
    // the layout premise: insertion-ordered files scatter each customer,
    // so min/max skipping is useless but the bloom still skips something
    assert(got.values.exists { case (cand, _, _, nf) => cand < nf },
      "the bloom must actually skip at least one file for some probe")
    info(s"${got.size} probes over ${fileKeys.size} files; " +
      s"false positives: ${got.values.map(_._3).sum}")
  }

  test("p24: overlap counts replay brute-force from the per-file ranges, " +
    "symmetry holds, and the total row conserves the pair count") {
    val rows = PipelineQueries.p24OverlapDepth(spark, sf).collect()
    val (tot, per) = rows.partition(_.getString(0) == "~TOTAL")
    assert(tot.length == 1 && per.nonEmpty)
    val ranges = per.map(r => r.getAs[String]("zcell") ->
      (r.getAs[Long]("lo"), r.getAs[Long]("hi"))).toMap
    val expected = ranges.map { case (z, (lo, hi)) =>
      z -> ranges.count { case (z2, (lo2, hi2)) =>
        z2 != z && lo2 <= hi && hi2 >= lo }.toLong
    }
    val got = per.map(r => r.getAs[String]("zcell") ->
      r.getAs[Long]("n_overlaps")).toMap
    assert(got == expected, "overlap counts diverged from brute force")
    // the banded join must count each unordered pair once per side:
    // total n_overlaps is even and equals 2x the unordered pair count
    val totOv = tot.head.getAs[Long]("n_overlaps")
    assert(totOv == got.values.sum && totOv % 2 == 0)
    assert(tot.head.getAs[Long]("n_rows") == per.length.toLong)
    // the z-layout premise: SOME overlap exists (z-cells interleave the
    // customer dim) but no file overlaps everything
    assert(got.values.exists(_ > 0L), "no overlap anywhere — audit vacuous")
    assert(got.values.max < per.length.toLong - 1 || per.length <= 2,
      "every file overlaps every other — banding untestable")
    info(s"${per.length} files, ${totOv / 2} overlapping pairs, " +
      s"max depth ${got.values.max + 1}")
  }

  test("p25: as-of(v) resolves EXACTLY the v-th manifest — the live file " +
    "set replayed from the chain's own append/compact rule, every " +
    "version, and the chain's live totals foot to the raw fact") {
    import org.apache.spark.sql.functions.{col, floor, month, year}
    val months = Tables.load(spark, sf, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byMonth = months.groupBy(_._1).view
      .mapValues(ms => (ms.head._2, ms.size.toLong)).toMap
    val ordered = byMonth.keys.toSeq.sorted
    val chain = graft.pipeline.PipelineQueries.p25SnapshotChain(spark, sf)
      .collect()
    assert(chain.length == ordered.length, "one version per landing month")
    // replay the chain rule literally for EVERY version and pin both the
    // chain row and (for a sample) the as-of read path against it
    val checkVersions = Seq(1L, ordered.length.toLong / 2, ordered.length.toLong)
    chain.foreach { row =>
      val v = row.getAs[Long]("version")
      val moV = ordered(v.toInt - 1)
      val yrV = byMonth(moV)._1
      val expYears = byMonth.values.map(_._1).filter(_ < yrV).toSet
      val expMonths = ordered.take(v.toInt).filter(m => byMonth(m)._1 == yrV)
      assert(row.getAs[Long]("mo") == moV && row.getAs[Long]("yr") == yrV)
      assert(row.getAs[Long]("live_files") ==
        expYears.size.toLong + expMonths.size.toLong,
        s"live_files at v=$v")
      assert(row.getAs[Long]("live_rows") ==
        ordered.take(v.toInt).map(byMonth(_)._2).sum, s"live_rows at v=$v")
      if (checkVersions.contains(v)) {
        val asOf = graft.pipeline.PipelineQueries.p25AsOf(spark, sf, v)
          .collect()
          .map(r => (r.getAs[String]("file_kind"), r.getAs[Long]("file_key")))
          .toSet
        val expected = expYears.map(("year", _)) ++
          expMonths.map(("month", _)).toSet
        assert(asOf == expected, s"as-of($v) file set diverged")
      }
    }
    // the rule is only exercised if SOME compaction happened
    assert(chain.exists(_.getAs[Long]("removed") > 0L),
      "no year ever compacted — the corpus must span year boundaries")
    // cumulative value foots to the raw fact, at the final version
    val totCents = Tables.load(spark, sf, "orders")
      .select(floor(col("o_totalprice") * 100).cast("long").as("c"))
      .collect().map(_.getLong(0)).sum
    val last = chain.maxBy(_.getAs[Long]("version"))
    // live_cents sums in Decimal(38,0) internally but emits as a digits
    // string since r16 (emitted DECIMAL is hash-unsafe in the driver's
    // typed-value check — r15's red rows); exact compare via BigInt
    assert(new java.math.BigInteger(last.getAs[String]("live_cents")) ==
      java.math.BigInteger.valueOf(totCents),
      "final live_cents does not foot to the fact")
  }

  test("p30: the in-plan as-of read is row-identical to p25AsOf at every " +
    "sampled version, with year-file rows folded the same way") {
    val nV = graft.pipeline.PipelineQueries.p25SnapshotChain(spark, sf)
      .count()
    val samples = Seq(1L, (nV + 1) / 2, nV).distinct
    val got = graft.pipeline.PipelineQueries.p30AsofRead(spark, sf)
      .collect()
      .groupBy(_.getAs[Long]("sample_v")).view
      .mapValues(_.map(r => (r.getAs[String]("file_kind"),
        r.getAs[Long]("file_key"), r.getAs[Long]("n_rows"))).toSet)
      .toMap
    assert(got.keySet == samples.toSet,
      s"sampled versions ${got.keySet}, expected $samples")
    samples.foreach { v =>
      val asOf = graft.pipeline.PipelineQueries.p25AsOf(spark, sf, v)
        .collect()
        .map(r => (r.getAs[String]("file_kind"), r.getAs[Long]("file_key"),
          r.getAs[Long]("n_rows"))).toSet
      assert(got(v) == asOf, s"as-of($v) live set diverged from p25AsOf")
      assert(asOf.nonEmpty)
    }
  }

  test("p26: mixed-spec scan planning replays from the raw fact — files " +
    "partition the table under the right per-era spec, stats pruning is " +
    "exact (skipped => zero matches, hit => every match accounted), and " +
    "the week-grain era wastes less boundary I/O than the month era") {
    import org.apache.spark.sql.functions._
    val rows = PipelineQueries.p26PartitionEvolution(spark, sf).collect()
    val days = Tables.load(spark, sf, "orders")
      .select(datediff(col("o_orderdate"), lit("1970-01-01")).cast("long"),
        year(col("o_orderdate")).cast("long"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val yMid = (days.map(_._2).min + days.map(_._2).max + 1) / 2
    val pLo = java.time.LocalDate.of((yMid - 1).toInt, 7, 15).toEpochDay
    val pHi = java.time.LocalDate.of(yMid.toInt, 7, 15).toEpochDay
    // independent file layout: month files before yMid, week files after
    val expect = days.groupBy { case (d, yr, mo) =>
      if (yr < yMid) ("v1_month", mo) else ("v2_week", d / 7)
    }.map { case ((spec, k), xs) =>
      s"${spec}_$k" -> (spec, xs.length.toLong,
        xs.count(x => x._1 >= pLo && x._1 < pHi).toLong,
        xs.map(_._1).min, xs.map(_._1).max)
    }
    val perFile = rows.filter(r => !r.getAs[String]("key").startsWith("~"))
      .map(r => r.getAs[String]("key") -> r).toMap
    assert(perFile.keySet == expect.keySet, "file layout diverged")
    expect.foreach { case (key, (spec, n, nMatch, dLo, dHi)) =>
      val r = perFile(key)
      val mustRead = if (dLo < pHi && dHi >= pLo) 1L else 0L
      assert(r.getAs[String]("spec") == spec && r.getAs[Long]("n_rows") == n &&
        r.getAs[Long]("n_match") == nMatch &&
        r.getAs[Long]("must_read") == mustRead, s"file $key")
      // pruning exactness: a skipped file may hide no match; a read
      // file's waste is exactly its non-matching rows
      if (mustRead == 0) assert(nMatch == 0, s"skipped file $key had matches")
      assert(r.getAs[Long]("waste_rows") ==
        (if (mustRead == 1) n - nMatch else 0L), s"waste $key")
    }
    // the per-spec totals foot, and evolution PAYS: the month era's
    // boundary file drags up to ~3 wasted weeks where the week era's
    // drags days — per must-read file, v1 wastes strictly more
    def totalOf(spec: String) =
      rows.find(_.getAs[String]("key") == s"~TOTAL_$spec").get
    val (v1, v2) = (totalOf("v1_month"), totalOf("v2_week"))
    Seq("n_files", "n_rows", "must_read", "n_match", "waste_rows").foreach {
      c =>
        assert(v1.getAs[Long](c) == perFile.values
          .filter(_.getAs[String]("spec") == "v1_month")
          .map(x => if (c == "n_files") 1L else x.getAs[Long](c)).sum,
          s"~TOTAL_v1 $c")
    }
    val w1 = v1.getAs[Long]("waste_rows").toDouble /
      math.max(v1.getAs[Long]("must_read"), 1L)
    val w2 = v2.getAs[Long]("waste_rows").toDouble /
      math.max(v2.getAs[Long]("must_read"), 1L)
    assert(v1.getAs[Long]("waste_rows") > 0,
      "month-era boundary waste vacuous — predicate missed the era")
    assert(w2 < w1, s"week files should waste less per read ($w2 vs $w1)")
    val tot = rows.find(_.getAs[String]("key") == "~TOTAL").get
    assert(tot.getAs[Long]("n_rows") == days.length.toLong &&
      tot.getAs[Long]("n_files") == expect.size.toLong,
      "~TOTAL does not foot to the fact")
    info(s"${expect.size} files (v1 ${v1.getAs[Long]("n_files")} months, " +
      s"v2 ${v2.getAs[Long]("n_files")} weeks); waste/read file " +
      s"v1 ${"%.1f".format(w1)} vs v2 ${"%.1f".format(w2)} rows")
  }

  test("p27: snapshot expiry replays from the raw fact — reference " +
    "windows, the retention floor, all three verdicts — with every arm " +
    "non-vacuous and time-travel safety (no retained version references " +
    "an expired file)") {
    import org.apache.spark.sql.functions._
    val rows = PipelineQueries.p27ExpireSnapshots(spark, sf).collect()
    // independent replay: version chain off the raw orders table
    val months = Tables.load(spark, sf, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).map { case ((mo, yr), xs) =>
        (mo, yr, xs.length.toLong)
      }.toSeq.sortBy(_._1)
    val version = months.zipWithIndex
      .map { case ((mo, _, _), i) => mo -> (i + 1L) }.toMap
    val yFirst = months.groupBy(_._2).map { case (yr, xs) =>
      yr -> xs.map(m => version(m._1)).min
    }
    val yRows = months.groupBy(_._2).map { case (yr, xs) =>
      yr -> xs.map(_._3).sum
    }
    val maxV = months.length.toLong
    val minRet = math.max(maxV - PipelineQueries.RetainVersions + 1, 1L)
    def verdict(removedV: Long): String =
      if (removedV == -1L) "live"
      else if (removedV - 1 >= minRet) "retained" else "expire"
    val expect = months.map { case (mo, yr, n) =>
      val rv = yFirst.getOrElse(yr + 1, -1L)
      s"month_$mo" -> ("month", version(mo), rv, n, verdict(rv))
    }.toMap ++ yFirst.keys.filter(y => yFirst.contains(y + 1)).map { y =>
      s"year_$y" -> ("year", yFirst(y + 1), -1L, yRows(y), "live")
    }
    val perFile = rows.filter(r => !r.getAs[String]("key").startsWith("~"))
      .map(r => r.getAs[String]("key") -> r).toMap
    assert(perFile.keySet == expect.keySet, "file set diverged")
    expect.foreach { case (key, (_, bv, rv, n, vd)) =>
      val r = perFile(key)
      assert(r.getAs[Long]("born_v") == bv && r.getAs[Long]("removed_v") == rv
        && r.getAs[Long]("n_rows") == n && r.getAs[String]("verdict") == vd,
        s"file $key")
      assert(r.getAs[Long]("reclaim_rows") ==
        (if (vd == "expire") n else 0L), s"reclaim $key")
    }
    // all three arms live on the shipped chain — live months (open year),
    // retained (compacted inside the horizon), expire (older)
    val byVerdict = expect.values.groupBy(_._5).map { case (v, xs) =>
      v -> xs.map(_._4).sum
    }
    Seq("live", "retained", "expire").foreach { v =>
      assert(byVerdict.contains(v), s"verdict $v vacuous on this chain")
      val t = rows.find(_.getAs[String]("key") == s"~TOTAL_$v").get
      assert(t.getAs[Long]("n_rows") == byVerdict(v), s"~TOTAL_$v rows")
    }
    // time-travel safety: every retained version's as-of read resolves
    // only to files NOT expired — an expired month-file's whole
    // reference window [born_v, removed_v-1] sits below the floor
    expect.values.filter(_._5 == "expire").foreach { case (_, _, rv, _, _) =>
      assert(rv - 1 < minRet, "an expired file is referenced by a " +
        "retained version — as-of would read a deleted file")
    }
    val tot = rows.find(_.getAs[String]("key") == "~TOTAL").get
    assert(tot.getAs[Long]("n_files") == expect.size.toLong &&
      tot.getAs[Long]("reclaim_rows") ==
        byVerdict.getOrElse("expire", 0L),
      "~TOTAL does not foot")
    info(s"${expect.size} files, floor v$minRet/$maxV; reclaim " +
      s"${tot.getAs[Long]("reclaim_rows")} rows across " +
      s"${expect.values.count(_._5 == "expire")} expirable files")
  }

  test("p28: the replication delta is exactly the live-set diff — " +
    "applying it to the replica's resolved file set reproduces the " +
    "head's, deletes only touch files the replica holds, and all three " +
    "delta arms are live on the shipped chain") {
    import org.apache.spark.sql.functions._
    val rows = PipelineQueries.p28ReplicationDelta(spark, sf).collect()
    // independent replay: p25's live-set rule at both cursors
    val months = Tables.load(spark, sf, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).map { case ((mo, yr), xs) => (mo, yr, xs.length.toLong) }
      .toSeq.sortBy(_._1)
    def liveAt(v: Int): Set[String] = {
      val (moV, yrV) = (months(v - 1)._1, months(v - 1)._2)
      months.filter(m => m._2 < yrV).map(m => s"year_${m._2}").toSet ++
        months.filter(m => m._2 == yrV && m._1 <= moV).map(m => s"month_${m._1}")
    }
    val vHead = months.length
    val vRep = math.max(vHead - PipelineQueries.ReplicaLag.toInt, 1)
    val headLive = liveAt(vHead)
    val repLive = liveAt(vRep)
    val ships = rows.filter(r => r.getAs[String]("action") == "ship" &&
      !r.getAs[String]("key").startsWith("~")).map(_.getAs[String]("key")).toSet
    val dels = rows.filter(r => r.getAs[String]("action") == "delete" &&
      !r.getAs[String]("key").startsWith("~")).map(_.getAs[String]("key")).toSet
    assert(ships == headLive -- repLive, "ship set is not the live diff")
    assert(dels == repLive -- headLive, "delete set is not the live diff")
    // the sync property the operator exists for
    assert(repLive -- dels ++ ships == headLive,
      "applying the delta does not reproduce the head live set")
    assert(dels.subsetOf(repLive) && (ships & repLive).isEmpty,
      "delta touches files the replica state cannot support")
    // the lag straddles a year boundary on the shipped chain: compaction
    // appears in the delta (year ship + month retires), not just appends
    assert(ships.exists(_.startsWith("year_")), "no year-file shipped")
    assert(dels.nonEmpty, "no month-files retired")
    assert(ships.exists(_.startsWith("month_")), "no month appends")
    // row counts foot: a shipped year-file carries its whole year
    val byKey = rows.filter(r => !r.getAs[String]("key").startsWith("~"))
      .map(r => r.getAs[String]("key") -> r.getAs[Long]("n_rows")).toMap
    months.groupBy(_._2).foreach { case (yr, xs) =>
      if (byKey.contains(s"year_$yr"))
        assert(byKey(s"year_$yr") == xs.map(_._3).sum, s"year_$yr rows")
    }
    val tot = rows.find(_.getAs[String]("key") == "~TOTAL").get
    assert(tot.getAs[Long]("n_files") == (ships.size + dels.size).toLong,
      "~TOTAL files")
    info(s"replica v$vRep -> head v$vHead: ship ${ships.size} files, " +
      s"retire ${dels.size}; transfer ${rows.filter(r =>
        r.getAs[String]("key") == "~TOTAL_ship").head.getAs[Long]("n_rows")} rows")
  }

  test("p31: the banded pair test replays a literal all-pairs interval " +
    "check per layout, and the layouts separate — keyrange prunes, " +
    "month-partitioned does not") {
    import java.time.LocalDateTime
    val fk = graft.pipeline.PipelineQueries.JoinPruneFileKeys
    def manifests(rows: Seq[(Long, LocalDateTime)])
        : Map[String, Map[Long, (Long, Long)]] = {
      def agg(keyed: Seq[(Long, Long)]) = keyed.groupBy(_._1).view
        .mapValues(ks => (ks.map(_._2).min, ks.map(_._2).max)).toMap
      Map(
        "by_month" -> agg(rows.map { case (k, d) =>
          (d.getYear * 12L + d.getMonthValue - 1, k) }),
        "by_keyrange" -> agg(rows.map { case (k, _) => (k / fk, k) }))
    }
    val oMan = manifests(Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](1))).toSeq)
    val lMan = manifests(Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](1))).toSeq)
    val got = graft.pipeline.PipelineQueries.p31JoinPrunePlan(spark, sf)
      .collect().map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("n_ord_files"), r.getAs[Long]("n_li_files"),
          r.getAs[Long]("n_pairs"), r.getAs[Long]("n_overlap_pairs"),
          r.getAs[Long]("prune_e6"))).toMap
    assert(got.keySet == Set("by_month", "by_keyrange"))
    got.foreach { case (layout, (nO, nL, nP, nOv, prune)) =>
      val o = oMan(layout); val l = lMan(layout)
      assert(nO == o.size.toLong && nL == l.size.toLong && nP == nO * nL)
      // the literal quadratic pair check the banding must reproduce
      val ov = o.values.flatMap(a => l.values.filter(b =>
        a._1 <= b._2 && a._2 >= b._1)).size.toLong
      assert(nOv == ov, s"$layout: banding missed/invented pairs")
      assert(prune == (nP - ov) * 1000000L / nP)
    }
    assert(got("by_keyrange")._5 > got("by_month")._5,
      "the clustered layout must out-prune the date layout or the " +
        "audit demonstrates nothing")
    // the clustered layout's overlap is near-diagonal: every orders
    // key-file overlaps its own lineitem twin (same key space), so the
    // surviving pairs sit at ~max(n,m), not n*m
    val (kO, kL, _, kOv, _) = got("by_keyrange")
    assert(kOv < 3 * math.max(kO, kL),
      s"keyrange overlap $kOv not near-diagonal (files $kO x $kL)")
    info(got.toSeq.sortBy(_._1).map { case (lay, t) =>
      s"$lay: ${t._4}/${t._3} pairs survive (prune ${t._5}e-6)" }
      .mkString("; "))
  }

  test("p32: the merge-on-read path is row-identical to the POST-REWRITE " +
    "table per file, direct files provably carry no deletes, and the " +
    "~TOTAL row foots — the deletion-vector invariant") {
    import org.apache.spark.sql.functions._
    val out = PipelineQueries.p32DeletionRead(spark, sf).collect()
    val (tot, per) = out.partition(_.getAs[String]("zcell") == "~TOTAL")
    assert(per.nonEmpty && tot.length == 1)
    // both planning arms live on the shipped corpus
    assert(per.exists(_.getAs[String]("read_path") == "masked"),
      "no masked file — the merge path is untested")
    assert(per.exists(_.getAs[String]("read_path") == "direct"),
      "no direct file — the fast path is untested")
    per.foreach { r =>
      assert(r.getAs[Long]("n_rows") ==
        r.getAs[Long]("n_deleted") + r.getAs[Long]("n_live"),
        s"row conservation broken at zcell ${r.getAs[String]("zcell")}")
      if (r.getAs[String]("read_path") == "direct")
        assert(r.getAs[Long]("n_deleted") == 0L, "direct file had deletes")
      else assert(r.getAs[Long]("n_deleted") > 0L, "masked file had none")
    }
    // the REWRITTEN table: drop victim keys for real, re-aggregate the
    // same layout — merge-on-read must agree file-by-file
    val victims = Tables.load(spark, sf, "customer")
      .filter(col("c_custkey") % PipelineQueries.ErasureMod === 0)
      .select(col("c_custkey").as("rk"))
    val rewritten = PipelineQueries.zkeyedOrders(spark, sf)
      .withColumn("zcell", shiftrightunsigned(col("zkey"),
        2 * PipelineQueries.ZGridBits - PipelineQueries.ZFileBits))
      .join(victims, col("cust") === col("rk"), "left_anti")
      .groupBy(col("zcell"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("ks"))
      .collect()
      .map(r => r.getAs[Long]("zcell").toString ->
        (r.getAs[Long]("n"), r.getAs[Long]("ks").toString)).toMap
    per.foreach { r =>
      val z = r.getAs[String]("zcell")
      rewritten.get(z) match {
        case Some((n, ks)) =>
          assert(r.getAs[Long]("n_live") == n, s"live count diverged at $z")
          assert(r.getAs[String]("live_key_sum") == ks,
            s"live digest diverged at $z")
        case None => // file vanished entirely in the rewrite
          assert(r.getAs[Long]("n_live") == 0L,
            s"$z absent post-rewrite but the masked read kept rows")
      }
    }
    // every post-rewrite file exists in the read too (no file invented
    // or lost by the mask)
    val readZ = per.map(_.getAs[String]("zcell")).toSet
    assert(rewritten.keySet.subsetOf(readZ), "post-rewrite file missing")
    // ~TOTAL foots
    val t = tot.head
    assert(t.getAs[Long]("n_rows") == per.map(_.getAs[Long]("n_rows")).sum)
    assert(t.getAs[Long]("n_deleted") ==
      per.map(_.getAs[Long]("n_deleted")).sum)
    assert(t.getAs[Long]("n_live") == per.map(_.getAs[Long]("n_live")).sum)
    assert(t.getAs[String]("live_key_sum") ==
      per.map(r => BigInt(r.getAs[String]("live_key_sum"))).sum.toString)
    info(s"${per.count(_.getAs[String]("read_path") == "masked")} masked / " +
      s"${per.count(_.getAs[String]("read_path") == "direct")} direct files, " +
      s"${t.getAs[Long]("n_deleted")} rows masked")
  }

  test("p33: the changelog between the cursors carries EXACTLY the landed " +
    "months' rows as inserts, year compactions are row-silent rewrites " +
    "moving the closed year's files, and both arms are live") {
    import org.apache.spark.sql.functions._
    val out = PipelineQueries.p33CdcChangelog(spark, sf).collect()
    val events = out.filterNot(_.getAs[String]("key").startsWith("~"))
    val ins = events.filter(_.getAs[String]("change") == "insert")
    val rws = events.filter(_.getAs[String]("change") == "rewrite")
    assert(ins.nonEmpty, "no insert events")
    assert(rws.nonEmpty, "no rewrite events — the lag must straddle a " +
      "year boundary on the shipped chain")
    // replay the chain from the raw fact
    val months = Tables.load(spark, sf, "orders")
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mo"),
        year(col("o_orderdate")).cast("long").as("yr"))
      .groupBy(col("mo"), col("yr")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val head = months.length.toLong
    val vLo = math.max(head - PipelineQueries.ReplicaLag, 1L)
    // the window is exactly (v_lo, head]
    assert(ins.map(_.getAs[Long]("version")).toSet ==
      ((vLo + 1) to head).toSet, "insert window drifted")
    // each insert carries exactly its month's rows
    val rowsByMo = months.map(m => m._1 -> m._3).toMap
    ins.foreach { r =>
      assert(r.getAs[Long]("n_rows") == rowsByMo(r.getAs[Long]("mo")),
        s"insert v${r.getAs[Long]("version")} rows diverged")
      assert(r.getAs[Long]("n_files_touched") == 1L)
    }
    // rewrites: row-silent, at the first month of a year whose previous
    // year landed, moving prev-year-months + 1 files
    val monthsPerYr = months.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    rws.foreach { r =>
      assert(r.getAs[Long]("n_rows") == 0L, "a rewrite changed rows — " +
        "compaction must be invisible at row grain")
      val yr = r.getAs[Long]("yr")
      assert(r.getAs[Long]("n_files_touched") == monthsPerYr(yr - 1) + 1L,
        s"rewrite at yr $yr file churn diverged")
      // it shares its version with that month's insert
      assert(ins.exists(_.getAs[Long]("version") == r.getAs[Long]("version")))
    }
    // totals foot; the changelog ships strictly fewer rows than p28's
    // file diff when a compaction is in the window (the operator's point)
    val totI = out.find(_.getAs[String]("key") == "~TOTAL_insert").get
    assert(totI.getAs[Long]("n_rows") == ins.map(_.getAs[Long]("n_rows")).sum)
    val shippedByFiles = PipelineQueries.p28ReplicationDelta(spark, sf)
      .collect().find(_.getAs[String]("key") == "~TOTAL_ship").get
      .getAs[Long]("n_rows")
    assert(totI.getAs[Long]("n_rows") < shippedByFiles,
      "row-grain subscription did not beat the file mirror")
    info(s"${ins.length} inserts (${totI.getAs[Long]("n_rows")} rows) vs " +
      s"file-diff ship of $shippedByFiles rows; ${rws.length} rewrite(s)")
  }

  test("p39: the advisor row replays literally from raw facts — " +
    "manifests, quadratic pair truths, box skipping, integer score — " +
    "and exactly one layout is recommended (the one the replay picks)") {
    import java.time.LocalDateTime
    def monthsOf(ts: LocalDateTime): Long = {
      val ld = ts.toLocalDate
      ld.getYear.toLong * 12 + ld.getMonthValue - 1
    }
    val fk = PipelineQueries.JoinPruneFileKeys
    def manifests(rows: Seq[(Long, LocalDateTime)]): Map[String, Map[Long, (Long, Long)]] = Map(
      "by_month" -> rows.groupBy { case (_, d) => monthsOf(d) }
        .map { case (f, rs) => f -> (rs.map(_._1).min, rs.map(_._1).max) },
      "by_keyrange" -> rows.groupBy { case (k, _) => k / fk }
        .map { case (f, rs) => f -> (rs.map(_._1).min, rs.map(_._1).max) })
    val ords = Tables.load(spark, sf, "orders")
      .select("o_orderkey", "o_orderdate").collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](1))).toSeq
    val lis = Tables.load(spark, sf, "lineitem")
      .select("l_orderkey", "l_shipdate").collect()
      .map(r => (r.getLong(0), r.getAs[LocalDateTime](1))).toSeq
    val om = manifests(ords); val lm = manifests(lis)
    val maxk = om.values.flatMap(_.values.map(_._2)).max
    val (lo, hi) = (maxk / 8 * 3, maxk / 8 * 5)
    def ov(a: (Long, Long), b: (Long, Long)) = a._1 <= b._2 && a._2 >= b._1
    val expect = om.keys.map { lay =>
      val of = om(lay); val lf = lm(lay)
      val nJoin = of.values.flatMap(a => lf.values.filter(ov(a, _))).size.toLong
      val nSelf = of.toSeq.combinations(2)
        .count { case Seq((_, a), (_, b)) => ov(a, b) }.toLong
      val nF = of.size.toLong; val nL = lf.size.toLong
      val jp = (nF * nL - nJoin) * 1000000L / (nF * nL)
      val sp = of.values.count { case (mn, mx) => mx < lo || mn > hi }
        .toLong * 1000000L / nF
      val ofr = 2L * nSelf * 1000000L / math.max(nF * (nF - 1), 1L)
      lay -> ((nF, nL, jp, sp, ofr, (jp + sp + (1000000L - ofr)) / 3))
    }.toMap
    val rec = expect.toSeq
      .sortBy { case (lay, v) => (-v._6, lay) }.head._1
    val got = PipelineQueries.p39LayoutAdvisor(spark, sf).collect()
      .map(r => r.getAs[String]("layout") ->
        ((r.getAs[Long]("n_files"), r.getAs[Long]("n_li_files"),
          r.getAs[Long]("join_prune_e6"), r.getAs[Long]("scan_prune_e6"),
          r.getAs[Long]("overlap_frac_e6"), r.getAs[Long]("score_e6"),
          r.getAs[Long]("recommended")))).toMap
    assert(got.keySet == Set("by_month", "by_keyrange"))
    got.foreach { case (lay, (nf, nl, jp, sp, ofr, sc, _)) =>
      assert((nf, nl, jp, sp, ofr, sc) == expect(lay),
        s"$lay metrics diverged from the quadratic replay: " +
          s"got ${(nf, nl, jp, sp, ofr, sc)} want ${expect(lay)}")
    }
    assert(got.values.map(_._7).toSeq.sorted == Seq(0L, 1L),
      "exactly one layout must be recommended")
    assert(got.find(_._2._7 == 1L).get._1 == rec,
      "the recommended layout diverged from the replay's argmax")
    // the advisor only earns its keep if the layouts actually separate
    assert(got("by_keyrange")._6 != got("by_month")._6,
      "degenerate corpus: both layouts score identically")
    info(s"recommended $rec; scores " +
      got.view.mapValues(_._6).toMap.toString)
  }

  test("p40: the stale-stats audit replays literally — z-cells, purge " +
    "mask, stored vs live spans, verdicts, wasted tail — and foots") {
    import java.time.LocalDateTime
    val rows = Tables.load(spark, sf, "orders")
      .select("o_orderdate", "o_custkey", "o_orderstatus").collect()
      .map(r => (r.getAs[LocalDateTime]("o_orderdate").toLocalDate.toEpochDay,
        r.getAs[Long]("o_custkey"), r.getAs[String]("o_orderstatus")))
    val grid = 1L << PipelineQueries.ZGridBits
    val shift = 2 * PipelineQueries.ZGridBits - PipelineQueries.ZFileBits
    val dayMin = rows.map(_._1).min; val dayMax = rows.map(_._1).max
    val custMin = rows.map(_._2).min; val custMax = rows.map(_._2).max
    val cutoff =
      dayMin + (dayMax - dayMin + 1) * PipelineQueries.PurgeEighths / 8
    def interleave(xn: Long, yn: Long): Long =
      (0 until 16).map(i =>
        (((xn >>> i) & 1L) << (2 * i)) | (((yn >>> i) & 1L) << (2 * i + 1))).sum
    val cells = rows.map { case (day, cust, status) =>
      val xn = (day - dayMin) * grid / (dayMax - dayMin + 1)
      val yn = (cust - custMin) * grid / (custMax - custMin + 1)
      val purged = day < cutoff && (status == "F" || status == "P")
      (interleave(xn, yn) >>> shift, day, purged)
    }
    val expect = cells.groupBy(_._1).map { case (z, g) =>
      val live = g.filter(!_._3)
      val (smin, smax) = (g.map(_._2).min, g.map(_._2).max)
      val (lmin, lmax) =
        if (live.isEmpty) (-1L, -1L)
        else (live.map(_._2).min, live.map(_._2).max)
      val verdict =
        if (live.isEmpty) "dead"
        else if (smin >= cutoff) "tight"
        else if (lmin < cutoff) "honest_old"
        else "stale_wasted"
      val wasted = if (verdict == "stale_wasted") g.length.toLong else 0L
      z.toString -> ((verdict, g.length.toLong, g.count(_._3).toLong,
        live.length.toLong, smin, smax, lmin, lmax, wasted))
    }
    val out = PipelineQueries.p40StaleStats(spark, sf).collect()
    val (tot, per) = out.partition(_.getAs[String]("zcell") == "~TOTAL")
    assert(tot.length == 1 && per.nonEmpty)
    val got = per.map(r => r.getAs[String]("zcell") ->
      ((r.getAs[String]("verdict"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_purged"), r.getAs[Long]("n_live"),
        r.getAs[Long]("stored_min_day"), r.getAs[Long]("stored_max_day"),
        r.getAs[Long]("live_min_day"), r.getAs[Long]("live_max_day"),
        r.getAs[Long]("wasted_rows")))).toMap
    assert(got == expect, "per-file audit diverged from the literal replay")
    // ~TOTAL foots against the per-file rows
    assert(tot.head.getAs[Long]("n_rows") == per.map(_.getAs[Long]("n_rows")).sum)
    assert(tot.head.getAs[Long]("n_purged") ==
      per.map(_.getAs[Long]("n_purged")).sum)
    assert(tot.head.getAs[Long]("wasted_rows") ==
      per.map(_.getAs[Long]("wasted_rows")).sum)
    // the audit only earns its keep if the interesting arms occur: files
    // that never claimed old data, files honestly still old (open orders
    // survive the purge), and the purge actually removed rows
    val verdicts = got.values.map(_._1).toSet
    assert(verdicts.contains("tight"), "no post-cutoff file")
    assert(verdicts.contains("honest_old"), "no honest straddler")
    assert(tot.head.getAs[Long]("n_purged") > 0L, "the purge removed nothing")
    info(s"verdicts: ${got.values.groupBy(_._1).view.mapValues(_.size).toMap}; " +
      s"wasted ${tot.head.getAs[Long]("wasted_rows")} rows")
  }

  test("p41: the rollback plan replays literally from the raw chain — " +
    "remove/restore sets, retention feasibility, footing — and both " +
    "actions AND both feasibility arms occur") {
    import java.time.LocalDateTime
    val months = Tables.load(spark, sf, "orders")
      .select("o_orderdate").collect()
      .map { r =>
        val d = r.getAs[LocalDateTime]("o_orderdate").toLocalDate
        (d.getYear.toLong * 12 + d.getMonthValue - 1, d.getYear.toLong)
      }
      .groupBy(identity).map { case ((mo, yr), g) => (mo, yr, g.size.toLong) }
      .toSeq.sortBy(_._1)
    val ver = months.zipWithIndex.map { case ((mo, yr, n), i) =>
      (mo, yr, n, i + 1L) }
    val yFirst = ver.groupBy(_._2).map { case (yr, g) =>
      yr -> (g.map(_._4).min, g.map(_._3).sum) }
    val head = ver.map(_._4).max
    val minRet = math.max(head - PipelineQueries.RetainVersions + 1, 1L)
    // files: month files (removed by next year's compaction) + year files
    val files =
      ver.map { case (mo, yr, n, v) =>
        (s"month_$mo", "month", v, yFirst.get(yr + 1).map(_._1).getOrElse(-1L), n)
      } ++ yFirst.toSeq.collect { case (yr, (_, rows))
          if yFirst.contains(yr + 1) =>
        (s"year_$yr", "year", yFirst(yr + 1)._1, -1L, rows)
      }
    def replay(depth: Long): Map[String, (String, String, Long, Long, Long, Long)] = {
      val target = math.max(head - depth, 1L)
      files.flatMap { case (key, kind, born, removed, n) =>
        val liveHead = removed == -1L || removed > head
        val liveTgt = born <= target && (removed == -1L || removed > target)
        if (liveHead == liveTgt) None
        else {
          val action = if (liveHead) "remove" else "restore"
          val avail = if (liveHead || removed - 1 >= minRet) 1L else 0L
          Some(key -> ((kind, action, born, removed, n, avail)))
        }
      }.toMap
    }
    def run(depth: Long) = {
      val out = PipelineQueries.p41RollbackPlan(spark, sf, depth).collect()
      val (tot, per) = out.partition(_.getAs[String]("kind") == "~TOTAL")
      val got = per.map(r => r.getAs[String]("key") ->
        ((r.getAs[String]("kind"), r.getAs[String]("action"),
          r.getAs[Long]("born_v"), r.getAs[Long]("removed_v"),
          r.getAs[Long]("n_rows"), r.getAs[Long]("n_available")))).toMap
      assert(got == replay(depth),
        s"rollback plan at depth $depth diverged from the literal replay")
      // totals foot per action and overall
      val byAction = per.groupBy(_.getAs[String]("action"))
      tot.filter(_.getAs[String]("action") != "~TOTAL").foreach { t =>
        val a = t.getAs[String]("action")
        assert(t.getAs[Long]("n_files") == byAction(a).size.toLong)
        assert(t.getAs[Long]("n_available") ==
          byAction(a).map(_.getAs[Long]("n_available")).sum)
      }
      val overall = tot.filter(_.getAs[String]("action") == "~TOTAL")
      assert(overall.length == 1 &&
        overall.head.getAs[Long]("n_files") == per.length.toLong)
      got
    }
    // default depth: both actions occur and the rollback is FEASIBLE
    // (every restore still retained — the go path)
    val atDefault = run(PipelineQueries.RollbackDepth)
    val restores = atDefault.values.filter(_._2 == "restore").map(_._6)
    assert(atDefault.values.map(_._2).toSet == Set("remove", "restore"))
    assert(restores.nonEmpty && restores.forall(_ == 1L),
      "default-depth restores must all be retained (feasibility is " +
        "all-or-nothing per rollback: one compaction event per plan)")
    // depth 24 reaches past the retention floor: the restore set's one
    // compaction event is vacuumed — every restore BLOCKED, the no-go
    // path a restore command must refuse
    val deep = run(24L)
    val deepRestores = deep.values.filter(_._2 == "restore").map(_._6)
    assert(deepRestores.nonEmpty && deepRestores.forall(_ == 0L),
      "deep rollback must be blocked by the expire policy")
    info(s"default: ${atDefault.size} rows, ${restores.size} restorable; " +
      s"deep(24): ${deepRestores.size} restores all blocked; head $head")
  }

  test("p42: the write-amplification ledger replays literally — landing " +
    "vs compaction writes per version, cumulative sums, the e6 ratio — " +
    "and the chain shows both the no-rewrite and rewrite regimes") {
    import java.time.LocalDateTime
    val months = Tables.load(spark, sf, "orders")
      .select("o_orderdate").collect()
      .map { r =>
        val d = r.getAs[LocalDateTime]("o_orderdate").toLocalDate
        (d.getYear.toLong * 12 + d.getMonthValue - 1, d.getYear.toLong)
      }
      .groupBy(identity).map { case ((mo, yr), g) => (mo, yr, g.size.toLong) }
      .toSeq.sortBy(_._1)
    val ver = months.zipWithIndex.map { case ((mo, yr, n), i) => (mo, yr, n, i + 1L) }
    val yFirst = ver.groupBy(_._2).map { case (yr, g) =>
      yr -> (g.map(_._4).min, g.map(_._3).sum) }
    var cumL = 0L; var cumW = 0L
    val expect = ver.map { case (mo, yr, n, v) =>
      val rewrite =
        if (yFirst(yr)._1 == v) yFirst.get(yr - 1).map(_._2).getOrElse(0L)
        else 0L
      cumL += n; cumW += n + rewrite
      v.toString -> ((mo, n, n + rewrite, cumL, cumW, cumW * 1000000L / cumL))
    }.toMap
    val out = PipelineQueries.p42WriteAmp(spark, sf).collect()
    val (tot, per) = out.partition(_.getAs[String]("key") == "~TOTAL")
    val got = per.map(r => r.getAs[String]("key") ->
      ((r.getAs[Long]("mo"), r.getAs[Long]("rows_landed"),
        r.getAs[Long]("rows_written"), r.getAs[Long]("cum_landed"),
        r.getAs[Long]("cum_written"), r.getAs[Long]("wa_e6")))).toMap
    assert(got == expect, "write-amp ledger diverged from the replay")
    assert(tot.length == 1)
    val t = tot.head
    assert(t.getAs[Long]("cum_landed") == cumL &&
      t.getAs[Long]("cum_written") == cumW &&
      t.getAs[Long]("wa_e6") == cumW * 1000000L / cumL, "~TOTAL ledger")
    // both regimes: months that only land (written == landed) and
    // compaction months that rewrite a full prior year; the end-state
    // amplification must sit strictly between 1e6 and 2e6 (every row
    // written at most twice on this chain — landing + one compaction)
    assert(got.values.exists(v => v._3 == v._2), "no pure-landing month")
    assert(got.values.exists(v => v._3 > v._2), "no compaction rewrite")
    val wa = t.getAs[Long]("wa_e6")
    assert(wa > 1000000L && wa < 2000000L, s"end-state wa_e6 $wa out of band")
    info(s"end-state wa_e6 $wa over ${got.size} versions")
  }

  test("notify: the outbox transport delivers once per exhausted stage " +
    "— retries don't multiply alerts, skipped stages stay silent, " +
    "messages flatten, drain preserves order") {
    import graft.pipeline.{Notify, Runner}
    val outbox = java.nio.file.Files.createTempFile("graft_outbox", ".tsv")
    java.nio.file.Files.delete(outbox) // transport must create it
    val hook = Notify.fileOutbox("alerts_spec", outbox)
    var attempts = 0
    val results = Runner.run("alerts_spec", Runner.QueueRun, Seq(
      Runner.Stage("ok")(() => ()),
      Runner.Stage("flaky", retries = 2)(() => {
        attempts += 1
        sys.error("boom\nwith a second line\tand a tab")
      }),
      Runner.Stage("downstream", deps = Seq("flaky"))(() => ())),
      onFailure = hook)
    assert(attempts == 3, "retry budget must run out before notifying")
    val alerts = Notify.drain(outbox)
    assert(alerts.length == 1,
      s"exactly ONE alert per exhausted stage, got ${alerts.length}")
    val a = alerts.head
    assert(a.pipeline == "alerts_spec" && a.stage == "flaky")
    assert(a.errorClass == "RuntimeException")
    assert(a.message == "boom with a second line and a tab",
      s"message not flattened: '${a.message}'")
    assert(results.exists(r => r.name == "downstream" &&
      r.status.isInstanceOf[Runner.Skipped]),
      "downstream must be skipped, and skips must NOT alert")
    // a second failing stage appends in failure order
    Runner.run("alerts_spec", Runner.QueueRun, Seq(
      Runner.Stage("also_bad")(() => throw new IllegalStateException("x"))),
      onFailure = hook)
    val two = Notify.drain(outbox)
    assert(two.map(_.stage) == Seq("flaky", "also_bad"), "drain order")
    assert(two.last.errorClass == "IllegalStateException")
    java.nio.file.Files.delete(outbox)
  }

  test("lineage: the plan-derived manifest names exactly the tables " +
    "each query scans, across every table family") {
    import graft.plans.Lineage
    val expect = Map(
      "q1_pricing_summary" -> Set("lineitem"),
      "q3_shipping_priority" -> Set("customer", "orders", "lineitem"),
      "q44_late_ship_priority" -> Set("lineitem", "orders"),
      "q53_supplier_diversity" -> Set("lineitem", "part", "supplier"),
      "q57_reorder_curve" -> Set("orders"),
      "t1_text_stats" -> Set("documents"),
      "m2_frame_sample" -> Set("documents"),
      "s1_ann_brute" -> Set("embeddings"),
      "q12_sessionize" -> Set("events"))
    expect.foreach { case (q, tables) =>
      val got = Lineage.inputTables(SparkEntry.queries(q)(spark, sf))
      assert(got == tables, s"$q lineage diverged: got $got want $tables")
    }
    val m = Lineage.manifest(spark, sf, expect.keys.toSeq.sorted).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(m.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap ==
      expect, "manifest rows diverged from per-query lineage")
    assert(m.length == expect.values.map(_.size).sum)
  }

  test("schedule: Airflow tick semantics — interval-close due rule, " +
    "catchup backlog vs latest-only collapse, idempotent polls, and " +
    "runDue threading logical times through the Runner") {
    import graft.pipeline.{Runner, Schedule}
    val st0 = Schedule.init(intervalMs = 10L, catchup = true, epochMs = 100L)
    // a tick's interval must CLOSE before it is due: logical 100 runs
    // at wall 110, not at 100
    val (stA, runA, skipA) = Schedule.poll(st0, 109L)
    assert(runA.isEmpty && skipA.isEmpty && stA == st0, "due before close")
    val (stB, runB, skipB) = Schedule.poll(st0, 110L)
    assert(runB == Seq(100L) && skipB.isEmpty)
    // catchup=true owes the whole backlog oldest-first
    val (stC, runC, skipC) = Schedule.poll(stB, 145L)
    assert(runC == Seq(110L, 120L, 130L) && skipC.isEmpty,
      s"backlog diverged: $runC")
    // idempotence: a second poll at the same instant owes nothing
    assert(Schedule.poll(stC, 145L)._2.isEmpty)
    // catchup=false collapses the same backlog to the LATEST tick and
    // reports the abandoned ones (p20's backfill request list)
    val nc0 = Schedule.init(10L, catchup = false, epochMs = 100L)
    val (ncSt, ncRun, ncSkip) = Schedule.poll(nc0, 145L)
    assert(ncRun == Seq(130L) && ncSkip == Seq(100L, 110L, 120L),
      s"no-catchup collapse diverged: run $ncRun skip $ncSkip")
    // and the grid continues from the collapsed point, not the epoch
    val (_, ncRun2, ncSkip2) = Schedule.poll(ncSt, 155L)
    assert(ncRun2 == Seq(140L) && ncSkip2.isEmpty)
    // runDue executes oldest-first, threads the logical time into the
    // stage builder (Airflow's ds templating), and returns real results
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (_, results, skipped) = Schedule.runDue("sched_spec", stB, 145L,
      stagesFor = t => Seq(
        Runner.Stage(s"work_$t")(() => { seen += t; () })))
    assert(seen.toSeq == Seq(110L, 120L, 130L), "execution order")
    assert(results.map(_._1) == Seq(110L, 120L, 130L) && skipped.isEmpty)
    assert(results.forall(_._2.forall(_.status == Runner.Succeeded)))
  }

  test("p43: the write-audit-publish gate replays literally — per " +
    "expectation main-vs-branch observations, pass flags, blame class — " +
    "and three verdict arms plus the abort decision are non-vacuous") {
    import java.time.LocalDateTime
    val cut = LocalDateTime.of(1997, 1, 1, 0, 0)
    val rows = Tables.load(spark, sf, "orders")
      .select("o_orderdate", "o_totalprice", "o_orderstatus",
        "o_orderpriority", "o_custkey").collect()
    val main = rows.filter(_.getAs[LocalDateTime]("o_orderdate").isBefore(cut))
    def agg(rs: Array[org.apache.spark.sql.Row], n: Long)
        : Map[(String, String), Option[Long]] = Map(
      ("o_totalprice", "min_cents") ->
        (if (rs.isEmpty) None
         else Some(math.floor(rs.map(_.getAs[Double]("o_totalprice")).min * 100).toLong)),
      ("o_totalprice", "max_cents") ->
        (if (rs.isEmpty) None
         else Some(math.floor(rs.map(_.getAs[Double]("o_totalprice")).max * 100).toLong)),
      ("o_orderstatus", "n_distinct") ->
        (if (n == 0) None
         else Some(rs.map(_.getAs[String]("o_orderstatus")).distinct.length.toLong)),
      ("o_orderpriority", "n_distinct") ->
        (if (n == 0) None
         else Some(rs.map(_.getAs[String]("o_orderpriority")).distinct.length.toLong)),
      ("o_custkey", "null_rate_e6") ->
        (if (n == 0) None
         else Some(math.floor(rs.count(_.isNullAt(4)) * 1000000.0 / n).toLong)))
    val (am, ab) = (agg(main, main.length.toLong), agg(rows, rows.length.toLong))
    val exps = Seq(
      ("o_totalprice", "min_cents", Some(140000L), None),
      ("o_totalprice", "max_cents", None, Some(50000000L)),
      ("o_orderstatus", "n_distinct", None, Some(3L)),
      ("o_orderpriority", "n_distinct", None, Some(4L)),
      ("o_custkey", "null_rate_e6", None, Some(0L)))
    def pass(o: Option[Long], lo: Option[Long], hi: Option[Long]): Long =
      o.map(v => if (lo.forall(v >= _) && hi.forall(v <= _)) 1L else 0L)
        .getOrElse(0L)
    val expected = exps.map { case (c, m, lo, hi) =>
      val (om, ob) = (am((c, m)), ab((c, m)))
      val (pm, pb) = (pass(om, lo, hi), pass(ob, lo, hi))
      val verdict =
        if (pm == 1 && pb == 1) "ok" else if (pm == 1) "regressed"
        else if (pb == 0) "pre_existing" else "fixed"
      (c, m) -> ((lo, hi, om, ob, pm, pb, verdict))
    }.toMap
    val out = PipelineQueries.p43WapPublish(spark, sf).collect()
    def optL(r: org.apache.spark.sql.Row, c: String): Option[Long] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Long](c))
    val (dec, per) = out.partition(_.getAs[String]("column_name") == "~DECISION")
    val got = per.map(r =>
      (r.getAs[String]("column_name"), r.getAs[String]("metric")) ->
        ((optL(r, "lo"), optL(r, "hi"), optL(r, "observed_main"),
          optL(r, "observed_branch"), r.getAs[Long]("pass_main"),
          r.getAs[Long]("pass_branch"), r.getAs[String]("verdict")))).toMap
    assert(got == expected, "WAP audit diverged from the replay")
    val verdicts = got.values.map(_._7).toSet
    assert(Set("ok", "regressed", "pre_existing").subsetOf(verdicts),
      s"expected three verdict arms, saw $verdicts")
    assert(dec.length == 1)
    val d = dec.head
    assert(d.getAs[String]("verdict") ==
      (if (expected.values.exists(_._7 == "regressed")) "abort" else "publish"),
      "gate decision must be driven by the regressed class alone")
    assert(d.getAs[Long]("observed_main") == main.length.toLong &&
      d.getAs[Long]("observed_branch") == rows.length.toLong, "row counts")
    assert(d.getAs[Long]("pass_main") ==
      (if (expected.values.forall(_._5 == 1L)) 1L else 0L) &&
      d.getAs[Long]("pass_branch") ==
      (if (expected.values.forall(_._6 == 1L)) 1L else 0L), "all-pass flags")
    info(s"verdicts: ${got.values.map(_._7).groupBy(identity)
      .view.mapValues(_.size).toMap}, decision: ${d.getAs[String]("verdict")}")
  }

  test("p44: incremental stats replay literally — per-month KMV/NDV/min/" +
    "max, the merged ~TABLE sketch equals the table's own KMV, min/max " +
    "merge is exact, and both sketch regimes fire") {
    import java.time.LocalDateTime
    import PipelineQueries.P44K
    def md5Long60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    val rows = Tables.load(spark, sf, "orders")
      .select("o_orderdate", "o_custkey", "o_totalprice").collect()
      .map { r =>
        val d = r.getAs[LocalDateTime]("o_orderdate").toLocalDate
        (d.getYear.toLong * 12 + d.getMonthValue - 1,
          r.getAs[Long]("o_custkey"),
          math.floor(r.getAs[Double]("o_totalprice") * 100).toLong)
      }
    def h(ck: Long): Long = md5Long60(ck.toString) >>> 15
    def statsOf(rs: Array[(Long, Long, Long)], sketch: Seq[Long])
        : (Long, Long, Long, Long, Long, Long, Long, Long) = {
      val held = sketch.length.toLong
      val kth = sketch.last
      val exact = rs.map(_._2).distinct.length.toLong
      val est = if (held < P44K) held else (P44K - 1).toLong * (1L << 45) / kth
      (rs.length.toLong, exact, held, kth, est,
        math.floor((est - exact).abs * 1000000.0 / exact).toLong,
        rs.map(_._3).min, rs.map(_._3).max)
    }
    val months = rows.map(_._1).distinct.sorted
    val moSketches = months.map { m =>
      m -> rows.filter(_._1 == m).map(r => h(r._2)).distinct.sorted.take(P44K).toSeq
    }.toMap
    val expected: Map[String, (Long, Long, Long, Long, Long, Long, Long, Long)] =
      months.map(m => m.toString ->
        statsOf(rows.filter(_._1 == m), moSketches(m))).toMap +
        ("~TABLE" -> statsOf(rows,
          moSketches.values.flatten.toSeq.distinct.sorted.take(P44K)))
    // mergeability: union of monthly sketches re-taken to K == the
    // table's own KMV over ALL hashes
    val tableOwn = rows.map(r => h(r._2)).distinct.sorted.take(P44K).toSeq
    assert(moSketches.values.flatten.toSeq.distinct.sorted.take(P44K) == tableOwn,
      "merged monthly sketches != the table's own KMV sketch")
    val got = PipelineQueries.p44IncrementalStats(spark, sf).collect()
      .map(r => r.getAs[String]("key") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Long]("ndv_exact"),
          r.getAs[Long]("n_held"), r.getAs[Long]("kth_h"),
          r.getAs[Long]("ndv_est"), r.getAs[Long]("err_e6"),
          r.getAs[Long]("mn_cents"), r.getAs[Long]("mx_cents")))).toMap
    assert(got == expected.view.mapValues(t => t).toMap
      .map { case (k, t) => k -> ((t._1, t._2, t._3, t._4, t._5, t._6, t._7, t._8)) },
      "incremental stats diverged from the replay")
    // min/max merge exactness: the ~TABLE bounds equal the direct scan's
    val t = got("~TABLE")
    assert(t._7 == rows.map(_._3).min && t._8 == rows.map(_._3).max)
    // both regimes: exact months (held < K, est == exact, err 0) and the
    // estimator on ~TABLE (held == K)
    val exactMonths = got.filter { case (k, v) => k != "~TABLE" && v._3 < P44K }
    assert(exactMonths.nonEmpty, "no month in the exact regime")
    exactMonths.foreach { case (k, v) =>
      assert(v._5 == v._2 && v._6 == 0L, s"month $k: exact regime not exact") }
    assert(t._3 == P44K.toLong && t._5 != t._2,
      "~TABLE must run the estimator (and estimating is not recounting)")
    info(s"months: ${months.length}, exact-regime: ${exactMonths.size}, " +
      s"~TABLE est ${t._5} vs exact ${t._2} (err_e6 ${t._6})")
  }

  test("p45: the join advisor replays literally from raw counts — stale " +
    "universes, byte estimates, both decisions, the NDV output estimate " +
    "and the key-grained true cardinality — and the stale stats FLIP the " +
    "orders⋈customer broadcast decision while every other edge holds") {
    import PipelineQueries.{P45Edges, P45RatioK, P45StatsFifths, P45Widths}
    def md5Long60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.map("%02x".format(_)).mkString.take(15), 16)
    }
    // raw per-table (key -> value rows) with the month / md5 stale flags
    def mo(d: java.time.LocalDate): Long = d.getYear.toLong * 12 + d.getMonthValue - 1
    val orderMos = Tables.load(spark, sf, "orders").select("o_orderdate")
      .collect().map(r => mo(r.getAs[java.time.LocalDateTime](0).toLocalDate))
    val cut = orderMos.min + (orderMos.max - orderMos.min + 1) * P45StatsFifths / 5
    def tableRows(t: String, keys: Seq[String]): Array[(Map[String, Long], Boolean)] = {
      val dayCol = Map("orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
      val cols = keys.map(k =>
        org.apache.spark.sql.functions.col(k).cast("long").as(k)) ++
        dayCol.get(t).toSeq.map(org.apache.spark.sql.functions.col)
      Tables.load(spark, sf, t).select(cols: _*)
        .collect().map { r =>
          val kv = keys.map(k => k -> r.getAs[Long](k)).toMap
          val est = dayCol.get(t) match {
            case Some(dc) => mo(r.getAs[java.time.LocalDateTime](dc).toLocalDate) < cut
            case None => md5Long60(kv(keys.head).toString) % 100 <
              graft.operators.Dedup.NewBucketMin
          }
          (kv, est)
        }
    }
    val keysOf = P45Edges.flatMap(e => Seq(e._1 -> e._2, e._3 -> e._4))
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    val raw = keysOf.map { case (t, ks) => t -> tableRows(t, ks) }
    val got = PipelineQueries.p45JoinAdvisor(spark, sf).collect()
      .map(r => r.getAs[String]("edge") -> r).toMap
    assert(got.size == P45Edges.size)
    P45Edges.foreach { case (p, pk, b, bk) =>
      val r = got(s"$p*$b")
      val (pr, br) = (raw(p), raw(b))
      def stats(rows: Array[(Map[String, Long], Boolean)], k: String) =
        (rows.length.toLong, rows.count(_._2).toLong,
          rows.map(_._1(k)).distinct.length.toLong,
          rows.filter(_._2).map(_._1(k)).distinct.length.toLong)
      val (rpt, rpe, npt, npe) = stats(pr, pk)
      val (rbt, rbe, nbt, nbe) = stats(br, bk)
      val (wp, wb) = (P45Widths(p), P45Widths(b))
      def dec(rp: Long, rb: Long) =
        if (rp * wp >= rb * wb * P45RatioK) "broadcast" else "shuffle"
      assert(r.getAs[Long]("rows_probe_est") == rpe &&
        r.getAs[Long]("rows_build_est") == rbe &&
        r.getAs[Long]("bytes_build_true") == rbt * wb, s"$p*$b sizes")
      assert(r.getAs[String]("decision_est") == dec(rpe, rbe) &&
        r.getAs[String]("decision_true") == dec(rpt, rbt), s"$p*$b decision")
      assert(r.getAs[String]("flip") ==
        (if (dec(rpe, rbe) != dec(rpt, rbt)) "flipped" else "ok"), s"$p*$b flip")
      assert(r.getAs[Long]("out_rows_est") ==
        rpe * rbe / math.max(1L, math.max(npe, nbe)), s"$p*$b out est")
      // key-grained true cardinality
      val cp = pr.groupBy(_._1(pk)).view.mapValues(_.size.toLong).toMap
      val cb = br.groupBy(_._1(bk)).view.mapValues(_.size.toLong).toMap
      val outTrue = cp.keySet.intersect(cb.keySet).toSeq
        .map(k => cp(k) * cb(k)).sum
      assert(r.getAs[Long]("out_rows_true") == outTrue, s"$p*$b out true")
    }
    // the staleness story is non-vacuous: the fact outgrew its dim since
    // the ANALYZE, so stats under-sell the probe/build ratio and shuffle
    // a dim the live table comfortably broadcasts — on exactly this edge
    assert(got("orders*customer").getAs[String]("flip") == "flipped" &&
      got("orders*customer").getAs[String]("decision_est") == "shuffle" &&
      got("orders*customer").getAs[String]("decision_true") == "broadcast",
      "the orders*customer stale-stats flip is the operator's reason to exist")
    assert(got.values.count(_.getAs[String]("flip") == "flipped") == 1,
      "every other edge must hold its decision")
  }

  test("p46: the ANALYZE-priority list replays from p45's own verdicts — " +
    "per-table fix credit goes only to a table whose SOLO stats refresh " +
    "repairs the flipped call, the ROI rank is total and deterministic, " +
    "and on this corpus ORDERS alone fixes the orders⋈customer flip " +
    "while CUSTOMER alone does not") {
    import PipelineQueries.{P45Edges, P45RatioK, P45Widths}
    val p45 = PipelineQueries.p45JoinAdvisor(spark, sf).collect()
      .map(r => r.getAs[String]("edge") -> r).toMap
    // replay the fix semantics from p45's published row/byte columns
    def dec(bp: Long, bb: Long) =
      if (bp >= bb * P45RatioK) "broadcast" else "shuffle"
    case class Credit(tbl: String, flipped: Long, fixes: Long, mass: Long)
    val credits = P45Edges.flatMap { case (p, _, b, _) =>
      val r = p45(s"$p*$b")
      val (bpt, bbt) = (r.getAs[Long]("bytes_probe_true"), r.getAs[Long]("bytes_build_true"))
      val (bpe, bbe) = (r.getAs[Long]("bytes_probe_est"), r.getAs[Long]("bytes_build_est"))
      val flipped = if (dec(bpe, bbe) != dec(bpt, bbt)) 1L else 0L
      val fixP = if (flipped == 1L && dec(bpt, bbe) == dec(bpt, bbt)) 1L else 0L
      val fixB = if (flipped == 1L && dec(bpe, bbt) == dec(bpt, bbt)) 1L else 0L
      Seq(Credit(p, flipped, fixP, bpt + bbt), Credit(b, flipped, fixB, bpt + bbt))
    }
    val want = credits.groupBy(_.tbl).map { case (t, cs) =>
      t -> ((cs.size.toLong, cs.map(_.flipped).sum, cs.map(_.fixes).sum,
        cs.map(c => c.fixes * c.mass).sum))
    }
    val got = PipelineQueries.p46AnalyzePriority(spark, sf).collect()
    assert(got.length == want.size, "one row per join-graph table")
    got.foreach { r =>
      val t = r.getAs[String]("tbl")
      val (ne, nf, nx, mass) = want(t)
      assert(r.getAs[Long]("n_edges") == ne && r.getAs[Long]("n_flipped") == nf
        && r.getAs[Long]("n_fixed") == nx
        && r.getAs[Long]("fix_mass_bytes") == mass, s"$t credit columns")
      assert(r.getAs[Long]("scan_bytes") ==
        r.getAs[Long]("rows_true") * P45Widths(t), s"$t scan cost")
      assert(r.getAs[Long]("roi_e6") ==
        mass * 1000000L / math.max(1L, r.getAs[Long]("scan_bytes")), s"$t roi")
    }
    // rank is the deterministic total order on (roi desc, mass desc, name)
    val byRank = got.sortBy(_.getAs[Long]("rank"))
    val keys = byRank.map(r => (-r.getAs[Long]("roi_e6"),
      -r.getAs[Long]("fix_mass_bytes"), r.getAs[String]("tbl")))
    assert(keys.toSeq == keys.toSeq.sorted, "rank order replays")
    assert(byRank.map(_.getAs[Long]("rank")).toSeq ==
      (1L to got.length).toSeq, "ranks are 1..n")
    // non-vacuous on the real corpus: the orders⋈customer flip exists and
    // is credited to the FACT alone (its growth drove the flip; refreshing
    // the dim's stats leaves the wrong call in place)
    val o = got.find(_.getAs[String]("tbl") == "orders").get
    val c = got.find(_.getAs[String]("tbl") == "customer").get
    assert(o.getAs[Long]("n_fixed") >= 1L, "orders must fix its flip")
    assert(c.getAs[Long]("n_flipped") >= 1L && c.getAs[Long]("n_fixed") == 0L,
      "customer touches the flip but cannot fix it alone")
    assert(o.getAs[Long]("rank") == 1L, "the fixer with the only fix mass ranks first")
  }
}
