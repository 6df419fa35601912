package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** The per-query probe main: N back-to-back reps of one named query
  * (noop sink), printing per rep its wall time, the Spark JOBS, STAGES,
  * TASKS and total shuffle bytes it executed, and the used heap after a
  * `System.gc()`. The counts are the fixed-overhead axis
  * `explain("formatted")` cannot see on the engine's multi-job queries
  * (every eager `localCheckpoint` is its own job, so a 16-round descent
  * is ~40 jobs whose intra-round plans never appear in the final frame's
  * explain); ExplainOne shows the final plan, this counts what actually
  * RAN. `graft.Bench` interleaves reps across queries to DECORRELATE JVM
  * state; this runs them back to back on purpose, so state a query
  * accumulates across its own runs (sketch buffers, broadcast refs, GC
  * debt) shows as a heap floor rising with reps, apart from GC
  * scheduling noise (flat floor, noisy times).
  *
  *   SPARK_GRAFT_SF_DIR=... java ... graft.JobCountProbe <query> [reps]
  *
  * Names resolve against `benchQueries`; prefix with `verified:` to run
  * the `queries` form instead. Rep 1 is warmup (JIT/codegen); counters
  * reset per rep and print per rep, so compare warm reps across commits.
  * Stage counts include reused exchanges (a stage submitted is a stage
  * counted).
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_pricing_summary")
    val reps = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness("ERROR")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufWrite = new AtomicLong
    val shufRead = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
      }
    })
    val fn = if (name.startsWith("verified:")) SparkEntry.queries(name.stripPrefix("verified:"))
             else SparkEntry.benchQueries(name)
    val rt = Runtime.getRuntime
    for (i <- 1 to reps) {
      jobs.set(0); stages.set(0); tasks.set(0); shufWrite.set(0); shufRead.set(0)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener bus is async (and private): a short settle sleep drains
      // the tail events before the counters are read — counts are for
      // cross-commit comparison, not accounting-exact
      Thread.sleep(400)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
      val usedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      println(f"rep $i%2d: $sec%8.3f s  jobs=${jobs.get}%4d stages=${stages.get}%4d " +
        f"tasks=${tasks.get}%6d shuffleWrite=${shufWrite.get}%12d B shuffleRead=${shufRead.get}%12d B" +
        f"  heap-after-gc: $usedMb%6d MB")
    }
    spark.stop()
  }
}
