package graft

/** Diagnostic runner: one named query, N back-to-back reps, per-rep times
  * on stdout. `graft.Bench` deliberately interleaves reps across queries to
  * DECORRELATE JVM state between reps of one query; this tool does the
  * opposite on purpose — back-to-back reps expose state a query accumulates
  * across its own runs (sketch buffers, broadcast refs, GC debt), the
  * round-4 q18 signature (1.4→2.8→6.4s monotone growth).
  *
  *   SPARK_GRAFT_SF_DIR=... java ... graft.BenchOne q18_approx_stats 6
  *
  * Prints one line per rep plus used-heap after a System.gc() so a leak
  * (heap floor rising with reps) is distinguishable from GC scheduling
  * noise (flat floor, noisy times). Names resolve against `benchQueries`;
  * prefix with `verified:` to time the `queries` form instead.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q18_approx_stats")
    val reps = if (args.length > 1) args(1).toInt else 6
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.harness("WARN")
    val fn = if (name.startsWith("verified:")) SparkEntry.queries(name.stripPrefix("verified:"))
             else SparkEntry.benchQueries(name)
    val rt = Runtime.getRuntime
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      System.gc()
      Thread.sleep(200)
      val usedMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
      println(f"rep $i%2d: $sec%8.3f s   heap-after-gc: $usedMb%6d MB")
    }
    spark.stop()
  }
}
