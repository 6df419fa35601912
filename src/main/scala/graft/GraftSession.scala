package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's tuned defaults.
  *
  * Designed for a multi-executor cluster but tested on local[N]: AQE handles
  * runtime partition coalescing and skew-join splitting, so the static
  * `shuffle.partitions` is a ceiling, not a schedule. All timestamps are UTC
  * to keep parity with the DuckDB oracle.
  */
object GraftSession {
  /** The runnable mains' session (PipelineMain, StreamingMain). */
  def local(cores: Int, shufflePartitions: Int): SparkSession =
    tune(SparkSession.builder().master(s"local[$cores]"), shufflePartitions)
      .getOrCreate()

  /** The harness mains' session (Bench, BenchOne, Verify, JobCountProbe,
    * ExplainOne): `local[SPARK_GRAFT_CPUS]` with as many shuffle
    * partitions, engine defaults, `logLevel`, and the bounded-window
    * warning silenced. */
  def harness(logLevel: String): SparkSession = {
    val cpus = coresFrom(sys.env.get("SPARK_GRAFT_CPUS"), 4)
    val spark = tune(SparkSession.builder().master(s"local[$cpus]"),
      shufflePartitions = cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    silenceBoundedWindowWarning()
    spark
  }

  /** `SPARK_GRAFT_CPUS`: unset gives `default`; anything but a positive
    * integer fails naming the variable (`0` or `x` would otherwise fail
    * deep inside Spark). */
  private[graft] def coresFrom(env: Option[String], default: Int): Int =
    env.fold(default) { v =>
      val n = v.toIntOption.filter(_ > 0)
      require(n.isDefined, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n.get
    }

  /** Silence WindowExec's "No Partition Defined" warning — HARNESS MAINS
    * ONLY ([[harness]] and perfbench call this; library code never does).
    *
    * The engine's distributed prefix sums end in one deliberate
    * single-partition window over a #partitions-sized frame
    * (`operators.PrefixSum`, the only producer of the `rid` range id;
    * SURVEY §5 "distributed prefix sums"), and a few rule-table windows
    * (t11) do the same over a literal table; the frames cannot grow with
    * data, which `PlanSpec`'s global bounded-input pin enforces
    * structurally. A literal partition key would state the intent
    * in-plan but does not survive Spark 4's `EliminateWindowPartitions`
    * (foldable keys are stripped), so the warning fires on every run —
    * dozens of identical lines that bury real warnings in the bench
    * tail. Scoped to the one logger; every other WARN still surfaces. */
  def silenceBoundedWindowWarning(): Unit =
    try {
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        org.apache.logging.log4j.Level.ERROR)
      // Bench's between-query blocking unpersist of localCheckpoint blocks
      // is deliberate (the frames are fully consumed); every unpersist
      // emits a "cannot be recomputed after unpersisting" WARN per RDD
      // that would otherwise dominate the driver-output tail the metric
      // line must survive in — same budget problem as the WindowExec wall
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.RDD", org.apache.logging.log4j.Level.ERROR)
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    } catch { case _: Throwable => () } // non-log4j2 backend: keep the noise

  /** Apply engine defaults to any builder (cluster or local). */
  def tune(b: SparkSession.Builder, shufflePartitions: Int = 32): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // generated-class cache sized past the query surface (static conf;
    // default 100 cannot hold a 219-plan interleaved sweep — the r19
    // warm-state probe, last present at commit 31c6c3b as
    // graft.SuiteProbe, measured 19-23 janino recompiles per evicted
    // plan's next run).
    // Measured r20 at 5000: in-suite rep-1 recompiles drop 23/19/19 ->
    // 14/11/2 and q16/q7 rep-1 wall -28%/-26%; NOT a full fix — Spark
    // keys this cache by weak reference, so entries die with GC of the
    // referent plan regardless of capacity (docs/PERFORMANCE.md r20)
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // runtime bloom-filter semi-join reduction: a selective filter on one
    // join side prunes the other side's scan before the shuffle
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    .config("spark.ui.enabled", "false")
}
