package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, PipelineMain, SparkEntry}
import graft.pipeline.{CorpusPipeline, Ingest, PipelineConfig, Runner}

/** One benchmark process: builds a session, runs one workload's cold pass
  * and then warm passes for a fixed time, and writes every pass, op and
  * (when tracing) engine event as JSON lines for `perfbench/run.py`.
  *
  * An op is one Runner stage (pipeline workloads) or one query
  * (`query_mix`); ops run one at a time from this thread, so a closed loop
  * with a single client. Spark jobs are attributed to their op through the
  * `perfbench.op` local property, which the wrapped stage body sets on the
  * thread Runner runs it on.
  *
  * Usage: perfbench.Harness <workload> <inputDir> <workDir> <seconds>
  *        <trace 0|1> <outFile> [query,query,...]
  */
object Harness {
  val OpProperty = "perfbench.op"

  /** Everything a pass needs: its ops (already wrapped for timing), a
    * runner that executes them and reports (name, ok, error) per op, and
    * the output dirs the pass leaves behind for the output checks. */
  trait Workload {
    def pass(idx: Int, rec: OpRecorder): (() => Seq[(String, Boolean, String)], Seq[(String, String)])
  }

  /** Times each op on the calling thread and tags its Spark jobs. */
  final class OpRecorder(spark: SparkSession, clock: Clock, out: Json) {
    private val counts = scala.collection.mutable.Map.empty[String, Int]
    private val spans = scala.collection.mutable.Map.empty[String, (Double, Double)]
    private var passIdx = 0
    def startPass(i: Int): Unit = { passIdx = i; counts.clear(); spans.clear() }

    /** Wrap an op body: every invocation is one attempt; the op's span runs
      * from its first attempt's start to its last attempt's end. */
    def wrap(name: String)(body: () => Unit): () => Unit = () => {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(OpProperty)
      sc.setLocalProperty(OpProperty, s"$passIdx/$name")
      val t0 = clock.nowMs
      try body()
      finally {
        sc.setLocalProperty(OpProperty, prev)
        val t1 = clock.nowMs
        synchronized {
          counts(name) = counts.getOrElse(name, 0) + 1
          spans(name) = spans.get(name).map(s => (s._1, t1)).getOrElse((t0, t1))
        }
      }
    }

    def emit(name: String, ok: Boolean, error: String): Unit = synchronized {
      val (s, e) = spans.getOrElse(name, (Double.NaN, Double.NaN))
      out.line("kind" -> "op", "pass" -> passIdx, "name" -> name, "start_ms" -> s,
        "end_ms" -> e, "ok" -> ok, "error" -> error, "attempts" -> counts.getOrElse(name, 0))
    }
  }

  /** Epoch milliseconds with nanosecond resolution (one clock for ops and
    * passes; Spark's own event times are epoch milliseconds). */
  final class Clock {
    private val baseMs = System.currentTimeMillis().toDouble
    private val baseNs = System.nanoTime()
    def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
  }

  /** Minimal JSON-lines writer. */
  final class Json(path: String) {
    private val w = new PrintWriter(Files.newBufferedWriter(Paths.get(path)))
    def value(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case '\r' => "\\r"; case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      case d: Double if d.isNaN || d.isInfinite => "null"
      case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
      case b: Boolean => b.toString
      case n: Int => n.toString
      case n: Long => n.toString
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
      case other => value(other.toString)
    }
    def line(kv: (String, Any)*): Unit = synchronized {
      w.println(kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}"))
    }
    def close(): Unit = w.close()
  }

  private def runStages(stages: Seq[Runner.Stage]): () => Seq[(String, Boolean, String)] =
    () => Runner.run(stages).map { r =>
      r.status match {
        case Runner.Succeeded => (r.name, true, "")
        case Runner.Failed(e) => (r.name, false, String.valueOf(e))
        case Runner.Skipped(why) => (r.name, false, s"skipped: $why")
      }
    }

  private def wrapStages(stages: Seq[Runner.Stage], rec: OpRecorder): Seq[Runner.Stage] =
    stages.map(s => s.copy()(rec.wrap(s.name)(s.run)))

  /** The reference DAG: every `PipelineMain` stage group through Runner. */
  final class EtlDag(spark: SparkSession, input: String, work: String) extends Workload {
    private val config = PipelineConfig.default
    def pass(idx: Int, rec: OpRecorder) = {
      val dir = s"$work/pass$idx"
      val landing = Files.createDirectories(Paths.get(s"$work/landing$idx"))
      config.entities.foreach(e => Files.writeString(landing.resolve(e.pattern), "placeholder\n"))
      val stages = PipelineMain.stagesFor(
        PipelineMain.stageGroups(spark, input, dir, landing.toString, config), None)
      val outs = Seq("raw_customer", "raw_orders", "staging_customer", "staging_orders",
        "quality_report", "curated_user_scd2", "curated_customer", "merged_orders")
        .map(n => n -> s"$dir/$n")
      (runStages(wrapStages(stages, rec)), outs)
    }
  }

  /** The LLM corpus build: `CorpusPipeline.stages` through Runner. */
  final class CorpusBuild(spark: SparkSession, input: String, work: String) extends Workload {
    def pass(idx: Int, rec: OpRecorder) = {
      val dir = s"$work/pass$idx"
      val outs = Seq("filtered", "deduped", "clean", "train")
        .map(n => n -> s"$dir/$n/documents.parquet") :+ ("packed" -> s"$dir/packed.parquet")
      (runStages(wrapStages(CorpusPipeline.stages(spark, input, dir), rec)), outs)
    }
  }

  /** Interleaved queries with a `noop` sink and Bench's blocking unpersist
    * between queries (outside the query's timed span). The warm-up pass
    * (pass 1, never measured) writes each full result as parquet instead,
    * for the output checks, and publishes the run-derived oracles. */
  final class QueryMix(spark: SparkSession, input: String, work: String,
                       names: Seq[String], clock: Clock, out: Json) extends Workload {
    private val fns = SparkEntry.benchQueries
    def pass(idx: Int, rec: OpRecorder) = {
      val check = idx == 1
      val run = () => names.map { name =>
        val body = rec.wrap(name)(() => {
          val df = fns(name)(spark, input)
          if (check) {
            df.coalesce(1).write.mode("overwrite").parquet(s"$work/check/$name")
            SparkEntry.markMaterialized(name, input)
          } else df.write.format("noop").mode("overwrite").save()
        })
        val res = try { body(); (name, true, "") }
        catch { case e: Throwable => (name, false, String.valueOf(e)) }
        val rdds = spark.sparkContext.getPersistentRDDs.size
        val u0 = clock.nowMs
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        out.line("kind" -> "unpersist", "pass" -> idx, "name" -> name,
          "rdds" -> rdds, "unpersist_s" -> (clock.nowMs - u0) / 1e3)
        res
      }
      (run, if (check) names.map(n => n -> s"$work/check/$n") else Seq.empty)
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, input, work, secondsArg, traceArg, outFile) = args.take(6)
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val clock = new Clock
    val out = new Json(outFile)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.tune(SparkSession.builder().master(s"local[$cores]"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.silenceBoundedWindowWarning()
    val tracer = if (trace) Some(new Tracer(spark, out)) else None
    val sessionMs = clock.nowMs

    val wl: Workload = workload match {
      case "etl_dag" => new EtlDag(spark, input, work)
      case "corpus_build" => new CorpusBuild(spark, input, work)
      case "query_mix" => new QueryMix(spark, input, work, args(6).split(",").toSeq, clock, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rec = new OpRecorder(spark, clock, out)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def codegen = (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

    def runPass(i: Int): Double = {
      rec.startPass(i)
      val (run, outs) = wl.pass(i, rec)
      val (n0, c0) = codegen
      val cpu0 = os.getProcessCpuTime
      val t0 = clock.nowMs
      val results = run()
      val t1 = clock.nowMs
      val cpu1 = os.getProcessCpuTime
      val (n1, c1) = codegen
      // pipelines leave their checkpointed frames behind: drop them
      // outside the timed pass, as query_mix does between queries
      val rdds = spark.sparkContext.getPersistentRDDs.size
      val u0 = clock.nowMs
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val unpersistS = (clock.nowMs - u0) / 1e3
      results.foreach { case (name, ok, err) => rec.emit(name, ok, err) }
      out.line("kind" -> "pass", "pass" -> i, "start_ms" -> t0, "end_ms" -> t1,
        "wall_s" -> (t1 - t0) / 1e3, "cpu_s" -> (cpu1 - cpu0) / 1e9,
        "compiles" -> (n1 - n0), "compile_s" -> (c1 - c0) / 1e9,
        "rdds" -> rdds, "unpersist_s" -> unpersistS,
        "outputs" -> outs.map { case (n, d) => Map("name" -> n, "dir" -> d) })
      t1
    }

    val coldEnd = runPass(0)
    out.line("kind" -> "setup", "setup_s" -> (coldEnd - jvmStartMs) / 1e3,
      "session_s" -> (sessionMs - jvmStartMs) / 1e3, "cores" -> cores)
    val deadline = clock.nowMs + seconds * 1e3
    // pass 1 is a warm-up (JIT still compiling); at least two more follow
    var i = 1
    while (i <= 3 || clock.nowMs < deadline) { runPass(i); i += 1 }

    val heapMb = (1 to 3).map { _ =>
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    out.line("kind" -> "heap", "mb" -> heapMb)
    val oracles = SparkEntry.oracleSql ++ PipelineConfig.default.entities
      .map(e => s"raw_${e.name}" -> Ingest.entityOracle(e))
    out.line("kind" -> "oracles", "sql" -> oracles)
    tracer.foreach(_.finish())
    out.close()
    spark.stop()
  }
}
