package graft.pipeline

import scala.collection.mutable
import scala.util.Try

/** Minimal DAG runner: topological stage execution with fail-fast.
  *
  * Re-expresses the reference's Airflow TaskGroup chain
  * (/root/reference/dags/pipeline_orchestration_dag.py:212): stages declare
  * dependencies, run one at a time in topological order, and a failure
  * skips every transitive dependent while unrelated stages still run —
  * the same fail-fast semantics an Airflow DAG gives the reference. Per-stage
  * `retries`/`retryDelayMs` and the `onFailure` callback mirror the
  * reference's default_args (`retries`, `retry_delay`,
  * `email_on_failure` — pipeline_orchestration_dag.py:31-35).
  */
object Runner {

  /** A pipeline stage. `retries` = additional attempts after the first
    * failure (Airflow semantics); `retryDelayMs` sleeps between attempts;
    * `timeoutMs` > 0 bounds EACH attempt's wall-clock (the analog of the
    * reference's per-task `execution_timeout`,
    * /root/reference/dags/pipeline_orchestration_dag.py:36) — a hung
    * attempt is interrupted and counts as a failure, so it retries like
    * any other error and exhausts into Failed(TimeoutException). */
  final case class Stage(name: String, deps: Seq[String] = Seq.empty,
                         retries: Int = 0, retryDelayMs: Long = 0L,
                         timeoutMs: Long = 0L)(val run: () => Unit)

  sealed trait Status
  case object Succeeded extends Status
  final case class Failed(error: Throwable) extends Status
  final case class Skipped(because: String) extends Status

  final case class StageResult(name: String, status: Status)

  /** No-op failure hook (the default). */
  val noFailureHook: (String, Throwable) => Unit = (_, _) => ()

  /** Overlap policy for NAMED pipeline runs — the analog of the
    * reference's `max_active_runs=1`
    * (/root/reference/dags/pipeline_orchestration_dag.py:70): Airflow
    * never lets two runs of one DAG execute concurrently, because the
    * stages write shared outputs (staging tables, archive moves) that
    * interleaved runs would corrupt. */
  sealed trait OverlapPolicy
  /** A second run of the same pipeline WAITS for the active one to finish
    * (Airflow's queued dagrun), then runs. FIFO-fair. */
  case object QueueRun extends OverlapPolicy
  /** A second run of the same pipeline fails immediately with
    * [[ConcurrentRunException]] — for schedulers that treat an overlap as
    * the error it usually is (the previous tick overran its interval). */
  case object FailFast extends OverlapPolicy

  final class ConcurrentRunException(msg: String) extends RuntimeException(msg)

  /** One lock per pipeline name, created on first use and retained (names
    * are config-sized, never data-sized). ReentrantLock: a stage that
    * launches a nested run of its OWN pipeline on the same thread
    * re-enters rather than deadlocking. */
  private val activePipelines =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.locks.ReentrantLock]()

  private def withRunLock[T](pipeline: String, policy: OverlapPolicy)(body: => T): T = {
    val lock = activePipelines.computeIfAbsent(pipeline,
      _ => new java.util.concurrent.locks.ReentrantLock(true))
    policy match {
      case QueueRun => lock.lock()
      case FailFast =>
        if (!lock.tryLock())
          throw new ConcurrentRunException(
            s"pipeline '$pipeline' already has an active run (max_active_runs=1)")
    }
    try body finally lock.unlock()
  }

  /** [[run]] guarded by `pipeline`'s non-overlap lock: concurrent runs of
    * the same name serialize (QueueRun) or fail fast; different names
    * never block each other. */
  def run(pipeline: String, policy: OverlapPolicy, stages: Seq[Stage],
          onFailure: (String, Throwable) => Unit): Seq[StageResult] =
    withRunLock(pipeline, policy)(run(stages, onFailure))

  def run(pipeline: String, policy: OverlapPolicy, stages: Seq[Stage]): Seq[StageResult] =
    run(pipeline, policy, stages, noFailureHook)

  /** Thrown when a timed-out stage body refuses to die: retrying would
    * run two attempts CONCURRENTLY against the same outputs, so this
    * failure is never retried. */
  final class StageWedgedException(msg: String) extends RuntimeException(msg)

  /** One attempt of the stage body, honoring `timeoutMs`. On timeout the
    * body's daemon thread is interrupted and then given a bounded grace
    * period to actually terminate — a retry MUST NOT start while the old
    * attempt is still running (two writers racing on the same output
    * paths), so a body that survives interrupt (rare: most Spark actions
    * abort on it) surfaces as the non-retryable [[StageWedgedException]]
    * rather than a concurrent duplicate execution. The body catches ALL
    * Throwables itself: `Try`'s NonFatal filter would let the
    * InterruptedException of a cancelled attempt escape as stderr noise
    * on the daemon thread. */
  private def runBounded(s: Stage): Try[Unit] =
    if (s.timeoutMs <= 0) Try(s.run())
    else {
      val result = new java.util.concurrent.atomic.AtomicReference[Try[Unit]]()
      val t = new Thread(() => {
        result.set(try { s.run(); scala.util.Success(()) }
                   catch { case e: Throwable => scala.util.Failure(e) })
      }, s"stage-${s.name}")
      t.setDaemon(true)
      t.start()
      t.join(s.timeoutMs)
      if (result.get() == null) {
        t.interrupt()
        // grace to let the interrupt land: seconds, NOT another copy of
        // the (possibly hours-long) stage timeout
        t.join(math.min(math.max(1000L, s.timeoutMs), 30000L))
        if (t.isAlive)
          scala.util.Failure(new StageWedgedException(
            s"stage ${s.name} exceeded ${s.timeoutMs}ms and ignored interrupt; not retrying"))
        else result.get() match {
          case r @ scala.util.Success(_) =>
            // finished during the grace window — honor the completed work
            // instead of re-running a stage whose outputs already landed
            r
          case scala.util.Failure(cause) =>
            // the attempt DID terminate during grace, with an error (the
            // interrupt landing, or a real failure racing the timeout) —
            // keep that root cause on the timeout instead of discarding
            // it: logs and the onFailure hook need the actual reason
            val te = new java.util.concurrent.TimeoutException(
              s"stage ${s.name} exceeded ${s.timeoutMs}ms (attempt terminated with: $cause)")
            te.initCause(cause)
            scala.util.Failure(te)
          case null =>
            scala.util.Failure(new java.util.concurrent.TimeoutException(
              s"stage ${s.name} exceeded ${s.timeoutMs}ms"))
        }
      } else result.get()
    }

  /** Run one stage with its retry budget; `onFailure` fires once, after
    * the last attempt fails (the analog of email_on_failure, not a
    * per-retry notification). */
  private def attempt(s: Stage, onFailure: (String, Throwable) => Unit): Status = {
    var tries = 0
    while (true) {
      runBounded(s) match {
        case scala.util.Success(_) => return Succeeded
        case scala.util.Failure(e) =>
          tries += 1
          // a wedged body is still RUNNING — a retry would execute
          // concurrently with it, so the retry budget does not apply
          if (tries > s.retries || e.isInstanceOf[StageWedgedException]) {
            Try(onFailure(s.name, e)) // a broken hook must not mask the failure
            return Failed(e)
          }
          if (s.retryDelayMs > 0) Thread.sleep(s.retryDelayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Run stages one at a time in Kahn order; results come back in that
    * order. Throws IllegalArgumentException on an unknown dep or a cycle
    * (a mis-declared DAG is a bug, not a runtime failure).
    * `onFailure(stage, error)` fires once per stage whose retry budget is
    * exhausted. */
  def run(stages: Seq[Stage],
          onFailure: (String, Throwable) => Unit = noFailureHook): Seq[StageResult] = {
    val byName = stages.map(s => s.name -> s).toMap
    stages.foreach(s => s.deps.foreach(d =>
      require(byName.contains(d), s"stage ${s.name}: unknown dep $d")))

    // Kahn topological order, stable by declaration order.
    val indeg = mutable.Map(stages.map(s => s.name -> s.deps.size): _*)
    val order = mutable.ArrayBuffer.empty[Stage]
    val ready = mutable.Queue(stages.filter(_.deps.isEmpty): _*)
    while (ready.nonEmpty) {
      val s = ready.dequeue()
      order += s
      stages.filter(_.deps.contains(s.name)).foreach { dep =>
        indeg(dep.name) -= 1
        if (indeg(dep.name) == 0) ready.enqueue(dep)
      }
    }
    require(order.size == stages.size,
      s"cycle among: ${stages.map(_.name).diff(order.map(_.name).toSeq).mkString(",")}")

    val status = mutable.Map.empty[String, Status]
    order.foreach { s =>
      val badDep = s.deps.find(d => status(d) != Succeeded)
      status(s.name) = badDep match {
        case Some(d) => Skipped(s"dep $d did not succeed")
        case None => attempt(s, onFailure)
      }
    }
    order.map(s => StageResult(s.name, status(s.name))).toSeq
  }
}

/** Schedule/catchup semantics for [[Runner]] pipelines — the analog of
  * the reference's `schedule_interval` + `catchup=False` declaration
  * (/root/reference/dags/pipeline_orchestration_dag.py:69-71), made an
  * explicit, clock-injected function instead of daemon infrastructure
  * (Composer's scheduler process is not in the reference repo either;
  * what IS reference behavior is which logical runs execute after a
  * gap, and that is what this pins down).
  *
  * Airflow semantics reproduced exactly:
  *  - a tick becomes DUE when its interval CLOSES (the run stamped
  *    logical time T executes at T + interval);
  *  - `catchup=false` collapses a backlog to ONLY the latest due tick
  *    — the earlier ones are reported as `skipped`, which is precisely
  *    the request list p20's backfill plan consumes;
  *  - `catchup=true` owes every missed tick in order (a backfill).
  * Test-only component (SURVEY test-only list); `PipelineSpec` pins
  * the tick arithmetic, both catchup regimes, idempotence under
  * repeated polls, and the non-overlap guard carrying through. */
object Schedule {

  /** Immutable scheduler state: `epochMs` anchors the tick grid,
    * `lastLogicalMs` is the logical time of the newest EXECUTED run
    * (epochMs - intervalMs if none yet — i.e. the first tick due is
    * epoch + interval, Airflow's first-interval-close rule). */
  final case class State(intervalMs: Long, catchup: Boolean,
                         epochMs: Long, lastLogicalMs: Long)

  def init(intervalMs: Long, catchup: Boolean, epochMs: Long): State = {
    require(intervalMs > 0, "interval must be positive")
    State(intervalMs, catchup, epochMs, epochMs - intervalMs)
  }

  /** One poll at wall-clock `nowMs`: the logical times to run NOW and
    * the ones a no-catchup schedule abandons (oldest first), plus the
    * advanced state. A tick with logical time T is due iff
    * T + interval <= now and T > lastLogical. Polling twice at the
    * same `nowMs` owes nothing the second time (idempotent). */
  def poll(st: State, nowMs: Long): (State, Seq[Long], Seq[Long]) = {
    val due = Iterator.iterate(st.lastLogicalMs + st.intervalMs)(_ + st.intervalMs)
      .takeWhile(t => t + st.intervalMs <= nowMs).toSeq
    if (due.isEmpty) (st, Seq.empty, Seq.empty)
    else {
      val (run, skipped) =
        if (st.catchup) (due, Seq.empty[Long]) else (Seq(due.last), due.init)
      (st.copy(lastLogicalMs = due.last), run, skipped)
    }
  }

  /** Poll-and-execute: runs each due tick's stages through [[Runner]]
    * under the pipeline's non-overlap guard (QueueRun — Airflow's
    * queued dagrun), oldest first, threading the logical run time into
    * the stage builder the way Airflow templates `ds` into operators.
    * Returns (advanced state, per-executed-tick results, skipped
    * logical times for the backfill planner). */
  def runDue(pipeline: String, st: State, nowMs: Long,
             stagesFor: Long => Seq[Runner.Stage],
             onFailure: (String, Throwable) => Unit = Runner.noFailureHook)
      : (State, Seq[(Long, Seq[Runner.StageResult])], Seq[Long]) = {
    val (st2, run, skipped) = poll(st, nowMs)
    val results = run.map(t =>
      t -> Runner.run(pipeline, Runner.QueueRun, stagesFor(t), onFailure))
    (st2, results, skipped)
  }
}
