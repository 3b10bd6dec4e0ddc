package graft

import graft.meta.{MetaLoader, Schedule}
import org.apache.spark.sql.SparkSession

import java.time.Instant

/**
 * Scheduled-pipeline driver — the reference's Airflow DAG without the
 * orchestrator (reference: dags/motor_pipeline_dag.py:1-60). Reads the
 * pipeline spec's `schedule` block, computes every due logical run
 * from the last-completed state ([[meta.Schedule.dueRuns]] — catchup
 * included), binds each run's `${run_date}`-style templates into the
 * flow's source/sink paths, executes runs oldest-first, and records
 * each completion before starting the next, so a crash resumes
 * exactly where it stopped.
 *
 * Usage (from cron, CI, or a shell loop — any trigger works because
 * the catchup math, not the trigger cadence, decides what runs):
 *
 *   runMain graft.ScheduleRunner <metadata.json> <state-file> \
 *       [dataflowName] [--now=ISO_INSTANT] [--dry-run]
 *
 * `--now` pins the wall clock (tests/backfill rehearsal); `--dry-run`
 * logs the bound runs without executing. Run reports go to log4j
 * (`graft.ScheduleRunner`, INFO; WARN for stolen locks and failures),
 * which the CLI keeps at INFO. See examples/scheduled_delta.json for
 * the canonical daily-delta flow.
 */
object ScheduleRunner {
  private lazy val log = org.apache.logging.log4j.LogManager.getLogger("graft.ScheduleRunner")

  /** Renders the runs a failing trigger already executed (they are
    * committed in the state file; only the return value is lost to a
    * rethrow) for inclusion in the exception message. */
  private def executedNote(runs: Seq[Instant]): String =
    if (runs.isEmpty) ""
    else runs.mkString(" [executed this trigger before the failure: ", ", ", "]")

  /** Compute + execute due runs; returns the logical times that
    * actually executed (a run waiting out its retry_delay, and every
    * later run behind it, is excluded — runs execute strictly in
    * order because `${prev_run_date}` chains them).
    *
    * Failure semantics mirror the reference DAG's
    * `retries`/`retry_delay` (dags/motor_pipeline_dag.py:13-14),
    * trigger-driven instead of daemon-driven: a failed run records
    * (logical, attempts, lastFail) crash-safely next to the
    * completion state, and a later trigger re-attempts it only once
    * `retry_delay_minutes` has elapsed — the runner never sleeps, the
    * catchup math decides. When attempts exceed `retries` the runner
    * rethrows (Airflow's terminal `failed` state: fixing the cause
    * and clearing the `failed` state line is the manual re-run). */
  def runDue(spark: SparkSession, metadataPath: String, statePath: String,
             dataflowName: Option[String], now: Instant,
             dryRun: Boolean = false): Seq[Instant] = {
    // CONCURRENCY GUARD (Airflow's max_active_runs=1): an atomic lock
    // claim beside the state file — two overlapping triggers (cron
    // overlap, a manual run racing cron) would otherwise both read
    // "due" and double-execute the same logical runs against the same
    // sinks. The loser NO-OPS (returns empty — the catchup math makes
    // the next trigger pick up whatever remains), it never queues.
    // A lock left by a crashed holder is stolen once it is older than
    // [[StaleLockMinutes]] (logged); dry-run takes no lock — a
    // rehearsal must always be able to list.
    if (dryRun) return runDueLocked(spark, metadataPath, statePath,
      dataflowName, now, dryRun)
    // lock + state ride the state path's LogStore — scheme-qualified
    // state files (hdfs://…) claim through the Hadoop store's atomic
    // create-new, bare paths keep java.nio semantics
    val store = graft.operators.LogStore.forPath(statePath)
    val lock = statePath + ".lock"
    val slash = lock.lastIndexOf('/')
    if (slash > 0) store.mkdirs(lock.substring(0, slash))
    def tryClaim(): Boolean = store.createNew(lock)
    var claimed = tryClaim()
    if (!claimed) {
      val ageMin =
        try java.time.Duration.between(
          java.time.Instant.ofEpochMilli(store.modifiedTime(lock)),
          Instant.now()).toMinutes
        catch { case _: java.io.IOException => 0L } // holder just released
      if (ageMin >= StaleLockMinutes) {
        // steal = delete + reclaim; the createNew retry keeps the
        // steal atomic when two triggers race for the same stale lock
        log.warn(s"[schedule] deleting stale lock $lock (${ageMin}m old — " +
          "holder presumed crashed)")
        try store.delete(lock) catch { case _: java.io.IOException => () }
        claimed = tryClaim()
      }
      if (!claimed) {
        log.info(s"[schedule] another trigger holds $lock — " +
          "skipping (max_active_runs=1)")
        return Nil
      }
    }
    try runDueLocked(spark, metadataPath, statePath, dataflowName, now, dryRun)
    finally if (claimed) { store.delete(lock); () }
  }

  /** A crashed trigger's lock is considered stale after this long. */
  val StaleLockMinutes = 360L

  private def runDueLocked(spark: SparkSession, metadataPath: String,
                           statePath: String, dataflowName: Option[String],
                           now: Instant, dryRun: Boolean): Seq[Instant] = {
    val pipeline = MetaLoader.loadFile(metadataPath)
    val sched = pipeline.schedule.getOrElse(throw new IllegalArgumentException(
      s"$metadataPath has no 'schedule' block"))
    val flow0 = dataflowName.map(pipeline.dataflow)
      .getOrElse(pipeline.dataflows.head)
    val state = statePath
    var st = Schedule.readFullState(state)
    val due = Schedule.dueRuns(sched, st.lastCompleted, now)
    val executed = Seq.newBuilder[Instant]
    var halted = false
    due.foreach { t =>
      if (!halted) {
        val prior = st.failure.filter(_.logical == t)
        // exhausted failures are TERMINAL until manually cleared —
        // without this gate every later trigger would re-execute the
        // broken run (and its partial sink writes) forever. Dry-run
        // REPORTS the terminal state instead of crashing: a rehearsal
        // must keep listing, never execute or throw.
        prior.filter(_.attempts > sched.retries).foreach { f =>
          if (dryRun) {
            log.warn(s"[schedule] run logical=$t is FAILED terminal " +
              s"(${f.attempts} attempts, retries=${sched.retries}); " +
              s"clear the 'failed' line in $statePath to re-run (dry-run)")
            halted = true
          } else throw new RuntimeException(
            s"schedule: run $t already failed ${f.attempts} times with " +
              s"retries=${sched.retries} exhausted; fix the cause and " +
              s"clear the 'failed' line in $statePath to re-run" +
              executedNote(executed.result()))
        }
        val readyAt = prior.map(_.lastFail.plus(
          java.time.Duration.ofMinutes(sched.retryDelayMinutes)))
        if (halted) {
          // terminal failure reported above (dry-run): skip execution
        } else if (readyAt.exists(now.isBefore)) {
          log.info(s"[schedule] run logical=$t waits for retry_delay " +
            s"(attempt ${prior.get.attempts + 1} ready at ${readyAt.get})")
          halted = true
        } else {
          val bound = Schedule.bind(flow0, t, sched.interval)
          log.info(s"[schedule] run logical=$t flow='${bound.name}'" +
            prior.map(f => s" retry attempt ${f.attempts + 1}").getOrElse("") +
            (if (dryRun) " (dry-run)" else ""))
          if (!dryRun) {
            try {
              Dataflow.run(spark, bound)
              st = Schedule.SchedState(Some(t), None)
              Schedule.writeFullState(state, st)
              executed += t
            } catch {
              case scala.util.control.NonFatal(e) =>
                val attempts = prior.map(_.attempts).getOrElse(0) + 1
                st = st.copy(failure =
                  Some(Schedule.RunFailure(t, attempts, now)))
                Schedule.writeFullState(state, st)
                if (attempts > sched.retries)
                  // earlier due runs in this trigger DID execute and
                  // commit state; the rethrow loses the returned Seq,
                  // so carry them in the message (and the log) for the
                  // caller's post-mortem
                  throw new RuntimeException(
                    s"schedule: run $t failed on attempt $attempts with " +
                      s"retries=${sched.retries} exhausted; fix the cause and " +
                      s"clear the 'failed' line in $statePath to re-run" +
                      executedNote(executed.result()), e)
                log.warn(s"[schedule] run logical=$t failed " +
                  s"(attempt $attempts of ${sched.retries + 1}): " +
                  s"${e.getMessage}; retrying after " +
                  s"${sched.retryDelayMinutes}m")
                halted = true
            }
          } else executed += t
        }
      }
    }
    if (due.isEmpty) log.info("[schedule] nothing due")
    executed.result()
  }

  def main(argsIn: Array[String]): Unit = {
    val now = argsIn.collectFirst { case a if a.startsWith("--now=") =>
      Instant.parse(a.stripPrefix("--now=")) }.getOrElse(Instant.now())
    val dryRun = argsIn.contains("--dry-run")
    val args = argsIn.filterNot(_.startsWith("--"))
    require(args.length >= 2,
      "usage: ScheduleRunner <metadata.json> <state-file> [dataflowName] [--now=ISO] [--dry-run]")
    val spark = GraftSession.local("graft-schedule")
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "graft.ScheduleRunner", org.apache.logging.log4j.Level.INFO)
    try runDue(spark, args(0), args(1), args.lift(2), now, dryRun)
    finally spark.stop()
  }
}
