package graft.uber

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.GraftSession
import graft.sources.DurableRecord

/** In-engine scheduling — the Dagster `ScheduleDefinition` equivalent the
  * reference runs out-of-process (reference `Dagster_Files/definitions.py:
  * 16-20`: `all_assets` on `@daily`; SURVEY §2.10 previously declared cron
  * out-of-process, which the round-3 verdict listed as the one orchestration
  * gap a migrating user would notice).
  *
  * The policy core is pure and clock-injected (unit-tested with a fake
  * clock); the daemon main is one line of wiring. Semantics a real
  * scheduler needs and `cron` does not give:
  *
  *  - **tick alignment**: runs are due at anchor + k*period (calendar
  *    ticks), not "period after whenever the process started";
  *  - **catch-up coalescing**: if the process was down across N due ticks,
  *    the next poll runs ONCE — the build is an idempotent full rebuild
  *    (dbt-style), so replaying each missed tick is pure waste;
  *  - **skip-while-running**: ticks arriving mid-build coalesce into at
  *    most one follow-up run, never a queue;
  *  - **restart-safe state**: the last completed tick is a published
  *    [[DurableRecord]] next to the output (`_schedule_state`), so a
  *    restart inside the period does not re-run, and a torn state file is
  *    refused at startup rather than read as "no tick completed".
  */
object Scheduler {

  /** Tick arithmetic for a fixed-period schedule anchored at `anchorMs`
    * (epoch ms). A tick k is "due" once now >= anchor + k*period.
    */
  final case class Schedule(periodMs: Long, anchorMs: Long = 0L) {
    require(periodMs > 0)

    /** Index of the latest due tick at `nowMs` (-1 before the anchor). */
    def currentTick(nowMs: Long): Long =
      if (nowMs < anchorMs) -1L else (nowMs - anchorMs) / periodMs

    /** Epoch ms at which tick k fires. */
    def tickTime(k: Long): Long = anchorMs + k * periodMs
  }

  /** Drives `build` from `clock` under `schedule`, remembering the last
    * completed tick in `stateFile` (when given). One instance = one
    * single-threaded poll loop, so skip-while-running holds by
    * construction: a poll that arrives while build() is executing simply
    * happens after it, sees at most one newer tick, and coalesces
    * everything missed into that single run.
    */
  final class ScheduledRunner(
      schedule: Schedule,
      build: Long => Unit,
      clock: () => Long = () => System.currentTimeMillis(),
      stateFile: Option[String] = None) {

    private val state = stateFile.map(f => (new Configuration(), new Path(f)))

    private var lastCompleted: Long = state.flatMap { case (conf, p) =>
      DurableRecord.read(conf, p, s"rewrite it as the last completed tick " +
        s"and a ${DurableRecord.Terminator} line")
    }.fold(-1L)(_.head.toLong)

    /** Run the build iff a newer tick than the last completed one is due.
      * All missed ticks coalesce: the build runs once, stamped with the
      * LATEST due tick. Returns the tick that ran, if any.
      */
    def pollOnce(): Option[Long] = {
      val due = schedule.currentTick(clock())
      if (due > lastCompleted) {
        build(due)
        lastCompleted = due
        state.foreach { case (conf, p) => DurableRecord.publish(conf, p, Seq(due.toString)) }
        Some(due)
      } else None
    }

    /** Daemon loop: poll, then sleep until the next tick boundary (capped
      * so clock jumps are noticed within `maxSleepMs`). Runs until
      * `stop()` is observed.
      */
    @volatile private var stopped = false
    def stop(): Unit = stopped = true

    def runLoop(maxSleepMs: Long = 60000L): Unit = {
      while (!stopped) {
        // a failed build leaves the tick un-advanced (pollOnce writes
        // state only after success) and the DAEMON alive: the next poll
        // retries the same tick — rebuilds are idempotent
        try pollOnce()
        catch { case e: Exception =>
          System.err.println(s"[schedule] build failed, will retry: ${e.getMessage}")
        }
        val next = schedule.tickTime(schedule.currentTick(clock()) + 1)
        val sleep = math.max(0L, math.min(next - clock(), maxSleepMs))
        Thread.sleep(sleep)
      }
    }
  }

  /** Daemon CLI: Scheduler <csvDir> <warehouseDir> <outDir> [periodMs].
    * Each tick = the full `dbt build` equivalent (ingest → checks →
    * models, Runner.runAll), which writes the layout increments apply to
    * (applying new increment files in place of the rebuild is not wired
    * here yet); a failed check aborts the build before any model is
    * written, and the daemon logs it and retries the same tick because
    * the build is an idempotent rebuild.
    */
  def main(args: Array[String]): Unit = {
    val Array(csvDir, warehouseDir, outDir, rest @ _*) = args
    val periodMs = rest.headOption.map(_.toLong).getOrElse(24L * 3600 * 1000)
    val spark = GraftSession.local("uber-pipeline-daemon")
    val runner = new ScheduledRunner(
      Schedule(periodMs),
      build = { tick =>
        println(s"[schedule] tick $tick: building")
        val counts = Runner.runAll(spark, csvDir, warehouseDir, outDir)
        println(s"[schedule] tick $tick: done ${counts.values.sum} rows")
      },
      stateFile = Some(s"$outDir/_schedule_state"))
    runner.runLoop()
  }
}
