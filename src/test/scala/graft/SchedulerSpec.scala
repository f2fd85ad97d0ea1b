package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.uber.Scheduler.{Schedule, ScheduledRunner}

/** The in-engine schedule policy under a fake clock: tick alignment,
  * missed-tick coalescing, idempotent polls, restart-safe state. Pure
  * logic — no SparkSession needed.
  */
class SchedulerSpec extends AnyFunSuite {

  test("ticks align to anchor + k*period") {
    val s = Schedule(periodMs = 100L, anchorMs = 1000L)
    assert(s.currentTick(999L) == -1L)   // before the anchor: nothing due
    assert(s.currentTick(1000L) == 0L)
    assert(s.currentTick(1099L) == 0L)
    assert(s.currentTick(1100L) == 1L)
    assert(s.tickTime(3L) == 1300L)
  }

  test("poll runs once per due tick and coalesces everything missed") {
    var now = 0L
    var runs = List.empty[Long]
    val r = new ScheduledRunner(Schedule(100L), runs ::= _, () => now)
    assert(r.pollOnce().contains(0L)) // tick 0 due immediately at the anchor
    assert(r.pollOnce().isEmpty)      // idempotent within the period
    now = 150L
    assert(r.pollOnce().contains(1L))
    now = 960L                        // "down" across ticks 2..9
    assert(r.pollOnce().contains(9L)) // ONE catch-up run at the latest tick
    assert(r.pollOnce().isEmpty)
    assert(runs.reverse == List(0L, 1L, 9L))
  }

  test("state file survives a restart inside the period") {
    val state = Files.createTempDirectory("sched").toString + "/_schedule_state"
    var now = 250L
    val a = new ScheduledRunner(Schedule(100L), _ => (), () => now, Some(state))
    assert(a.pollOnce().contains(2L))
    // a NEW instance (process restart) inside the same period: no re-run
    val b = new ScheduledRunner(Schedule(100L), _ => (), () => now, Some(state))
    assert(b.pollOnce().isEmpty)
    now = 300L // next tick fires normally after the restart
    assert(b.pollOnce().contains(3L))
  }

  test("a failing build does not advance the schedule state") {
    var now = 0L
    var attempts = 0
    val r = new ScheduledRunner(Schedule(100L), { _ =>
      attempts += 1
      if (attempts == 1) sys.error("transient build failure")
    }, () => now)
    intercept[RuntimeException](r.pollOnce())
    assert(r.pollOnce().contains(0L)) // same tick retries after the failure
    assert(attempts == 2)
  }

  test("an empty or torn state file is refused, naming the file, not read as no tick completed") {
    val state = Files.createTempDirectory("sched_torn").toString + "/_schedule_state"
    val now = 1250L
    var runs = 0
    new ScheduledRunner(Schedule(100L), _ => runs += 1, () => now, Some(state)).pollOnce()
    assert(runs == 1)
    val whole = Files.readAllBytes(Paths.get(state))
    // a writer that died before its first byte, and one cut after it
    Seq(0, 1).foreach { n =>
      Files.write(Paths.get(state), whole.take(n))
      val e = intercept[IllegalArgumentException](
        new ScheduledRunner(Schedule(100L), _ => runs += 1, () => now, Some(state)))
      assert(e.getMessage.contains(state), s"file not named: ${e.getMessage}")
    }
    assert(runs == 1, "a torn state file re-ran the build")
  }
}
