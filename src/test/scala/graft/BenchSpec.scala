package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's ambient-load escalation policy (round-15 item:
  * two consecutive driver benches were destroyed by host contention;
  * the bench must escalate to best-of-3 by itself, while an explicit
  * SPARK_GRAFT_BENCH_RUNS stays authoritative).
  */
class BenchSpec extends AnyFunSuite {

  test("explicit SPARK_GRAFT_BENCH_RUNS wins and is never auto-escalated") {
    assert(Bench.initialRuns(Some("1"), load1m = 30.0) == ((1, false)))
    assert(Bench.initialRuns(Some("5"), load1m = 0.0) == ((5, false)))
    assert(Bench.initialRuns(Some("0"), load1m = 0.0) == ((1, false))) // floor at 1
  }

  test("no env: idle host stays best-of-1, loaded host escalates to best-of-3") {
    assert(Bench.initialRuns(None, load1m = 0.3) == ((1, false)))
    assert(Bench.initialRuns(None, load1m = Bench.AmbientLoadThreshold) == ((1, false)))
    assert(Bench.initialRuns(None, load1m = 2.1) == ((Bench.AutoRuns, true)))
    assert(Bench.initialRuns(None, load1m = 6.4) == ((Bench.AutoRuns, true))) // r14 driver
    assert(Bench.initialRuns(None, load1m = 2.6) == ((Bench.AutoRuns, true))) // r13 driver
  }

  test("ambient estimate subtracts this JVM's own core occupancy") {
    // 32-thread sweep fully busy for the whole run: 32 cores of the
    // load are ours; only the remainder is ambient.
    val nsPerSec = 1000000000L
    assert(Bench.ambientEstimate(33.0, 32L * nsPerSec, nsPerSec) == 1.0)
    // idle machine, load entirely self-inflicted -> clamps at 0
    assert(Bench.ambientEstimate(8.0, 10L * nsPerSec, nsPerSec) == 0.0)
    // CPU accounting unavailable (-1): conservative, no subtraction
    assert(Bench.ambientEstimate(3.0, -1L, nsPerSec) == 3.0)
  }

  test("a run that throws gives no time sample and lists its query as failed") {
    assert(Bench.timed(()).exists(_ >= 0.0))
    val boom = new RuntimeException("injected")
    assert(Bench.timed(throw boom) == Left(boom))
    val runs: Seq[Map[String, Either[Throwable, Double]]] = Seq(
      Map("a" -> Right(0.5), "b" -> Left(boom), "c" -> Left(boom)),
      Map("a" -> Right(0.4), "b" -> Left(boom), "c" -> Right(0.2)))
    val (best, failed) = Bench.summarize(Seq("c", "a", "b"), runs)
    // c's fast-failing run is not its best time; b never succeeded
    assert(best == Seq("c" -> Some(0.2), "a" -> Some(0.4), "b" -> None))
    assert(failed == Seq("c", "b"))
    // compact qv: name order, milliseconds, -1 for no successful run
    assert(Bench.compactQv(best) == Seq(400L, -1L, 200L))
  }
}
