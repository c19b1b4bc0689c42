package graft

import graft.ScalingEstimator._
import org.scalatest.funsuite.AnyFunSuite

/** The scaling-measurement protocol itself, driven with injected (fake and
  * historical) timings — including the recorded BENCH_r03, r04 and r05
  * windows. The estimator must be HONEST: it may not manufacture a passing
  * number out of a window that never exhibited scaling, and a value that
  * rests on a contaminated floor must carry `certified = false`; the
  * protocol's robustness comes from cheap adaptive sampling that hunts for
  * kernel-clean floors, not from estimator arithmetic. */
class BenchProtocolSpec extends AnyFunSuite {

  private def near(x: Double, want: Double, tol: Double = 0.001) =
    math.abs(x - want) < tol

  /** The exact rep sequence the driver recorded in BENCH_r03 (8M events,
    * cores 2 vs 8, min-of-K read 0.447): six interleaved rounds plus one
    * extra 8-core sample. ext load was not measured then → -1. */
  private val r03: Seq[Rep] = {
    val pairs = Seq( // (secs2, secs8) per interleaved round
      (110.14, 97.43), (64.21, 56.20), (78.21, 35.90),
      (65.75, 67.09), (76.29, 40.54), (89.07, 93.99))
    pairs.zipWithIndex.flatMap { case ((s2, s8), i) =>
      Seq(Rep(2, s2, -1, i + 1), Rep(8, s8, -1, i + 1))
    } :+ Rep(8, 133.95, -1, 7)
  }

  test("r03 window: estimators stay honest (no estimator inflates a never-scaled window)") {
    val e = estimate(r03, 2, 8)
    // the window genuinely never exhibited scaling: min-of-K reads 0.447,
    // and with no ext measurement no floor is kernel-clean
    assert(near(e.efficiency, 0.447), s"min-of-k ${e.efficiency}")
    assert(!e.certified)
    assert(!e.superlinear)
  }

  /** The builder's same-HEAD clean-window legs (BASELINE.md run i):
    * 55.12 s @ 2c and 17.14 s @ 8c, added to the r03 window. */
  private val r03Clean: Seq[Rep] =
    r03 ++ Seq(Rep(2, 55.12, 0.1, 8), Rep(8, 17.14, 0.05, 8))

  test("a single kernel-clean pair repairs the estimate the r03 window was missing") {
    // had the adaptive sampler caught ONE clean pair inside the driver
    // window, the estimate recovers AND is certified: both floors are
    // the clean reps
    val e = estimate(r03Clean, 2, 8)
    assert(near(e.efficiency, 0.804), s"min-of-k ${e.efficiency}")
    assert(e.certified)
    assert(e.floors(2).secs == 55.12 && e.floors(8).secs == 17.14)
  }

  /** Both legs of round 1 inflated ~27% by sustained external pressure
    * (ratio preserved); round 2's 8-core leg alone hit a spike. */
  private val steadyPressure: Seq[Rep] = Seq(
    Rep(2, 70.0, 2.0, 1), Rep(8, 21.7, 2.0, 1),  // steady window
    Rep(2, 56.0, 0.1, 2), Rep(8, 40.0, 6.0, 2))  // N clean, M spiked

  test("steady-pressure window: min-of-K reads low and stays uncertified on a dirty 8-core floor") {
    // min-of-K pairs round 2's clean N with round 1's pressured M across
    // windows and under-reads; the 8-core floor (ext 2.0) is not clean,
    // so the value is uncertified and the ADAPTIVE phase would keep
    // sampling the 8-core leg
    val e = estimate(steadyPressure, 2, 8)
    assert(near(e.efficiency, (56.0 / 21.7) / 4), s"min-of-k ${e.efficiency}")
    assert(e.efficiency < 0.7)
    assert(!isClean(e.floors(8)) && isClean(e.floors(2)))
    assert(!e.certified)
  }

  /** An honest round (0.6875), then a round whose N leg a co-tenant
    * inflated 2× — its own ratio would read 1.375. */
  private val inflatedN: Seq[Rep] = Seq(
    Rep(2, 55.0, 0.1, 1), Rep(8, 20.0, 0.1, 1),
    Rep(2, 110.0, 4.0, 2), Rep(8, 20.0, 0.1, 2))

  test("inflated N leg: min-of-K keeps the honest floor and the certified 0.6875") {
    // an inflated N rep is never the N floor, so it cannot reach the
    // numerator: the value is the honest round's, on clean floors
    val e = estimate(inflatedN, 2, 8)
    assert(e.efficiency == (55.0 / 20.0) / 4, s"min-of-k ${e.efficiency}")
    assert(e.certified)
  }

  /** The exact rep sequence BENCH_r04 recorded (its max-of-estimators
    * headline read 0.825, equal to min-of-K; every rep kernel-clean). */
  private val r04: Seq[Rep] = Seq(
    Rep(2, 54.47, 0.03, 1), Rep(8, 25.13, 0.07, 1),
    Rep(8, 25.34, 0.11, 1), Rep(8, 18.72, 0.08, 1),
    Rep(2, 62.78, 0.02, 2), Rep(8, 23.38, 0.00, 2),
    Rep(8, 17.80, 0.15, 2), Rep(8, 16.51, 0.10, 2))

  test("r04 window: min-of-K reads 0.825, certified on kernel-clean floors") {
    val e = estimate(r04, 2, 8)
    assert(math.abs(e.efficiency - (54.47 / 16.51) / 4) < 1e-9)
    assert(near(e.efficiency, 0.825))
    assert(e.certified)
  }

  /** The exact rep sequences BENCH_r05 recorded (`cdc` and
    * `cdc_incremental` blocks of BENCH_r05.json). */
  private val r05Backfill: Seq[Rep] = Seq(
    Rep(2, 63.28, 0.04, 1), Rep(8, 42.61, 0.00, 1), Rep(8, 22.92, 0.13, 1),
    Rep(8, 19.38, 0.10, 1), Rep(2, 62.27, 0.03, 2))
  private val r05Incremental: Seq[Rep] = Seq(
    Rep(2, 225.27, 0.09, 1), Rep(8, 94.97, 0.19, 1), Rep(8, 154.40, 1.39, 1),
    Rep(8, 56.21, 0.37, 1), Rep(2, 214.12, 0.08, 2))

  test("r05 backfill window: min-of-K reads 0.803, certified") {
    val e = estimate(r05Backfill, 2, 8)
    assert(math.abs(e.efficiency - (62.27 / 19.38) / 4) < 1e-9)
    assert(near(e.efficiency, 0.803))
    assert(e.certified)
  }

  test("r05 incremental window: min-of-K reads 0.952, uncertified (8-core floor at ext 0.37)") {
    // the shipped 1.002 headline was the paired-round max; the 8-core
    // floor rep (56.21 s) ran with 0.37 external cores on its pinned set
    val e = estimate(r05Incremental, 2, 8)
    assert(math.abs(e.efficiency - (214.12 / 56.21) / 4) < 1e-9)
    assert(near(e.efficiency, 0.952))
    assert(e.floors(8).extCores == 0.37)
    assert(!e.certified)
    assert(!e.superlinear)
  }

  test("no recorded window yields an unflagged value above 1.0") {
    val windows = Seq("r03" -> r03, "r03+clean" -> r03Clean,
      "steady-pressure" -> steadyPressure, "inflated-N" -> inflatedN,
      "r04" -> r04, "r05 backfill" -> r05Backfill,
      "r05 incremental" -> r05Incremental)
    windows.foreach { case (name, reps) =>
      val e = estimate(reps, 2, 8)
      // stronger than "unflagged": no recorded window even reaches the flag
      assert(e.efficiency <= 1.0, s"$name reads ${e.efficiency}")
    }
    // and the flag does fire: a 2-core floor inflated past 4× the 8-core
    // floor reads 1.25, flagged superlinear
    val e = estimate(Seq(Rep(2, 60.0, 0.1, 1), Rep(8, 12.0, 0.1, 1)), 2, 8)
    assert(e.efficiency == 1.25 && e.superlinear)
  }

  // ---- adaptive sampling loop -------------------------------------------

  /** Fake leg runner: serves timings from queues, advances a fake clock. */
  private class FakeBox(n: Seq[(Double, Double)], m: Seq[(Double, Double)]) {
    var clock = 0.0
    var calls = Vector.empty[(Int, Int)]
    private var ni = 0; private var mi = 0
    def runLeg(cores: Int, reps: Int): LegResult = {
      calls = calls :+ ((cores, reps))
      val out = (1 to reps).map { _ =>
        val r = if (cores == 2) { val x = n(ni % n.size); ni += 1; x }
                else { val x = m(mi % m.size); mi += 1; x }
        clock += r._1
        r
      }
      LegResult(out, 379758L)
    }
  }

  test("adaptive: clean window stops after minRounds with both legs sampled") {
    val box = new FakeBox(
      n = Seq((55.0, 0.1), (56.0, 0.1)),
      m = Seq((17.0, 0.1), (17.5, 0.1), (17.2, 0.1), (17.8, 0.1)))
    val (reps, rows) = adaptive(2, 8, repsPerLegN = 2, repsPerLegM = 4,
      minRounds = 2, maxRounds = 6, budgetSecs = 1320, targetEff = 0.8,
      box.runLeg, () => box.clock)
    assert(rows == 379758L)
    val e = estimate(reps, 2, 8)
    assert(e.efficiency >= 0.8 && e.certified)
    // two full rounds and nothing more: 4 invocations
    assert(box.calls.length <= 4, s"calls ${box.calls}")
  }

  test("adaptive: noisy window spends phase-2 samples on the dirty 8-core leg until budget") {
    // 2-core leg is clean and stable; 8-core leg contaminated every rep
    // (ext 5 cores) and slow — the protocol must keep buying 8-core
    // samples (the leg whose floor is not clean) until the budget runs out
    val box = new FakeBox(
      n = Seq((55.0, 0.1)),
      m = Seq((40.0, 5.0)))
    val (reps, _) = adaptive(2, 8, repsPerLegN = 2, repsPerLegM = 4,
      minRounds = 2, maxRounds = 2, budgetSecs = 800, targetEff = 0.8,
      box.runLeg, () => box.clock)
    val e = estimate(reps, 2, 8)
    assert(e.efficiency < 0.8 && !e.certified) // never passed — honestly reported
    val phase2 = box.calls.drop(4) // first 2 rounds = 4 invocations
    assert(phase2.nonEmpty && phase2.forall(_._1 == 8),
      s"phase-2 must focus the contaminated leg: ${box.calls}")
    assert(box.clock >= 800)
  }

  test("adaptive: one clean 8-core rep mid-noise ends the hunt") {
    // 8-core leg: two contaminated reps, then the window clears
    val box = new FakeBox(
      n = Seq((55.0, 0.1)),
      m = Seq((40.0, 5.0), (38.0, 4.0), (17.1, 0.05), (17.3, 0.05)))
    val (reps, _) = adaptive(2, 8, repsPerLegN = 1, repsPerLegM = 2,
      minRounds = 2, maxRounds = 6, budgetSecs = 100000, targetEff = 0.8,
      box.runLeg, () => box.clock)
    val e = estimate(reps, 2, 8)
    assert(e.certified)
    assert(e.efficiency >= 0.8, s"min-of-k ${e.efficiency} reps $reps")
    // the clean pair landed in round 2, and the hunt ended there
    assert(box.calls.length == 4, s"calls ${box.calls}")
  }

  test("child cpuset parsing: well-formed range of the right width, else default block") {
    assert(BenchCdc.parseCpuset(Some("30-31"), 2) == (30 to 31))
    assert(BenchCdc.parseCpuset(Some("0-7"), 8) == (0 to 7))
    // wrong width, inverted, malformed, absent → the default 0..n-1 block
    assert(BenchCdc.parseCpuset(Some("30-31"), 8) == (0 until 8))
    assert(BenchCdc.parseCpuset(Some("31-30"), 2) == (0 until 2))
    assert(BenchCdc.parseCpuset(Some("junk"), 2) == (0 until 2))
    assert(BenchCdc.parseCpuset(None, 2) == (0 until 2))
  }

  test("unpinned-fallback reps cannot drag a leg's minimum below its pinned floor") {
    // an unpinned local[N] run borrows idle cores and can beat any honest
    // pinned run; such reps (ext = UnpinnedExt) must be EXCLUDED from the
    // floors whenever the leg has pinned evidence — else a failed 4N
    // child inflates the efficiency through min-of-K
    val reps = Seq(
      Rep(2, 60.0, 0.1, 1), Rep(8, 20.0, 0.1, 1),      // pinned, clean
      Rep(8, 12.0, UnpinnedExt, 2),                     // unpinned fallback, "too fast"
      Rep(2, 62.0, -1, 2))
    val e = estimate(reps, 2, 8)
    assert(e.minSecs(8) == 20.0, s"unpinned 12.0 leaked into the minimum: ${e.floors}")
    assert(e.efficiency == (60.0 / 20.0) / 4)
    assert(e.certified)
    // a leg with ONLY unpinned reps still reports (degraded beats absent)
    val only = estimate(Seq(Rep(2, 60.0, 0.1, 1), Rep(8, 12.0, UnpinnedExt, 1)), 2, 8)
    assert(only.minSecs(8) == 12.0)
    // but an unpinned floor is never clean, so the value is never certified
    assert(!isClean(only.floors(8)) && !only.certified)
  }

  test("adaptive: a passing headline with NO clean N-leg rep does not early-stop") {
    // the 2-core leg is measurable but contaminated every draw (ext 2
    // cores): min-of-K reads a "passing" 0.85 off an inflated numerator —
    // the stop rule (both floors clean) must keep hunting the N floor
    // instead of banking it
    val box = new FakeBox(
      n = Seq((68.0, 2.0)),
      m = Seq((20.0, 0.1)))
    val (reps, _) = adaptive(2, 8, repsPerLegN = 1, repsPerLegM = 1,
      minRounds = 2, maxRounds = 3, budgetSecs = 400, targetEff = 0.8,
      box.runLeg, () => box.clock)
    val e = estimate(reps, 2, 8)
    assert(e.efficiency >= 0.8, s"precondition: the value passes (${e.efficiency})")
    assert(!e.certified)
    // phase 2 ran and focused the dirty N leg (the M floor is already clean)
    val phase2 = box.calls.drop(6) // 3 full rounds = 6 invocations
    assert(phase2.nonEmpty && phase2.forall(_._1 == 2),
      s"phase-2 must hunt the uncertified N floor: ${box.calls}")
    assert(box.clock >= 400, "only the budget may end the hunt")
  }

  test("adaptive: a passing value with NO clean 8-core floor does not early-stop") {
    // the mirror case: the value passes on a contaminated 8-core floor
    // (ext 0.37, as BENCH_r05's incremental 8-core floor) — the stop
    // waits for a clean one
    val box = new FakeBox(
      n = Seq((55.0, 0.1)),
      m = Seq((16.0, 0.37)))
    val (reps, _) = adaptive(2, 8, repsPerLegN = 1, repsPerLegM = 1,
      minRounds = 2, maxRounds = 3, budgetSecs = 400, targetEff = 0.8,
      box.runLeg, () => box.clock)
    val e = estimate(reps, 2, 8)
    assert(e.efficiency >= 0.8 && !e.certified)
    val phase2 = box.calls.drop(6)
    assert(phase2.nonEmpty && phase2.forall(_._1 == 8),
      s"phase-2 must hunt the uncertified 8-core floor: ${box.calls}")
    assert(box.clock >= 400, "only the budget may end the hunt")
  }

  test("adaptive: a clean N-leg floor plus passing headline stops after minRounds") {
    // same shape but both legs draw kernel-clean floors: certification
    // holds, the pass is banked immediately (no budget burn)
    val box = new FakeBox(
      n = Seq((55.0, 0.1)),
      m = Seq((17.0, 0.1)))
    val (reps, _) = adaptive(2, 8, repsPerLegN = 1, repsPerLegM = 1,
      minRounds = 2, maxRounds = 6, budgetSecs = 100000, targetEff = 0.8,
      box.runLeg, () => box.clock)
    assert(box.calls.length <= 4, s"calls ${box.calls}")
    assert(estimate(reps, 2, 8).certified)
  }

  test("adaptive: ext-unmeasurable N leg cannot deadlock the hardened stop") {
    // non-Linux / unpinned fallback: no rep of either leg carries a kernel
    // reading at all — the floors count as settled (an unsatisfiable
    // requirement would burn the whole budget for nothing), yet the value
    // is reported uncertified
    val box = new FakeBox(
      n = Seq((55.0, -1.0)),
      m = Seq((17.0, -1.0)))
    val (reps, _) = adaptive(2, 8, repsPerLegN = 1, repsPerLegM = 1,
      minRounds = 2, maxRounds = 6, budgetSecs = 100000, targetEff = 0.8,
      box.runLeg, () => box.clock)
    assert(box.calls.length <= 4, s"calls ${box.calls}")
    assert(!estimate(reps, 2, 8).certified)
  }

  test("adaptive: rows must agree across every rep") {
    var first = true
    val bad: (Int, Int) => LegResult = (_, reps) => {
      val r = LegResult((1 to reps).map(_ => (10.0, 0.1)), if (first) 1L else 2L)
      first = false
      r
    }
    var clock = 0.0
    assertThrows[IllegalArgumentException] {
      adaptive(2, 8, 1, 1, 2, 4, 1000, 0.8, bad, () => { clock += 1; clock })
    }
  }
}
