package graft

/** The two-cluster-size scaling estimator, factored out of the measurement
  * loop so specs can drive it with injected (fake or historical) rep
  * timings — including the recorded windows of BENCH_r03, r04 and r05.
  *
  * The measurement problem: the sandbox VM suffers intermittent external
  * CPU pressure (hypervisor steal + co-tenant load, both visible in
  * /proc/stat) that inflates individual reps by up to 4×, and hits the 4N
  * leg disproportionately (8 busy pinned cores contend for the whole
  * socket; 2 barely notice). External load only ever SLOWS a rep, so each
  * leg's fastest rep (its floor) is the least contaminated sample it has.
  *
  * ONE efficiency is reported: per-leg '''min-of-K''',
  * `(floor_N / floor_M) / (M / N)`. It only improves with samples and needs
  * each leg to draw one quiet-window rep at some point. Two flags qualify
  * it, neither changes it:
  *
  *  - `certified`: every leg's floor rep is itself kernel-clean (the
  *    kernel measured at most [[CleanExtCores]] of external load on the
  *    pinned set while that very rep ran). An uncertified value may rest
  *    on a contaminated floor — most dangerously an inflated N floor,
  *    which overstates efficiency.
  *  - `superlinear`: the value is above 1.0, which a compute-bound replay
  *    cannot honestly reach; it points at a contaminated N floor or a
  *    cache effect, never at good scaling.
  *
  * Every raw rep is reported alongside, so any reader can recompute it.
  */
object ScalingEstimator {

  /** One measured repetition.
    * @param extCores external busy cores measured on the pinned CPU set
    *                 during the rep (co-tenant processes + hypervisor
    *                 steal); -1 = pinned but unmeasurable (never clean);
    *                 [[UnpinnedExt]] (-2) = the in-process UNPINNED
    *                 fallback — an unpinned local[N] run borrows idle
    *                 cores and can beat any honest pinned run, so these
    *                 reps are EXCLUDED from the floors whenever the leg
    *                 has at least one pinned rep (see preferPinned)
    * @param round    adaptive round the rep was drawn in (reported only) */
  final case class Rep(cores: Int, secs: Double, extCores: Double, round: Int)

  /** extCores sentinel for unpinned-fallback reps. */
  val UnpinnedExt: Double = -2.0

  /** A leg's usable reps: pinned ones when any exist (an unpinned
    * fallback rep may only carry a leg that has NO pinned evidence at
    * all — better a flagged degraded number than none). */
  private def preferPinned(rs: Seq[Rep]): Seq[Rep] = {
    val pinned = rs.filter(_.extCores > UnpinnedExt + 0.5)
    if (pinned.nonEmpty) pinned else rs
  }

  /** A rep is "clean" when the kernel saw at most this much external load
    * (in cores) on the pinned set while it ran. 0.25 of one core across a
    * ≥17 s rep bounds the contamination of the measured time to a few
    * percent at 8 pinned cores. */
  val CleanExtCores = 0.25

  def isClean(r: Rep): Boolean = r.extCores >= 0 && r.extCores <= CleanExtCores

  /** @param efficiency min-of-K scaling efficiency (see the object doc)
    * @param floors     each leg's fastest usable rep, keyed by core count */
  final case class Estimate(efficiency: Double, floors: Map[Int, Rep]) {
    def minSecs(cores: Int): Double = floors(cores).secs
    def certified: Boolean = floors.values.forall(isClean)
    def superlinear: Boolean = efficiency > 1.0
  }

  /** The (nCores → mCores) estimate. Requires ≥1 rep at each level. */
  def estimate(reps: Seq[Rep], nCores: Int, mCores: Int): Estimate = {
    val byLevel = reps.groupBy(_.cores)
    require(byLevel.contains(nCores) && byLevel.contains(mCores),
      s"need reps at both $nCores and $mCores cores, have ${byLevel.keySet}")
    val floors = Seq(nCores, mCores).distinct
      .map(c => c -> preferPinned(byLevel(c)).minBy(_.secs)).toMap
    val ideal = mCores.toDouble / nCores
    Estimate((floors(nCores).secs / floors(mCores).secs) / ideal, floors)
  }

  // ----- adaptive sampling loop (measurement-agnostic, spec-drivable) ----

  /** Result of one leg invocation: reps measured plus the rows each
    * produced (must agree across every rep — determinism check). */
  final case class LegResult(reps: Seq[(Double, Double)], rows: Long)

  /** The adaptive two-phase protocol, parameterized over the actual
    * measurement (`runLeg(cores, reps) => LegResult`) and the clock so
    * specs can replay recorded windows. It stops once the efficiency
    * clears `targetEff` AND every leg's floor is kernel-clean — a leg with
    * no ext-measurable rep at all (non-Linux, unpinned fallback) counts as
    * settled, since an unsatisfiable requirement would only burn the
    * budget:
    *
    * phase 1 — interleaved rounds (N then 4N), at least `minRounds`,
    * stopping early once the stop rule holds;
    * phase 2 — while it does not and budget remains: spend samples on a
    * leg whose floor is not clean (4N first — the usual noise victim),
    * else on the leg with the widest observed spread, whose floor is the
    * least converged.
    */
  def adaptive(nCores: Int, mCores: Int,
               repsPerLegN: Int, repsPerLegM: Int,
               minRounds: Int, maxRounds: Int,
               budgetSecs: Double, targetEff: Double,
               runLeg: (Int, Int) => LegResult,
               elapsed: () => Double): (Seq[Rep], Long) = {
    val acc = Seq.newBuilder[Rep]
    var all = Seq.empty[Rep]
    var rows = -1L
    var round = 0
    def leg(cores: Int, n: Int): Unit = {
      val r = runLeg(cores, n)
      require(rows < 0 || r.rows == rows,
        s"row mismatch across reps: ${r.rows} vs $rows")
      rows = r.rows
      r.reps.foreach { case (secs, ext) => acc += Rep(cores, secs, ext, round) }
      all = acc.result()
    }
    def est: Option[Estimate] =
      if (all.exists(_.cores == nCores) && all.exists(_.cores == mCores))
        Some(estimate(all, nCores, mCores))
      else None
    /** The leg's floor is clean, or none of its reps was ext-measurable. */
    def settled(e: Estimate, cores: Int): Boolean =
      isClean(e.floors(cores)) ||
        !all.exists(r => r.cores == cores && r.extCores >= 0)
    def passed: Boolean = est.exists(e =>
      e.efficiency >= targetEff && settled(e, nCores) && settled(e, mCores))

    // phase 1: interleaved rounds
    var continue = true
    while (continue) {
      round += 1
      leg(nCores, repsPerLegN)
      if (!(passed && round >= minRounds)) leg(mCores, repsPerLegM)
      continue = round < minRounds ||
        (!passed && round < maxRounds && elapsed() < budgetSecs)
      if (passed && round >= minRounds) continue = false
    }
    // phase 2: focused sampling while the stop rule fails and budget remains
    while (!passed && elapsed() < budgetSecs) {
      val e = est.get
      val focus =
        if (!settled(e, mCores)) mCores
        else if (!settled(e, nCores)) nCores
        else {
          def spread(c: Int) = {
            val xs = all.filter(_.cores == c).map(_.secs)
            xs.max / xs.min
          }
          if (spread(mCores) >= spread(nCores)) mCores else nCores
        }
      round += 1
      leg(focus, if (focus == nCores) repsPerLegN else repsPerLegM)
    }
    (all, rows)
  }
}
