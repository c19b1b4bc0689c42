package graft

import graft.gen.{ChangeGen, GenConfig}
import graft.lake.LakeTable
import org.apache.spark.sql.SparkSession

/** CDC-replay scaling benchmark — the two-cluster-size protocol from
  * BASELINE.md, run honestly on one box:
  *
  * Each leg runs in its OWN child JVM pinned with `taskset` to exactly N
  * cores (and `-XX:ActiveProcessorCount=N`), because in a single unpinned
  * JVM a `local[2]` run borrows idle cores for GC/IO threads, silently
  * inflating the small-N baseline — a real cluster cgroup-binds executors,
  * and the pinning emulates that. There is one child protocol, the
  * stepping child ([[childStepMain]]): it warms up once (JIT) and then runs
  * one timed replay per request, so the marginal rep costs only the replay
  * itself — extra samples are cheap, which is what noise robustness needs.
  * When the two legs' pinned sets can be disjoint, one child per leg stays
  * alive for the whole run; when they would overlap, each leg invocation
  * spawns its child, draws a batch of reps and closes it, so children
  * never coexist.
  *
  * Around every timed rep the child reads /proc/stat for its pinned CPU
  * set and reports the EXTERNAL load (other processes + hypervisor steal)
  * that ran on those cores during the rep — the kernel's own accounting of
  * measurement contamination. The parent feeds all reps into
  * [[ScalingEstimator]] (one min-of-K efficiency, flagged `certified` when
  * both legs' floor reps are kernel-clean) and adaptively spends the time
  * budget on the leg that blocks the estimate.
  *
  * Knobs (env): SPARK_GRAFT_BENCH_EVENTS (default 8M), _BATCHES (1),
  * _BUCKETS (16), _SALT (16), _REPOS (2000), _PATHS (200), _FORMAT (json),
  * _REPS_N / _REPS_4N (draws per leg invocation), _REPS (max phase-1
  * rounds), _BUDGET (secs), _REP_TIMEOUT (secs), _OFFHEAP, _WORK,
  * SPARK_GRAFT_CORES_LIST ("2,8"), SPARK_GRAFT_CHILD_JVM_OPTS.
  */
object BenchCdc {
  def session(cpus: Int): SparkSession = {
    val s = Sessions.builder(s"graft-cdc-bench-$cpus", cpus)
      .config("spark.sql.adaptive.enabled", "false")
      // keep the shuffle at 2×cores partitions: AQE's size-based coalescing
      // would fold this medium shuffle into ~12 partitions and strand the
      // extra cores at 4N — parallelism matters more than partition size here
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // shuffle spill files on tmpfs: the bench measures compute scaling,
      // not the sandbox's single virtio disk (a real cluster has
      // per-executor local disks)
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .config("spark.memory.offHeap.enabled",
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OFFHEAP", "true"))
      .config("spark.memory.offHeap.size", "6g")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def rm(dir: String): Unit = {
    def loop(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(loop)
      f.delete(): Unit
    }
    val f = new java.io.File(dir)
    if (f.exists()) loop(f)
  }

  /** A whole-number env knob; a malformed value fails naming the
    * variable and the value instead of a bare NumberFormatException. */
  private[graft] def envInt(k: String, d: Int): Int = envParsed(k, d)(_.toIntOption)
  private[graft] def envLong(k: String, d: Long): Long = envParsed(k, d)(_.toLongOption)
  private def envParsed[T](k: String, d: T)(parse: String => Option[T]): T =
    sys.env.get(k).fold(d)(v => parse(v.trim).getOrElse(
      throw new IllegalArgumentException(s"$k must be a whole number, got '$v'")))

  private[graft] case class Cfg(nEvents: Long, nBatches: Int, buckets: Int, salt: Int,
                                nRepos: Int, pathsPerRepo: Int, format: String) {
    def work: String = sys.env.getOrElse("SPARK_GRAFT_BENCH_WORK", "/dev/shm") +
      s"/graft-cdc-$format-$nEvents-$nBatches-$nRepos-$pathsPerRepo"
    def logDir = s"$work/log"
    def warmLogDir = s"$work/warmlog"
  }

  private def cfgFromEnv = cfgForBatches(envInt("SPARK_GRAFT_BENCH_BATCHES", 1))

  private def cfgForBatches(rawBatches: Int): Cfg = {
    val nEvents = envLong("SPARK_GRAFT_BENCH_EVENTS", 8000000L)
    // more batches than events: ChangeGen skips the empty tail dirs, so
    // ensureLogs' last-batch sentinel would never exist and every run
    // would silently regenerate from scratch — clamp loudly instead
    val batches = math.min(rawBatches.toLong, math.max(1L, nEvents)).toInt
    if (batches != rawBatches)
      System.err.println(s"bench batches=$rawBatches exceeds " +
        s"EVENTS=$nEvents; clamped to $batches")
    cfgWith(nEvents, batches)
  }

  private def cfgWith(nEvents: Long, nBatches: Int) = Cfg(
    nEvents = nEvents,
    nBatches = nBatches,
    buckets = envInt("SPARK_GRAFT_BENCH_BUCKETS", 16),
    // salt 16: the workload's 30%-hot repo makes ONE bucket hold 30% of
    // the batch; at salt 4 its window partitions were ~6.5× the average
    // and the straggler task capped the 8-core leg (measured 17.2 s floor,
    // fully-warm scaling 0.64). Fanning the hot bucket 16 ways cut the
    // 8-core leg to 14.8 s (542k events/s) and scaling to 0.84+; salt 32
    // also clears but pays more files and per-task overhead on the small
    // leg. This is the engine's own skew lever (north rule) doing its job.
    salt = envInt("SPARK_GRAFT_BENCH_SALT", 16),
    nRepos = envInt("SPARK_GRAFT_BENCH_REPOS", 2000),
    pathsPerRepo = envInt("SPARK_GRAFT_BENCH_PATHS", 200),
    format = sys.env.getOrElse("SPARK_GRAFT_BENCH_FORMAT", "json"))

  /** Generate the timed log + a small warmup log if not present. Both
    * sentinels are checked (a run interrupted between the two writeLogs
    * would otherwise leave warmups as SILENT no-ops forever — a missing
    * warm dir replays an empty batch list without error), and both are
    * re-verified after generation so a probe/generator mismatch fails
    * loudly instead of regenerating on every run. */
  def ensureLogs(cfg: Cfg): Unit = {
    val timedSentinel = new java.io.File(f"${cfg.logDir}/batch-${cfg.nBatches - 1}%05d")
    val warmSentinel = new java.io.File(s"${cfg.warmLogDir}/batch-00000")
    if (!timedSentinel.exists() || !warmSentinel.exists()) {
      rm(cfg.work)
      val sg = session(32)
      ChangeGen.writeLog(sg,
        GenConfig(nEvents = cfg.nEvents, nRepos = cfg.nRepos, pathsPerRepo = cfg.pathsPerRepo),
        cfg.logDir, nBatches = cfg.nBatches, partitions = 64, format = cfg.format)
      ChangeGen.writeLog(sg,
        GenConfig(seed = 7L, nEvents = math.min(cfg.nEvents, 500000L),
          nRepos = cfg.nRepos, pathsPerRepo = cfg.pathsPerRepo),
        cfg.warmLogDir, nBatches = 1, partitions = 32, format = cfg.format)
      sg.stop()
      require(timedSentinel.exists() && warmSentinel.exists(),
        s"log generation left no ${timedSentinel} / ${warmSentinel} — " +
          "generator batch layout disagrees with the sentinel probe")
    }
  }

  // ----- external-load measurement (kernel accounting, Linux only) -------

  /** Sum of (busy, steal) jiffies over the given cpu ids from /proc/stat.
    * busy = user+nice+system+irq+softirq (iowait counts as idle). USER_HZ
    * is ABI-fixed at 100 on Linux. Returns None when unreadable. */
  private[graft] def cpuJiffies(cpus: Range): Option[(Long, Long)] = {
    if (cpus.isEmpty) return None
    try {
      val want = cpus.map(i => s"cpu$i").toSet
      val lines = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/stat")).toArray.map(_.toString)
      val picked = lines.filter(l => want.contains(l.takeWhile(_ != ' ')))
      if (picked.length != cpus.size) None
      else {
        var busy = 0L; var steal = 0L
        picked.foreach { l =>
          val f = l.trim.split("\\s+")
          // cpuN user nice system idle iowait irq softirq steal ...
          busy += f(1).toLong + f(2).toLong + f(3).toLong + f(6).toLong + f(7).toLong
          steal += (if (f.length > 8) f(8).toLong else 0L)
        }
        Some((busy, steal))
      }
    } catch { case _: Throwable => None }
  }

  private def ownCpuSecs(): Double = {
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => -1.0
    }
  }

  private def gcSecs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1e3
  }

  /** One timed replay inside the child; returns (secs, rows, extCores,
    * gcSecs). extCores is the external busy+steal load measured over the
    * given cpu set while the rep ran (-1 when unmeasurable). Callers pass
    * the PINNED set: that is what CleanExtCores is calibrated against,
    * and own CPU time subtracts cleanly there (taskset confines it). A
    * co-tenant on far cores still bleeds in through the shared memory
    * subsystem, but counting it directly would make clean reps
    * unobtainable on any shared host. */
  private def timedRep(spark: SparkSession, cfg: Cfg, tableDir: String,
                       cpuSet: Range): (Double, Long, Double, Double) = {
    rm(tableDir)
    val j0 = cpuJiffies(cpuSet)
    val c0 = ownCpuSecs()
    val g0 = gcSecs()
    val t0 = System.nanoTime()
    ingest.BatchReplay.replay(spark, cfg.logDir, new LakeTable(spark, tableDir),
      numBuckets = cfg.buckets, saltBuckets = cfg.salt, recordMeta = false,
      shaColumn = true, format = cfg.format)
    val secs = (System.nanoTime() - t0) / 1e9
    val c1 = ownCpuSecs()
    val g1 = gcSecs()
    val ext = (j0, cpuJiffies(cpuSet)) match {
      case (Some((b0, s0)), Some((b1, s1))) if c0 >= 0 && c1 >= 0 =>
        val totalSecs = (b1 - b0 + s1 - s0) / 100.0 // USER_HZ = 100
        math.max(0.0, (totalSecs - (c1 - c0)) / secs)
      case _ => -1.0
    }
    val rows = new LakeTable(spark, tableDir).read().count()
    (secs, rows, ext, g1 - g0)
  }

  /** The child's pinned cpu set: GRAFT_CHILD_CPUSET ("lo-hi") when the
    * parent pinned it off the default 0..cpus-1 block (the N-core child
    * runs on the TOP cores so two persistent children never share a
    * pinned set), else 0 until cpus. */
  private[graft] def pinnedSet(cpus: Int): Range =
    parseCpuset(sys.env.get("GRAFT_CHILD_CPUSET"), cpus)

  private[graft] def parseCpuset(v: Option[String], cpus: Int): Range =
    v match {
      case Some(s) if s.matches("\\d+-\\d+") =>
        val Array(lo, hi) = s.split('-').map(_.toInt)
        if (lo <= hi && hi - lo + 1 == cpus) lo to hi else 0 until cpus
      case _ => 0 until cpus
    }

  /** The CHILD_REP wire line: written here, decoded by [[parseChildRep]]
    * (and by tools/cluster_scaling.sh), nowhere else. */
  private def printChildRep(r: (Double, Long, Double, Double)): Unit = {
    println(f"CHILD_REP ${r._1}%.3f,${r._2},${r._3}%.3f,${r._4}%.3f")
    System.out.flush()
  }

  /** One CHILD_REP wire line → (secs, rows, extCores, gcSecs). */
  private def parseChildRep(l: String): (Double, Long, Double, Double) = {
    val f = l.stripPrefix("CHILD_REP ").split(',')
    (f(0).toDouble, f(1).toLong, f(2).toDouble,
      if (f.length > 3) f(3).toDouble else -1.0)
  }

  /** Child with ADAPTIVE floor-hunting for environments where the parent
    * cannot interleave legs (the standalone-cluster script: executors are
    * separate JVMs per spark-submit, so per-leg JIT warmup and window
    * luck used to decide a whole leg on a fixed rep count). Runs timed
    * reps until the leg's floor stops improving — stop once ≥ `minReps`
    * drawn AND the best time has not improved by >1% for `patience`
    * consecutive reps — bounded by `maxReps` and `budgetSecs`. Early
    * (JIT-cold or noise-inflated) reps simply never become the minimum;
    * a degraded window buys more draws instead of sinking the leg.
    * Prints the same CHILD_REP lines as the stepping child. */
  def childAdaptMain(cpus: Int, minReps: Int, maxReps: Int, patience: Int,
                     budgetSecs: Long, cfg: Cfg): Unit = {
    // unlike childstep (whose parent runScaling generates the log), adapt
    // mode has no parent — a fresh box must not replay a MISSING log as a
    // silent no-op (listBatches returns empty) and die on read
    ensureLogs(cfg)
    val spark = warmedSession(cpus, cfg)
    val pinned = pinnedSet(cpus)
    val tableDir = s"${cfg.work}/table_${cpus}_adapt"
    val t0 = System.nanoTime()
    var best = Double.MaxValue
    var sinceImprove = 0
    var n = 0
    try {
      var continue = true
      while (continue) {
        val rep = timedRep(spark, cfg, tableDir, pinned)
        n += 1
        if (rep._1 < best * 0.99) sinceImprove = 0 else sinceImprove += 1
        best = math.min(best, rep._1)
        printChildRep(rep)
        val elapsed = (System.nanoTime() - t0) / 1e9
        continue = n < maxReps && elapsed < budgetSecs &&
          !(n >= minReps && sinceImprove >= patience)
      }
    } finally {
      rm(tableDir)
      spark.stop()
    }
  }

  private def warmedSession(cpus: Int, cfg: Cfg): SparkSession = {
    val spark = session(cpus)
    val warmDir = s"${cfg.work}/table_${cpus}_warm"
    rm(warmDir)
    ingest.BatchReplay.replay(spark, cfg.warmLogDir, new LakeTable(spark, warmDir),
      numBuckets = cfg.buckets, saltBuckets = cfg.salt, recordMeta = false,
      shaColumn = true, format = cfg.format)
    rm(warmDir)
    spark
  }

  /** The stepping child: warm up once, print CHILD_READY, then run ONE
    * timed rep per "rep" line on stdin (CHILD_REP line each); any other
    * line or EOF exits. Keeping the JVM alive makes the marginal draw cost
    * the rep alone — no 30 s re-warm per sample — so the budget buys 2-3×
    * more floor-hunting draws for min-of-K. */
  def childStepMain(cpus: Int, cfg: Cfg): Unit = {
    val spark = warmedSession(cpus, cfg)
    // external load is measured over the PINNED set (taskset binds this
    // child to it, so all own CPU time lands there and subtracts cleanly)
    // — matching ScalingEstimator.CleanExtCores' calibration
    val pinned = pinnedSet(cpus)
    val tableDir = s"${cfg.work}/table_${cpus}_step"
    println("CHILD_READY")
    System.out.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    try {
      var line = in.readLine()
      while (line != null && line.trim == "rep") {
        printChildRep(timedRep(spark, cfg, tableDir, pinned))
        line = in.readLine()
      }
    } finally {
      // tmpfs-resident table: reclaim host RAM even on a throwing rep
      rm(tableDir)
      spark.stop()
    }
  }

  /** The pinned-child command line: same JVM surface flags as this
    * parent, taskset-pinned. */
  private def childCmd(cpus: Int, cpuset: String, args: Seq[String]): Seq[String] = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("--add-exports") ||
        a.startsWith("-Xmx") || a.startsWith("-D"))
    val extra = sys.env.get("SPARK_GRAFT_CHILD_JVM_OPTS")
      .map(_.split(' ').toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    Seq("taskset", "-c", cpuset, javaBin) ++ jvmArgs ++ extra ++
      Seq(s"-XX:ActiveProcessorCount=$cpus", "-cp", cp, "graft.BenchCdc") ++ args
  }

  /** Upper bound on one child rep (incl. the one-off JVM+Spark warmup
    * before CHILD_READY). Generous vs the ~15-110 s observed range; a
    * rep exceeding it is treated as wedged and its child replaced. */
  private val RepTimeoutSecs: Long =
    envLong("SPARK_GRAFT_BENCH_REP_TIMEOUT", 900L)

  /** A pinned stepping child (see [[childStepMain]]): spawn + warm once,
    * then each `step()` runs exactly one timed rep. `None` from step()
    * means the child died or wedged. */
  private final class SteppedChild(cpus: Int, cpuset: String,
                                   extraEnv: Map[String, String]) {
    private val pb = new ProcessBuilder(
      childCmd(cpus, cpuset, Seq("childstep", cpus.toString)): _*)
    sys.env.foreach { case (k, v) => pb.environment().put(k, v) }
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    pb.environment().put("GRAFT_CHILD_CPUSET", cpuset)
    private val p = pb.start()
    // drain stderr (Spark INFO noise) so the child can never block on a
    // full pipe; keep its tail for the failure report
    private val errTail = new java.lang.StringBuilder
    private val drain = new Thread(() => {
      val buf = new Array[Byte](8192)
      try {
        var n = p.getErrorStream.read(buf)
        while (n >= 0) {
          errTail.synchronized {
            errTail.append(new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8))
            if (errTail.length > 4000) errTail.delete(0, errTail.length - 2000)
          }
          n = p.getErrorStream.read(buf)
        }
      } catch { case _: Throwable => () }
    })
    drain.setDaemon(true)
    drain.start()
    private val out = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream))
    private val in = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(p.getOutputStream))

    /** Read lines until one starts with `prefix`, giving up (None) at the
      * deadline — a WEDGED child rep (deadlocked task, full tmpfs) must
      * not hang the whole bench past its budget; readLine alone would
      * block forever. Polls ready() so the block happens only when a
      * line is (at least partially) available. ready() is false at EOF
      * too, so a DEAD child (exited, pipe drained) is detected explicitly
      * instead of spinning the full timeout. */
    private def readUntil(prefix: String, timeoutSecs: Long): Option[String] = {
      val deadline = System.nanoTime() + timeoutSecs * 1000L * 1000 * 1000
      while (System.nanoTime() < deadline) {
        if (out.ready()) {
          val line = out.readLine()
          if (line == null) return None
          if (line.startsWith(prefix)) return Some(line)
        } else if (!p.isAlive) {
          return None // child exited and its pipe is drained
        } else Thread.sleep(100)
      }
      None
    }

    /** Blocks through the child's warmup; false = child unusable. */
    val ready: Boolean =
      try readUntil("CHILD_READY", RepTimeoutSecs).isDefined
      catch { case _: Throwable => false }

    /** One timed rep: (secs, rows, extCores, gcSecs); None = dead OR
      * wedged past [[RepTimeoutSecs]]. */
    def step(): Option[(Double, Long, Double, Double)] =
      try {
        in.write("rep\n"); in.flush()
        readUntil("CHILD_REP ", RepTimeoutSecs).map(parseChildRep)
      } catch { case _: Throwable => None }

    /** Stop the child; with a `failure` reason, also print why and the
      * tail of its stderr. */
    def close(failure: String = ""): Unit = {
      try { in.write("exit\n"); in.flush() } catch { case _: Throwable => () }
      try {
        if (!p.waitFor(15, java.util.concurrent.TimeUnit.SECONDS))
          p.destroyForcibly(): Unit
      } catch { case _: Throwable => p.destroyForcibly(): Unit }
      if (failure.nonEmpty) {
        drain.join(2000) // the exited child's last stderr bytes
        System.err.println(s"pinned child ($cpus cores on $cpuset) $failure:\n" +
          errTail.synchronized(errTail.toString))
      }
    }
  }

  /** The in-process UNPINNED fallback: one rep when no pinned child can
    * run (missing taskset, cpuset-denied mask, crash) — an aborted bench
    * helps nobody. The rep carries ext = [[ScalingEstimator.UnpinnedExt]],
    * which EXCLUDES it from the floors whenever the leg has pinned
    * evidence (an unpinned local[N] borrows idle cores and would overstate
    * the leg). */
  private def unpinnedRep(cpus: Int, cfg: Cfg): (Double, Long, Double, Double) = {
    System.err.println(s"no pinned child for $cpus cores; one rep in-process unpinned")
    val spark = warmedSession(cpus, cfg)
    val tableDir = s"${cfg.work}/table_$cpus"
    try {
      val (secs, rows, _, gc) = timedRep(spark, cfg, tableDir, 0 until 0)
      (secs, rows, ScalingEstimator.UnpinnedExt, gc)
    } finally {
      rm(tableDir)
      spark.stop()
    }
  }

  final case class ScalingResult(nEvents: Long,
                                 nCores: Int, mCores: Int,
                                 est: ScalingEstimator.Estimate,
                                 reps: Seq[ScalingEstimator.Rep],
                                 rows: Long,
                                 /** Epoch count actually measured (post
                                   * clamp) — reporters must echo this,
                                   * not their requested value. */
                                 nBatches: Int) {
    def throughput(cpus: Int): Long = (nEvents / est.minSecs(cpus)).toLong

    /** The one JSON shape of a scaling run, printed by both mains.
      * `rep_secs` keeps its historical [[cores, secs], ...] shape; `reps`
      * adds the kernel-measured external load (ext_cores: -1 unmeasured,
      * -2 unpinned fallback) and the adaptive round of each sample, so a
      * reader can recompute `scaling_efficiency` and both flags. */
    def json: String = {
      val (nC, mC) = (nCores, mCores)
      val repSecs = reps.map(x => f"""[${x.cores},${x.secs}%.2f]""").mkString("[", ",", "]")
      val repsFull = reps.map(x =>
        f"""{"cores":${x.cores},"secs":${x.secs}%.2f,"ext_cores":${x.extCores}%.2f,"round":${x.round}}""")
        .mkString("[", ",", "]")
      f"""{"events":$nEvents,"epochs":$nBatches,"n_cores":$nC,"secs_n":${est.minSecs(nC)}%.2f,""" +
        f""""events_per_sec_n":${throughput(nC)},"n4_cores":$mC,"secs_4n":${est.minSecs(mC)}%.2f,""" +
        f""""events_per_sec_4n":${throughput(mC)},"scaling_efficiency":${est.efficiency}%.3f,""" +
        s""""certified":${est.certified},"superlinear":${est.superlinear},""" +
        s""""final_rows":$rows,"rep_secs":$repSecs,"reps":$repsFull}"""
    }
  }

  /** The full two-cluster-size protocol; prints per-rep progress, returns
    * all reps + the estimate. See ScalingEstimator for the estimator and
    * the adaptive sampling policy. */
  def runScaling(coreList: Seq[Int],
                 budgetSecs: Int = envInt("SPARK_GRAFT_BENCH_BUDGET", 1320),
                 targetEff: Double = 0.8,
                 /** Epoch count override (INCREMENTAL-replay mode: the
                   * same log split into N batch dirs, one ledgered MERGE
                   * commit each — the production stage-resumable path).
                   * None = the env-driven config (driver default 1 =
                   * single-epoch backfill). Children re-derive their
                   * config from env, so the override rides to them as
                   * SPARK_GRAFT_BENCH_BATCHES. */
                 nBatches: Option[Int] = None): ScalingResult = {
    val cfg = nBatches.map(cfgForBatches).getOrElse(cfgFromEnv)
    val extraEnv = nBatches
      .map(b => Map("SPARK_GRAFT_BENCH_BATCHES" -> b.toString)).getOrElse(Map.empty)
    ensureLogs(cfg)
    val (nC, mC) = (coreList.head, coreList.last)
    // Reps per round: 1 N-leg draw + 3 4N-leg draws (the 4N leg is the
    // noise victim; its draws are 3-4× cheaper).
    val repsN = envInt("SPARK_GRAFT_BENCH_REPS_N", 1)
    val repsM = envInt("SPARK_GRAFT_BENCH_REPS_4N", 3)
    val avail = Runtime.getRuntime.availableProcessors
    // Children persist across legs only when the two pinned sets can be
    // DISJOINT (the N-core child pins to the TOP cores); otherwise the
    // idle sibling JVM's housekeeping would land on the measured cpu set
    // during every timed rep, so each leg spawns, draws and closes its
    // own child and children never coexist.
    val disjoint = nC == mC || avail >= mC + nC
    if (!disjoint)
      System.err.println(s"pinned sets for $nC+$mC cores would overlap on " +
        s"$avail available processors; one child per leg invocation")
    // A per-leg child pays the full JVM+Spark warmup per spawn: amortize
    // it over at least 2 N-leg / 6 4N-leg draws.
    def drawsPerLeg(cores: Int, n: Int): Int =
      if (disjoint) math.max(1, n)
      else math.max(n, if (cores == mC && nC != mC) 6 else 2)
    def cpusetFor(cores: Int): String =
      if (disjoint && cores == nC && nC != mC) s"${avail - nC}-${avail - 1}"
      else s"0-${cores - 1}"
    def spawn(cores: Int): Option[SteppedChild] =
      try {
        val c = new SteppedChild(cores, cpusetFor(cores), extraEnv)
        if (c.ready) Some(c) else { c.close("failed to warm"); None }
      } catch { case e: Throwable =>
        System.err.println(s"pinned child ($cores cores) unavailable (${e.getMessage})")
        None
      }
    val live = scala.collection.mutable.Map.empty[Int, SteppedChild]
    val runLeg: (Int, Int) => ScalingEstimator.LegResult = (cores, n) => {
      val want = drawsPerLeg(cores, n)
      val drawn = scala.collection.mutable.ArrayBuffer.empty[(Double, Long, Double, Double)]
      var child = live.remove(cores).orElse(spawn(cores))
      var respawned = false
      while (drawn.length < want && child.isDefined) {
        child.get.step() match {
          case Some(r) => drawn += r
          case None => // died or wedged: one fresh child for the remaining draws
            child.get.close(s"died after ${drawn.length}/$want draws")
            child = if (respawned) None else { respawned = true; spawn(cores) }
        }
      }
      child.foreach(c => if (disjoint) live(cores) = c else c.close())
      val reps = if (drawn.nonEmpty) drawn.toSeq else Seq(unpinnedRep(cores, cfg))
      val rows = reps.map(_._2).distinct
      require(rows.size == 1, s"reps disagree on final rows: $rows")
      reps.foreach { case (s, _, e, g) =>
        println(f"""{"cores":$cores,"rep_secs":$s%.2f,"ext_cores":$e%.2f,"gc_secs":$g%.2f}""")
      }
      ScalingEstimator.LegResult(reps.map(r => (r._1, r._3)), rows.head)
    }
    val t0 = System.nanoTime()
    try {
      val (reps, rows) = ScalingEstimator.adaptive(
        nC, mC, repsN, repsM,
        // cheap rounds (no per-round warmups) widen phase 1; phase 2 then
        // spends the remainder on whichever leg blocks the estimate
        minRounds = 2, maxRounds = envInt("SPARK_GRAFT_BENCH_REPS", 6),
        budgetSecs = budgetSecs, targetEff = targetEff,
        runLeg = runLeg,
        elapsed = () => (System.nanoTime() - t0) / 1e9)
      ScalingResult(cfg.nEvents, nC, mC, ScalingEstimator.estimate(reps, nC, mC), reps, rows,
        nBatches = cfg.nBatches)
    } finally live.values.foreach(_.close())
  }

  /** SPARK_GRAFT_CORES_LIST parsed + VALIDATED — the one entry point for
    * both mains (an over-avail core count would silently degrade every
    * leg to the unpinned fallback with local[N] oversubscribing the host,
    * printing normal-looking but meaningless numbers). */
  private[graft] def coreListFromEnv(): Seq[Int] = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CORES_LIST", "2,8")
    val coreList = raw.split(',').map(_.trim.toIntOption.getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CORES_LIST must be comma-separated whole numbers, got '$raw'"))).toSeq
    val avail = Runtime.getRuntime.availableProcessors
    require(coreList.forall(c => c >= 1 && c <= avail),
      s"SPARK_GRAFT_CORES_LIST $coreList exceeds available processors ($avail)")
    if (coreList.size > 2)
      System.err.println(s"two-cluster protocol measures only the first and " +
        s"last of SPARK_GRAFT_CORES_LIST; ignoring ${coreList.tail.init.mkString(",")}")
    coreList
  }

  /** Modes: no args = the scaling protocol (prints one JSON line);
    * `childstep <cores>` = the stepping child; `childadapt <cores>
    * [minReps maxReps patience budgetSecs]` = the self-stopping child
    * tools/cluster_scaling.sh runs under spark-submit. */
  def main(args: Array[String]): Unit = {
    // CHILD_REP and the JSON result lines are machine-parsed; pin the
    // default locale so f"%.3f" never emits comma decimal separators.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    if (args.length >= 2 && args(0) == "childstep") {
      childStepMain(args(1).toInt, cfgFromEnv)
      sys.exit(0)
    }
    if (args.length >= 2 && args(0) == "childadapt") {
      def a(i: Int, d: Int) = if (args.length > i) args(i).toInt else d
      childAdaptMain(args(1).toInt, minReps = a(2, 3), maxReps = a(3, 12),
        patience = a(4, 3), budgetSecs = a(5, 600).toLong, cfgFromEnv)
      sys.exit(0)
    }
    println(runScaling(coreListFromEnv()).json)
  }
}
