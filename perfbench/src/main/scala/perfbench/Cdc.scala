package perfbench

import graft.gen.{ChangeGen, GenConfig}
import graft.ingest.BatchReplay
import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeStats}
import graft.schema.SchemaRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The two CDC workloads. They share one seeded JSON change log, with
  * the key space, skew and duplicate/delete shares of the engine's own
  * scaling bench, and check every result against [[Fold]]. */
object Cdc {
  /** Generator ids of the log (~44k events with the duplicates). */
  val Events = 40000L
  /** Batches of the log: cdc_backfill replays [[Batches]]; cdc_incremental
    * writes HeadBatches + WarmEpochs + Epochs, backfills the head in
    * set-up and applies each of the rest as one epoch. */
  val Batches = 4
  val HeadBatches = 4
  val Buckets = 8
  val Salt = 2
  /** Untimed epochs before cdc_incremental times any, then timed ones. */
  val WarmEpochs = 3
  val Epochs = 6
  /** Files per log batch: fixed, so the log is the same at any core count. */
  val LogPartitions = 4
  /** Set-ups per run; setup_s is their median. */
  val SetupReps = 9
  /** Backfill reps: WarmReps untimed (the JIT keeps speeding the replay up
    * for about as many), then timed ones for `--seconds`, at least MinReps.
    * The one-core leg of a traced run warms up OneCoreWarmReps and times
    * OneCoreReps. */
  val WarmReps = 8
  val MinReps = 3
  val MaxReps = 50
  val OneCoreWarmReps = 3
  val OneCoreReps = 3
  /** Point lookups of an untraced run; a traced run makes TracedLookups,
    * tracing every LookupTraceEvery-th, so that 200 untraced ones give
    * lookup_tail_ms at p95. */
  val Lookups = 30
  val TracedLookups = 220
  val LookupTraceEvery = 11
  val Scans = 3

  def genConfig(seed: Long, events: Long): GenConfig = GenConfig(
    seed = seed, nEvents = events, nRepos = 2000, pathsPerRepo = 200,
    hotRepoPct = 30, deletePct = 5, dupPct = 10)

  /** Ids of batch `b` when writeLog splits `n` ids into `batches`. */
  def batchIds(n: Long, batches: Int, b: Int): (Long, Long) = {
    val per = math.max(1L, (n + batches - 1) / batches)
    (b * per, math.min(n, (b + 1) * per))
  }

  def batchDir(dir: String, b: Int): String = f"$dir/batch-$b%05d"

  /** The generated log: `head` batches under `log` (epoch 0 of the fold)
    * and the tail's batches under `tail`, tail batch i being epoch i. */
  final class Input(val cfg: GenConfig, val log: String, val tail: String,
                    val head: Int, val fold: Fold) {
    def tailDir(epoch: Int): String = batchDir(tail, head + epoch - 1)
  }

  private def foldLog(cfg: GenConfig, head: Int, epochs: Int): Fold = {
    val f = new Fold(cfg)
    val total = head + epochs
    (0 until total).foreach { b =>
      val (lo, hi) = batchIds(cfg.nEvents, total, b)
      f.applyIds(lo, hi, if (b < head) 0 else b - head + 1)
    }
    f
  }

  private def writeLog(spark: SparkSession, cfg: GenConfig, log: String, tail: String,
                       head: Int, epochs: Int): Unit = {
    Proc.rm(log)
    Proc.rm(tail)
    ChangeGen.writeLog(spark, cfg, log, head + epochs, partitions = LogPartitions, format = "json")
    if (epochs > 0) {
      new java.io.File(tail).mkdirs()
      (head until head + epochs).foreach { b =>
        java.nio.file.Files.move(java.nio.file.Paths.get(batchDir(log, b)),
          java.nio.file.Paths.get(batchDir(tail, b)))
      }
    }
  }

  /** Set-up: write the seeded log and fold it [[SetupReps]] times, each
    * rep one set-up time sample; the last rep's log is used. */
  def setup(spark: SparkSession, args: Args, res: Result, head: Int, epochs: Int): Input = {
    val cfg = genConfig(args.long("seed"), Events)
    val (log, tail) = (logDir(args), s"${args.str("work")}/tail")
    var fold: Fold = null
    (1 to SetupReps).foreach { _ =>
      val t0 = Proc.now()
      Trace.span("gen.write")(writeLog(spark, cfg, log, tail, head, epochs))
      fold = Trace.span("gen.fold")(foldLog(cfg, head, epochs))
      res.setupSecs += Proc.since(t0)
      Proc.log(f"set-up rep done in ${res.setupSecs.last}%.2f s")
    }
    new Input(cfg, log, tail, head, fold)
  }

  private def logDir(args: Args): String = s"${args.str("work")}/log"

  def stateRows(df: DataFrame): Seq[((String, String), StateRow)] =
    df.select(col("repo"), col("path"), col("lsn"), col("commit"), col("lang"), col("ts"),
      sha2(col("content"), 256), length(col("content")))
      .collect().toSeq.map { r =>
        (r.getString(0), r.getString(1)) -> StateRow(r.getLong(2), r.getString(3), r.getString(4),
          r.getTimestamp(5).getTime, r.getString(6), r.getInt(7))
      }

  /** Check the table's current state against the fold after `epoch`;
    * return (ok, live rows, digest). */
  private def verify(res: Result, what: String, table: LakeTable, expected: Map[(String, String), StateRow]): (Boolean, Long, String) = {
    val rows = Trace.span("lake.read")(stateRows(table.read()))
    val (bad, examples) = Fold.diff(expected, rows)
    if (bad > 0) res.error(s"$what: $bad keys differ from the fold, e.g. ${examples.mkString("; ")}")
    (bad == 0, rows.size.toLong, Fold.digest(rows))
  }

  private def replayAll(spark: SparkSession, log: String, table: LakeTable): MergeStats =
    BatchReplay.replayAll(spark, log, table, numBuckets = Buckets, saltBuckets = Salt,
      recordMeta = false, format = "json")

  private def readBatch(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(SchemaRegistry.eventSchemaV1).json(dir)

  private def lakeFigures(table: LakeTable): (Double, Long) = {
    val t0 = Proc.now()
    val snap = Trace.span("lake.snapshot")(table.currentSnapshot())
    (Proc.since(t0), snap.map(_.allFiles.size.toLong).getOrElse(0L))
  }

  /** Merge-layer figures over the traced merge calls: medians per call,
    * and ratios over the summed calls. */
  private def mergeLayers(res: Result, spans: Seq[Span], stats: Seq[MergeStats]): Unit = {
    if (spans.isEmpty || stats.isEmpty) return
    val aggs = spans.map(Trace.subtreeAgg)
    def med(f: TaskAgg => Double) = Stats.median(aggs.map(f))
    def medS(f: MergeStats => Double) = Stats.median(stats.map(f))
    val mb = 1024.0 * 1024.0
    val l = res.layers
    l("merge.apply_s") = Stats.median(spans.map(_.secs))
    l("merge.cpu_s") = med(_.cpuNs / 1e9)
    l("merge.gc_s") = med(_.gcMs / 1e3)
    l("merge.input_mb") = med(_.inputBytes / mb)
    l("merge.output_mb") = med(_.outputBytes / mb)
    l("merge.shuffle_write_mb") = med(_.shuffleWriteBytes / mb)
    l("merge.shuffle_records") = med(_.shuffleRecords.toDouble)
    l("merge.spill_mb") = med(_.spillBytes / mb)
    l("merge.tasks") = med(_.tasks.toDouble)
    l("merge.stages") = med(_.stages.toDouble)
    l("merge.task_skew") = med(_.taskSkew)
    l("merge.events_in") = medS(_.eventsIn.toDouble)
    l("merge.keys_written") = medS(_.keysWritten.toDouble)
    l("merge.tombstones_written") = medS(_.tombstonesWritten.toDouble)
    l("merge.buckets_touched") = medS(_.bucketsTouched.toDouble)
    l("merge.quarantined") = medS(_.eventsQuarantined.toDouble)
    val events = math.max(1L, stats.map(_.eventsIn).sum).toDouble
    l("merge.shuffle_records_per_event") = aggs.map(_.shuffleRecords).sum / events
    l("merge.keys_per_event") = stats.map(_.keysWritten).sum / events
    l("merge.cpu_s_per_mevent") = aggs.map(_.cpuNs).sum / 1e9 / (events / 1e6)
  }

  private def lakeLayers(res: Result, snapshotSecs: Seq[Double], filesLive: Long,
                         filesWritten: Seq[Long], bytesWritten: Seq[Long]): Unit = {
    val l = res.layers
    l("lake.snapshot_ms") = Stats.median(snapshotSecs) * 1e3
    l("lake.files_live") = filesLive.toDouble
    l("lake.files_written") = Stats.median(filesWritten.map(_.toDouble))
    l("lake.bytes_written_mb") = Stats.median(bytesWritten.map(_ / 1048576.0))
    l("lake.verify_s") = Stats.median(Trace.named("lake.read").map(_.secs))
  }

  private def genLayers(res: Result): Unit = {
    res.layers("gen.write_s") = Stats.median(Trace.named("gen.write").map(_.secs))
    res.layers("gen.fold_s") = Stats.median(Trace.named("gen.fold").map(_.secs))
  }

  /** Tracing overhead: median traced op ÷ median untraced op − 1, in %. */
  private def overhead(res: Result, kind: String): Unit = {
    val (t, u) = res.ops.filter(o => o.kind == kind && o.ok).partition(_.traced)
    if (t.nonEmpty && u.nonEmpty)
      res.layers("trace.overhead_pct") =
        (Stats.median(t.map(_.secs).toSeq) / Stats.median(u.map(_.secs).toSeq) - 1.0) * 100.0
  }

  // ---------------------------------------------------------------------
  // cdc_backfill
  // ---------------------------------------------------------------------

  /** The state-checked `replayAll` reps of one backfill leg. */
  private final class Leg(spark: SparkSession, args: Args, res: Result, input: Input, kind: String) {
    val tableDir = s"${args.str("work")}/table-$kind"
    private val expected: Map[(String, String), StateRow] = input.fold.expected(0)
    val stats = mutable.ArrayBuffer.empty[MergeStats]
    val snapSecs = mutable.ArrayBuffer.empty[Double]
    val filesWritten = mutable.ArrayBuffer.empty[Long]
    val bytesWritten = mutable.ArrayBuffer.empty[Long]
    var filesLive = 0L

    private def rep(traceOn: Boolean): Unit = {
      Proc.rm(tableDir)
      val table = new LakeTable(spark, tableDir)
      if (traceOn) Trace.resume()
      res.op(kind, traceOn) {
        Trace.span("ingest.replay_all")(replayAll(spark, input.log, table))
      }(_.eventsIn, { st =>
        if (args.flag("corrupt")) corrupt(spark, table, input.cfg)
        if (traceOn) {
          Trace.span("ingest.list")(BatchReplay.listBatches(spark, input.log))
          val (secs, n) = lakeFigures(table)
          snapSecs += secs
          filesLive = n
          filesWritten += Proc.dataFiles(tableDir).size
          bytesWritten += Proc.du(tableDir)
          stats += st
        }
        val (ok, _, dig) = verify(res, kind, table, expected)
        if (res.digest.isEmpty && ok) res.digest = dig
        if (ok && dig != res.digest) res.error(s"$kind: state digest differs from the first rep's")
        ok && dig == res.digest
      })
      if (traceOn) Trace.pause()
    }

    /** `warmReps` untimed reps, each state-checked like a timed one (the
      * check's Spark jobs deoptimise code the replay shares with them, so
      * without it the first timed reps recompile), then timed reps for
      * `budget` seconds, at least `minReps`. A traced run traces every
      * other rep, so its traced and untraced reps see the same JIT state. */
    def run(warmReps: Int, budget: Double, minReps: Int, traced: Boolean): Unit = {
      (1 to warmReps).foreach { _ =>
        Proc.rm(tableDir)
        val table = new LakeTable(spark, tableDir)
        replayAll(spark, input.log, table)
        verify(res, s"$kind warm-up", table, expected)
      }
      Proc.log(s"$kind: warmed up")
      val t0 = Proc.now()
      var i = 0
      while (i < MaxReps && (i < minReps || Proc.since(t0) < budget)) {
        rep(traceOn = traced && i % 2 == 1)
        i += 1
      }
      Proc.rm(tableDir)
      Proc.log(s"$kind: $i reps")
    }
  }

  /** The main leg: one `replayAll` of the whole log into an empty table,
    * repeated for `--seconds` at `--cores`. A traced run also decodes the
    * log alone (`ingest.parse`), and run.py then starts the one-core leg
    * ([[backfillOneCore]]) over the log this leg leaves; both legs must
    * reproduce the fold and agree bit for bit. */
  def backfill(spark: SparkSession, args: Args, res: Result): Unit = {
    val traced = args.flag("trace")
    if (traced) Trace.start(spark.sparkContext, "cdc_backfill")
    val input = setup(spark, args, res, Batches, 0)
    if (traced) genLayers(res)
    Trace.pause()
    val leg = new Leg(spark, args, res, input, "replay")
    leg.run(WarmReps, args.int("seconds"), if (traced) 2 * MinReps else MinReps, traced)
    if (traced) {
      Trace.resume()
      // the decode the merge plans, alone: the same batch dirs into a noop sink
      val dirs = BatchReplay.listBatches(spark, input.log).map(_._2)
      val p = Proc.now()
      Trace.span("ingest.parse") {
        spark.read.schema(SchemaRegistry.eventSchemaV1).json(dirs: _*)
          .write.format("noop").mode("overwrite").save()
      }
      res.layers("ingest.parse_s") = Proc.since(p)
      Trace.pause()
      res.layers("ingest.parse_cpu_s") = Trace.named("ingest.parse").map(s => Trace.subtreeAgg(s).cpuNs).sum / 1e9
      res.layers("ingest.list_ms") = Stats.median(Trace.named("ingest.list").map(_.secs)) * 1e3
      mergeLayers(res, Trace.named("ingest.replay_all"), leg.stats.toSeq)
      lakeLayers(res, leg.snapSecs.toSeq, leg.filesLive, leg.filesWritten.toSeq, leg.bytesWritten.toSeq)
      overhead(res, "replay")
    }
  }

  /** The one-core leg, in a JVM of its own that run.py starts under
    * `taskset` on one CPU with `-XX:ActiveProcessorCount=1` (so its GC,
    * JIT and common-pool threads are sized for that CPU), as the engine's
    * scaling bench starts its legs, and a `local[1]` session. After
    * [[OneCoreWarmReps]] it times [[OneCoreReps]] replays of the log the
    * main leg wrote, each checked against the same fold. */
  def backfillOneCore(spark: SparkSession, args: Args, res: Result): Unit = {
    val cfg = genConfig(args.long("seed"), Events)
    val input = new Input(cfg, logDir(args), "", Batches, foldLog(cfg, Batches, 0))
    new Leg(spark, args, res, input, "replay_1c").run(OneCoreWarmReps, 0.0, OneCoreReps, traced = false)
  }

  /** Self-test hook: commit one forged upsert the log never contained,
    * which the state check must catch. */
  private def corrupt(spark: SparkSession, table: LakeTable, cfg: GenConfig): Unit = {
    import spark.implicits._
    val forged = ChangeGen.eventOf(cfg, 0L).copy(lsn = cfg.nEvents * 4, op = "U", content = "forged")
    new MergeInto(table, Buckets, Salt, recordMeta = false).apply(Seq(forged).toDF(), Long.MaxValue)
  }

  // ---------------------------------------------------------------------
  // cdc_incremental
  // ---------------------------------------------------------------------

  /** Backfill the head as epoch 0, untimed; returns the table. */
  private def prepare(spark: SparkSession, input: Input, dir: String): LakeTable = {
    Proc.rm(dir)
    val table = new LakeTable(spark, dir)
    replayAll(spark, input.log, table)
    table
  }

  private def applyEpoch(spark: SparkSession, merge: MergeInto, input: Input, e: Int): MergeStats =
    merge.apply(readBatch(spark, input.tailDir(e)), (input.head + e - 1).toLong)

  /** The tail applied as ledgered epochs, one MergeInto.apply each, onto
    * a table holding the backfilled head: [[WarmEpochs]] untimed (they
    * warm the epoch path), then [[Epochs]] timed ones; then [[reads]] over
    * the multi-version table they leave. */
  def incremental(spark: SparkSession, args: Args, res: Result): Unit = {
    val work = args.str("work")
    val epochs = Epochs
    val traced = args.flag("trace")
    if (traced) Trace.start(spark.sparkContext, "cdc_incremental")
    val input = setup(spark, args, res, HeadBatches, WarmEpochs + epochs)
    if (traced) genLayers(res)
    Trace.pause()
    val p0 = Proc.now()
    val table = prepare(spark, input, s"$work/table")
    res.figures("prep_s") = Proc.since(p0)
    val merge = new MergeInto(table, Buckets, Salt, recordMeta = true)
    val versions = mutable.ArrayBuffer(table.currentSnapshot().get.version)
    (1 to WarmEpochs).foreach(e => versions += applyEpoch(spark, merge, input, e).tableVersion)
    Proc.log("warmed up")

    // the timed epochs' share of the tail
    val payload = Proc.du(input.tail) - (1 to WarmEpochs).map(e => Proc.du(input.tailDir(e))).sum
    val before = Proc.du(table.root)
    val statsOut = mutable.ArrayBuffer.empty[MergeStats]
    val snapSecs = mutable.ArrayBuffer.empty[Double]
    val filesWritten = mutable.ArrayBuffer.empty[Long]
    val bytesWritten = mutable.ArrayBuffer.empty[Long]
    var filesLive = 0L
    (WarmEpochs + 1 to WarmEpochs + epochs).foreach { e =>
      // traced runs alternate traced and untraced epochs, so the two
      // halves see tables of about the same size
      val traceOn = traced && e % 2 == 1
      val (files0, bytes0) = if (traceOn) (Proc.dataFiles(table.root), Proc.du(table.root)) else (Set.empty[String], 0L)
      if (traceOn) Trace.resume()
      res.op("epoch", traceOn)(Trace.span("merge.apply")(applyEpoch(spark, merge, input, e)))(
        _.eventsIn, st => !st.skipped && st.eventsIn > 0)
        .foreach { st =>
          versions += st.tableVersion
          if (traceOn) {
            val (s, n) = lakeFigures(table)
            snapSecs += s
            filesLive = n
            filesWritten += (Proc.dataFiles(table.root) -- files0).size
            bytesWritten += Proc.du(table.root) - bytes0
            statsOut += st
          }
        }
      if (traceOn) Trace.pause()
    }
    val written = Proc.du(table.root) - before
    if (traced) Trace.resume()
    val (ok, live, dig) = verify(res, "final state", table, input.fold.expected(WarmEpochs + epochs))
    if (traced) Trace.pause()
    res.digest = dig
    if (!ok) res.ops.mapInPlace(_.copy(ok = false))
    val liveBytes = table.currentSnapshot().map(_.allFiles.map(_.nBytes).sum).getOrElse(0L)
    res.figures("write_amp") = written.toDouble / math.max(1L, payload)
    res.figures("live_bytes_per_row") = liveBytes.toDouble / math.max(1L, live)
    if (traced) {
      mergeLayers(res, Trace.named("merge.apply"), statsOut.toSeq)
      lakeLayers(res, snapSecs.toSeq, filesLive, filesWritten.toSeq, bytesWritten.toSeq)
      overhead(res, "epoch")
    }
    // the reads over the multi-version table the epochs left
    if (ok && versions.size == WarmEpochs + epochs + 1) reads(spark, args, res, input, table, versions.toSeq)
    else res.error("reads skipped: the epochs did not all commit a correct state")
    if (traced) Ops.tracedPass(spark, s"$work/ops-data", res, args.flag("corrupt"))
  }

  // ---------------------------------------------------------------------
  // reads
  // ---------------------------------------------------------------------

  private val ReadCols = Seq("repo", "path", "lsn", "commit", "lang", "ts", "content")

  /** Seeded lookup keys, skewed like the log: the key of a hashed lsn. */
  def lookupKeys(cfg: GenConfig, n: Int): Seq[(String, String)] =
    (0 until n).map { i =>
      val lsn = (ChangeGen.mix(cfg.seed * 0x9e3779b97f4a7c15L + i) & Long.MaxValue) % cfg.nEvents
      (ChangeGen.repoOf(cfg, lsn), ChangeGen.pathOf(cfg, lsn)._1)
    }

  /** Closed-loop reads, one in flight, over a multi-version table whose
    * version after epoch e is `versions(e)`: [[Lookups]] point lookups
    * ([[TracedLookups]] in a traced run, every [[LookupTraceEvery]]-th
    * traced), one `changesFrom` read per epoch, and [[Scans]] full-scan
    * aggregates, all through format("graft"), each checked against the
    * fold. A traced run traces every other `changesFrom` read and scan. */
  def reads(spark: SparkSession, args: Args, res: Result, input: Input, table: LakeTable,
            versions: Seq[Long]): Unit = {
    val traced = args.flag("trace")
    val fold = input.fold
    val epochs = versions.size - 1
    val root = table.root

    val rowCache = mutable.HashMap.empty[Long, StateRow]
    def expectedRow(k: (String, String), epoch: Int): Option[StateRow] =
      fold.lsnAt(k, epoch).map(l => rowCache.getOrElseUpdate(l, fold.row(l)))

    def select(df: DataFrame): Seq[((String, String), StateRow)] =
      stateRows(df.select(ReadCols.map(col): _*))

    def lookup(k: (String, String)): Seq[((String, String), StateRow)] = Trace.span("dsv2.lookup") {
      val df = Trace.span("dsv2.lookup_plan") {
        val d = spark.read.format("graft").load(root).where(col("repo") === k._1 && col("path") === k._2)
        d.queryExecution.executedPlan
        d
      }
      Trace.span("dsv2.lookup_exec")(select(df))
    }
    def lookupOk(k: (String, String), rows: Seq[((String, String), StateRow)]): Boolean = {
      val ok = rows.map(_._2) == expectedRow(k, epochs).toSeq && rows.forall(_._1 == k)
      if (!ok) res.error(s"lookup $k: expected ${expectedRow(k, epochs)}, got ${rows.map(_._2)}")
      ok
    }

    def cdcRead(e: Int): Seq[((String, String), StateRow)] = Trace.span("dsv2.cdc_read") {
      select(spark.read.format("graft").option("changesFrom", versions(e - 1).toString)
        .option("changesTo", versions(e).toString).load(root))
    }
    // at-least-once change feed: every row is the key's state after the
    // epoch, and every key the epoch changed (and left live) is present
    def cdcOk(e: Int, rows: Seq[((String, String), StateRow)]): Boolean = {
      val wrong = rows.filter { case (k, r) => !expectedRow(k, e).contains(r) }
      val got = rows.map(_._1).toSet
      val missing = fold.changedLive(e).filterNot(got).take(3).toSeq
      if (wrong.nonEmpty || missing.nonEmpty)
        res.error(s"changesFrom epoch $e: ${wrong.size} wrong rows ${wrong.take(2)}, missing ${missing}")
      wrong.isEmpty && missing.isEmpty
    }

    val expectedFinal = fold.expected(epochs)
    val expectedAgg: Map[String, (Long, Long, Long)] = expectedFinal.values.groupBy(_.lang).map {
      case (lang, rs) => lang -> (rs.size.toLong, rs.map(_.contentLen.toLong).sum, rs.map(_.lsn).max)
    }
    def scan(): Map[String, (Long, Long, Long)] = Trace.span("dsv2.scan") {
      spark.read.format("graft").load(root).groupBy(col("lang"))
        .agg(count(lit(1)), sum(length(col("content"))), max(col("lsn")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    }
    def scanOk(got: Map[String, (Long, Long, Long)]): Boolean = {
      if (got != expectedAgg) res.error(s"scan: expected $expectedAgg, got $got")
      got == expectedAgg
    }

    // untimed warm-up of each read kind
    lookupKeys(genConfig(input.cfg.seed + 1L, input.cfg.nEvents), 8).foreach(lookup)
    cdcRead(1)
    scan()

    val keys = lookupKeys(input.cfg, if (traced) TracedLookups else Lookups)
    def traceOn(i: Int) = traced && i % 2 == 1
    def withTrace[T](on: Boolean)(f: => T): T = {
      if (on) Trace.resume()
      try f finally if (on) Trace.pause()
    }
    keys.zipWithIndex.foreach { case (k, i) =>
      val on = traced && i % LookupTraceEvery == LookupTraceEvery - 1
      withTrace(on)(res.op("lookup", on)(lookup(k))(_.size.toLong, rows => lookupOk(k, rows)))
    }
    (1 to epochs).foreach { e =>
      withTrace(traceOn(e))(res.op("cdc_read", traceOn(e))(cdcRead(e))(_.size.toLong, rows => cdcOk(e, rows)))
    }
    (1 to Scans).foreach { i =>
      withTrace(traceOn(i))(res.op("scan", traceOn(i))(scan())(_ => expectedFinal.size.toLong, scanOk))
    }

    if (traced) {
      val mb = 1048576.0
      val l = res.layers
      val lookups = Trace.named("dsv2.lookup")
      l("dsv2.lookup_plan_ms") = Stats.median(Trace.named("dsv2.lookup_plan").map(_.secs)) * 1e3
      l("dsv2.lookup_exec_ms") = Stats.median(Trace.named("dsv2.lookup_exec").map(_.secs)) * 1e3
      l("dsv2.lookup_tasks") = Stats.median(lookups.map(s => Trace.subtreeAgg(s).tasks.toDouble))
      val returned = res.ops.filter(o => o.kind == "lookup" && o.traced).map(_.items).sum
      l("dsv2.rows_examined_per_row") =
        lookups.map(s => Trace.subtreeAgg(s).recordsRead).sum.toDouble / math.max(1L, returned)
      val cdc = Trace.named("dsv2.cdc_read").map(Trace.subtreeAgg)
      l("dsv2.cdc_read_cpu_s") = Stats.median(cdc.map(_.cpuNs / 1e9))
      l("dsv2.cdc_read_input_mb") = Stats.median(cdc.map(_.inputBytes / mb))
      val scans = Trace.named("dsv2.scan").map(Trace.subtreeAgg)
      l("dsv2.scan_cpu_s") = Stats.median(scans.map(_.cpuNs / 1e9))
      l("dsv2.scan_input_mb") = Stats.median(scans.map(_.inputBytes / mb))
      // a workload that timed writes first reports their overhead
      if (!l.contains("trace.overhead_pct")) overhead(res, "lookup")
    }
  }
}
