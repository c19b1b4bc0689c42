package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract). Prints ONE JSON line:
  * {"metric":"total","value":<query secs>,"unit":"sec","queries":{...},
  *  "cdc":{...two-cluster-size scaling protocol results...},"sf":...}
  *
  * Part 1 times every operator-demo query on SPARK_GRAFT_SF_DIR.
  * Part 2 runs BenchCdc's scaling protocol (see BenchCdc's scaladoc and
  * BASELINE.md): the same seeded change log replayed in taskset-pinned
  * stepping child JVMs at N and 4N cores, interleaved reps, reporting
  * events/sec at both legs' fastest reps and one efficiency,
  * `scaling_efficiency` = (tput_4N / tput_N) / 4 over those floors, with
  * `certified` (both floor reps kernel-clean) and `superlinear` (> 1.0)
  * beside it and every raw rep, in [[BenchCdc.ScalingResult.json]]'s
  * shape. Part 3 replays the same log as SPARK_GRAFT_BENCH_EPOCHS
  * incremental epochs (default 8; 0 or 1 skips it), same shape.
  *
  * Space: the logs live under SPARK_GRAFT_BENCH_WORK (default `/dev/shm`,
  * tmpfs). Part 2's 8M-event log takes ~4 GB and part 3 caches its own
  * batch layout of the same events, ~4 GB more — give the tmpfs ~8 GB.
  * Whole-number env knobs that do not parse fail naming the variable.
  */
object Bench {

  private def querySession(cpus: Int): SparkSession = {
    val s = Sessions.builder("graft-bench-queries", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    // the output line is machine-parsed JSON; pin the locale so f"%.3f"
    // never emits comma decimal separators
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = BenchCdc.envInt("SPARK_GRAFT_CPUS", 32)

    // ---- part 1: operator queries --------------------------------------
    val sq = querySession(cpus)
    // untimed warmup: JIT/codegen/session bring-up otherwise lands on the
    // alphabetically-first query (~3s of pure warmup measured)
    Seq("q8_text_stats", "q1_pricing_summary").foreach { w =>
      try SparkEntry.queries(w)(sq, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { fn(sq, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    sq.stop()

    val qs = results.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
    // failures must be VISIBLE in the machine-parsed line, not only on
    // stderr — a missing dataset would otherwise print a spectacular
    // ~1 s "total" with every query silently broken
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // queries-only mode: ad-hoc suite timings at other scale factors
    // (e.g. the sf1 headroom run in BASELINE.md) without the ~22-minute
    // scaling protocol. The driver never sets this.
    if (sys.env.contains("SPARK_GRAFT_BENCH_QUERIES_ONLY")) {
      println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}""")
      return
    }

    // ---- part 2: CDC replay scaling protocol ---------------------------
    val coreList = BenchCdc.coreListFromEnv()
    val cdc = BenchCdc.runScaling(coreList).json

    // ---- part 3: INCREMENTAL (multi-epoch) replay scaling --------------
    // The production path is stage-resumable incremental epochs, not one
    // backfill: the same 8M-event log split into SPARK_GRAFT_BENCH_EPOCHS
    // batch dirs, each a ledgered MERGE commit onto the growing table —
    // per-epoch commit overhead and copy-on-write amplification included.
    // 0 disables; its budget is separate so a noisy incremental hunt
    // cannot starve (or be starved by) part 2's. The 8-epoch layout gets
    // its OWN cached workspace (Cfg.work embeds the batch count): ~4 GB
    // more tmpfs alongside part 2's, generated once per boot — the same
    // events in a different batch layout cannot share a log dir.
    val epochs = BenchCdc.envInt("SPARK_GRAFT_BENCH_EPOCHS", 8)
    val cdcIncr =
      if (epochs <= 1) ""
      else {
        val ri = BenchCdc.runScaling(coreList,
          budgetSecs = BenchCdc.envInt("SPARK_GRAFT_BENCH_BUDGET_INCR", 1200),
          nBatches = Some(epochs))
        s""","cdc_incremental":${ri.json}"""
      }

    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failedJson,"cdc":$cdc$cdcIncr,"sf":"$sfDir"}""")
  }
}
