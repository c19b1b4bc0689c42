package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** `--key value` arguments, with typed getters that name the bad flag
  * instead of dying on a bare NumberFormatException. */
final class Args(argv: Array[String]) {
  private val kv: Map[String, String] = {
    if (argv.length % 2 != 0) Args.fail(s"expected --key value pairs, got: ${argv.mkString(" ")}")
    argv.grouped(2).map { case Array(k, v) =>
      if (!k.startsWith("--")) Args.fail(s"expected a --flag, got '$k'")
      k.stripPrefix("--") -> v
    }.toMap
  }
  def str(k: String): String = kv.getOrElse(k, Args.fail(s"missing --$k"))
  def long(k: String): Long = {
    val v = str(k).toLongOption.getOrElse(Args.fail(s"--$k must be a whole number, got '${str(k)}'"))
    if (v < 0) Args.fail(s"--$k must not be negative, got $v")
    v
  }
  def int(k: String): Int = {
    val v = long(k)
    if (v > Int.MaxValue) Args.fail(s"--$k is too large: $v")
    v.toInt
  }
  def flag(k: String): Boolean = kv.get(k).exists(v => v == "1" || v == "true")
}

object Args {
  def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)
}

/** One timed operation: wall and process-CPU seconds, the items it
  * processed, and whether it completed and passed its check. */
final case class Op(kind: String, secs: Double, cpuSecs: Double, items: Long, ok: Boolean, traced: Boolean) {
  def json: String = Json.obj("kind" -> kind, "s" -> secs, "cpu_s" -> cpuSecs, "items" -> items,
    "ok" -> ok, "traced" -> traced)
}

final class Result(val workload: String, val cores: Int) {
  val setupSecs = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  val figures = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val errors = mutable.ArrayBuffer.empty[String]
  var digest = ""

  def error(msg: String): Unit = {
    System.err.println(s"[perfbench] $msg")
    if (errors.size < 50) errors += msg
  }

  /** Time `body` (wall and process CPU); then, untimed, `check` its
    * result. A throw or a failed check makes the op count as failed. */
  def op[T](kind: String, traced: Boolean = false)(body: => T)(items: T => Long, check: T => Boolean): Option[T] = {
    val c0 = Proc.cpuSecs()
    val t0 = Proc.now()
    val out = try Right(body) catch { case e: Throwable => Left(e) }
    val secs = Proc.since(t0)
    val cpu = Proc.cpuSecs() - c0
    out match {
      case Right(v) =>
        val ok = try check(v) catch {
          case e: Throwable => error(s"$kind check threw: $e"); false
        }
        ops += Op(kind, secs, cpu, items(v), ok, traced)
        Some(v)
      case Left(e) =>
        error(s"$kind failed: $e")
        ops += Op(kind, secs, cpu, 0L, ok = false, traced)
        None
    }
  }

  def json: String = Json.obj(
    "workload" -> workload, "cores" -> cores,
    "setup_s" -> setupSecs.toSeq, "ops" -> Json.Raw(ops.map(_.json).mkString("[", ",", "]")),
    "figures" -> figures.toMap, "layers" -> layers.toMap, "errors" -> errors.toSeq,
    "digest" -> digest, "peak_rss_mb" -> Proc.peakRssMb())
}

/** Entry point of the benchmark JVM. perfbench/run.py builds the command
  * line; run that script rather than this class. Writes its raw
  * measurements as JSON to `--out`; run.py turns them into metrics.
  *
  * Arguments: `--workload`, `--seed`, `--seconds`, `--trace 0|1`,
  * `--cores` (1 for the pinned leg of cdc_backfill, which replays the log
  * the main leg left), `--corrupt 0|1` (self-test hook), and the paths
  * `--work`, `--out`, `--trace-out`. Input sizes are constants in [[Cdc]]. */
object Main {
  def session(cores: Int, work: String): SparkSession = {
    val s = graft.Sessions.builder("perfbench", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the CDC legs keep the shuffle at 2 x cores partitions, as the
      // engine's own scaling bench does (the query pass turns AQE on)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val exit = try {
      val args = new Args(argv)
      val workload = args.str("workload")
      val cores = args.int("cores")
      val avail = Runtime.getRuntime.availableProcessors()
      if (cores < 1 || cores > avail) Args.fail(s"--cores $cores is not between 1 and the $avail processors this JVM may use")
      val work = args.str("work")
      val res = new Result(workload, cores)
      val spark = session(cores, work)
      try workload match {
        case "cdc_backfill" if cores == 1 => Cdc.backfillOneCore(spark, args, res)
        case "cdc_backfill" => Cdc.backfill(spark, args, res)
        case "cdc_incremental" => Cdc.incremental(spark, args, res)
        case "ops_record" => Ops.record(spark, work)
        case w => Args.fail(s"unknown workload '$w'")
      } finally {
        Trace.stop()
        if (Trace.spans.nonEmpty) java.nio.file.Files.writeString(
          java.nio.file.Paths.get(args.str("trace-out")), Trace.toJson)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(args.str("out")), res.json)
        spark.stop()
      }
      0
    } catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        2
    }
    sys.exit(exit)
  }
}
