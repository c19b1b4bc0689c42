package perfbench

/** Minimal JSON writer for the benchmark's result file (numbers, strings,
  * booleans, sequences and nested objects). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case Raw(j) => j
    case o => str(o.toString)
  }

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Already-encoded JSON. */
  final case class Raw(json: String)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Process-level readings: CPU time of the whole JVM (executor threads
  * included, in local mode) and the peak resident set. */
object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSecs(): Double = os.getProcessCpuTime / 1e9

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private val t0 = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2fs] $msg")

  def now(): Long = System.nanoTime()
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def rm(path: String): Unit = {
    def loop(f: java.io.File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath)) f.listFiles().foreach(loop)
      f.delete(): Unit
    }
    val f = new java.io.File(path)
    if (f.exists()) loop(f)
  }

  /** Total bytes of the regular files under `path`. */
  def du(path: String): Long = {
    var b = 0L
    def loop(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(loop))
      else if (f.isFile) b += f.length()
    loop(new java.io.File(path))
    b
  }

  /** Data files (parquet) under a table root, by relative path. */
  def dataFiles(root: String): Set[String] = {
    val base = new java.io.File(root).toPath
    val out = Set.newBuilder[String]
    def loop(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(loop))
      else if (f.getName.endsWith(".parquet")) out += base.relativize(f.toPath).toString
    loop(new java.io.File(root))
    out.result()
  }
}
