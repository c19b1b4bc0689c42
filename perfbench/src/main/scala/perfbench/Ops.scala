package perfbench

import graft.SparkEntry
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Row, SparkSession}

/** The query suite: every `SparkEntry.queries` entry over the TPC-H-ish
  * tables run.py writes with perfbench/datagen.py from a fixed seed.
  *
  * A traced cdc_backfill run makes one traced pass ([[tracedPass]]) and
  * checks each result against its digest in [[DigestFile]]. Those
  * digests are recorded once by perfbench/record_ops.py, which runs
  * [[record]] and keeps a digest only if the result it was taken from
  * matched the query's DuckDB oracle (`SparkEntry.oracleSql`). */
object Ops {
  val DigestFile = "perfbench/ops_digests.tsv"

  private def queries = SparkEntry.queries.toSeq.sortBy(_._1)

  /** A session of its own with AQE on, as the engine's query tests run. */
  private def session(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s
  }

  /** Order-free digest of a result: columns by name, each value rendered
    * (doubles to 10 significant digits, so the digest does not hang on
    * the last bit of a sum), rows sorted, sha256. */
  def digest(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(schema.fieldNames(_)).mkString("\u0001").getBytes("UTF-8"))
    lines.foreach(l => md.update(("\n" + l).getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(10)).stripTrailingZeros.toPlainString
    case f: Float => render(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case x => x.toString
  }

  private def readDigests(): Map[String, String] = {
    val src = scala.io.Source.fromFile(DigestFile, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(q, d) = l.split('\t')
      q -> d
    }.toMap
    finally src.close()
  }

  /** One traced pass over every query, in name order. Each query is an op
    * (traced, so it stays out of end-to-end numbers) whose result must
    * match its recorded digest; `corrupt` drops a row of the first
    * result, which that check must catch. The pass is the JVM's first
    * over these queries: Spark's core is warm from the CDC leg, but each
    * query's planning and code generation are first-time. */
  def tracedPass(spark: SparkSession, data: String, res: Result, corrupt: Boolean): Unit = {
    val want = readDigests()
    val s = session(spark)
    val codegenSecs = scala.collection.mutable.ArrayBuffer.empty[Double]
    Trace.resume()
    queries.zipWithIndex.foreach { case ((name, fn), i) =>
      val cg0 = CodeGenerator.compileTime
      res.op(s"query:$name", traced = true) {
        Trace.span(s"ops.$name") {
          val df = Trace.span("ops.plan") {
            val d = fn(s, data)
            d.queryExecution.executedPlan
            d
          }
          val rows = Trace.span("ops.exec")(df.collect()).toSeq
          (df.schema, if (corrupt && i == 0) rows.drop(1) else rows)
        }
      }(_._2.length.toLong, { case (schema, rows) =>
        codegenSecs += (CodeGenerator.compileTime - cg0) / 1e9
        val ok = want.get(name).contains(digest(schema, rows))
        if (!ok) res.error(s"query $name: result digest differs from the recorded one in $DigestFile")
        ok
      })
    }
    Trace.pause()
    val per = queries.map(_._1).flatMap(q => Trace.named(s"ops.$q").map(q -> _))
    val aggs = per.map { case (_, sp) => Trace.subtreeAgg(sp) }
    val l = res.layers
    l("queries_total_s") = res.ops.filter(o => o.kind.startsWith("query:") && o.ok).map(_.secs).sum
    l("ops.plan_s") = Trace.named("ops.plan").map(_.secs).sum
    l("ops.codegen_s") = codegenSecs.sum
    l("ops.exec_s") = Trace.named("ops.exec").map(_.secs).sum
    l("ops.cpu_s") = aggs.map(_.cpuNs).sum / 1e9
    l("ops.shuffle_mb") = aggs.map(_.shuffleWriteBytes).sum / 1048576.0
    per.foreach { case (q, sp) => l(s"ops.${q}_s") = sp.secs }
  }

  /** For perfbench/record_ops.py: run every query over `work`/ops-data,
    * write each result as parquet under `work`/results/<query>, its
    * digest to `work`/results/digests.tsv and the oracle SQL to
    * `work`/results/oracle_sql.json. */
  def record(spark: SparkSession, work: String): Unit = {
    val s = session(spark)
    val out = s"$work/results"
    new java.io.File(out).mkdirs()
    val digests = queries.map { case (name, fn) =>
      val df = fn(s, s"$work/ops-data")
      val rows = df.collect().toSeq
      s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      s"$name\t${digest(df.schema, rows)}\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/digests.tsv"), digests.mkString)
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"), json)
  }
}
