package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted, SparkListenerTaskEnd}

import scala.collection.mutable

/** Task-metric totals of the Spark jobs run inside one span. */
final class TaskAgg {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  /** Per stage: task run times (ms), and the stage's wall time (ms). */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageWallMs = mutable.Map.empty[Int, Long]

  def stages: Int = stageTasks.size

  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; recordsRead += o.recordsRead
    outputBytes += o.outputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    o.stageTasks.foreach { case (k, v) => stageTasks.getOrElseUpdate(k, mutable.ArrayBuffer.empty) ++= v }
    stageWallMs ++= o.stageWallMs
  }

  /** Slowest task ÷ median task of the longest stage (1.0 = no skew). */
  def taskSkew: Double =
    if (stageTasks.isEmpty) 0.0
    else {
      val longest = stageTasks.keys.maxBy(s => (stageWallMs.getOrElse(s, 0L), s))
      val ts = stageTasks(longest).sorted
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ts.last / med
    }
}

final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long) {
  var endNs: Long = -1L
  val agg = new TaskAgg
  def secs: Double = (endNs - startNs) / 1e9
}

/** In-memory spans around every call the benchmark makes into an engine
  * layer, plus a SparkListener that charges each task's metrics to the
  * span whose thread submitted the task's stage. Off by default: an
  * untraced run pays one boolean test per call. Spans are written out
  * once, when the run ends. */
object Trace {
  private val Prop = "perfbench.span"
  @volatile private var on = false
  private var sc: SparkContext = _
  private var runId = ""
  private var stack = List.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byStage = new java.util.concurrent.ConcurrentHashMap[Int, Span]()

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { id =>
        val i = id.toInt
        Trace.synchronized { if (i < spans.size) byStage.put(e.stageInfo.stageId, spans(i)) }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = byStage.get(e.stageInfo.stageId)
      if (s != null) for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
        s.agg.synchronized { s.agg.stageWallMs(e.stageInfo.stageId) = b - a }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = byStage.get(e.stageId)
      val m = e.taskMetrics
      if (s != null && m != null) s.agg.synchronized {
        val a = s.agg
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.recordsRead += m.inputMetrics.recordsRead
        a.outputBytes += m.outputMetrics.bytesWritten
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  /** Attach the listener; later spans belong to run `id`. */
  def start(context: SparkContext, id: String): Unit = {
    sc = context
    runId = id
    sc.addSparkListener(listener)
    on = true
  }

  /** Detach after every queued task event has been delivered; spans
    * opened while paused are not recorded. */
  def pause(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def resume(): Unit = if (sc != null && !on) {
    sc.addSparkListener(listener)
    on = true
  }

  def stop(): Unit = pause()

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val s = Trace.synchronized {
        val sp = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId, System.nanoTime())
        spans += sp
        sp
      }
      stack = s :: stack
      val prev = sc.getLocalProperty(Prop)
      sc.setLocalProperty(Prop, s.id.toString)
      try f
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Prop, prev)
      }
    }

  def named(name: String): Seq[Span] = spans.filter(s => s.name == name && s.endNs > 0).toSeq

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** A span's task metrics including those of its descendants. */
  def subtreeAgg(s: Span): TaskAgg = {
    val a = new TaskAgg
    a.add(s.agg)
    children(s).foreach(c => a.add(subtreeAgg(c)))
    a
  }

  /** Duration minus the part of it that child spans cover. */
  def selfSecs(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs, c.endNs)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    ((s.endNs - s.startNs) - covered) / 1e9
  }

  def toJson: String = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.map { s =>
      val a = s.agg
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> selfSecs(s) * 1e3, "tasks" -> a.tasks, "cpu_ms" -> a.cpuNs / 1e6,
        "input_bytes" -> a.inputBytes, "shuffle_write_bytes" -> a.shuffleWriteBytes,
        "output_bytes" -> a.outputBytes)
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
