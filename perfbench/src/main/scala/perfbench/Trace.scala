package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Counts of the Spark work done under one label. */
final class Work {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var bytesWritten = 0L
  var shuffleBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs
    recordsRead += o.recordsRead; bytesRead += o.bytesRead
    bytesWritten += o.bytesWritten; shuffleBytes += o.shuffleBytes
  }
}

/** Groups Spark jobs, and the tasks of their stages, by the span label
  * the benchmark set as a local property around the call that ran them.
  * Jobs submitted without a label are kept under `Tracer.Unattributed`. */
final class JobListener extends SparkListener {
  val byLabel = mutable.HashMap.empty[String, Work]
  /** (start ms, end ms) of every finished job, whatever its label */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageLabel = mutable.HashMap.empty[Int, String]
  private val started = mutable.HashMap.empty[Int, Long]

  private def work(label: String) = byLabel.getOrElseUpdate(label, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .getOrElse(Tracer.Unattributed)
    started(e.jobId) = e.time
    e.stageIds.foreach(s => stageLabel.getOrElseUpdate(s, label))
    work(label).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageLabel.getOrElse(e.stageId, Tracer.Unattributed))
      w.tasks += 1
      w.taskMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.recordsRead += m.inputMetrics.recordsRead
      w.bytesRead += m.inputMetrics.bytesRead
      w.bytesWritten += m.outputMetrics.bytesWritten
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }
}

/** One call of the benchmark into a layer. */
final case class Span(id: Int, parent: Int, name: String, phase: String,
    startMs: Long, startNs: Long) {
  var endMs = 0L
  var endNs = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-name totals of the spans of one phase, Spark work included. */
final case class LayerRow(name: String, calls: Long, s: Double, selfS: Double,
    driverS: Double, work: Work)

/** Records a span around each call the benchmark makes into the engine.
  * Spans stay in memory until the run ends. When tracing is off the
  * body runs alone: no span, no label, no listener. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _
  private var listener: JobListener = _
  var phase = "setup"

  /** Starts a new record on a fresh session; earlier spans are dropped. */
  def attach(context: SparkContext): Unit = {
    spans.clear()
    stack = Nil
    phase = "setup"
    if (enabled) {
      sc = context
      listener = new JobListener
      sc.addSparkListener(listener)
    }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
        phase, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.Key)
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.Key, prev)
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBridge.drainListenerBus(sc)

  private def covered(from: Long, to: Long, parts: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = from
    parts.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        val s = math.max(a, end)
        if (b > s) { total += b - s; end = b }
      }
    total
  }

  private def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    (s.endNs - s.startNs - covered(s.startNs, s.endNs, kids)) / 1e9
  }

  /** Time inside the span when no Spark job was running. */
  private def driverSeconds(s: Span): Double = {
    val jobs = listener.synchronized(listener.intervals.toVector)
    math.max(0.0, s.seconds - covered(s.startMs, s.endMs, jobs) / 1e3)
  }

  private def workOf(s: Span): Work =
    listener.synchronized(listener.byLabel.getOrElse(s.id.toString, new Work))

  /** Totals per span name over the spans of `phase`, plus one row for the
    * jobs no span labelled. */
  def layers(phase: String): Seq[LayerRow] = {
    if (!enabled) return Nil
    drain()
    val rows = spans.filter(_.phase == phase).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (name, ss) =>
        val w = new Work
        ss.foreach(s => w.add(workOf(s)))
        LayerRow(name, ss.size, ss.map(_.seconds).sum, ss.map(selfSeconds).sum,
          ss.map(driverSeconds).sum, w)
      }
    val un = listener.synchronized(listener.byLabel.get(Tracer.Unattributed))
    rows ++ (if (phase == "window") un.map(w => LayerRow(Tracer.Unattributed, 0, 0, 0, 0, w)) else None)
  }

  /** All spans as JSON lines, in start order. */
  def jsonLines(): Seq[String] = {
    if (!enabled) return Nil
    drain()
    spans.toSeq.map { s =>
      val w = workOf(s)
      Json.obj(Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "phase" -> s.phase,
        "start_ms" -> s.startMs, "s" -> s.seconds, "self_s" -> selfSeconds(s),
        "driver_s" -> driverSeconds(s), "jobs" -> w.jobs, "tasks" -> w.tasks,
        "task_s" -> w.taskMs / 1e3, "cpu_s" -> w.cpuNs / 1e9,
        "records_read" -> w.recordsRead, "bytes_read" -> w.bytesRead,
        "bytes_written" -> w.bytesWritten, "shuffle_bytes" -> w.shuffleBytes))
    }
  }
}

object Tracer {
  val Key = "perfbench.span"
  val Unattributed = "unattributed"
}

/** The benchmark's JSON output, written by the Jackson that Spark ships. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** one JSON object, its keys in the given order */
  def obj(kv: Seq[(String, Any)]): String = mapper.writeValueAsString(ListMap(kv: _*))
}
