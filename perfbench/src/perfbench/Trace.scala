package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** One span: a call into a layer, or an op when `parent` is -1. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Outside-in span recorder. Spans are opened by the benchmark around its
  * calls into each layer (never inside the program), kept in memory, and
  * written out when the run ends. The client is a single thread, so the
  * open spans form a stack and a span's direct children never overlap:
  * self time = duration - sum of the direct children's durations.
  * Disabled tracers record nothing and add no work. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  /** Id of the op in flight; spans and counters of the set-up carry -1. */
  var op: Int = -1

  /** Drops what the set-up recorded. */
  def reset(): Unit = {
    spans.clear()
    counters.clear()
    nextId = 0
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        open = open.tail
        spans += Span(id, name, parent, op, t0, System.nanoTime())
      }
    }

  def add(name: String, v: Double): Unit =
    if (enabled) counters(name) = counters.getOrElse(name, 0.0) + v
  def add(name: String, v: Long): Unit = add(name, v.toDouble)

  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  def set(name: String, v: Double): Unit = if (enabled) counters(name) = v
  def set(name: String, v: Long): Unit = set(name, v.toDouble)

  /** Self seconds summed per span name, over spans of timed ops only. */
  def selfSeconds: Map[String, Double] = {
    val timed = spans.filter(_.op >= 0)
    val childSum = mutable.HashMap.empty[Int, Double].withDefaultValue(0.0)
    timed.foreach(s => if (s.parent >= 0) childSum(s.parent) += s.seconds)
    timed.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childSum(s.id)).sum
    }
  }

  /** Wall seconds summed per root span name (the ops). */
  def rootSeconds: Map[String, Double] =
    spans.filter(s => s.op >= 0 && s.parent < 0).groupBy(_.name)
      .map { case (n, ss) => n -> ss.map(_.seconds).sum }

  def spanCount: Int = spans.size

  /** The spans as JSON lines (name, start, end, parent, op). */
  def writeJsonLines(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      out.write(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      out.newLine()
    } finally out.close()
  }
}

/** Spark scheduler counters for jobs tagged with the local property
  * `perfbench.phase=timed`: the set-up's jobs are left out. Listener
  * events arrive on Spark's listener bus; [[PerfbenchBus.drain]] waits
  * for it before the totals are read. */
final class LayerListener extends SparkListener {
  private val timedStages = ConcurrentHashMap.newKeySet[Int]()
  private val submitted = new ConcurrentHashMap[Int, java.lang.Long]()
  val jobs, stages, tasks, taskFailures = new AtomicLong
  val shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong
  val schedulerWaitMs, busyMs, gcMs = new AtomicLong
  val cpuNs = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (e.properties != null &&
        e.properties.getProperty(LayerListener.PhaseKey) == "timed") {
      jobs.incrementAndGet()
      e.stageIds.foreach(id => timedStages.add(id))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t =>
      submitted.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (timedStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (timedStages.contains(e.stageId)) {
      tasks.incrementAndGet()
      if (e.reason != Success) taskFailures.incrementAndGet()
      Option(submitted.get(e.stageId)).foreach(t =>
        schedulerWaitMs.addAndGet(math.max(0L, e.taskInfo.launchTime - t)))
      val m = e.taskMetrics
      if (m != null) {
        busyMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
}

object LayerListener {
  val PhaseKey = "perfbench.phase"
}

/** Counters bumped from inside Spark tasks by the benchmark's wrapper
  * detail client. Local mode runs tasks in the driver JVM, so plain
  * JVM-global counters see every task. */
object TaskCounters {
  val detailRequests = new AtomicLong
  val detailFailures = new AtomicLong
  val detailBusyNs = new AtomicLong
  def reset(): Unit = Seq(detailRequests, detailFailures, detailBusyNs)
    .foreach(_.set(0L))
}

/** Latency samples of one op class. */
final class Samples {
  private val buf = mutable.ArrayBuffer.empty[Double]
  def add(v: Double): Unit = buf += v
  def values: Seq[Double] = buf.toSeq
  def n: Int = buf.size
  def sum: Double = buf.sum
  private def sorted = buf.sorted
  def p50: Double = {
    val s = sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** The highest percentile with at least ten samples beyond it (the
    * value at rank n-10); below 20 samples that rank falls under the
    * median, and the median is reported instead. */
  def tail: Double = if (n >= 20) sorted(n - 11) else p50
  def tailPercentile: Double = if (n >= 20) 100.0 * (n - 10) / n else 50.0
}
