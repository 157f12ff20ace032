package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans for the traced run.
  *
  * A span is opened by the benchmark around each call into a layer's
  * public functions (`sources`, `pipelines`, `sinks`); its name starts
  * with the layer. While a span is open, the driver thread's Spark
  * local property [[SpanProp]] names it, so every job, stage and task
  * Spark runs on its behalf is attributed to it by [[SpanListener]].
  * When tracing is off, [[span]] only runs its body.
  */
object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      var endNs: Long = 0L) {
    def seconds: Double = (endNs - startNs) / 1e9
    def layer: String = name.takeWhile(_ != '.')
  }

  @volatile var enabled = false
  private var sc: SparkContext = _
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def start(context: SparkContext): Unit = {
    sc = context
    enabled = true
  }

  def stop(): Unit = {
    enabled = false
    sc = null
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Spans in the subtree of `root`, root included. */
  def subtree(root: Span): Seq[Span] = {
    val ids = scala.collection.mutable.Set(root.id)
    spans.filter { s =>
      val in = s.id == root.id || ids.contains(s.parent)
      if (in) ids += s.id
      in
    }.toSeq
  }

  /** Self time: the span's duration minus the union of the intervals
    * its direct children cover.
    */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    for ((a, b) <- kids) {
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    (s.endNs - s.startNs - covered) / 1e9
  }
}

/** Scheduler counters per span: jobs, stages, tasks, shuffle bytes,
  * spill, executor CPU and GC, and bytes read from files.
  */
final class SpanListener extends SparkListener {
  final class Counters {
    var jobs, stages, tasks = 0L
    var shuffleWrite, shuffleRead, spill, cpuNs, gcMs, inputBytes = 0L
    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; cpuNs += o.cpuNs; gcMs += o.gcMs
      inputBytes += o.inputBytes
    }
  }

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counters]()

  private def of(span: Int): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(j: SparkListenerJobStart): Unit =
    Option(j.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
      .foreach { id =>
        val span = id.toInt
        of(span).synchronized { of(span).jobs += 1 }
        j.stageIds.foreach(stageSpan.put(_, span))
      }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(s.stageInfo.stageId)).foreach { span =>
      val c = of(span)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(t.stageId)).foreach { span =>
      val c = of(span)
      val m = t.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  /** Sum of the counters of `spans`. */
  def total(spans: Seq[Trace.Span]): Counters = {
    val out = new Counters
    spans.foreach(s => Option(bySpan.get(s.id)).foreach(out.add))
    out
  }
}

/** One JSON-RPC call as the traced transport saw it. */
final case class RpcCall(startNs: Long, endNs: Long, rows: Int, ok: Boolean)

object RpcLog {
  val calls = new ConcurrentLinkedQueue[RpcCall]()
  def snapshot(): Seq[RpcCall] = calls.asScala.toSeq
  def clear(): Unit = calls.clear()
}

/** JVM-wide counters, sampled before and after a pass. */
final case class JvmSample(cpuNs: Long, jitMs: Long, gcMs: Long)

object JvmSample {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def now(): JvmSample = JvmSample(
    os.getProcessCpuTime,
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum)

  /** Let set-up's garbage and background JIT work finish before a
    * timed pass: a full collection, then wait until the JIT has been
    * idle for 300 ms (at most 1 s).
    */
  def quiesce(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 1000000000L
    var last = jit.getTotalCompilationTime
    var idle = 0
    while (idle < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      idle = if (now == last) idle + 1 else 0
      last = now
    }
  }

  /** Heap in use after a full collection, in MiB. */
  def heapAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
