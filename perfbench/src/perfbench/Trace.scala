package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** JVM-wide GC totals (all collectors), read at span boundaries. */
object Gc {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  def timeMs: Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
  def count: Long = beans.map(b => math.max(0L, b.getCollectionCount)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakBytes: Long = heapPools.map(_.getPeakUsage.getUsed).sum
}

/**
 * Span recorder for the traced mode. The benchmark wraps each call it makes
 * into an engine layer in `span(layer, name)`; spans nest (one client
 * thread), so a layer's self time is its wall minus its children's. Each
 * open span is also published as a Spark local property, so the
 * [[SpanListener]] can bill every job, stage and task to the span that
 * launched it. Disabled, `span` is a plain call: the untraced mode pays
 * nothing but the branch.
 */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  /** Spans are recorded only while this is set (enabled runs toggle it). */
  var on: Boolean = enabled

  final class Span(val id: Int, val parent: Int, val layer: String,
                   val name: String, val op: Long, val startNs: Long) {
    var endNs: Long = 0L
    var gcMs: Long = 0L
    var gcCount: Long = 0L
    val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  /** Op id stamped on every span opened while it is set (-1 = setup). */
  var op: Long = -1L

  def span[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1),
      layer, name, op, System.nanoTime())
    spans += s
    stack = s :: stack
    val gc0 = Gc.timeMs
    val gcn0 = Gc.count
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.gcMs = Gc.timeMs - gc0
      s.gcCount = Gc.count - gcn0
      stack = stack.tail
      lastClosed = Some(s)
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  /** Add `v` to counter `name` of the innermost open span (`v` is not
   * evaluated while tracing is off). */
  def count(name: String, v: => Double): Unit =
    if (on) stack.headOption.foreach(add(_, name, v))

  /** The span closed last (None while tracing is off) — lets a check that
   * runs after the op's clock has stopped attach counters to it. */
  def last: Option[Span] = if (on) lastClosed else None
  private var lastClosed: Option[Span] = None

  def add(s: Span, name: String, v: Double): Unit =
    s.counters(name) = s.counters.getOrElse(name, 0.0) + v

  def toJson(originNs: Long): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
      "name" -> s.name, "op" -> s.op,
      "start_s" -> (s.startNs - originNs) / 1e9,
      "end_s" -> (s.endNs - originNs) / 1e9,
      "gc_s" -> s.gcMs / 1e3, "gc_count" -> s.gcCount,
      "counters" -> s.counters.toMap)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/**
 * Sums Spark task metrics per span (the span id rides the job's local
 * properties) and records each job's wall interval, so the traced run can
 * split a span's wall into executor work and driver-only time.
 */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobStart = mutable.Map[Int, (Int, Long)]()
  private val jobs = mutable.ArrayBuffer[(Int, Long, Long)]()
  private val agg = mutable.Map[Int, Array[Double]]()
  private val fields = Seq("tasks", "exec_run_s", "exec_cpu_s", "sched_wait_s",
    "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "failed_tasks")

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp)))
      .flatMap(_.toIntOption).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    e.stageIds.foreach(stageSpan.put(_, s))
    jobStart(e.jobId) = (s, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, t0) => jobs += ((s, t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s: Int = Option(stageSpan.get(e.stageId)).map(_.intValue).getOrElse(-1)
    val a = agg.getOrElseUpdate(s, new Array[Double](fields.size))
    a(0) += 1
    if (e.reason != org.apache.spark.Success) a(9) += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      a(1) += m.executorRunTime / 1e3
      a(2) += m.executorCpuTime / 1e9
      a(3) += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime) / 1e3
      a(4) += m.inputMetrics.bytesRead
      a(5) += m.outputMetrics.bytesWritten
      a(6) += m.shuffleReadMetrics.totalBytesRead
      a(7) += m.shuffleWriteMetrics.bytesWritten
      a(8) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Block until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = {
    // listenerBus is package-private in Scala but public in bytecode
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def toJson(originMs: Long): Map[String, Any] = synchronized {
    Map(
      "tasks" -> agg.toSeq.map { case (s, a) =>
        Map("span" -> s) ++ fields.zip(a).toMap
      },
      "jobs" -> jobs.toSeq.map { case (s, t0, t1) =>
        Map("span" -> s, "start_s" -> (t0 - originMs) / 1e3,
          "end_s" -> (t1 - originMs) / 1e3)
      })
  }
}
