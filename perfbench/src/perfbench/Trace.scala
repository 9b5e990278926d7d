package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Tracing for the per-layer run, all outside the program: spans timed
  * around calls into each layer's public functions, engine counters from
  * a SparkListener keyed by job group (one group per timed phase), and
  * JVM counters from the JMX beans. Spans stay in memory and are written
  * out when the run ends. With tracing off every hook is a no-op. */
final class Trace {
  import Trace.Span

  /** Spans and counters are recorded only while on. */
  @volatile var on = false

  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  @volatile var phase: String = "setup"

  /** Time `body` as a span of layer metric `name` (e.g. "io.xlsx_read"). */
  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      try body
      finally spans.add(Span(name, phase, t0, System.nanoTime()))
    }

  def spanMs(name: String): Double =
    spans.asScala.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
  def spanCount(name: String): Long = spans.asScala.count(_.name == name).toLong

  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach(s => w.println(Json.write(Map(
      "name" -> s.name, "phase" -> s.phase, "start_ns" -> s.startNs, "end_ns" -> s.endNs))))
    finally w.close()
  }
}

object Trace {
  final case class Span(name: String, phase: String, startNs: Long, endNs: Long)
}

/** Engine counters per job group, from task-end events. Jobs submitted
  * without a group (the HTTP server's own threads) count under the phase
  * running when they start: phases never overlap. */
final class PhaseListener extends SparkListener {
  import PhaseListener._

  @volatile var current: String = "none"

  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Array[Long]]()

  private def add(group: String, i: Int, v: Long): Unit = {
    val a = totals.computeIfAbsent(group, _ => new Array[Long](Fields.size))
    a.synchronized { a(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(current)
    e.stageIds.foreach(s => groupOfStage.put(s, group))
    add(group, 0, 1)
    add(group, 1, e.stageIds.size.toLong)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    if (desc.startsWith("Listing leaf files")) add(group, Fields.indexOf("listing_jobs"), 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val group = Option(groupOfStage.get(e.stageId)).getOrElse("none")
    val m = e.taskMetrics
    add(group, 2, 1)
    if (m != null) {
      add(group, 3, m.executorRunTime)
      add(group, 4, m.executorCpuTime / 1000000L)
      add(group, 5, m.inputMetrics.bytesRead)
      add(group, 6, m.shuffleReadMetrics.totalBytesRead)
      add(group, 7, m.shuffleWriteMetrics.bytesWritten)
      add(group, 8, m.memoryBytesSpilled + m.diskBytesSpilled)
      add(group, 9, m.outputMetrics.bytesWritten)
      add(group, 10, m.inputMetrics.recordsRead)
    }
  }

  /** Cumulative counters of one group (copy). */
  def snapshot(group: String): Vector[Long] =
    Option(totals.get(group)).map(a => a.synchronized(a.toVector)).getOrElse(Vector.fill(Fields.size)(0L))
}

object PhaseListener {
  val Fields = Vector("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "output_bytes", "input_records", "listing_jobs")
  /** The counters reported per phase. */
  val Reported: Vector[String] = Fields.take(10)
}

/** JVM counters from JMX: collector time and peak heap over an interval. */
object Jvm {
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peaks since the last reset, in MB (an upper
    * bound on the true peak: pools peak at different moments). */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
