package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall and process-CPU clocks. Process CPU covers every JVM thread, the
  * local-mode executors included, and does not advance while the
  * hypervisor steals the vCPUs.
  */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  /** Seconds the JIT compilers and the collectors have spent so far. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

/** Wall and CPU seconds of one measured call. */
final case class Sample(wall: Double, cpu: Double)

object Sample {
  def of[T](f: => T): (T, Sample) = {
    val w0 = System.nanoTime(); val c0 = Clock.cpuNs()
    val r  = f
    (r, Sample((System.nanoTime() - w0) / 1e9, (Clock.cpuNs() - c0) / 1e9))
  }
}

/** Spans recorded by the benchmark around its calls into the program: name,
  * start, end, parent and op id. Disabled, a span is just the call. The
  * span name is also set as a Spark local property, so the listener can
  * attribute the jobs a call starts to it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def apply[T](name: String, op: Int)(f: => T): T =
    if (!enabled) f
    else {
      val id     = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, 0L, 0L)
      open = id :: open
      val prop = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, name)
      val t0 = System.nanoTime()
      try f
      finally {
        spans(id) = spans(id).copy(start = t0, end = System.nanoTime())
        sc.setLocalProperty(SpanProperty, prop)
        open = open.tail
      }
    }

  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum

  /** Spans not inside their parent's interval; 0 when they nest. */
  def nestingViolations: Int =
    spans.count(s => s.parent >= 0 && {
      val p = spans(s.parent)
      s.start < p.start || s.end > p.end
    })

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)
  val SpanProperty = "perfbench.span"
  val Marker = "perfbench.marker"
}

/** Job, task and task-metric totals from a SparkListener, registered only
  * for the traced pass. Listener events arrive asynchronously; [[settle]]
  * runs a marker job and waits for its end event, after which every event
  * posted before it has been counted.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  import Tracer.{Marker, SpanProperty}

  val jobs, lowerJobs, tasks, cpuNs, shuffleBytes, spillBytes, inputBytes = new AtomicLong
  private val markerStages = ConcurrentHashMap.newKeySet[Integer]()
  private val markerJobs   = ConcurrentHashMap.newKeySet[Integer]()
  private val markersEnded = new AtomicLong

  private def span(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(SpanProperty))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (span(e.properties) == Marker) markerJobs.add(e.jobId)
    else {
      jobs.incrementAndGet()
      if (span(e.properties) == "lower") lowerJobs.incrementAndGet()
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (markerJobs.contains(e.jobId)) markersEnded.incrementAndGet()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (span(e.properties) == Marker) markerStages.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (!markerStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }

  def settle(): Unit = {
    val want = markersEnded.get + 1
    val prop = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, Marker)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProperty, prop)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (markersEnded.get < want) {
      require(System.nanoTime() < deadline, "listener bus did not deliver the marker job")
      Thread.sleep(2)
    }
  }
}

/** Host readings recorded in every run, never used to normalise a metric. */
object Host {

  /** Machine-wide steal seconds so far, summed over CPUs (/proc/stat, in
    * USER_HZ = 100 ticks per second); -1 where the file is unreadable.
    */
  def stealSeconds(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cpu = src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")
        cpu(8).toLong / 100.0
      } finally src.close()
    }.getOrElse(-1.0)

  @volatile private var sink = 0L

  private def spin(iters: Long, seed: Long): Long = {
    var h = seed ^ 1469598103934665603L
    var d = 1.0 + (seed & 7)
    var i = 0L
    while (i < iters) {
      h = (h ^ i) * 1099511628211L
      h ^= (h >>> 33)
      if ((i & 4095) == 0) d = math.sqrt(d + (h & 0xff).toDouble)
      i += 1
    }
    h ^ java.lang.Double.doubleToLongBits(d)
  }

  /** Wall seconds of a fixed single-thread integer and double loop. */
  def calibSeconds(): Double = {
    sink ^= spin(5000000L, 1L)
    val t0 = System.nanoTime()
    sink ^= spin(100000000L, 2L)
    (System.nanoTime() - t0) / 1e9
  }
}
