package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine-wide counters fed by a Spark listener. A [[Counters.Snapshot]]
  * taken before and after a call gives that call's jobs, stages, tasks,
  * bytes and CPU time.
  */
final class Counters extends SparkListener {
  private val jobs, stages, tasks = new AtomicLong
  private val cpuNs, runMs = new AtomicLong
  private val inputBytes, shuffleWriteBytes, shuffleReadBytes, spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      runMs.addAndGet(m.executorRunTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Counter values after every event posted so far has been delivered. */
  def snapshot(sc: SparkContext): Counters.Snapshot = {
    org.apache.spark.ListenerBusDrain(sc)
    Counters.Snapshot(jobs.get, stages.get, tasks.get, cpuNs.get, runMs.get,
      inputBytes.get, shuffleWriteBytes.get, shuffleReadBytes.get, spillBytes.get, Counters.jvmGcMs())
  }
}

object Counters {
  final case class Snapshot(jobs: Long, stages: Long, tasks: Long, cpuNs: Long, runMs: Long,
      inputBytes: Long, shuffleWriteBytes: Long, shuffleReadBytes: Long,
      spillBytes: Long, jvmGcMs: Long) {
    def -(o: Snapshot): Snapshot = Snapshot(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      cpuNs - o.cpuNs, runMs - o.runMs, inputBytes - o.inputBytes,
      shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
      spillBytes - o.spillBytes, jvmGcMs - o.jvmGcMs)

    def attrs: Map[String, Double] = Map(
      "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "cpu_s" -> cpuNs / 1e9, "task_busy_s" -> runMs / 1e3, "gc_s" -> jvmGcMs / 1e3,
      "input_mb" -> inputBytes / 1e6, "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
      "shuffle_read_mb" -> shuffleReadBytes / 1e6, "spill_mb" -> spillBytes / 1e6)
  }

  /** Collection time of every garbage collector in this JVM, driver included. */
  def jvmGcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** In-memory span recorder. A span covers one call into a layer's public
  * functions, made from the benchmark; spans of one operation share `op`.
  * Each span carries the listener counter deltas of its interval.
  */
final class Tracer(sc: SparkContext, counters: Counters) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val t0 = System.nanoTime()

  def span[T](name: String, op: Int)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += null // reserve the id so children number after their parent
    stack = id :: stack
    val c0 = counters.snapshot(sc)
    val start = System.nanoTime()
    try body
    finally {
      val c1 = counters.snapshot(sc)
      val end = System.nanoTime()
      stack = stack.tail
      spans(id) = Span(id, name, parent, op, (start - t0) / 1e9, (end - t0) / 1e9,
        (c1 - c0).attrs)
    }
  }

  /** Attach attributes to the most recently closed span named `name`. */
  def annotate(name: String, attrs: Map[String, Double]): Unit = {
    val i = spans.lastIndexWhere(s => s != null && s.name == name)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
  }

  def all: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Duration minus the part of the interval covered by direct children. */
  def selfTimes: Map[Int, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => k.end - k.start).sum
      s.id -> ((s.end - s.start) - kids)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val lines = all.map { s =>
      Main.json.writeValueAsString(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_s" -> s.start, "end_s" -> s.end, "self_s" -> self(s.id),
        "attrs" -> scala.collection.immutable.TreeMap(s.attrs.toSeq: _*)))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int, start: Double, end: Double,
      attrs: Map[String, Double]) {
    def dur: Double = end - start
  }
}
