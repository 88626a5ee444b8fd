package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Closed-loop runner: one caller, each operation starts after the previous
  * one (and its untimed check) has finished.
  */
object Loop {

  /** `body` is the timed part; it returns the untimed check, which throws
    * when the output is wrong. `cleanup` runs afterwards either way.
    */
  final case class Op(name: String, body: () => (() => Unit), cleanup: () => Unit = () => ())

  /** One attempted operation; `seconds` (wall) and `cpuSeconds` (CPU time
    * of the whole JVM, which time the hypervisor gives to other guests does
    * not inflate) are None when it failed. `elapsed` (kept for the record
    * only) is its wall time either way.
    */
  final case class Sample(name: String, batch: Int, seconds: Option[Double], cpuSeconds: Option[Double],
      error: Option[String], elapsed: Double)

  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def runOp(op: Op, batch: Int): Sample = {
    val t0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    var dt = Double.NaN
    try {
      val check = op.body()
      dt = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      check()
      Sample(op.name, batch, Some(dt), Some(cpu), None, dt)
    } catch {
      case NonFatal(e) =>
        val wall = if (dt.isNaN) (System.nanoTime() - t0) / 1e9 else dt
        Sample(op.name, batch, None, None, Some(s"${e.getClass.getName}: ${e.getMessage}"), wall)
    } finally op.cleanup()
  }

  /** Run whole batches (every batch has the same mix of operations) for
    * about `seconds`: another starts while time is left, so the last one may
    * end up to one batch past it.
    */
  def closed(seconds: Double, batches: Iterator[Seq[Op]]): Seq[Sample] = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val out = ArrayBuffer.empty[Sample]
    var b = 0
    while (batches.hasNext && (b == 0 || elapsed < seconds)) {
      batches.next().foreach(op => out += runOp(op, b))
      b += 1
    }
    out.toSeq
  }

  def failedFrac(samples: Seq[Sample]): Double =
    if (samples.isEmpty) 1.0 else samples.count(_.seconds.isEmpty).toDouble / samples.size
}
