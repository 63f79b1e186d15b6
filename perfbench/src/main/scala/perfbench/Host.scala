package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process and machine counters read around every timed op. */
object Host {

  def now(): Long = System.nanoTime()

  def secs(fromNanos: Long, toNanos: Long): Double = (toNanos - fromNanos) / 1e9

  /** This JVM's CPU time, seconds. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Collector time summed over every garbage collector, seconds. */
  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  /** JIT compilation time, seconds. */
  def compileS(): Double = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported) b.getTotalCompilationTime / 1e3 else 0.0
  }

  /** Busy CPU of the whole machine since boot, seconds (/proc/stat: every
    * field of the `cpu` line except idle and iowait, in USER_HZ ticks).
    */
  def systemBusyS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+") finally src.close()
      f.drop(1).map(_.toLong).zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum / 100.0
    } catch { case _: Throwable => 0.0 }

  /** One snapshot of the counters a pass accumulates. */
  final case class Snap(wall: Long, cpu: Double, gc: Double, compile: Double, busy: Double) {
    def to(o: Snap): Snap = Snap(o.wall - wall, o.cpu - cpu, o.gc - gc, o.compile - compile, o.busy - busy)
    def plus(o: Snap): Snap = Snap(wall + o.wall, cpu + o.cpu, gc + o.gc, compile + o.compile, busy + o.busy)
    def wallS: Double = wall / 1e9
  }
  val zero: Snap = Snap(0L, 0.0, 0.0, 0.0, 0.0)
  def snap(): Snap = Snap(now(), cpuS(), gcS(), compileS(), systemBusyS())

  /** Cores busy with work of OTHER processes over an interval: the
    * machine's busy CPU minus this JVM's CPU, per second of wall.
    */
  def extLoad(d: Snap): Double =
    if (d.wall <= 0) 0.0 else math.max(0.0, (d.busy - d.cpu) / d.wallS)
}
