package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process and host readings: CPU, memory, GC, load, and a fixed-work
  * calibration loop. They are recorded with every run so a slow host is
  * visible in the record; no metric is ever rescaled by them. */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  /** Peak resident set (VmHWM) of this JVM in MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
    catch { case _: Throwable => "" }

  /** CPU seconds the hypervisor gave to other guests while this machine's
    * CPUs wanted to run (the steal column of /proc/stat, summed over all
    * CPUs); 0 where the kernel does not report it. */
  def stealSeconds(): Double =
    try {
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines().next().trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100.0 else 0.0
    } catch { case _: Throwable => 0.0 }

  /** Seconds for a fixed amount of single-threaded integer work. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
