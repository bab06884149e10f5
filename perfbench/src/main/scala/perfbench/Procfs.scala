package perfbench

import java.lang.management.ManagementFactory

import scala.io.Source
import scala.util.Try

/** Process and host counters from procfs. */
object Procfs {

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads, user + system, in ns — the
    * utime + stime of `/proc/self/stat` at clock_gettime resolution. */
  def processCpuNs(): Long = os.getProcessCpuTime

  private def read(path: String): String = {
    val s = Source.fromFile(path)
    try s.mkString finally s.close()
  }

  /** (host busy jiffies from `/proc/stat`, this process's utime + stime
    * jiffies from `/proc/self/stat`); (-1, -1) where procfs is missing. */
  def jiffies(): (Long, Long) = Try {
    val cpu = read("/proc/stat").linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    val busy = cpu.take(8).sum - cpu(3) - cpu(4) // minus idle and iowait
    val st = read("/proc/self/stat")
    val rest = st.substring(st.lastIndexOf(')') + 2).split(" ")
    (busy, rest(11).toLong + rest(12).toLong)
  }.getOrElse((-1L, -1L))

  /** Mean number of cores busy with work other than this process between
    * two [[jiffies]] readings `seconds` apart (USER_HZ = 100). */
  def externalCores(before: (Long, Long), after: (Long, Long), seconds: Double): Double =
    if (before._1 < 0 || after._1 < 0 || seconds <= 0) -1.0
    else math.max(0.0, ((after._1 - before._1) - (after._2 - before._2)) / (seconds * 100.0))

  /** Peak resident set (`VmHWM`) of this process in MB. */
  def peakRssMb(): Double = Try {
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)

  def loadavg(): String = Try(read("/proc/loadavg").trim).getOrElse("")
}
