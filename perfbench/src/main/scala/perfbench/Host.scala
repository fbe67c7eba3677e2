package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Process and host readings from /proc. Every reader returns -1 when the
  * file or field is missing, so a run on another kernel still completes.
  */
object Host {
  private def lines(path: String): Seq[String] =
    try Files.readAllLines(Paths.get(path)).asScala.toSeq
    catch { case _: java.io.IOException => Nil }

  /** Jiffies per second of /proc/self/stat and /proc/stat (USER_HZ). */
  private val Hz = 100.0

  /** User + system CPU seconds of this process. */
  def cpuSeconds: Double =
    lines("/proc/self/stat").headOption.map { l =>
      // Fields after the parenthesised command name; utime and stime are
      // the 14th and 15th fields of the whole line.
      val f = l.substring(l.lastIndexOf(')') + 2).split(' ')
      (f(11).toLong + f(12).toLong) / Hz
    }.getOrElse(-1.0)

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb: Double = status("VmHWM:")

  private def status(field: String): Double =
    lines("/proc/self/status").find(_.startsWith(field))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Host-wide steal jiffies: time a hypervisor gave this host's CPUs to
    * someone else.
    */
  def stealJiffies: Long =
    lines("/proc/stat").find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    }.getOrElse(-1L)

  /** One-minute load average. */
  def load1: Double =
    lines("/proc/loadavg").headOption.map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)
}
