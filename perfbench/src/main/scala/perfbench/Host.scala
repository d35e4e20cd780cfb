package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Contention and process stamps read from /proc, the same method as
  * `graft.Bench.cpuStamp`: all-CPU busy jiffies minus this process's own
  * jiffies over a window is CPU burned by other processes; the steal column
  * is CPU the hypervisor withheld. Stamps are reported beside the results,
  * never used to filter runs.
  */
object Host {
  /** @param cpuNs this JVM's user + system CPU from the MX bean, which has
    *   nanosecond resolution where the jiffy counters have 10 ms */
  final case class Stamp(wallNs: Long, busy: Long, self: Long, steal: Long,
      cpuNs: Long)

  final case class Window(cpuS: Double, othersCores: Double, stealCores: Double)

  private val TicksPerSec = 100.0 // USER_HZ on every mainstream linux

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def stamp(): Stamp = {
    val src = scala.io.Source.fromFile("/proc/stat")
    val cpu = try src.getLines().next() finally src.close()
    val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
    // busy = all but idle(3), iowait(4) and guest/guest_nice (8/9), which
    // the kernel already folds into user/nice
    val busy = f.zipWithIndex.collect {
      case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v }.sum
    val steal = if (f.length > 7) f(7) else 0L
    Stamp(System.nanoTime(), busy, selfJiffies(), steal, osBean.getProcessCpuTime)
  }

  /** utime + stime of this process, fields 14 and 15 of /proc/self/stat. */
  private def selfJiffies(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    val line = try src.mkString finally src.close()
    // the command name is parenthesised and may hold spaces
    val rest = line.substring(line.lastIndexOf(')') + 2).split("\\s+")
    rest(11).toLong + rest(12).toLong
  }

  def window(a: Stamp, b: Stamp): Window = {
    val wallS = math.max((b.wallNs - a.wallNs) / 1e9, 1e-9)
    Window(
      cpuS = (b.cpuNs - a.cpuNs) / 1e9,
      othersCores = math.max(0.0,
        ((b.busy - a.busy) - (b.self - a.self)) / TicksPerSec / wallS),
      stealCores = (b.steal - a.steal) / TicksPerSec / wallS)
  }

  /** Sum of the heap pools' peak usage since JVM start, in MB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
