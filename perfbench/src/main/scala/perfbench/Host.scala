package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host evidence carried in every record, so a run slowed by its
  * neighbours can be told apart from a slow program from the record alone.
  */
object Host {

  /** 1-minute load average, or -1 where `/proc` is unavailable. */
  def load1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Cumulative CPU steal ticks (8th field of the `cpu` line of
    * `/proc/stat`): time a hypervisor gave this guest's cycles to someone
    * else, which the load average cannot show. -1 where unavailable.
    */
  def stealTicks(): Long =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).stream()
        .filter(_.startsWith("cpu ")).findFirst().orElse("")
      val f = cpu.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else -1L
    } catch { case _: Exception => -1L }

  /** Memory the process still holds: heap in use after a full
    * collection, plus non-heap (metaspace, code cache) and NIO buffers, in
    * MiB. The collection runs here, so call it outside every timed region.
    */
  def liveMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers) / (1024.0 * 1024.0)
  }

  final case class Sample(load1: Double, steal: Long)
  def sample(): Sample = Sample(load1(), stealTicks())

  def uptimeS(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}
