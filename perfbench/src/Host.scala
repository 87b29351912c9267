package perfbench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

/** Highest old-generation occupancy after a full collection, from
  * construction until `stop`. The loop forces one every few ops with
  * `sample`, outside the timed part, and `stop` forces a last one, so the
  * figure is a live set rather than whatever garbage young collections
  * happened to promote. */
final class HeapWatch {
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.matches(".*(Old|Tenured).*"))
    .map(_.getName)
  @volatile private var peak = 0L
  @volatile private var seen = 0
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        val used = oldPool.flatMap(after.get).map(_.getUsed)
          .getOrElse(after.values.map(_.getUsed).sum)
          peak = math.max(peak, used)
          seen += 1
        }
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Forces a full collection and waits until its notification arrived. */
  def sample(): Unit = {
    val before = seen
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (seen == before && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def stop(): Unit = {
    sample()
    emitters.foreach(e => try e.removeNotificationListener(listener) catch { case _: Exception => })
  }

  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Host state beside each run, so an outlier can be blamed on the machine:
  * one single-thread spin calibration and the load average. */
object HostNoise {
  def record(): String = {
    val spin = graft.tools.ScalingBench.spinSeconds(1, 300000000L)
    val load = try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg"))).trim
      catch { case _: java.io.IOException => "n/a" }
    f"""{"spin_s":$spin%.4f,"loadavg":"$load"}"""
  }
}
