package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Peak heap in use after a collection: the driver's live data. A heap
  * pool's raw peak is mostly garbage not yet collected, so it moves with
  * the collector's timing rather than with what the program keeps.
  */
object LiveHeap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0)

  private val listener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, math.max)
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = peak.set(0)

  /** The peak since [[reset]], including a collection made now, so a
    * window without any collection still reports its live heap.
    */
  def peakMb(): Double = {
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak.get, now) / 1048576.0
  }
}
