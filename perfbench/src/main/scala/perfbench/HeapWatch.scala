package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Largest heap occupancy left after a garbage collection, over a window.
  *
  * Listens to the JVM's GC notifications and sums the heap pools' usage
  * after each collection: the memory the program still holds, not the
  * garbage it has yet to free. */
final class HeapWatch extends NotificationListener {

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private var maxAfterGc = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ => ()
  }

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, usage) if heapPools.contains(pool) => usage.getUsed }.sum
      synchronized { if (after > maxAfterGc) maxAfterGc = after }
    }

  /** Start a new window. */
  def reset(): Unit = synchronized { maxAfterGc = 0L }

  /** Largest post-GC heap occupancy in the window, in bytes (0 when no
    * collection ran in it). */
  def windowMaxBytes(): Long = synchronized(maxAfterGc)
}
