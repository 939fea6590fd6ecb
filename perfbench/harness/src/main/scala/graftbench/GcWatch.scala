package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Heap occupancy right after every GC, from the JVM's GC notifications.
  *
  * Each notification gives the GC's end (JVM uptime, ms) and the heap
  * pools' usage after it; their sum is recorded. [[watch]] names a time
  * window; [[peaks]] gives, per watched window, the largest occupancy
  * after a GC that ended in it. Notifications arrive on a JMX thread, so
  * [[peaks]] waits for the ones still in flight.
  */
final class GcWatch {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val afterGc = new ConcurrentLinkedQueue[(Long, Long)]() // (end ms, heap bytes)
  private val windows = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val bytes = gc.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        afterGc.add((gc.getEndTime, bytes))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def watch(window: (Long, Long)): Unit = windows += window

  /** Per watched window with at least one GC: its peak in MB and the
    * number of GCs it was taken over.
    */
  def peaks(): Seq[(Double, Int)] = {
    Thread.sleep(500)
    val gcs = afterGc.asScala.toSeq
    windows.toSeq.flatMap { case (a, b) =>
      val in = gcs.collect { case (t, bytes) if t >= a && t <= b => bytes }
      in.maxOption.map(m => (m / 1048576.0, in.size))
    }
  }
}

object GcWatch {
  def uptimeMs(): Long = ManagementFactory.getRuntimeMXBean.getUptime
}
