package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** The program's own memory. The process's resident set alone would be
  * mostly the fixed, pre-touched heap, the same on every run. */
object Memory {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var maxHeapAfterGc = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { if (used > maxHeapAfterGc) maxHeapAfterGc = used }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  private def mb(b: Long) = b / 1048576.0

  /** Peak resident memory outside the Java heap: the process's VmHWM
    * minus the heap, which perfbench/run.py fixes and pre-touches. This is
    * what the program adds on its own: metaspace, code cache, thread
    * stacks, direct and native buffers, GC structures. */
  def nativePeakMb(): Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    hwm - mb(Runtime.getRuntime.maxMemory)
  }

  /** The most heap any collection left in use. */
  def heapAfterGcPeakMb(): Double = mb(maxHeapAfterGc)
}
