package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak memory the program holds: the largest resident size outside the
  * Java heap plus the largest heap still in use after a garbage collection.
  *
  * The harness fixes the heap (`-Xms` = `-Xmx`) and G1 keeps every region it
  * has touched resident, so VmHWM mostly reads that setting; letting the heap
  * grow instead makes VmHWM follow G1's timing-driven sizing (its spread over
  * runs exceeded the metric's bound). Live heap after GC and the native
  * resident size both follow the program's data. The native part is sampled
  * every `periodMs` from /proc/self/smaps; the heap part comes from the
  * collectors' notifications. */
final class MemWatch(periodMs: Long = 1000L) extends Thread("graftbench-memwatch") {
  setDaemon(true)

  private val heapBytes = Runtime.getRuntime.maxMemory
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  @volatile private var running = true
  @volatile private var peakNativeKb, peakHeapAfterGcKb = 0L

  private val onGc: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum / 1024
      synchronized { peakHeapAfterGcKb = math.max(peakHeapAfterGcKb, used) }
    }

  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(onGc, null, null))

  /** VmRSS minus the resident size of the heap, in kB. The heap is the
    * `heapBytes` from the start of the largest mapping; G1 may split it into
    * several mappings (the archived-heap regions at its top). */
  private def nativeKb(): Long = {
    val vmas = mutable.ArrayBuffer.empty[(Long, Long, Long)] // start, end, rss kB
    val src = scala.io.Source.fromFile("/proc/self/smaps")
    try src.getLines().foreach {
      case MemWatch.Mapping(start, end) => vmas += ((
        java.lang.Long.parseUnsignedLong(start, 16), java.lang.Long.parseUnsignedLong(end, 16), 0L))
      case l if l.startsWith("Rss:") => vmas(vmas.size - 1) = vmas.last.copy(_3 = kb(l))
      case _ =>
    } finally src.close()
    val largest = vmas.maxBy { case (s, e, _) => e - s }._1
    val heapRss = vmas.collect {
      case (s, e, rss) if s >= largest && e <= largest + heapBytes => rss
    }.sum
    vmas.map(_._3).sum - heapRss
  }

  private def kb(line: String): Long = line.split("\\s+")(1).toLong

  private def sample(): Unit = {
    val n = nativeKb()
    synchronized { peakNativeKb = math.max(peakNativeKb, n) }
  }

  override def run(): Unit =
    while (running) {
      sample()
      try Thread.sleep(periodMs) catch { case _: InterruptedException => }
    }

  /** Stops sampling; returns (peak native kB, peak heap after GC kB). */
  def finish(): (Long, Long) = {
    running = false
    interrupt()
    join()
    sample()
    emitters.foreach(_.removeNotificationListener(onGc))
    synchronized((peakNativeKb, peakHeapAfterGcKb))
  }
}

object MemWatch {
  /** The header line of a mapping in /proc/<pid>/smaps: `start-end perms ...`. */
  private val Mapping = "^([0-9a-f]+)-([0-9a-f]+) .*".r
}
