package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** The measured op of a JVM: wall and process-CPU time, whether it passed
  * the checks made in the JVM, and the workload's own figures.
  */
final case class OpRecord(wallS: Double, cpuS: Double, error: Option[String],
    extra: Map[String, Any]) {
  def toMap: Map[String, Any] =
    Map("wall_s" -> wallS, "cpu_s" -> cpuS, "error" -> error) ++ extra
}

/** Process-wide readings: CPU time of every JVM thread, GC time, and the
  * heap in use right after each garbage collection.
  */
object Process {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** (steal, total) jiffies of all CPUs from /proc/stat, or (0, 0) where
    * the file does not exist. Steal is time the hypervisor gave this VM's
    * CPUs to someone else.
    */
  def cpuJiffies: (Long, Long) = try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
    val xs = f.split("\\s+").drop(1).map(_.toLong)
    (if (xs.length > 7) xs(7) else 0L, xs.sum)
  } catch { case _: Exception => (0L, 0L) }

  /** Share of all CPU time stolen between two `cpuJiffies` readings. */
  def stealFrac(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) (to._1 - from._1).toDouble / (to._2 - from._2) else 0.0

  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private val peakAfterGc = new AtomicLong(0L)
  @volatile private var armed = false

  /** The post-GC heap peak is tracked from `startHeapPeak` to `stopHeapPeak`. */
  def startHeapPeak(): Unit = { peakAfterGc.set(0L); armed = true }
  def stopHeapPeak(): Unit = armed = false
  def heapPeakBytes: Long = peakAfterGc.get

  /** Heap still in use after full collections: what the op left resident.
    * Spark releases broadcasts and shuffles asynchronously once a collection
    * has found them unreachable, so this collects three times, 300 ms
    * apart, and keeps the smallest reading.
    */
  def liveHeapBytes(): Long = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }.min

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (armed && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakAfterGc.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
}

object Measure {
  /** Runs the op once. `check` runs after it, outside its timing, and
    * returns the op's error if its output is wrong, plus figures to keep
    * with the op. The extras carry the op's epoch-ms window (`t0_ms`,
    * `t1_ms`), its JVM GC seconds (`gc_s`), the share of all CPU time the
    * hypervisor stole from the VM meanwhile (`steal_frac`), the largest
    * post-GC heap during the op (`peak_heap_mb`), the heap still in use
    * after a full collection once it ended (`live_heap_mb`) and the
    * `Process.cpuJiffies` reading at its start (`t0_jiffies`).
    */
  def op(body: => Unit)(
      check: Map[String, Any] => (Option[String], Map[String, Any])): OpRecord = {
    Process.startHeapPeak()
    val g0 = Process.gcMs
    val jiffies0 = Process.cpuJiffies
    val t0 = System.currentTimeMillis()
    val (wall, cpu, res) = timed(body)
    val jiffies1 = Process.cpuJiffies
    val t1 = System.currentTimeMillis()
    val gcS = (Process.gcMs - g0) / 1000.0
    Process.stopHeapPeak()
    val window = Map[String, Any]("t0_ms" -> t0, "t1_ms" -> t1, "gc_s" -> gcS,
      "steal_frac" -> Process.stealFrac(jiffies0, jiffies1), "t0_jiffies" -> jiffies0,
      "peak_heap_mb" -> Process.heapPeakBytes / 1e6,
      "live_heap_mb" -> Process.liveHeapBytes() / 1e6)
    res match {
      case Right(_) =>
        val (err, more) = try check(window) catch {
          case e: Throwable => (Some(s"check threw: ${describe(e)}"), Map.empty[String, Any])
        }
        OpRecord(wall, cpu, err, window ++ more)
      case Left(e) => OpRecord(wall, cpu, Some(s"op threw: ${describe(e)}"), window)
    }
  }

  def timed[T](f: => T): (Double, Double, Either[Throwable, T]) = {
    val c0 = Process.cpuNs
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    (wall, (Process.cpuNs - c0) / 1e9, r)
  }

  def describe(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")
    s"${e.getClass.getName}: $msg".take(400)
  }
}
