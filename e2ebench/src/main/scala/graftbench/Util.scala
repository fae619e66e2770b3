package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0,1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail: the highest percentile that leaves at least ten samples
    * above it, or a quarter of the samples when there are fewer than 40
    * (so it never sits below p75), or the maximum below 4 samples.
    * Returns (value, percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val beyond = if (s.size >= 40) 10 else s.size / 4
    val idx = s.size - 1 - beyond
    (s(idx), 100.0 * (idx + 1) / s.size, beyond)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** JVM-wide gauges read from the management beans. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole process (every JVM thread), in ns. */
  def processCpuNs: Long = os.getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Names of the heap pools (G1 Eden, Survivor, Old Gen): a GC
    * notification also reports Metaspace, class space and code heaps. */
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private def usedAfter(info: com.sun.management.GcInfo): Long =
    info.getMemoryUsageAfterGc.asScala.collect {
      case (pool, u) if heapPools(pool) => u.getUsed
    }.sum

  /** Peak heap in use right after a collection, over a phase: every
    * collection in the phase is seen through GC notifications, and a
    * full collection at each end pins the live set. */
  final class HeapPeak extends AutoCloseable {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import com.sun.management.GarbageCollectionNotificationInfo
    @volatile var peakBytes: Long = 0L
    private def note(v: Long): Unit = synchronized { if (v > peakBytes) peakBytes = v }
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: NotificationEmitter => b }
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION)
          note(usedAfter(GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo))
    }
    private def fullGc(): Unit = {
      System.gc()
      note(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    fullGc()
    peakBytes = 0L
    fullGc()
    beans.foreach(_.addNotificationListener(listener, null, null))
    def close(): Unit = {
      fullGc()
      beans.foreach(b => scala.util.Try(b.removeNotificationListener(listener)))
    }
  }
}

/** Minimal JSON writer for the result lines (numbers keep all digits). */
object Js {
  def str(s: String): String = graft.render.ResponseWriter.jsonQuote(s)
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
