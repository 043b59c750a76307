package perfbench

import java.lang.management.ManagementFactory
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The result line of the benchmark contract. */
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      "\"metrics\":" + metrics.map { case (n, v, u) =>
        s"""${str(n)}:{"value":${num(v)},"unit":${str(u)}}"""
      }.mkString("{", ",", "}") + "}"
}

/** Heap in use after garbage collection, two ways:
  *  - [[peakMb]], the live data: the peak of the heap in use at the end
  *    of each [[settle]], which runs after setup and after each pass. Read
  *    there, not from every full collection, because a collection still
  *    holds the blocks of broadcasts, shuffles and cached data that Spark's
  *    ContextCleaner drops only once a collection has found their owners
  *    unreachable; how many it holds depends on collection timing.
  *  - [[anyPeakMb]], the peak after every collection, young or full, from
  *    the JVM's GC notifications. After a young collection the figure
  *    includes what has been promoted since the last full collection,
  *    garbage included, so it covers memory use inside a pass but moves
  *    with collection timing (its run-to-run spread on `queries` is above
  *    the end-to-end bound); it is a per-layer figure. */
object Heap {
  private val peakBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val anyPeakBytes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private def raise(peak: java.util.concurrent.atomic.AtomicLong, v: Long): Unit =
    peak.accumulateAndGet(v, (a, b) => math.max(a, b))

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: javax.management.Notification,
              h: Any): Unit =
            if (n.getType ==
                GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              raise(anyPeakBytes, info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum)
            }
        }, null, null)
      case _ =>
    }

  /** Full collections 300 ms apart, so the ContextCleaner can drop what
    * the previous one found unreachable, until the heap in use falls by
    * less than 1 MiB (at most 6); then record it. A chain of cleanups
    * (a shuffle, then the broadcast it held) can take more than two. */
  def settle(): Unit = {
    def collect(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = Long.MaxValue
    var used = collect()
    var n = 1
    while (n < 6 && prev - used >= (1L << 20)) {
      Thread.sleep(300)
      prev = used
      used = collect()
      n += 1
    }
    raise(peakBytes, used)
  }

  def peakMb: Double = peakBytes.get / (1024.0 * 1024.0)

  def anyPeakMb: Double = anyPeakBytes.get / (1024.0 * 1024.0)
}
