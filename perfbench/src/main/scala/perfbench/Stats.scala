package perfbench

import java.lang.management.ManagementFactory

object Stats {

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; NaN on an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Samples beyond percentile `p` — a tail is reported only when this is
    * at least ten. */
  def beyond(n: Int, p: Double): Int = (n * (100.0 - p) / 100.0).toInt

  /** (steal, busy, total) jiffies from the aggregate line of /proc/stat. */
  def cpuTimes(): (Long, Long, Long) = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
            finally src.close()
    val idle = f(3) + (if (f.length > 4) f(4) else 0L)
    (if (f.length > 7) f(7) else 0L, f.sum - idle, f.sum)
  } catch { case _: Exception => (0L, 0L, 0L) }

  def loadavg(): Double = try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split("\\s+")(0).toDouble finally src.close()
  } catch { case _: Exception => -1.0 }

  /** Peak live heap: heap in use right after a full collection, sampled at
    * operation boundaries (`sample`) and at the end of the measured phase.
    * Young-generation fill and promoted garbage are left out, so the figure
    * follows retained data (caches, persisted blocks, driver state). */
  final class HeapPeak {
    private var peak = 0L

    /** Full collection, then record the heap still in use. Call it outside
      * timed regions. */
    def sample(): Unit = {
      System.gc()
      peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }

    def finishMb(): Double = {
      sample()
      peak / (1024.0 * 1024.0)
    }
  }
}
