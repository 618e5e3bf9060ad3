package perfbench

import scala.io.Source

/** Host evidence recorded beside every result, the same fields
  * `graft.Bench` embeds: a noisy window shows up in the record instead of
  * looking like a code change. */
object Host {

  private def firstLine(path: String): String = {
    val src = Source.fromFile(path)
    try src.getLines().next() finally src.close()
  }

  /** (steal, busy, total) jiffies from /proc/stat's aggregate cpu line. */
  def cpuTimes(): (Long, Long, Long) = {
    val f = firstLine("/proc/stat").trim.split("\\s+").drop(1).map(_.toLong)
    val idle = f(3) + f(4) // idle + iowait
    val steal = if (f.length > 7) f(7) else 0L
    val total = f.take(8).sum
    (steal, total - idle - steal, total)
  }

  def loadavg(): Double = firstLine("/proc/loadavg").split(" ")(0).toDouble

  /** A /proc/self/status field in KiB (VmHWM = high-water RSS). */
  def statusKb(field: String): Long = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }

  final class Window(cores: Int) {
    private val nproc = Runtime.getRuntime.availableProcessors()
    private val load0 = loadavg()
    private val (steal0, busy0, total0) = cpuTimes()

    def json(): String = {
      val (steal1, busy1, total1) = cpuTimes()
      val dt = math.max(1L, total1 - total0).toDouble
      s"""{"nproc":$nproc,"cores_used":$cores,"loadavg_start":$load0,""" +
        s""""loadavg_end":${loadavg()},"steal_frac":${(steal1 - steal0) / dt},""" +
        s""""busy_frac":${(busy1 - busy0) / dt}}"""
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of p75/p90/p95/p99 with at least ten samples beyond it. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).find(p => xs.size * (100 - p) / 100.0 >= 10)
      .map(p => p -> quantile(xs, p / 100.0))
}
