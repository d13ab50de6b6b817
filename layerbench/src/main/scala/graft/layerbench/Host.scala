package graft.layerbench

import java.nio.file.{Files, Paths}

import scala.util.Try

/** Host readings: process CPU and peak RSS (end-to-end metrics) and the
  * host-noise witness each run records but never gates on.
  */
object Host {
  private def read(path: String): Option[String] =
    Try(new String(Files.readAllBytes(Paths.get(path)), "UTF-8")).toOption

  /** CPU time of this process (all threads), ns. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set size of this process, MB (VmHWM). */
  def peakRssMb(): Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Aggregate "cpu" line of /proc/stat (jiffies) and this process's
    * utime + stime (jiffies), read together.
    */
  final case class CpuSample(total: Long, idle: Long, steal: Long, self: Long)

  def cpuSample(): Option[CpuSample] = for {
    stat <- read("/proc/stat")
    line <- stat.linesIterator.find(_.startsWith("cpu "))
    self <- read("/proc/self/stat")
  } yield {
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    val total = f.take(8).sum
    // fields after the parenthesised command name: utime is field 14
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    CpuSample(total, f(3) + f(4), f.lift(7).getOrElse(0L), rest(11).toLong + rest(12).toLong)
  }

  /** Wall ms of a fixed single-threaded integer/floating-point loop, the
    * median of three: a host-speed canary. It moves with CPU frequency and
    * neighbour contention, which the steal counter does not see.
    */
  def canaryMs(): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0.0
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += (x & 1023) * 1e-3
      i += 1
    }
    if (acc == 42.0) println(acc) // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  })

  def loadAvg1m(): Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(Double.NaN)

  /** Steal and other-process CPU shares of all host CPU time between two
    * samples, plus `nproc`, the load average and the speed canary at the
    * start and the end of the run.
    */
  def witness(a: Option[CpuSample], b: Option[CpuSample], load0: Double,
      canary: (Double, Double)): Map[String, Any] = {
    val shares = for (x <- a; y <- b if y.total > x.total) yield {
      val total = (y.total - x.total).toDouble
      val busy = total - (y.idle - x.idle) - (y.steal - x.steal)
      Map(
        "steal_frac" -> (y.steal - x.steal) / total,
        "other_cpu_frac" -> math.max(0.0, busy - (y.self - x.self)) / total,
        "self_cpu_frac" -> (y.self - x.self) / total)
    }
    Map("nproc" -> Runtime.getRuntime.availableProcessors, "loadavg_1m_start" -> load0,
      "canary_ms_start" -> canary._1, "canary_ms_end" -> canary._2) ++
      shares.getOrElse(Map.empty)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default), NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}
