package perfbench

/** The machine a run measured on. A contended run identifies itself
  * by its steal-tick delta, load average and memory bandwidth. */
object Box {

  /** Cumulative steal ticks from /proc/stat, -1 where unsupported. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).get.trim.split("\\s+")(8).toLong
      finally src.close()
    } catch { case _: Exception => -1L }

  def loadAvg1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Peak resident set size of this process (VmHWM) in MB, -1 where
    * unsupported. */
  def peakRssMb(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
      finally src.close()
    } catch { case _: Exception => -1.0 }

  /** Single-thread memory bandwidth in GB/s: best of three xor passes
    * over a 64 MB array. */
  def membwGbps(): Double = {
    val n = 8 * 1024 * 1024
    val a = Array.tabulate(n)(i => i * 0x9e3779b97f4a7c15L)
    var best = Double.MaxValue
    var sink = 0L
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      var s = 0L
      var j = 0
      while (j < n) { s ^= a(j); j += 1 }
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      sink ^= s
    }
    if (sink == 42L) System.err.print("")
    n.toLong * 8 / best / 1e9
  }
}
