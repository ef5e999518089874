package graftbench

/** Order statistics for latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail a sample supports: the highest whole percentile with at
    * least ten samples above it. Below twenty samples that percentile
    * would not reach the median, and the tail is the maximum. Returns
    * the percentile (100 for the maximum) and its value. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n < 20) (100, s.last)
    else {
      // largest p with n - ceil(p/100 * n) >= 10
      val p = (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10).getOrElse(1)
      (p, s(math.ceil(p / 100.0 * n).toInt - 1))
    }
  }
}

/** Wall time net of hypervisor steal. On a shared virtual machine the
  * host may not run a vCPU that has work: that time, `steal` in
  * /proc/stat, stretches wall time by an amount that depends on other
  * tenants. Over an interval, the share of wanted CPU time that was
  * stolen is Δsteal ÷ (Δbusy + Δsteal); every runnable thread advanced
  * only the rest of the interval, so the interval scaled by that rest
  * is the time the work would have taken on an unshared host. Without
  * /proc/stat (not Linux) the share is 0. */
object HostClock {
  final case class Mark(nanos: Long, busy: Long, steal: Long)

  def mark(): Mark = {
    val (busy, steal) =
      try {
        val f = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat")), "US-ASCII")
        val v = f.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal
        (v(0) + v(1) + v(2) + v(5) + v(6), v(7))
      } catch { case _: Exception => (0L, 0L) }
    Mark(System.nanoTime(), busy, steal)
  }

  /** (seconds net of steal, stolen share) between two marks. */
  def since(a: Mark): (Double, Double) = {
    val b = mark()
    val wall = (b.nanos - a.nanos) / 1e9
    val stolen = (b.steal - a.steal).toDouble
    val wanted = (b.busy - a.busy) + stolen
    val share = if (wanted > 0) stolen / wanted else 0.0
    (wall * (1 - share), share)
  }
}
