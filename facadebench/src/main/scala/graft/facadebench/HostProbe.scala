package graft.facadebench

/** Run context, not a metric: a fixed CPU loop and an in-memory read
  * bandwidth figure, taken before and after each run, so a noisy host
  * window can be told apart from a regression. */
object HostProbe {

  /** ms for a fixed 2e7-step splitmix64 chain on one thread */
  def cpuMs(): Double = {
    val t0 = System.nanoTime()
    var h = 1L
    var i = 0
    while (i < 20000000) { h = graft.corpus.Corpus.splitmix64(h); i += 1 }
    if (h == 42L) println() // keeps the loop live
    (System.nanoTime() - t0) / 1e6
  }

  /** GB/s summing a 64 MiB long array four times (best of two passes) */
  def memGbps(): Double = {
    val a = Array.tabulate(8 << 20)(_.toLong)
    var best = 0.0
    for (_ <- 0 until 2) {
      val t0 = System.nanoTime()
      var s = 0L
      var r = 0
      while (r < 4) { var i = 0; while (i < a.length) { s += a(i); i += 1 }; r += 1 }
      val gbps = 4.0 * a.length * 8 / (System.nanoTime() - t0)
      if (s == 42L) println()
      best = math.max(best, gbps)
    }
    best
  }

  def apply(tag: String): Map[String, Double] =
    Map(s"probe_${tag}_cpu_ms" -> cpuMs(), s"probe_${tag}_mem_gbps" -> memGbps())
}
