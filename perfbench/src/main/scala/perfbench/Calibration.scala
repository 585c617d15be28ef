package perfbench

import java.util.concurrent.{Callable, Executors}

/** Machine calibration printed next to every run's metrics (not a metric):
  * a pure-CPU hash loop and a memory-streaming pass, each at 1 thread and at
  * the run's thread count. A window where the shared machine is throttled
  * shows up here as lower rates beside slower numbers. */
object Calibration {

  /** The 64-bit MurmurHash3 finalizer, chained. */
  @inline private def fmix(k0: Long): Long = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^ (k >>> 33)
  }

  private def onThreads(threads: Int)(work: Int => Long): Double = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val t0 = System.nanoTime()
      val fs = (0 until threads).map(i => pool.submit(new Callable[Long] { def call(): Long = work(i) }))
      val sink = fs.map(_.get()).sum
      if (sink == 42L) print("") // keep the result live
      (System.nanoTime() - t0) / 1e9
    } finally pool.shutdown()
  }

  /** Million hash steps per second over all threads. */
  def cpu(threads: Int, steps: Long = 20000000L): Double = {
    val secs = onThreads(threads) { i =>
      var h = i.toLong
      var n = 0L
      while (n < steps) { h = fmix(h + n); n += 1 }
      h
    }
    threads * steps / secs / 1e6
  }

  /** GB/s summed over threads, streaming a private 32 MB array each. */
  def memory(threads: Int, passes: Int = 4): Double = {
    val words = 4 << 20
    val bufs = Array.tabulate(threads)(i => Array.fill(words)(i.toLong))
    val secs = onThreads(threads) { i =>
      val b = bufs(i)
      var s = 0L
      var p = 0
      while (p < passes) {
        var j = 0
        while (j < words) { s += b(j); j += 1 }
        p += 1
      }
      s
    }
    threads.toLong * passes * words * 8 / secs / 1e9
  }

  def summary(threads: Int): String = {
    cpu(threads, 2000000L); memory(threads, 1) // JIT warm-up
    f"calibration: cpu_mhash_per_s 1t=${cpu(1)}%.1f ${threads}t=${cpu(threads)}%.1f; " +
      f"mem_gb_per_s 1t=${memory(1)}%.2f ${threads}t=${memory(threads)}%.2f"
  }
}
