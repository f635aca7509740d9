package graftbench

import java.util.concurrent.{Callable, Executors, TimeUnit}

/** Measures how fast the host runs JVM code right now. One probe runs a
  * fixed task (hash-map inserts of fresh strings, then a sort: allocation,
  * pointer chasing and branches, like the driver and executor code of the
  * engine) on `threads` threads at once and returns the mean seconds per
  * thread, median of five rounds. The task touches none of the engine's
  * code or state, so a change to the engine cannot move it; on a shared
  * host, where other tenants move this machine's clock and caches, its
  * time moves with theirs. */
final class SpeedProbe(threads: Int) {
  private val pool = Executors.newFixedThreadPool(threads)

  private def task(seed: Int): Long = {
    val n = 1 << 15
    val m = new java.util.HashMap[String, java.lang.Long](n * 2)
    var h = seed * 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) {
      h = h * 6364136223846793005L + 1442695040888963407L
      m.put(java.lang.Long.toString(h >>> 20, 36), java.lang.Long.valueOf(h))
      i += 1
    }
    val keys = m.keySet.toArray(new Array[String](0))
    java.util.Arrays.sort(keys.asInstanceOf[Array[Object]])
    keys(n / 2).hashCode.toLong + m.size
  }

  private def round(): Double = {
    val timed = (0 until threads).map { t =>
      pool.submit(new Callable[Double] {
        def call(): Double = {
          val t0 = System.nanoTime()
          // the result is used, so the JIT cannot drop the task
          if (task(t) == 42L) System.err.print("")
          (System.nanoTime() - t0) / 1e9
        }
      })
    }.map(_.get())
    timed.sum / threads
  }

  def measure(): Double = {
    Seq.fill(5)(round()).sorted.apply(2)
  }

  def close(): Unit = {
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.MINUTES)
  }
}
