package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Machine-load probe: a fixed CPU fold, Σ (xxhash64(i) % 100000) over
  * 2^27 ids split across the benchmark's cores. graft.Bench times the
  * same fold as a Spark job; here it runs on plain threads, so that only
  * the machine, never graft or Spark, can move it. */
object Probe {
  private val sink = new AtomicLong

  /** Best of two timings, after a short warm-up. */
  def run(): Double = {
    once(1L << 22)
    math.min(once(1L << 27), once(1L << 27))
  }

  private def once(n: Long): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until Main.Cores).map { k =>
      val t = new Thread(() => {
        var s = 0L
        var i = k * n / Main.Cores
        val end = (k + 1) * n / Main.Cores
        while (i < end) { s += XXH64.hashLong(i, 42L) % 100000; i += 1 }
        sink.addAndGet(s)
      })
      t.start()
      t
    }
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
