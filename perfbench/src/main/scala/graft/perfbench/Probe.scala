package graft.perfbench

import java.util.concurrent.{Callable, Executors}

/** Host-speed probe: a fixed piece of pure-JVM work on one thread per core
  * at once (like the query tasks). It touches no Spark or graft code and
  * allocates nothing while timed, so no change to the program moves it; its
  * time moves only with how fast this host runs at the moment.
  *
  * Each thread sorts copies of eight 64 Ki-long chunks of seeded random
  * longs (compute and branches), then follows a chain of 1 Mi dependent
  * loads through its own 16 MiB table (memory latency, past the caches).
  */
final class Probe(threads: Int) {
  private val Chunk = 1 << 16
  private val Chunks = 8
  private val TableBits = 21
  private val src = Array.tabulate(threads) { t =>
    val r = new java.util.SplittableRandom(1000L + t)
    Array.fill(Chunk * Chunks)(r.nextLong())
  }
  private val buf = Array.fill(threads)(new Array[Long](Chunk))
  private val table = Array.tabulate(threads)(t =>
    Array.tabulate(1 << TableBits)(i => i * 0x9E3779B97F4A7C15L + t))

  private def work(t: Int): Long = {
    var acc = 0L
    for (c <- 0 until Chunks) {
      System.arraycopy(src(t), c * Chunk, buf(t), 0, Chunk)
      java.util.Arrays.sort(buf(t))
      acc += buf(t)(Chunk / 2)
    }
    val tab = table(t)
    val mask = (1 << TableBits) - 1
    var h = acc
    var i = 0
    while (i < (1 << 20)) {
      h = tab((h ^ (h >>> 29)).toInt & mask) + i
      i += 1
    }
    acc + h
  }

  /** Wall seconds of `reps` repetitions, after two untimed ones. */
  def run(reps: Int): Seq[Double] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      def once(): Double = {
        val t0 = System.nanoTime()
        (0 until threads)
          .map(t => pool.submit(new Callable[Long] { def call(): Long = work(t) }))
          .foreach(_.get())
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 2).foreach(_ => once())
      (1 to reps).map(_ => once())
    } finally pool.shutdown()
  }
}
