package perfbench

/** Host-health stamps taken around every timed reading, so that a slow host
  * can be told from slow code: a fixed-work single-thread CPU loop and a
  * fresh-allocation (page-fault) probe. Both run outside the timed windows. */
object Host {

  @volatile private var blackhole: Long = 0L

  /** Serial 16M-iteration xorshift loop; returns giga-iterations per second. */
  def cpuGops(): Double = {
    val iters = 16000000L
    var x = 0x9E3779B97F4A7C15L
    val t0 = System.nanoTime()
    var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val gops = iters.toDouble / (System.nanoTime() - t0)
    blackhole ^= x
    gops
  }

  /** Allocates and touches a fresh 32 MiB array; returns GiB per second. */
  def allocGbps(): Double = {
    val n = 32 << 20
    val t0 = System.nanoTime()
    val a = new Array[Byte](n)
    var i = 0
    while (i < n) { a(i) = 1; i += 4096 }
    blackhole ^= a(n - 1)
    n.toDouble / (System.nanoTime() - t0) * 1e9 / (1L << 30)
  }

  /** Lets background work from the previous operation finish before the
    * next timed one: a full GC, then a wait (at most `maxMs`) until the JIT
    * compiler has been idle for 300 ms. On a 4-core host, compiler threads
    * still busy with warm-up code otherwise compete with the timed tasks. */
  def settle(maxMs: Long): Unit = {
    System.gc()
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.currentTimeMillis() + maxMs
    var last = jit.getTotalCompilationTime
    var idleSince = System.currentTimeMillis()
    while (System.currentTimeMillis() - idleSince < 300 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now != last) { last = now; idleSince = System.currentTimeMillis() }
    }
  }

  final case class Stamp(cpuGops: Double, allocGbps: Double)

  def stamp(): Stamp = Stamp(cpuGops(), allocGbps())
}
