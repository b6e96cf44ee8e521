package graft

import scala.collection.immutable.SeqMap

/** Host-noise sentinel shared by the timed mains (Bench, StreamBench):
  * a FIXED pure-CPU microbenchmark (splitmix64 spin — no allocation,
  * no I/O, deterministic checksum) timed single-threaded and at full
  * thread width. Spark-side wall times on this box swing ±40% with
  * co-tenant load while DuckDB's stay flat (the r15 window diagnosis);
  * a sentinel pair bracketing the measured window makes a hostile
  * window READABLE off the artifact — sentinel inflated ⇒ the window
  * was noisy, code is not the suspect — instead of diagnosed post-hoc
  * with paired re-runs (the r15 212 s / r16 170 s stream-control
  * anomalies both burned a re-run to attribute). On an idle box `mtMs`
  * over `threads` threads ≈ the idle st/mt ratio (≈2 here: 32
  * scheduler CPUs over 16 physical cores); co-tenant CPU pressure
  * inflates `mtMs` first (the scheduler steals whole cores), then
  * `stMs`. First measured catch: dev/bench_r16/README.md's run5.
  */
object HostSentinel {

  final case class Legs(stMs: Double, mtMs: Double, check: Long)

  val itersPerThread: Long = 150000000L

  private def splitmixSpin(iters: Long, seed: Long): Long = {
    var z = seed
    var acc = 0L
    var i = 0L
    while (i < iters) {
      z += 0x9E3779B97F4A7C15L
      var x = z
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      acc ^= x ^ (x >>> 31)
      i += 1
    }
    acc
  }

  /** One sentinel leg: JIT-warm off the clock, then the single-thread
    * and full-width measurements (~1 s total).
    */
  def measure(threads: Int): Legs = {
    splitmixSpin(itersPerThread / 10, 99L)
    val t0 = System.nanoTime()
    val check = splitmixSpin(itersPerThread, 1L)
    val stMs = (System.nanoTime() - t0) / 1e6
    val acc = new java.util.concurrent.atomic.AtomicLong(0L)
    val t1 = System.nanoTime()
    val ts = (0 until threads).map { t =>
      val th = new Thread(() =>
        acc.getAndAdd(splitmixSpin(itersPerThread, t + 1L)))
      th.start(); th
    }
    ts.foreach(_.join())
    val mtMs = (System.nanoTime() - t1) / 1e6
    Legs(stMs, mtMs, check)
  }

  /** The artifact field: a pre/post pair bracketing a measured window. */
  def fields(pre: Legs, post: Legs, threads: Int): SeqMap[String, Any] = SeqMap(
    "iters_per_thread" -> itersPerThread, "threads" -> threads,
    "pre_st_ms" -> ms(pre.stMs), "pre_mt_ms" -> ms(pre.mtMs),
    "post_st_ms" -> ms(post.stMs), "post_mt_ms" -> ms(post.mtMs),
    "checksum" -> pre.check)

  /** One leg's two readings, as a sample or a probe line carries them. */
  def leg(s: Legs): SeqMap[String, Any] =
    SeqMap("st_ms" -> ms(s.stMs), "mt_ms" -> ms(s.mtMs))

  /** Every artifact carries a leg's milliseconds to 0.1 ms. */
  private def ms(x: Double): Double = Json.rounded(x, 1)
}
