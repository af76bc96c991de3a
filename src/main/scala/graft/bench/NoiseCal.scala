package graft.bench

/** Noise calibration: a fixed single-threaded pure-CPU kernel (a
  * 100M-step xorshift stream sum, no allocation, no Spark) timed at a
  * phase boundary. The container's co-tenant load swings single-core
  * throughput ~1.5-3× between minute-scale windows (VERDICT r4 item 3),
  * and a pure-CPU constant exposes exactly that factor: a consumer can
  * divide a phase's cells by (cal_phase / min cal) to separate plan
  * regressions from window noise, and two runs stamped with it are
  * comparable.
  */
object NoiseCal {

  /** ms for one kernel run: the min of 3 adjacent samples of ~150 ms
    * (the work is constant; the min strips scheduler preemption).
    */
  def ms(): Double = Seq.fill(3)(once()).min

  private def once(): Double = {
    var x = 0x9E3779B97F4A7C15L; var s = 0L; var i = 0
    val t0 = System.nanoTime()
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; s += x; i += 1
    }
    if (s == 42) System.err.println("") // keep the loop observable
    (System.nanoTime() - t0) / 1e6
  }
}
