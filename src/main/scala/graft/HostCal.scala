package graft

/** Host-speed calibration + CPU-steal telemetry shared by the batch
  * bench ([[Bench]]) and the repository benchmark (`perfbench/`).
  *
  * Why it exists: this box's measured speed drifts run-over-run with NO
  * code change — r15→r16 showed a near-uniform 1.5–2× swing across all
  * batch queries at ≈0% steal (frequency scaling / sub-steal neighbor
  * contention), and the old streaming capacity p50s (STREAMBENCH.json)
  * moved ±25% the same way. Raw numbers from different days are not
  * comparable; these two signals make the drift visible in the artifact
  * itself:
  *
  *  - [[calSingle]]/[[calPar]]: a fixed deterministic xorshift64*
  *    checksum workload timed at 1 thread and all threads — the
  *    denominator for cross-round comparison (query/cal, not raw sec).
  *  - [[stealTicks]]: /proc/stat aggregate steal counter, bracketed
  *    around a measurement to report the fraction of its wall-clock the
  *    host spent stolen. Assumes USER_HZ = 100 (true on mainstream
  *    Linux; sysconf(_SC_CLK_TCK) territory elsewhere) and that
  *    availableProcessors matches the host CPU count the aggregate line
  *    covers (a cgroup cpu limit would undercount) — single-host
  *    telemetry feeding a threshold, not a portable metric.
  */
object HostCal {

  val hostCpus: Double = Runtime.getRuntime.availableProcessors.toDouble

  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")) match {
        case Some(l) =>
          val f = l.trim.split("\\s+") // cpu user nice sys idle iowait irq softirq steal
          if (f.length > 8) f(8).toLong else -1L
        case None => -1L
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** Fraction of `elapsedSec` the host spent in CPU-steal between two
    * [[stealTicks]] readings; 0 when telemetry is unavailable. */
  def stealFrac(t0: Long, t1: Long, elapsedSec: Double): Double =
    if (t0 >= 0 && t1 >= 0 && elapsedSec > 0)
      (t1 - t0) / 100.0 / hostCpus / elapsedSec
    else 0.0

  /** xorshift64* checksum loop — result consumed so the JIT cannot
    * elide it. */
  private def calLoop(iters: Long, seed: Long): Long = {
    var x = seed; var acc = 0L; var i = 0L
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x * 0x2545F4914F6CDD1DL; i += 1
    }
    acc
  }

  private def timeCal(threads: Int): Double = {
    val iters = 400000000L
    calLoop(iters / 10, 42L) // JIT warmup, untimed
    val t0 = System.nanoTime()
    val sink = (1 to threads).map { t =>
      val th = new Thread(null, () => { calLoop(iters, t.toLong); () },
                          s"graft-cal-$t")
      th.start(); th
    }
    sink.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** One-thread workload time (per-core speed). */
  def calSingle(): Double = timeCal(1)

  /** All-cores workload time (contention + scheduler). */
  def calPar(): Double = timeCal(Runtime.getRuntime.availableProcessors)
}
