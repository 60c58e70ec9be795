package graft.core

/** Effective-core probe shared by Bench and ScaleSoak (ROUND_NOTES r4: a
  * loaded shared host once cut 32 configured cores to ~11 effective and
  * masqueraded as a 4.5x op regression): measure single-thread FLOP rate,
  * then aggregate rate with `threads` burner threads — the ratio is how
  * many cores this run actually got. The single-thread baseline runs at
  * turbo clocks while the aggregate runs at all-core clocks, so the idle
  * ceiling here is ~0.65-0.70 of configured, not 1.0; `aggRate`
  * (iters/ns, frequency-honest) rides alongside so artifacts can
  * normalize without the turbo-biased ratio. Harnesses that wait for a
  * quiet host do so through the one probe/sleep/re-probe loop,
  * [[Harness.awaitQuiet]]. */
object HostProbe {
  def effectiveCores(threads: Int): (Double, Double, Double) =
    effectiveCores(threads, 30000000L)

  /** `iters` scales probe cost vs precision: the default ~1 s probe is the
    * suite-level calibration; per-op re-queue checks (Bench r10) pass a
    * third of it — a steal big enough to poison a rep is far above the
    * shorter probe's noise. */
  def effectiveCores(threads: Int, iters: Long): (Double, Double, Double) = {
    def burn(iters: Long): Double = {
      var x = 1.0; var i = 0L
      while (i < iters) { x = (x * 1.0000001 + 1e-9) % 10.0; i += 1 }
      x
    }
    burn(iters / 3) // JIT warmup
    val t1 = System.nanoTime(); burn(iters)
    val singleRate = iters.toDouble / (System.nanoTime() - t1)
    val ts = Array.tabulate(threads)(_ => new Thread(new Runnable {
      def run(): Unit = { burn(iters) }
    }))
    val t2 = System.nanoTime()
    ts.foreach(_.start()); ts.foreach(_.join())
    val aggRate = threads * iters.toDouble / (System.nanoTime() - t2)
    (aggRate / singleRate, singleRate, aggRate)
  }
}
