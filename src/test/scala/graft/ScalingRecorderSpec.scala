package graft

import org.scalatest.funsuite.AnyFunSuite

/** The scaling RECORDER's contention defenses (round-3 verdict #1):
  * pair-plausibility band, external-CPU accounting from /proc, and the
  * p99 index rule. The full scalingEvidence path is exercised by the
  * driver's Bench run (multi-minute); these pin the pure pieces.
  */
class ScalingRecorderSpec extends AnyFunSuite {

  test("pair plausibility band rejects the round-3 driver-window ratios") {
    // the contended window that poisoned BENCH_r03.json
    for (r <- Seq(0.090, 0.135, 0.052, 0.134)) assert(!ScalingBench.pairPlausible(r), s"$r")
    // every idle-box pair observed across rounds survives
    for (r <- Seq(0.70, 0.742, 0.763, 0.766, 0.786, 0.873, 1.0)) assert(ScalingBench.pairPlausible(r), s"$r")
    assert(!ScalingBench.pairPlausible(1.2)) // super-linear timer noise
    assert(!ScalingBench.pairPlausible(0.24))
  }

  test("host and self jiffies parse, are non-negative, and advance under a CPU burn") {
    val (t0, i0) = ScalingBench.hostJiffies()
    val s0 = ScalingBench.selfJiffies()
    assert(t0 > 0 && i0 >= 0 && i0 <= t0 && s0 >= 0)
    // burn ~200 ms of CPU in this process; jiffies are 10 ms ticks so
    // self must advance by a clearly-nonzero amount
    var x = 0.0
    val deadline = System.nanoTime() + 200L * 1000 * 1000
    while (System.nanoTime() < deadline) x += math.sin(x + 1.0)
    val (t1, _) = ScalingBench.hostJiffies()
    val s1 = ScalingBench.selfJiffies()
    assert(x != Double.MaxValue) // keep the burn un-eliminable
    assert(t1 >= t0)
    assert(s1 > s0, s"self jiffies did not advance: $s0 -> $s1")
    // own CPU can never exceed the host total delta by more than
    // sampling skew of one tick per CPU
    assert(s1 - s0 <= (t1 - t0) + Runtime.getRuntime.availableProcessors())
  }

  test("external-CPU threshold and dispersion bound are the recorded policy") {
    assert(ScalingBench.MaxExternalCpu == 0.15)
    assert(ScalingBench.MaxPassDispersion == 1.5)
  }

  test("within-pass dispersion outlier pick is symmetric in log space") {
    // the observed contended-window shape: one mildly starved hi leg
    // (ratio 0.33) next to clean siblings — the deflated pair is picked
    assert(ScalingBench.dispersionOutlierIndex(Seq(0.68, 0.33, 0.69)) == 1)
    // a lo-leg-starved pair that INFLATES the ratio the same log
    // distance from the median must be picked just as readily — the
    // pruning cannot bias toward the flattering direction
    assert(ScalingBench.dispersionOutlierIndex(Seq(0.68, 1.09, 0.69)) == 1)
    // equidistant in linear space but NOT in log space: 0.34 (2× below
    // median 0.68) is farther than 1.02 (1.5× above), so log distance
    // picks the deflated one; linear distance would tie them
    assert(ScalingBench.dispersionOutlierIndex(Seq(0.34, 0.68, 1.02)) == 0)
    // a budget sentinel (ratio 0) is always the farthest thing from any
    // median and is re-measured first
    assert(ScalingBench.dispersionOutlierIndex(Seq(0.68, 0.0, 0.69)) == 1)
  }

  test("a host with fewer cores than cpus_hi gets an invalid block without measuring") {
    val block = ScalingBench.shortHostBlock(4).get
    for (field <- Seq(""""cpus_lo":6""", """"cpus_hi":24""", """"work_scale":6""",
        """"reps":3""", """"isolation":"fork"""", """"host_cpus":4""",
        """"headline_valid":false""", """"reason":"""))
      assert(block.contains(field), block)
    assert(ScalingBench.shortHostBlock(24).isEmpty)
  }

  test("a failed measurement child throws, naming its mode and exit code") {
    // `child-pair` without its sfDir and an unknown mode both make the
    // child print the usage and exit 2; neither may turn into a number
    for (mode <- Seq(Seq("child-pair"), Seq("no-such-mode"))) {
      val e = intercept[IllegalStateException](ScalingBench.forkChild(mode))
      assert(e.getMessage.contains("exited with code 2"), e.getMessage)
      assert(e.getMessage.contains(mode.head), e.getMessage)
    }
  }
}
