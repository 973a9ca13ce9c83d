package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{ClipPipeline, StreamRunner}
import graft.synth.ClipGen

/** Scaling-efficiency evidence (BASELINE.json `north_rule`): the same
  * job at two parallelism levels on identical input — `local[6]` vs
  * `local[24]` on one host stands in for N vs 4N executors.
  * [[scalingEvidence]] returns one JSON block with throughput at both
  * levels and the scaling efficiency
  * eff = (t_low / t_high) / (cpus_high / cpus_low); target ≥ 0.8.
  * Bench embeds the block; `runMain graft.ScalingBench evidence`
  * prints it alone.
  *
  * Workload = the engine's hot path: staged clip table scan → fused
  * decode map → per-codec rollup (scan + narrow map + one partial-agg
  * exchange). Bench's streaming dedup micro-batch latency probe
  * ([[runStreamLatencies]], [[p99]]) also lives here.
  */
object ScalingBench {

  /** lo=6 / hi=24 (not 7/28): the 32-core VM needs headroom for GC and
    * Spark daemon threads; at hi=28 the high-parallelism run is
    * partially self-contended and under-reports the engine.
    */
  private val Lo = 6
  private val Hi = 24
  /** Paired (lo, hi) cycles per pass. */
  private val Reps = 3
  /** Self-unions of the staged table per timed run: with less work per
    * timed run an earlier rider recorded an overhead-dominated 0.587
    * (see [[decodeWorkload]]).
    */
  private val WorkScale = 6
  /** Mutually consistent valid passes the headline needs. */
  private val Passes = 2

  private def session(cpus: Int): SparkSession = {
    val s = GraftSession.builder(s"local[$cpus]", cpus.toString)
      .appName(s"graft-scaling-$cpus")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Decode + rollup over the staged table repeated `workScale` times
    * (self-union): per-core work must dwarf the fixed driver/stage
    * overhead (~0.5 s) or the high-parallelism run is overhead-capped
    * and the efficiency number measures Spark's constant costs instead
    * of the engine.
    */
  private def decodeWorkload(spark: SparkSession, sfDir: String,
      workScale: Int): DataFrame = {
    val clips = ClipGen.stagedClips(spark, sfDir)
    val repeated = Seq.fill(workScale)(clips.toDF()).reduce(_ union _)
    import spark.implicits._
    ClipPipeline.decodeStage(repeated.as[graft.model.Clip])
      .toDF()
      .groupBy(col("codec"))
      .agg(count(lit(1)).as("n"), sum(col("dur_ms")).as("d"),
        avg(col("pcm.rms")).as("r"))
  }

  private def timeIt(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** One PAIRED (lo, hi) measurement cycle: the two levels run
    * back-to-back (~30 s apart) so shared-host drift hits both sides
    * of the ratio, not one — a lo block and a hi block measured
    * minutes apart can land in different host windows and corrupt the
    * ratio in either direction even when each block's own min-of-reps
    * is clean (observed: lo 22.8 s in a fast window against hi 8.4 s
    * in a mediocre one reads 0.68 on an engine whose same-window
    * pairs read 0.78–0.83). Runs in a fresh child JVM (`child-pair`),
    * so each level's untimed work-scale-1 run pays that JVM's JIT and
    * class loading and its fresh session's plan caches before the
    * timed run.
    */
  private def runPair(sfDir: String): (Double, Double) = {
    def once(cpus: Int): Double = {
      val spark = session(cpus)
      try {
        decodeWorkload(spark, sfDir, 1).write.format("noop")
          .mode("overwrite").save()
        System.gc()
        timeIt(decodeWorkload(spark, sfDir, WorkScale)
          .write.format("noop").mode("overwrite").save())
      } finally spark.stop()
    }
    (once(Lo), once(Hi))
  }

  // ---- direct external-load measurement (round-3 verdict #1c) ------------
  //
  // The ceiling probe samples host health for ~30 s per pass; the workload
  // pairs run for minutes. In the round-3 driver window the probes happened
  // to read plausible while the pairs were crushed by neighbor load
  // (pair ratios 0.052–0.135 against idle-box 0.74–0.77). The fix is to
  // measure contention DIRECTLY, per pair: /proc/stat total-busy delta
  // minus this JVM's own CPU delta (/proc/self/stat utime+stime+children),
  // expressed as a fraction of total machine capacity over the pair's wall
  // window. `run / fork := true`, so /proc/self IS the bench JVM and the
  // local[*] executors are its threads.

  /** (totalJiffies, idleJiffies incl. iowait) from /proc/stat's first line.
    * steal/irq/softirq count as busy — on a virtualized shared host steal
    * IS neighbor load, exactly the signal we want. Only the first 8
    * fields (user..steal) are summed: guest and guest_nice are already
    * folded into user/nice by the kernel, so including them would
    * double-count VM time and spuriously inflate the external-CPU
    * fraction on a host running guests.
    */
  private[graft] def hostJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, f(3) + (if (f.length > 4) f(4) else 0L))
    } finally src.close()
  }

  /** This process's own CPU jiffies (utime+stime+cutime+cstime). The comm
    * field may contain spaces — parse after the last ')'.
    */
  private[graft] def selfJiffies(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/stat")
    try {
      val s = src.mkString
      val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
      rest(11).toLong + rest(12).toLong + rest(13).toLong + rest(14).toLong
    } finally src.close()
  }

  /** One measured pair + the external-CPU fraction observed across its
    * wall window. `valid` is false when the ratio is implausible OR the
    * machine was visibly shared during the measurement; `reason` records
    * which.
    */
  final case class PairMeas(tLo: Double, tHi: Double, ratio: Double,
      extCpu: Double, valid: Boolean, reason: String,
      sentinel: Boolean = false)

  /** A pair ratio outside this band is a corrupted measurement, not a
    * property of the engine: the decode workload cannot genuinely scale
    * below 0.25 across a 4× core spread (idle-box pairs read 0.70–0.87
    * across every round), and above 1.1 is super-linear timer noise.
    * The round-3 driver window produced 0.052–0.135 — exactly what this
    * band exists to reject.
    */
  private[graft] def pairPlausible(r: Double): Boolean = r >= 0.25 && r <= 1.1

  /** External CPU above this fraction of machine capacity during a pair
    * means another tenant was computing alongside the measurement — the
    * ratio is untrustworthy regardless of its value.
    */
  private[graft] val MaxExternalCpu = 0.15

  // ---- fresh-JVM isolation (round-5 verdict #1) --------------------------
  //
  // Every measured unit (each lo/hi pair, each ceiling probe) runs in a
  // freshly forked child JVM. Three independent round-5 measurements showed
  // systematic SAME-JVM cross-pass degradation: pass 1 read 0.86–1.00
  // normalized, pass 2 ~0.66 (sec_hi 7.3 s → 9.4–11.8 s while sec_lo stayed
  // flat, external CPU ≈ 0) — accumulated heap/metaspace/code-cache debt
  // taxes the 24-thread leg disproportionately — and the suite-embedded run
  // inherited 2×121 query executions' GC debt (timed legs 4–25× standalone,
  // headline_valid:false). A child JVM per measurement gives every pair
  // first-pass conditions; the parent only orchestrates and samples
  // /proc/stat around the child for the external-CPU guard.

  /** Command line for a child measurement JVM: same java binary, same JVM
    * args (add-opens, -Xmx, -D props) and same classpath as this process —
    * `run / fork := true`, so this IS a plain JVM whose properties carry
    * the full picture. Debug agents are stripped (a child inheriting a
    * debugger port would fail to bind).
    */
  private def childJvmCmd(mainArgs: Seq[String]): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths
      .get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    (javaBin +: jvmArgs) ++ Seq("-cp", sys.props("java.class.path"),
      "graft.ScalingBench") ++ mainArgs
  }

  /** Fork one measurement child and parse its single
    * `CHILD_RESULT {"k":v,...}` stdout line (flat numeric JSON). stderr
    * passes through for progress visibility. Throws, naming the mode
    * and the exit code, when the child exits non-zero or prints no
    * result line: a number measured in the debted parent JVM is what
    * the isolation exists to prevent, so Bench records the block as
    * `{"error":…}` instead.
    */
  private[graft] def forkChild(mainArgs: Seq[String]): Map[String, Double] = {
    val pb = new ProcessBuilder(childJvmCmd(mainArgs): _*)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    val rc = p.waitFor()
    val line = out.linesIterator
      .find(_.startsWith("CHILD_RESULT ")).map(_.stripPrefix("CHILD_RESULT "))
    if (rc != 0 || line.isEmpty) throw new IllegalStateException(
      s"scaling child `${mainArgs.headOption.getOrElse("")}` exited with code $rc" +
        (if (line.isEmpty) " and printed no CHILD_RESULT line" else ""))
    val kv = """"([a-z_]+)":(-?[0-9.eE+]+)""".r
    kv.findAllMatchIn(line.get).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  private[graft] def measurePair(sfDir: String): PairMeas = {
    val (t0, i0) = hostJiffies()
    val s0 = selfJiffies()
    val m = forkChild(Seq("child-pair", sfDir))
    val (l, h) = (m("t_lo"), m("t_hi"))
    val (t1, i1) = hostJiffies()
    val s1 = selfJiffies()
    val total = math.max(1L, t1 - t0)
    val busy = total - (i1 - i0)
    // external CPU = host busy minus this JVM's own work. selfJiffies
    // includes cutime/cstime, which absorb the reaped measurement
    // child's CPU after waitFor — so it needs no separate child term
    // (and adding one would double-subtract).
    val ext = math.max(0L, busy - (s1 - s0)).toDouble / total
    val ratio = (l / h) / (Hi.toDouble / Lo)
    val reasons = Seq(
      if (!pairPlausible(ratio)) Some(f"ratio $ratio%.3f outside [0.25, 1.1]") else None,
      if (ext > MaxExternalCpu) Some(f"external CPU $ext%.3f > $MaxExternalCpu%.2f") else None
    ).flatten
    PairMeas(l, h, ratio, ext, reasons.isEmpty, reasons.mkString("; "))
  }

  /** Pair with bounded rejection+re-run: up to `maxTries` measurements,
    * first valid one accepted; every rejected pair is returned for the
    * artifact (rejections must be visible, never silently discarded).
    * If no valid pair emerges within the budget the last one is accepted
    * with valid=false. `budget` is a shared counter bounding total pair
    * executions across the whole evidence run.
    */
  private def measurePairRetry(sfDir: String,
      budget: java.util.concurrent.atomic.AtomicInteger,
      maxTries: Int = 3): (PairMeas, Seq[PairMeas]) = {
    val rejected = scala.collection.mutable.ArrayBuffer.empty[PairMeas]
    var tries = 0
    var last: PairMeas = null
    while (tries < maxTries && (last == null || !last.valid) &&
        budget.getAndDecrement() > 0) {
      last = measurePair(sfDir)
      tries += 1
      if (!last.valid) {
        System.err.println(f"[scaling] pair rejected (${last.reason}) — re-running")
        rejected += last
      }
    }
    if (last == null) { // budget exhausted before the first try
      last = PairMeas(0, 1, 0, 1, valid = false, "pair budget exhausted",
        sentinel = true)
    }
    (last, if (last.valid) rejected.toSeq else rejected.toSeq.dropRight(1))
  }

  /** Streaming micro-batch latencies (ms) for the dedup pipeline.
    * Creates its own session — callers must have stopped theirs.
    */
  private[graft] def runStreamLatencies(cpus: Int, sfDir: String): Seq[Double] = {
    val spark = session(cpus)
    try {
      val schema = graft.model.Schemas.events
      // events staged as 16 files, 1 per trigger: Kafka-partition-sized
      // micro-batches instead of one monolith; a regenerated
      // events.parquet re-stages instead of silently streaming stale
      // rows
      val streamDir = java.nio.file.Paths
        .get(sys.props("java.io.tmpdir"), "graft_stream_events",
          java.nio.file.Paths.get(sfDir).getFileName.toString).toString
      graft.sink.FsUtil.staged(java.nio.file.Paths.get(streamDir),
          graft.sink.FsUtil.sourceFingerprint(
            java.nio.file.Paths.get(s"$sfDir/events.parquet"))) {
        spark.read.parquet(s"$sfDir/events.parquet")
          .repartition(16).write.mode("overwrite").parquet(streamDir)
      }
      import spark.implicits._
      val clips = ClipGen
        .metaProjection(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(streamDir))
        .withColumn("event_time", col("event_time").cast("timestamp"))
        .withWatermark("event_time", "10 minutes")
        .as[graft.streaming.ClipMeta]
      StreamRunner.run(Seq(StreamRunner.Query("graft_p99_probe",
        ClipPipeline.dedupStage(clips).toDF(), StreamRunner.Sink.Noop)))._1.head
        .recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").toDouble)
    } finally spark.stop()
  }

  /** Pure-CPU scaling ceiling of THIS machine at THIS moment: an
    * allocation-free, IO-free `range → sin → reduce` job at both
    * parallelism levels. A virtualized shared host rarely scales 4×
    * cores at 1.0 — and the ceiling drifts with neighbor load (0.80
    * and 0.70 observed hours apart on this sandbox). The engine's
    * efficiency is reported raw AND normalized against the ceiling
    * measured back-to-back with it. Runs in a child JVM
    * (`child-ceiling`).
    */
  private def machineCeiling(): Double = {
    def run(cpus: Int): Double = {
      val spark = session(cpus)
      try {
        import spark.implicits._
        val n = 200000000L
        spark.range(0, n / 10, 1, cpus * 4).map(i => math.sin(i.toDouble)).reduce(_ + _)
        (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          spark.range(0, n, 1, cpus * 4).map(i => math.sin(i.toDouble)).reduce(_ + _)
          (System.nanoTime() - t0) / 1e9
        }.min
      } finally spark.stop()
    }
    val (tLo, tHi) = (run(Lo), run(Hi))
    (tLo / tHi) / (Hi.toDouble / Lo)
  }

  /** A raw ceiling probe outside this band is a corrupted measurement,
    * not a property of the machine: a pure-CPU job on an idle-ish box
    * cannot genuinely scale below 0.5 across a 4× core spread, and
    * anything above 1.25 is super-linear timer noise. (0.70–0.98
    * observed across rounds on this sandbox; a 0.27 once recorded by a
    * neighbor-load burst poisoned the round-2 artifact of record.)
    */
  private[graft] def ceilingPlausible(c: Double): Boolean = c >= 0.5 && c <= 1.25

  /** Ceiling probe with rejection + re-run: up to `maxTries` probes,
    * first plausible one wins; if EVERY probe is implausible, the
    * least-implausible (closest to the [0.5, 1.25] band) is returned
    * with valid=false — callers must then normalize against a neutral
    * 1.0, never against the corrupted value (a 0.27 denominator
    * inflates normalized efficiency, the round-2 artifact failure).
    * Each probe is [[machineCeiling]] in a fresh child JVM (same
    * isolation rationale as the pairs: a ceiling probed in a
    * heap-debted JVM under-reads the machine and inflates the
    * normalized headline). Returns (raw ceiling, tries, valid).
    */
  private def measureCeiling(maxTries: Int = 3): (Double, Int, Boolean) = {
    var tries = 0
    val probes = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (tries < maxTries && !probes.lastOption.exists(ceilingPlausible)) {
      val c = forkChild(Seq("child-ceiling"))("ceiling")
      probes += c
      tries += 1
      if (!ceilingPlausible(c)) System.err.println(
        f"[scaling] ceiling probe $tries measured $c%.3f outside [0.5, 1.25] — corrupted window, re-running")
    }
    def bandDistance(c: Double): Double =
      if (c < 0.5) 0.5 - c else if (c > 1.25) c - 1.25 else 0.0
    val best = probes.minBy(bandDistance)
    (best, tries, ceilingPlausible(best))
  }

  /** A pass whose surviving pair ratios disperse more than this
    * (max/min) was measured across a shifting host window — per-pair
    * common-mode cancellation holds WITHIN a pair, not across minutes.
    * Idle-box passes disperse ≤ 1.1× (e.g. [0.763, 0.742, 0.766]);
    * the round-3 driver's contended pass read 0.489/0.134 = 3.6×.
    */
  private[graft] val MaxPassDispersion = 1.5

  /** Valid passes whose RAW headlines disagree by more than this
    * (max/min) were not measured under comparable conditions — one of
    * them is degraded. Round 5 showed exactly this shape (pass 1
    * 0.86–1.00 normalized, pass 2 ~0.66 from same-JVM debt) and the
    * median-valid-pass rule then reported the degraded pass. With
    * per-measurement fresh-JVM isolation the spread should be small;
    * this guard rejects the residual case: extra passes are run
    * (bounded) until `passes` mutually consistent valid passes exist,
    * and the headline is the median of the largest consistent subset —
    * a lone degraded pass is excluded, never median-ed.
    */
  private[graft] val MaxCrossPassSpread = 1.25

  /** Index of the ratio FARTHEST from the median in LOG space — the
    * within-pass dispersion outlier. Log distance makes the rejection
    * symmetric: a lo-leg-starved pair that INFLATES the ratio k× is
    * exactly as far from the median as a hi-leg-starved pair that
    * deflates it k×, so contention cannot be selectively pruned in the
    * flattering direction.
    */
  private[graft] def dispersionOutlierIndex(ratios: Seq[Double]): Int = {
    val rs = ratios.map(r => math.max(1e-9, r))
    val med = rs.sorted.apply((rs.size - 1) / 2)
    rs.indices.maxBy(i => math.abs(math.log(rs(i)) - math.log(med)))
  }

  /** Largest subset of `vs` whose raw values lie within a
    * [[MaxCrossPassSpread]] band (contiguous after sorting by raw —
    * any within-band subset is a sorted window). Ties prefer the
    * LOWER window: the conservative choice on a noisy host.
    */
  private[graft] def consistentSubset[A](vs: Seq[A], raw: A => Double): Seq[A] = {
    if (vs.size <= 1) vs
    else {
      val sorted = vs.sortBy(raw)
      sorted.indices.map { i =>
        sorted.drop(i).takeWhile(p => raw(p) <= raw(sorted(i)) * MaxCrossPassSpread)
      }.maxBy(_.size) // maxBy keeps the FIRST (lowest) largest window
    }
  }

  /** One pair plus the machine-ceiling probe measured IMMEDIATELY
    * after it — the same host window. A pass-level ceiling probed
    * minutes before its pairs decouples from them under bursty
    * neighbor load (observed live: ceiling 0.769 probed in a quiet
    * gap, pairs 0.30–0.52 in the burst → a "valid" 0.607 normalized
    * that measures the neighbors, not the engine); pairing each ratio
    * with its own window's ceiling keeps the normalization honest in
    * BOTH directions — a quiet-gap ceiling can no longer deflate a
    * contended pair's normalized value, and a burst-window ceiling
    * can no longer inflate a clean one's.
    */
  private final case class PairUnit(pair: PairMeas, ceilRaw: Double,
      ceilTries: Int, ceilValid: Boolean)

  /** The scaling-evidence JSON block: Bench embeds it in the per-round
    * artifact and `runMain graft.ScalingBench evidence` prints it, so
    * `BENCH_r*.json` records exactly this methodology — work_scale×reps
    * sized so per-core work dwarfs fixed stage overhead. Stages the clip
    * table first, outside all timings; `clips_per_sec_lo`/`_hi` are
    * `n_clips`×work_scale over the headline pass's `sec_lo`/`sec_hi`.
    *
    * Robustness choices, all recorded in the output (hardened after
    * the round-2 artifact recorded a corrupted 0.27 ceiling probe —
    * and the normalized 2.899 it implied — as the headline number):
    *  - the machine ceiling is probed PER PAIR, immediately after the
    *    pair, in the same host window (see [[PairUnit]] — a pass-level
    *    probe minutes away decouples from its pairs under bursty
    *    neighbor load and mis-normalizes in either direction); a probe
    *    outside [0.5, 1.25] is REJECTED and re-run (up to 3 per pair),
    *    a pair whose every probe is implausible invalidates the pass,
    *    its normalized value computed against a NEUTRAL ceiling of 1.0
    *    (a corrupted probe must not become the denominator), and it is
    *    never reported as the headline while a valid pass exists. The
    *    reported pass ceiling is the median pair's own-window probe.
    *  - the ceiling is clamped at ≤1.0 AND `normalized_efficiency` is
    *    clamped at ≤1.0 — no value in the block can exceed 1.0 (an
    *    engine cannot scale better than perfectly; anything above is
    *    measurement noise and must not flatter the gate).
    *  - each pass measures `reps` PAIRED (lo, hi) cycles — the two
    *    levels run back-to-back inside a cycle so shared-host drift
    *    cancels within the ratio — and reports the MEDIAN pair ratio
    *    (a lo block and a hi block measured minutes apart, as earlier
    *    revisions did, can land in different host windows and read
    *    0.68 on an engine whose same-window pairs read 0.78–0.83);
    *    all pair ratios are recorded under `pair_ratios`.
    *  - at least TWO full passes, ALL under `attempts`; the headline is
    *    the median RAW efficiency of the mutually consistent valid
    *    passes, never selected by normalized — selecting by normalized
    *    would prefer exactly the passes whose ceiling probe was
    *    depressed by neighbor load.
    * Every measured unit runs in a child JVM ([[forkChild]]); a failed
    * child fails the whole block. On a host with fewer cores than
    * `cpus_hi` nothing is staged or forked ([[shortHostBlock]]).
    */
  def scalingEvidence(sfDir: String): String =
    shortHostBlock(Runtime.getRuntime.availableProcessors).getOrElse(measure(sfDir))

  /** The block's fixed fields: levels, work size and recording rule. */
  private val header =
    s""""cpus_lo":$Lo,"cpus_hi":$Hi,"work_scale":$WorkScale,"reps":$Reps,"headline_rule":"median_consistent_valid_pass","isolation":"fork""""

  /** With fewer than `cpus_hi` cores both levels share the same cores,
    * so every ceiling probe reads about cores / cpus_hi, below the
    * [0.5, 1.25] band, and no pass can be valid: the block says so up
    * front instead of spending its whole child budget to find out.
    */
  private[graft] def shortHostBlock(hostCpus: Int): Option[String] =
    if (hostCpus >= Hi) None
    else Some(s"""{$header,"host_cpus":$hostCpus,"headline_valid":false,"reason":"host has $hostCpus cores, fewer than cpus_hi"}""")

  private def measure(sfDir: String): String = {
    val pre = session(Hi)
    val nClips =
      try ClipGen.stagedClips(pre, sfDir).count()
      finally pre.stop()
    final case class Pass(units: Seq[PairUnit], rejectedPairs: Seq[PairMeas]) {
      val pairs: Seq[PairMeas] = units.map(_.pair)
      val ratios: Seq[Double] = pairs.map(_.ratio)
      val pairsValid: Boolean = pairs.forall(_.valid)
      // Ratio statistics must run over REAL measurements: a
      // budget-exhausted sentinel (ratio 0) entering the median would
      // drag it toward 0 and could be selected as the mid pair,
      // fabricating sec_lo/sec_hi/raw of 0.00/1.00 in the all-invalid
      // fail-open case. Sentinels stay in the disclosed pair list; they
      // only fall back into the statistics when NO real pair exists.
      private val statUnits = {
        val real = units.filterNot(_.pair.sentinel)
        if (real.nonEmpty) real else units
      }
      private val statRatios = statUnits.map(_.pair.ratio)
      val dispersion: Double =
        if (statRatios.isEmpty) Double.PositiveInfinity
        else statRatios.max / statRatios.min
      val dispersionValid: Boolean = dispersion <= MaxPassDispersion
      // MEDIAN of the paired ratios (lower-middle for even counts:
      // never the favorable rounding) — each ratio comes from a lo/hi
      // pair measured back-to-back, so common-mode host drift cancels
      // within a pair and the median discards a single corrupted one
      private val mid = statRatios.sorted.apply((statRatios.size - 1) / 2)
      val raw: Double = mid
      // the reported (sec_lo, sec_hi, ceiling) are the median pair's
      // OWN components — one physical measurement window, so
      // sec_lo/sec_hi/raw/ceiling/normalized are mutually consistent
      private val midUnit = statUnits.minBy(u => math.abs(u.pair.ratio - mid))
      val (tLo, tHi): (Double, Double) = (midUnit.pair.tLo, midUnit.pair.tHi)
      val ceilRaw: Double = midUnit.ceilRaw
      val ceil: Double = math.min(ceilRaw, 1.0)
      val ceilTries: Int = units.map(_.ceilTries).sum
      // STRICT: every surviving pair's window must have produced a
      // plausible ceiling — mirrors pairsValid quantifying over every
      // pair, and is stricter than the former single pass-level probe
      val ceilValid: Boolean = statUnits.forall(_.ceilValid)
      // a pass is valid only when every per-pair ceiling probe, EVERY
      // surviving pair (plausible ratio + low external CPU), and the
      // cross-pair dispersion all check out — three independent
      // contention signals
      val valid: Boolean = ceilValid && pairsValid && dispersionValid
      // the denominator is the MEDIAN pair's own ceiling; only when
      // THAT pair's probe is invalid does it fall back to neutral 1.0
      // (can only understate). An invalid probe on any other pair
      // leaves the median pair's ceiling in place and is carried by
      // `valid` (through ceilValid) instead
      val norm: Double =
        math.min(raw / (if (midUnit.ceilValid) ceil else 1.0), 1.0)
    }
    // bounded budgets: at most `passes`+2 pass runs chasing `passes`
    // valid ones, and a global cap on pair executions (retries
    // included) so a hopelessly contended box terminates with visible
    // rejections instead of spinning. The budget must FUND every
    // permitted pass (maxPassRuns × reps) plus a retry allowance — an
    // underfunded final pass would burn a ceiling probe + partial
    // pairs on a pass that is mathematically guaranteed invalid — and
    // a pass is only STARTED while at least `reps` pairs remain.
    // The +maxPassRuns term funds roughly one within-pass dispersion-
    // outlier re-measure per pass (see runPass) on top of the
    // plausibility-retry allowance.
    val maxPassRuns = Passes + 2
    val pairBudget = new java.util.concurrent.atomic.AtomicInteger(
      maxPassRuns * Reps + 2 + maxPassRuns)
    def runPass(): Pass = {
      val measured = scala.collection.mutable.ArrayBuffer.empty[PairUnit]
      val rejected = scala.collection.mutable.ArrayBuffer.empty[PairMeas]
      // one measurement UNIT = a pair plus the ceiling probed in the
      // same host window, back-to-back (see PairUnit). A budget
      // sentinel gets no probe — there is nothing to normalize, and
      // the pass is already invalid through pairsValid.
      def measureUnit(): PairUnit = {
        val (p, rej) = measurePairRetry(sfDir, pairBudget)
        rejected ++= rej
        val (c, tries, ok) =
          if (p.sentinel) (1.0, 0, false) else measureCeiling()
        PairUnit(p, c, tries, ok)
      }
      (1 to Reps).foreach(_ => measured += measureUnit())
      // Within-pass outlier re-measure (bounded, symmetric, disclosed):
      // the per-pair plausibility band rejects gross corruption
      // (ratio < 0.25), but a MILDLY contended rep (e.g. 0.33 next to
      // 0.68/0.69 siblings) slips inside the band and then fails the
      // whole pass on dispersion — the round-5 rule ("a degraded
      // measurement is rejected and re-run, never averaged in") applied
      // within the pass. The outlier is the pair FARTHEST from the pass
      // median in LOG space, so a lo-leg-starved pair that INFLATES the
      // ratio is rejected exactly as readily as a hi-leg-starved one
      // that deflates it (no upward bias); it lands in rejected_pairs
      // with its reason, the replacement is a fresh measurement under
      // the same shared budget, and the pass must still clear the
      // UNCHANGED dispersion/ceiling/ext-CPU/cross-pass guards.
      def current = Pass(measured.toSeq, rejected.toSeq)
      var outlierRetries = 0
      while (current.dispersion > MaxPassDispersion &&
          outlierRetries < Reps && pairBudget.get() > 0) {
        val med = current.raw
        val idx = dispersionOutlierIndex(measured.toSeq.map(_.pair.ratio))
        val out = measured(idx).pair
        System.err.println(
          f"[scaling] pass pair ratio ${out.ratio}%.3f is a dispersion outlier vs pass median $med%.3f — re-measuring")
        rejected += out.copy(valid = false, reason =
          f"pass-dispersion outlier (ratio ${out.ratio}%.3f vs pass median $med%.3f)")
        measured.remove(idx)
        measured += measureUnit()
        outlierRetries += 1
      }
      current
    }
    val ps = scala.collection.mutable.ArrayBuffer.empty[Pass]
    // the loop chases `passes` valid passes that are also mutually
    // CONSISTENT (raw max/min ≤ MaxCrossPassSpread): a valid-but-
    // degraded pass (the round-5 pass-2 shape) triggers a bounded
    // re-run instead of entering the median
    def consistentValid: Seq[Pass] =
      consistentSubset(ps.filter(_.valid).toSeq, (p: Pass) => p.raw)
    while (ps.size < maxPassRuns && consistentValid.size < Passes &&
        pairBudget.get() >= Reps) {
      val p = runPass()
      ps += p
      if (!p.valid) System.err.println(
        f"[scaling] pass ${ps.size} invalid (ceiling=${p.ceilValid}, pairs=${p.pairsValid}, dispersion=${p.dispersion}%.2f≤$MaxPassDispersion) — contended window" +
          (if (ps.size < maxPassRuns && pairBudget.get() >= Reps) ", re-running" else ""))
      else if (consistentValid.size < ps.count(_.valid)) System.err.println(
        f"[scaling] pass ${ps.size}: valid passes disagree beyond $MaxCrossPassSpread× — degraded pass suspected" +
          (if (ps.size < maxPassRuns && pairBudget.get() >= Reps) ", re-running" else ""))
    }
    // headline = MEDIAN raw efficiency of the largest mutually consistent
    // subset of valid passes (lower-middle for even counts — with 2
    // consistent passes this is the LOWER one, the conservative choice;
    // best-of-N selection on a noisy host biases upward). A valid pass
    // outside the consistent subset is a degraded measurement and is
    // EXCLUDED, with `cross_pass_consistent:false` unless `passes`
    // consistent ones remain. Falls open to all passes only if every
    // pass on the box was invalid — then the `valid` flags in `attempts`
    // show the gate was not met under trustworthy conditions.
    val validPs = ps.filter(_.valid).toSeq
    val pool = if (validPs.nonEmpty) consistentValid else ps.toSeq
    val crossOk = consistentValid.size >= Passes
    val crossSpread =
      if (validPs.size <= 1) 1.0
      else validPs.map(_.raw).max / math.max(1e-9, validPs.map(_.raw).min)
    val best = pool.sortBy(_.raw).apply((pool.size - 1) / 2)
    val attempts = ps.map { p =>
      val prs = p.ratios.map(r => f"$r%.3f").mkString("[", ",", "]")
      val ext = p.pairs.map(m => f"${m.extCpu}%.3f").mkString("[", ",", "]")
      val pcs = p.units.map(u => f"${u.ceilRaw}%.3f").mkString("[", ",", "]")
      val rej = p.rejectedPairs.map(m =>
        f"""{"ratio":${m.ratio}%.3f,"ext_cpu":${m.extCpu}%.3f,"reason":"${m.reason}"}""")
        .mkString("[", ",", "]")
      // a budget-exhausted sentinel pair has ratio 0, making max/min
      // non-finite — Infinity is not valid JSON and would break the
      // driver's artifact parse; clamp to a visibly-absurd finite value
      val disp = if (java.lang.Double.isFinite(p.dispersion)) p.dispersion else 999.999
      f"""{"raw":${p.raw}%.3f,"ceiling":${p.ceil}%.3f,"mid_pair_ceiling_raw":${p.ceilRaw}%.3f,"pair_ceiling_probe_tries":${p.ceilTries},"pair_ceilings_valid":${p.ceilValid},"pairs_valid":${p.pairsValid},"dispersion":$disp%.3f,"dispersion_valid":${p.dispersionValid},"valid":${p.valid},"normalized":${p.norm}%.3f,"sec_lo":${p.tLo}%.2f,"sec_hi":${p.tHi}%.2f,"pair_ratios":$prs,"pair_ceilings":$pcs,"pair_ext_cpu":$ext,"rejected_pairs":$rej}"""
    }.mkString("[", ",", "]")
    val thLo = nClips.toDouble * WorkScale / best.tLo
    val thHi = nClips.toDouble * WorkScale / best.tHi
    f"""{$header,"n_clips":$nClips,"sec_lo":${best.tLo}%.2f,"sec_hi":${best.tHi}%.2f,"clips_per_sec_lo":$thLo%.1f,"clips_per_sec_hi":$thHi%.1f,"raw_efficiency":${best.raw}%.3f,"machine_cpu_ceiling":${best.ceil}%.3f,"machine_cpu_ceiling_raw":${best.ceilRaw}%.3f,"normalized_efficiency":${best.norm}%.3f,"cross_pass_spread":$crossSpread%.3f,"cross_pass_consistent":$crossOk,"headline_valid":${best.valid && crossOk},"attempts":$attempts}"""
  }

  /** Nearest-rank p99: index ceil(0.99·n) − 1 ((n·0.99).toInt would
    * select the MAXIMUM once n ≥ 100).
    */
  private[graft] def p99(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0
    else xs.sorted.apply(math.max(0, math.ceil(xs.size * 0.99).toInt - 1))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.toList match {
      case "evidence" :: Nil => println(scalingEvidence(sfDir))
      // child measurement modes (fresh-JVM isolation): run ONE unit of
      // measured work in this pristine JVM and print a single
      // `CHILD_RESULT {...}` line for the orchestrating parent.
      case "child-pair" :: dir :: Nil =>
        val (l, h) = runPair(dir)
        println(f"""CHILD_RESULT {"t_lo":$l%.4f,"t_hi":$h%.4f}""")
      case "child-ceiling" :: Nil =>
        println(f"""CHILD_RESULT {"ceiling":${machineCeiling()}%.4f}""")
      case _ =>
        System.err.println(
          "usage: ScalingBench evidence | child-pair <sfDir> | child-ceiling")
        sys.exit(2)
    }
  }
}
