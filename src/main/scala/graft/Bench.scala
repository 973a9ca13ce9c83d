package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main (driver contract): runs every registered
  * query on `SPARK_GRAFT_SF_DIR` at `local[SPARK_GRAFT_CPUS]` and
  * prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is executed to completion through the `noop` datasource
  * (full plan runs — `count()` would let Catalyst prune projections
  * and under-measure, e.g. the decode map would never execute).
  * Throughput headlines (clips/sec through the decode pipeline and the
  * streaming dedup) are included under "throughput".
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // scaling-efficiency evidence (north rule), measured FIRST: before
    // the suite session exists and before 2×121 query executions, so no
    // suite work shares its host window. SPARK_GRAFT_SKIP_SCALING=1
    // skips the multi-minute probe for local iteration (e.g. the
    // data-scaling curve in BENCH.md §4, which times the suite at several
    // SFs and does not need a fresh core-scaling measurement per SF).
    // BENCH_r*.json is recorded without the flag, so it always carries
    // the block.
    val scalingJson =
      if (sys.env.get("SPARK_GRAFT_SKIP_SCALING")
          .exists(v => v == "1" || v.equalsIgnoreCase("true")))
        """{"skipped":"SPARK_GRAFT_SKIP_SCALING set"}"""
      else
        try ScalingBench.scalingEvidence(sfDir)
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] scaling evidence failed: ${e.getMessage}")
            """{"error":"scaling evidence failed"}"""
        }

    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def runOnce(name: String): Double = {
      // isolate queries from each other's GC debt (binary-heavy decode
      // queries otherwise tax whatever runs next)
      System.gc()
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          -1.0
      }
    }

    // JVM/codegen warmup on a cheap query so the first measured query
    // doesn't absorb classloading costs; also pre-stage the clip table
    // so synthesis cost never lands inside a measured query
    runOnce("q01_agg")
    graft.synth.ClipGen.stagedClips(spark, sfDir).head(1)
    // warm the decode path + page cache for the staged binary table so
    // the first measured decode query isn't a cold-IO outlier
    graft.streaming.ClipPipeline
      .decodeStage(graft.synth.ClipGen.stagedClips(spark, sfDir))
      .write.format("noop").mode("overwrite").save()

    // two interleaved passes, per-query minimum: a single pass lets the
    // GC debt of a heavy query (decode) bleed into whichever query runs
    // next in alphabetical order. Queries slower than 60s keep their
    // first-pass number (bounds total bench wall time).
    val names = SparkEntry.queries.keys.toSeq.sorted
    val pass1 = names.map(n => n -> runOnce(n)).toMap
    val pass2 = names
      .filter(n => pass1(n) >= 0 && pass1(n) < 60.0)
      .map(n => n -> runOnce(n)).toMap
    val results = names.map { n =>
      val a = pass1(n)
      val b = pass2.getOrElse(n, a)
      n -> (if (a < 0) b else if (b < 0) a else math.min(a, b))
    }

    // headline throughputs: decode-only (no output sort) measured
    // directly — p01's number includes a global orderBy for the oracle
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val nClips = (nEvents * 19) / 20 // 1-in-20 unknown-codec rows dropped
    // same discipline as the per-query protocol (gc + min of two
    // passes): a single unguarded run right after 2×N query executions
    // inherits their GC debt — observed 10× once on an otherwise-idle
    // box
    val decodeSec = (0 until 2).map { _ =>
      System.gc()
      val t0 = System.nanoTime()
      graft.streaming.ClipPipeline
        .decodeStage(graft.synth.ClipGen.stagedClips(spark, sfDir))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val decodeClipsPerSec = if (decodeSec > 0) nClips / decodeSec else -1.0
    val dedupSec = results.toMap.getOrElse("s02_stream_dedup", -1.0)
    val dedupRowsPerSec = if (dedupSec > 0) nEvents / dedupSec else -1.0

    val qs = results
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val tp =
      f"""{"decode_clips_per_sec":$decodeClipsPerSec%.1f,"stream_dedup_rows_per_sec":$dedupRowsPerSec%.1f,"n_events":$nEvents}"""

    spark.stop()

    // p99 micro-batch latency of the stateful dedup pipeline
    // (BASELINE.md engine target: clips/sec + p99) — 16 Kafka-partition-
    // sized file triggers through decode-metadata → stateful dedup.
    // Over 16 triggers the nearest-rank p99 is their MAXIMUM, and in the
    // sf0.001 event logs that maximum was the cold first trigger
    // (codegen, state store creation), so the field reads first-trigger
    // latency, not steady-state micro-batch latency.
    System.gc() // suite GC debt must not bleed into the latency probe
    val p99Ms =
      try ScalingBench.p99(ScalingBench.runStreamLatencies(cpus.toInt, sfDir))
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] p99 probe failed: ${e.getMessage}")
          -1.0
      }

    val line =
      f"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"throughput":$tp,"stream_p99_batch_ms":$p99Ms%.0f,"scaling":$scalingJson,"cpus":$cpus,"sf":"$sfDir"}"""
    println(line)
    // Persist the full line alongside stdout: the driver captures only a
    // bounded stdout tail, and BENCH_r04.json lost every per-query timing
    // to mid-JSON truncation (`parsed: null`). The file is the durable
    // artifact; stdout remains the contract. Best-effort — a read-only
    // CWD must not fail the bench.
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json"))
      java.nio.file.Files.write(out, (line + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full JSON persisted to ${out.toAbsolutePath}")
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not persist JSON file: ${e.getMessage}")
    }
  }
}
