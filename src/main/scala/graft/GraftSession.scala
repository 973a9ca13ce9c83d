package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The engine's session configuration, in ONE place: every session
  * the repository builds comes from [[builder]] — Bench, ScalingBench,
  * Verify, Diag, PipelineMain and the test suites' `TestSpark` — so a
  * perf conf added for one entry point cannot silently drift out of
  * the others. Sessions built elsewhere (a caller's own) get the same
  * functions, strategy and runtime SQL defaults from
  * [[GraftExtensions.setup]]. The settings are the BENCH.md §0/§3
  * hygiene set:
  *
  *  - `shuffle.partitions` = the worker-thread count (not 200)
  *  - 256-row columnar reader batches (binary-payload tables OOM the
  *    4096-row default on ~60 KB blobs)
  *  - ObjectHashAggregate fallback threshold 65536 (ANN top-k: keep
  *    thousands of query_id groups on the hash partial path)
  *  - `InferFiltersFromGenerate` excluded engine-wide (13× on the
  *    shingle explodes)
  *  - streaming checkpoints without file checksums, through the
  *    FileSystem-based checkpoint manager
  *  - file paths always listed on the driver
  *    (`parallelPartitionDiscovery.threshold` = Int.MaxValue; Spark
  *    lists more than 32 paths as a cluster job).
  *    `FileStreamSource.getBatch` rebuilds each micro-batch's relation
  *    over the batch's files, and `ExactlyOnceSink.readCommitted` passes
  *    one path per committed batch, so a 48-file backlog drain ran one
  *    48-task, 1.4–2.7 s listing job per query before any data job
  *    (`getBatch` self time 9868 → 313 ms without them). Listing on
  *    `file:` from a warm `local[4]` session, cluster job → driver:
  *    48 paths 347–456 → 51–66 ms, 500 paths 2.29–2.33 s → 105–120 ms,
  *    2382 paths 10.2–10.8 s → 253–310 ms (BENCH.md §R7). HDFS or
  *    object-store deployments with very large backlogs can lower it
  *    with `--conf`
  *  - UTC session time zone, AQE on, no UI
  *
  * Every setting is a default: the builder starts from a `SparkConf`
  * that already holds the launcher's settings (`spark-submit --conf`,
  * `-Dspark.*`) and fills only the keys left unset, so a deployment
  * overrides any of them, `spark.master` included, with `--conf`.
  */
object GraftSession {

  /** Runtime SQL defaults every engine query expects of its session. */
  private[graft] val sqlDefaults: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.parquet.columnarReaderBatchSize" -> "256",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536",
    "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> Int.MaxValue.toString)

  /** Worker threads for a `local[n]` master: `SPARK_GRAFT_CPUS` when
    * set, else the host's cores capped at 16 — also the shuffle and
    * state partition count, so an unset variable never sizes a small
    * host's micro-batches for 32 threads.
    */
  def localCpus(env: Map[String, String] = sys.env,
      cores: Int = Runtime.getRuntime.availableProcessors()): String =
    env.getOrElse("SPARK_GRAFT_CPUS", math.min(16, cores).toString)

  def builder(master: String, partitions: String): SparkSession.Builder = {
    val conf = new SparkConf()
    (Seq(
      "spark.master" -> master,
      "spark.sql.shuffle.partitions" -> partitions,
      // local `file:` scheme without the Shell-fork chmod fallback and
      // without `.crc` shadow files (see NioLocalFileSystem scaladoc);
      // HDFS/object-store deployments never touch `file:` paths
      "spark.hadoop.fs.file.impl" -> "graft.hadoop.NioLocalFileSystem",
      // shuffle/block scratch follows java.io.tmpdir (build.sbt points
      // both at tmpfs when available; SPARK_GRAFT_TMPDIR overrides) —
      // Spark's own default is the literal "/tmp", which ignores the
      // JVM's tmpdir setting
      "spark.local.dir" -> sys.props("java.io.tmpdir"),
      "spark.ui.enabled" -> "false") ++ sqlDefaults)
      .foreach { case (k, v) => conf.setIfMissing(k, v) }
    SparkSession.builder().config(conf).withExtensions(new GraftExtensions)
  }
}
