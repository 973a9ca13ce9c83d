package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Helpers for driving streaming plans to a deterministic batch result
  * (the engine's TopologyTestDriver analogue, SURVEY.md §5) and for
  * reading the file-backed input streams. Every query run here is
  * started, sized from its own sources, awaited and released in one
  * place.
  */
object StreamRunner {

  private val counter = new AtomicInteger(0)

  // ---------------------------------------------------------------------
  // Scale-adaptive state partitioning (optimization guide §2.2/§2.5):
  // a streaming stateful operator's partition count is FROZEN at the
  // first checkpoint, so AQE's coalescing never applies — the only
  // correct sizing is to derive it from the input volume up front.
  // Each state partition costs a provider instance (and on RocksDB a
  // native store) plus per-batch delta/commit files; a constant tuned
  // for the worker-thread count (32) makes every micro-batch pay 32×
  // those fixed costs even when a batch carries a few MB. Every query
  // started here is sized from its OWN file sources — the
  // `StreamingRelation` leaves of its analyzed plan, however the
  // stream was opened — so no state is carried from one query to the
  // next. The sizing targets
  // `spark.sql.adaptive.advisoryPartitionSizeInBytes` (default 64 MB)
  // of SOURCE bytes per state partition (×4 expansion for
  // parquet→row decompression), clamped to [min(8, par), par] with
  // par = defaultParallelism; a cluster deployment overrides the
  // result with SPARK_GRAFT_STREAM_PARTITIONS (absolute) exactly like
  // the other env-parameterised scale knobs. Results are
  // partitioning-independent (hash-partitioned keyed state; every
  // query's oracle sorts), so this only moves fixed cost, never
  // semantics.

  private def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    try {
      if (java.nio.file.Files.isDirectory(p)) {
        val stream = java.nio.file.Files.list(p)
        try stream.iterator.asScala
          .filter(f => java.nio.file.Files.isRegularFile(f))
          .map(java.nio.file.Files.size).sum
        finally stream.close()
      } else if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p)
      else 0L
    } catch { case _: java.io.IOException => 0L }
  }

  /** Bytes under the file-source paths of `stream`'s analyzed plan:
    * one `StreamingRelation` leaf per source (a union has one per
    * side, a source opened twice counts twice); a source without a
    * path, such as a memory stream, counts 0.
    */
  private[graft] def sourceBytes(stream: DataFrame): Long =
    stream.queryExecution.analyzed
      .collect { case r: StreamingRelation => r.dataSource.options.get("path") }
      .flatten.map(dirBytes).sum

  /** Shuffle-partition count for the streaming query whose sources
    * total `bytes` (see the sizing note above).
    */
  private[graft] def sizedStatePartitions(spark: SparkSession, bytes: Long): Int =
    sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").map(_.toInt).getOrElse {
      val advisory = spark.conf
        .getOption("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
        .getOrElse(64L * 1024 * 1024)
      val target = math.ceil(bytes * 4.0 / math.max(1L, advisory)).toLong
      val hi = spark.sparkContext.defaultParallelism.toLong
      // floor of 8 (not the cluster-width hi): byte sizing cannot see
      // CPU intensity, and a stateful stage with real per-key compute
      // (the TWS session fold measured 4.0 s at 2 partitions, 2.5 s at
      // 8, 2.2 s at 32 on 100k rows) needs parallelism even when its
      // state is tiny; 8 keeps ~90% of that while still cutting the
      // 32-partition fixed costs 4× on the commit-bound queries
      math.max(math.min(8L, hi), math.min(hi, target)).toInt
    }

  /** Parquet file stream over a driver-generated table. The file
    * source is the sandbox stand-in for the reference's Kafka source
    * (S1/S2; no Kafka connector jar ships here) — rate limiting via
    * `maxFilesPerTrigger` mirrors consumer fetch sizing (D9).
    */
  def parquetStream(spark: SparkSession, path: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(streamableDir(path))
  }

  /** `path|size|mtime` fingerprint of a parquet file or directory —
    * THE staleness guard for every staged/cached copy (streamableDir,
    * ScalingBench's micro-batch staging): a regenerated source must
    * re-stage, never silently serve old rows.
    */
  def sourceFingerprint(p: java.nio.file.Path): String = {
    val (sz, mt) =
      if (java.nio.file.Files.isDirectory(p)) {
        val stream = java.nio.file.Files.list(p)
        val parts = try stream.iterator.asScala.toSeq finally stream.close()
        (parts.map(java.nio.file.Files.size).sum,
          parts.map(x => java.nio.file.Files.getLastModifiedTime(x).toMillis)
            .foldLeft(0L)(math.max))
      } else (java.nio.file.Files.size(p),
        java.nio.file.Files.getLastModifiedTime(p).toMillis)
    s"${p.toAbsolutePath}|$sz|$mt"
  }

  /** The file stream source requires a directory; a single-file input
    * (the driver's one-parquet-per-table layout) is staged into a
    * cached temp directory once.
    */
  def streamableDir(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.isRegularFile(p)) path
    else {
      val dir = java.nio.file.Paths.get(
        sys.props("java.io.tmpdir"), "graft_stream_src",
        p.getParent.getFileName.toString, p.getFileName.toString + ".d")
      val target = dir.resolve(p.getFileName)
      // staleness guard: the cached copy must match the source's
      // size+mtime, or a regenerated dataset would silently stream
      // old rows
      val fp = sourceFingerprint(p)
      val marker = dir.resolve("_fingerprint")
      // cross-process staging lock (stale check inside): see
      // FsUtil.withStagingLock — concurrent Verify/Bench JVMs must not
      // interleave the wipe/write cycle
      graft.sink.FsUtil.withStagingLock(
        java.nio.file.Paths.get(dir.toString + ".lock")) {
      val fresh = java.nio.file.Files.exists(target) &&
        java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == fp
      if (!fresh) {
        java.nio.file.Files.createDirectories(dir)
        java.nio.file.Files.deleteIfExists(marker)
        val tmp = dir.resolve(p.getFileName.toString + ".tmp")
        java.nio.file.Files.copy(p, tmp,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.move(tmp, target,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.write(marker, fp.getBytes("UTF-8"))
      }
      }
      dir.toString
    }
  }

  /** Stage `events.parquet` as `n` parquet files split by batch
    * class, with strictly increasing mtimes, so a
    * `maxFilesPerTrigger=1` stream processes them as `n` micro-batches
    * in a deterministic, SQL-reproducible order (FileStreamSource
    * picks oldest-mtime first). This is the incremental-arrival
    * fixture for s11: the batch boundaries, the watermark schedule,
    * and the late-row drops it causes are all derivable in the DuckDB
    * oracle from the batch class.
    *
    * The batch class of a row is `(event_id % mod) / div`. The default
    * (`mod = n`, `div = 1`) is a plain `event_id % n` split; s12's
    * updates side uses `(mod = 6n, div = 6)` so transcript updates
    * (which all have `event_id ≡ 1 (mod 6)` and would otherwise
    * collapse into one batch class) spread across every batch — that
    * is what forces matches whose two sides arrive in DIFFERENT
    * micro-batches.
    */
  def eventsBatchesDir(spark: SparkSession, path: String, n: Int,
      mod: Int = 0, div: Int = 1): String =
    batchesDir(spark, path, "event_id", n, mod, div)

  /** [[eventsBatchesDir]] generalized to any integral id column —
    * s30 stages `documents.parquet` by `doc_id % n` the same way.
    * The staged dir is keyed by (source stem, id column, split), so
    * different tables at the same SF never thrash each other's cache.
    */
  def batchesDir(spark: SparkSession, path: String, idCol: String,
      n: Int, mod: Int = 0, div: Int = 1): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(n >= 2, s"need at least 2 batches, got $n")
    val m = if (mod == 0) n else mod
    require(m / div == n && m % div == 0,
      s"split (mod=$m, div=$div) must produce exactly $n classes")
    val src = Paths.get(path)
    val stem = src.getFileName.toString.stripSuffix(".parquet")
    val dir = Paths.get(
      sys.props("java.io.tmpdir"),
      s"graft_stream_${stem}_${idCol}_${n}batch_${m}_$div",
      src.getParent.getFileName.toString)
    val marker = dir.resolve("_fingerprint")
    val fp = sourceFingerprint(src) + s"|$idCol|${n}batch-$m-$div-v1"
    graft.sink.FsUtil.withStagingLock(Paths.get(dir.toString + ".lock")) {
    val fresh = Files.exists(marker) &&
      new String(Files.readAllBytes(marker), "UTF-8") == fp
    if (!fresh) {
      graft.sink.FsUtil.deleteRecursively(dir)
      Files.createDirectories(dir)
      val base = Files.getLastModifiedTime(src).toMillis
      // one source scan for all n batch classes, not one per class
      val source = spark.read.parquet(path)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try (0 until n).foreach { i =>
        val name = s"b$i.parquet"
        val stage = dir.resolve(name + ".stage")
        source
          .filter((org.apache.spark.sql.functions.col(idCol) % m)
            .divide(div).cast("int") === i)
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val stream = Files.list(stage)
        val part =
          try stream.iterator.asScala
            .find(_.getFileName.toString.endsWith(".parquet")).get
          finally stream.close()
        Files.move(part, dir.resolve(name),
          StandardCopyOption.REPLACE_EXISTING)
        graft.sink.FsUtil.deleteRecursively(stage)
        Files.setLastModifiedTime(dir.resolve(name),
          java.nio.file.attribute.FileTime.fromMillis(base + i * 5000L))
      } finally source.unpersist()
      Files.write(marker, fp.getBytes("UTF-8"))
    }
    }
    dir.toString
  }

  /** Guard for queries whose DuckDB oracle assumes the whole input
    * arrives as ONE AvailableNow micro-batch (e.g. s02's occurrence
    * numbering is event-time order within a batch but arrival order
    * across batches; s09's eviction cutoff assumes the final watermark
    * is computed over all rows at once). A multi-file input or any
    * `maxFilesPerTrigger` would silently change semantics vs the
    * oracle, so fail loudly instead.
    */
  def assertSingleBatchInput(path: String): Unit = {
    val dir = java.nio.file.Paths.get(streamableDir(path))
    val stream = java.nio.file.Files.list(dir)
    val n =
      try stream.iterator.asScala
        .count(p => p.getFileName.toString.endsWith(".parquet"))
      finally stream.close()
    require(n == 1,
      s"oracle parity requires a single-file (single-batch) input; found $n parquet files in $dir")
  }

  /** Run a streaming DataFrame to completion over all currently
    * available input (Trigger.AvailableNow) into an in-memory table and
    * return it as a batch DataFrame. Used by Verify so streaming
    * operators go through the same DuckDB oracle gate as batch ones.
    */
  def runToMemory(stream: DataFrame, mode: String): DataFrame =
    runToMemoryCounted(stream, mode)._1

  /** [[runToMemory]] + the number of micro-batches that actually
    * consumed input rows — callers whose oracle encodes a specific
    * batch schedule (s11's 2-batch arrival) assert on it instead of
    * silently passing on a schedule the oracle doesn't model.
    */
  def runToMemoryCounted(stream: DataFrame, mode: String): (DataFrame, Int) =
    runMemory(Seq(stream -> mode)).head

  /** Run several INDEPENDENT streaming DataFrames to completion
    * concurrently (each Trigger.AvailableNow into its own memory sink)
    * and return their batch results in order. Optimization guide §2.6
    * (overlap independent jobs): the composed queries here (s27's two
    * bucketed LEFT OUTER halves) are latency-bound — a handful of
    * threads busy between tiny micro-batch tasks — so running them in
    * sequence pays the fixed per-query costs (source listing, planning,
    * state-store commits, log writes) twice end-to-end; `start()` is
    * non-blocking, so starting both and awaiting both overlaps those
    * costs while the per-query results (independent sources, sinks,
    * checkpoints, state) are byte-identical to the sequential run.
    * The queries run in one sized-partition scope, sized from the
    * sources of all of them.
    */
  def runAllToMemory(streams: Seq[(DataFrame, String)]): Seq[DataFrame] =
    runMemory(streams).map(_._1)

  /** Drain `stream` once (Trigger.AvailableNow) through the
    * foreachBatch function `write`, checkpointing at `checkpoint` —
    * the exactly-once and upsert sink queries' runner.
    */
  def runToSink(stream: DataFrame, checkpoint: String)(
      write: (DataFrame, Long) => Unit): Unit =
    drainAll(Seq(stream -> stream.writeStream
      .foreachBatch(write)
      .option("checkpointLocation", checkpoint)))

  /** The memory-sink runs: each result is read off its `graft_mem_*`
    * view with the count of micro-batches that consumed input, and the
    * view is dropped once the frame is taken (the frame stays readable;
    * the session catalog no longer pins the sink).
    */
  private def runMemory(streams: Seq[(DataFrame, String)]): Seq[(DataFrame, Int)] = {
    require(streams.nonEmpty, "a memory-sink run needs at least one query")
    val spark = streams.head._1.sparkSession
    val named = streams.map { case (df, mode) =>
      (s"graft_mem_${counter.incrementAndGet()}", df, mode)
    }
    try
      drainAll(named.map { case (name, df, mode) =>
        df -> df.writeStream.format("memory").queryName(name).outputMode(mode)
      }).map(q => (spark.table(q.name), q.recentProgress.count(_.numInputRows > 0)))
    finally named.foreach { case (name, _, _) => spark.catalog.dropTempView(name) }
  }

  /** Start every writer with Trigger.AvailableNow and wait for all of
    * them ([[awaitAll]]), with `spark.sql.shuffle.partitions` sized
    * from the sources of the streams they write (see the sizing note
    * above). The session's value is restored only after the queries
    * end: each query clones the session's conf on its own thread, after
    * `start()` returns. Batch queries keep their own sizing.
    */
  private def drainAll(
      writers: Seq[(DataFrame, DataStreamWriter[Row])]): Seq[StreamingQuery] = {
    val spark = writers.head._1.sparkSession
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      sizedStatePartitions(spark, writers.map(w => sourceBytes(w._1)).sum).toString)
    try {
      val queries = writers.map(_._2.trigger(Trigger.AvailableNow()).start())
      awaitAll(queries)
      queries
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Waits until every query has ended, polling each `isActive`, and
    * rethrows the earliest failure with the later ones attached as
    * suppressed. The first failure seen stops the still-running
    * siblings (none is left running against a half-torn session), so a
    * failing query surfaces its own error at once instead of waiting
    * behind, or being masked by, a sibling that happened to be awaited
    * first.
    */
  private[graft] def awaitAll(queries: Seq[StreamingQuery]): Unit = {
    def stopQuietly(q: StreamingQuery): Unit =
      try q.stop() catch { case _: Throwable => () }
    val failures = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    var running = queries
    try {
      while (running.nonEmpty) {
        val (ended, active) = running.partition(!_.isActive)
        failures ++= ended.flatMap(_.exception)
        if (failures.nonEmpty) active.foreach(stopQuietly)
        running = active
        if (running.nonEmpty) Thread.sleep(10)
      }
    } catch {
      case e: Throwable =>
        queries.foreach(stopQuietly)
        throw e
    }
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
