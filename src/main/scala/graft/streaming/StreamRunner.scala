package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.streaming.runtime.StreamingRelation
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.sink.FsUtil

/** Helpers for driving streaming plans to a deterministic batch result
  * (the engine's TopologyTestDriver analogue, SURVEY.md §5) and for
  * reading the file-backed input streams. Every query run here is
  * started ([[run]]), given the state store its plan needs, awaited
  * (a suite query is also sized and checked against its schedule)
  * and released, state stores included, in one place.
  */
object StreamRunner {

  private val counter = new AtomicInteger(0)

  /** The RocksDB state store provider setting, which `transformWithState`
    * requires.
    */
  private[graft] val RocksDB: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

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
  // par = defaultParallelism. Results are partitioning-independent
  // (hash-partitioned keyed state; every query's oracle sorts), so
  // this only moves fixed cost, never semantics.

  private def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    try {
      if (Files.isDirectory(p))
        FsUtil.list(p).filter(f => Files.isRegularFile(f)).map(Files.size).sum
      else if (Files.isRegularFile(p)) Files.size(p)
      else 0L
    } catch { case _: java.io.IOException => 0L }
  }

  /** Options of the file sources of `stream`'s analyzed plan: one
    * `StreamingRelation` leaf with a `path` per source (a union has one
    * per side, a source opened twice counts twice), however the stream
    * was opened; a source without a path, such as a memory stream, is
    * not one.
    */
  private def fileSources(stream: DataFrame): Seq[CaseInsensitiveMap[String]] =
    stream.queryExecution.analyzed
      .collect { case r: StreamingRelation => CaseInsensitiveMap(r.dataSource.options) }
      .filter(_.contains("path"))

  /** Bytes under the file-source paths of `stream`'s analyzed plan. */
  private[graft] def sourceBytes(stream: DataFrame): Long =
    fileSources(stream).map(o => dirBytes(o("path"))).sum

  /** Shuffle-partition count for the streaming query whose sources
    * total `bytes` (see the sizing note above).
    */
  private[graft] def sizedStatePartitions(spark: SparkSession, bytes: Long): Int = {
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

  /** Parquet file stream over a suite input table, opened for the
    * arrival schedule its query's oracle models. The file source is the
    * sandbox stand-in for the reference's Kafka source (S1/S2; no Kafka
    * connector jar ships here).
    *
    * `batches = 1` (the default): the whole input arrives as ONE
    * AvailableNow micro-batch. Oracles such as s02's (occurrence
    * numbering is event-time order within a batch but arrival order
    * across batches) or s09's (the eviction cutoff assumes the final
    * watermark is computed over all rows at once) depend on it, so the
    * input must hold a single data file; anything else fails here.
    *
    * `batches = n` (n ≥ 2): the input arrives as `n` micro-batches,
    * one staged file per trigger (`maxFilesPerTrigger` = 1, mirroring
    * consumer fetch sizing, D9). A row's batch class is
    * `(splitBy % mod) / div`; the default (`mod = n`, `div = 1`) is a
    * plain `splitBy % n` split. s12's updates side uses
    * `(mod = 6n, div = 6)` so transcript updates (which all have
    * `event_id ≡ 1 (mod 6)` and would otherwise collapse into one batch
    * class) spread across every batch — that is what forces matches
    * whose two sides arrive in DIFFERENT micro-batches. The batch
    * boundaries, the watermark schedule and the late-row drops they
    * cause are then all derivable in the DuckDB oracle from the batch
    * class.
    *
    * Either way the runner checks the schedule after the run: see
    * [[expectedDataBatches]].
    */
  def parquetStream(spark: SparkSession, path: String, schema: StructType,
      batches: Int = 1, splitBy: String = "event_id",
      mod: Int = 0, div: Int = 1): DataFrame = {
    val r = spark.readStream.schema(schema)
    if (batches == 1) r.parquet(oneBatchDir(path))
    else r.option("maxFilesPerTrigger", 1)
      .parquet(batchesDir(spark, path, splitBy, batches, mod, div))
  }

  /** The one-batch schedule's input: the file stream source requires a
    * directory, so a single-file table (the driver's one-parquet-per-
    * table layout) is staged once into a cached one-file directory.
    */
  private def oneBatchDir(path: String): String = {
    val p = Paths.get(path)
    val dir =
      if (!Files.isRegularFile(p)) p
      else {
        val d = Paths.get(sys.props("java.io.tmpdir"), "graft_stream_src",
          p.getParent.getFileName.toString, p.getFileName.toString + ".d")
        FsUtil.staged(d, FsUtil.sourceFingerprint(p)) {
          Files.copy(p, d.resolve(p.getFileName))
        }
        d
      }
    val n = dataFiles(dir)
    require(n == 1,
      s"oracle parity requires a single-file (single-batch) input; found $n data files in $dir")
    dir.toString
  }

  /** The n-batch schedule's input: `path` staged as `n` parquet files
    * `b<i>.parquet`, one per batch class, with strictly increasing
    * mtimes, so a `maxFilesPerTrigger=1` stream processes them as `n`
    * micro-batches in a deterministic, SQL-reproducible order
    * (FileStreamSource picks oldest-mtime first). The staged dir is
    * keyed by (source stem, id column, split), so different tables at
    * the same SF never thrash each other's cache.
    */
  private def batchesDir(spark: SparkSession, path: String, idCol: String,
      n: Int, mod: Int, div: Int): String = {
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
    FsUtil.staged(dir,
        FsUtil.sourceFingerprint(src) + s"|$idCol|${n}batch-$m-$div-v1") {
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
        val part = FsUtil.list(stage).find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, dir.resolve(name), StandardCopyOption.REPLACE_EXISTING)
        FsUtil.deleteRecursively(stage)
        Files.setLastModifiedTime(dir.resolve(name),
          java.nio.file.attribute.FileTime.fromMillis(base + i * 5000L))
      } finally source.unpersist()
    }
    dir.toString
  }

  /** Data files a file source lists under `path`: a single file, or the
    * files directly in a directory, skipping `_`- and `.`-prefixed
    * names the way Spark's file index does.
    */
  private def dataFiles(path: java.nio.file.Path): Int =
    if (Files.isRegularFile(path)) 1
    else if (!Files.isDirectory(path)) 0
    else FsUtil.list(path).count { f =>
      val name = f.getFileName.toString
      Files.isRegularFile(f) && !name.startsWith("_") && !name.startsWith(".")
    }

  /** The number of data micro-batches (progress entries with input
    * rows) an AvailableNow run of `stream` must take, derived from its
    * analyzed plan: per file-source leaf, ceil(files /
    * `maxFilesPerTrigger`), or one batch for any files when uncapped;
    * the maximum over the leaves, since every source advances in every
    * trigger. `None` when the plan reads no file source (a memory
    * stream, say), which leaves nothing to check.
    */
  private[graft] def expectedDataBatches(stream: DataFrame): Option[Int] =
    fileSources(stream).map { opts =>
      val files = dataFiles(Paths.get(opts("path")))
      opts.get("maxFilesPerTrigger")
        .fold(math.min(files, 1))(cap => (files + cap.toInt - 1) / cap.toInt)
    }.maxOption

  /** Run a streaming DataFrame to completion over all currently
    * available input (Trigger.AvailableNow) into an in-memory table and
    * return it as a batch DataFrame. Used by Verify so streaming
    * operators go through the same DuckDB oracle gate as batch ones.
    */
  def runToMemory(stream: DataFrame, mode: String): DataFrame =
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
    * The queries run in one conf scope, sized from the sources of all
    * of them, on RocksDB if any of them needs it.
    */
  def runAllToMemory(streams: Seq[(DataFrame, String)]): Seq[DataFrame] =
    runMemory(streams)

  /** Drain `stream` once (Trigger.AvailableNow) through the
    * foreachBatch function `write`, checkpointing at `checkpoint` —
    * the exactly-once and upsert sink queries' runner.
    * The batch-count check assumes a fresh checkpoint: on a resumed one,
    * [[expectedDataBatches]] still counts the files already processed.
    */
  def runToSink(stream: DataFrame, checkpoint: String)(
      write: (DataFrame, Long) => Unit): Unit =
    drainAll(Seq(Query(s"graft_sink_${counter.incrementAndGet()}", stream,
      Sink.Batches(write), Some(checkpoint))))

  /** The memory-sink runs: each result is read off its `graft_mem_*`
    * view, and the view is dropped once the frame is taken (the frame
    * stays readable; the session catalog no longer pins the sink).
    */
  private def runMemory(streams: Seq[(DataFrame, String)]): Seq[DataFrame] = {
    require(streams.nonEmpty, "a memory-sink run needs at least one query")
    val spark = streams.head._1.sparkSession
    val named = streams.map { case (df, mode) =>
      Query(s"graft_mem_${counter.incrementAndGet()}", df, Sink.Memory(mode))
    }
    try drainAll(named).map(q => spark.table(q.name))
    finally named.foreach(q => spark.catalog.dropTempView(q.name))
  }

  /** [[run]] under the suite's policy: `spark.sql.shuffle.partitions`
    * sized from the sources of the streams they write (see the sizing
    * note above). Each query must then have run exactly the data
    * micro-batches its sources imply ([[expectedDataBatches]], taken
    * before the start), or the run fails naming the query and both
    * counts: an oracle that models a batch schedule must not silently
    * pass on another one. (The count reads `recentProgress`, which
    * keeps the last `spark.sql.streaming.numRecentProgressUpdates` =
    * 100 entries.)
    */
  private def drainAll(queries: Seq[Query]): Seq[StreamingQuery] = {
    val spark = queries.head.frame.sparkSession
    val expected = queries.map(q => expectedDataBatches(q.frame))
    val partitions = "spark.sql.shuffle.partitions" ->
      sizedStatePartitions(spark, queries.map(q => sourceBytes(q.frame)).sum).toString
    val started = run(queries, settings = Seq(partitions))._1
    started.zip(expected).foreach { case (q, want) =>
      val got = q.recentProgress.count(_.numInputRows > 0)
      want.filter(_ != got).foreach { n =>
        throw new IllegalStateException(
          s"streaming query ${q.name} ran $got data micro-batches; its sources imply $n")
      }
    }
    started
  }

  private[graft] sealed trait Sink
  private[graft] object Sink {
    final case class Memory(mode: String) extends Sink
    case object Noop extends Sink
    final case class Batches(write: (DataFrame, Long) => Unit) extends Sink
  }

  /** One query of a [[run]]; memory and noop sinks need no checkpoint. */
  private[graft] final case class Query(name: String, frame: DataFrame, sink: Sink,
      checkpoint: Option[String] = None)

  /** Starts every query with `trigger` under `settings`, plus RocksDB
    * when a plan holds `transformWithState`: the engine's one save, set
    * and restore of session conf. One listener watches them; whatever
    * happens, every started query is stopped, the bus drained, the
    * listener detached, the state stores unloaded once the session
    * streams nothing, and the conf restored. `PipelineMain` and the p99
    * probe keep the session's shuffle partitions (sizing would override a
    * deployment's `--conf`) and get no batch count check (it serves
    * oracle parity): both are the suite's ([[drainAll]]).
    */
  private[graft] def run(queries: Seq[Query], trigger: Trigger = Trigger.AvailableNow(),
      settings: Seq[(String, String)] = Nil): (Seq[StreamingQuery], GraftQueryListener) = {
    val spark = queries.head.frame.sparkSession
    val tws = queries.exists(
      _.frame.queryExecution.analyzed.exists(_.isInstanceOf[TransformWithState]))
    val conf = (settings ++ Option.when(tws)(RocksDB)).distinct
    val prev = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    val listener = new GraftQueryListener
    val started = scala.collection.mutable.ArrayBuffer.empty[StreamingQuery]
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.streams.addListener(listener)
      queries.foreach { q =>
        val w = q.frame.writeStream.queryName(q.name).trigger(trigger)
        q.checkpoint.foreach(w.option("checkpointLocation", _))
        started += (q.sink match {
          case Sink.Memory(mode)   => w.format("memory").outputMode(mode)
          case Sink.Noop           => w.format("noop")
          case Sink.Batches(write) => w.foreachBatch(write)
        }).start()
      }
      awaitAll(started.toSeq)
    } finally {
      started.foreach(stopQuietly)
      if (!SparkBridge.drainListenerBus(spark.sparkContext, 30000L))
        System.err.println("[stream] WARN listener bus not drained in 30s; counts may be short")
      spark.streams.removeListener(listener)
      if (spark.streams.active.isEmpty) SparkBridge.unloadStateStores()
      // a query clones the conf on its own thread after start(): restore
      // it only once every query has stopped
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    (started.toSeq, listener)
  }

  /** Waits until every query has ended or one has failed, polling each,
    * and rethrows the failures, the first with the later ones attached
    * as suppressed. [[run]] then stops the still-running
    * siblings (none is left running against a half-torn session), so a
    * failing query surfaces its own error at once instead of waiting
    * behind, or being masked by, a sibling that happened to be awaited
    * first.
    */
  private def awaitAll(queries: Seq[StreamingQuery]): Unit = {
    while (queries.exists(_.isActive) && queries.forall(_.exception.isEmpty)) Thread.sleep(10)
    val failures = queries.flatMap(_.exception)
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }

  private def stopQuietly(q: StreamingQuery): Unit =
    try q.stop() catch { case _: Throwable => () }
}
