package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sink.{CommittedSink, ExactlyOnceSink, UpsertSink}
import graft.streaming.{ClipMeta, ClipPipeline, GraftQueryListener, StreamRunner}

/** The deployable engine application — `spark-submit --class
  * graft.PipelineMain <jar> [options]` runs the full reference
  * topology (SURVEY.md §3) as concurrent structured-streaming queries
  * over a clip table directory:
  *
  *   decode+normalize → mapped-record sink        (M1–M10, F1–F5)
  *   keyed stateful dedup → decisions sink        (D1)
  *   tumbling rollup (watermarked) → rollup sink  (A3/D4)
  *   session-window merge → sessions sink         (D1b; TWS on --rocksdb)
  *   [optional] transcript-update join → sink     (J3)
  *   [optional] keyed MERGE upsert → snapshots    (S3; latest event
  *                                                 time wins per clip,
  *                                                 bucketed
  *                                                 copy-on-write)
  *   [optional] token-budget admission → sink     (ingestion-time mix
  *                                                 control; TWS)
  *
  * Every sink commits each batchId once (D2); the upsert sink MERGEs,
  * the others append with per-partition lineage (D7); restart with the same
  * checkpoint dir resumes with no dup/dropped rows. The master comes
  * from `spark-submit --master` or `-Dspark.master`; without either the
  * app runs at `local[SPARK_GRAFT_CPUS]` (unset: the host's cores, at
  * most 16 — [[GraftSession.localCpus]]). Session settings are
  * [[GraftSession]]'s, each overridable with `--conf`.
  *
  * Options (all have defaults for a local smoke run):
  *   --input <dir>       clip parquet dir (default: staged sf0.001)
  *   --updates <dir>     transcript-update parquet dir (optional)
  *   --output <dir>      sink root (default: ./pipeline_out)
  *   --checkpoint <dir>  checkpoint root (default: <output>/_checkpoints)
  *   --watermark <dur>   event-time watermark (default "10 minutes")
  *   --window <dur>      rollup window (default "1 day")
  *   --state-ttl-ms <n>  dedup state TTL (default 1800000)
  *   --once              Trigger.AvailableNow (drain + exit); default
  *   --interval <dur>    Trigger.ProcessingTime instead of --once
  *   --rocksdb           RocksDB state store for every enabled pipeline;
  *                       sessions runs its TWS variant (a pipeline that
  *                       holds TWS, like budget, gets RocksDB either way)
  *   --pipelines <csv>   enable only the named pipelines out of
  *                       mapped,dedup,rollup,sessions,join,upsert,budget
  *                       (default: the first four, plus join when
  *                       --updates is given);
  *                       an empty or invalid selection REFUSES to boot
  *                       (exit 2) — the reference's zero-mapper guard
  *                       (LabToFhirProcessor.java:26-29)
  *   --token-budget <n>  per-codec transcript-token budget for the
  *                       budget pipeline (default 100000)
  *   --strict-max-failures <n>  poison-pill mode for the decode map:
  *                       more than n malformed records in a task fails
  *                       the query instead of quarantining (the
  *                       reference's serde-error shutdown,
  *                       KafkaConfiguration.java:31-42); omit for the
  *                       default quarantine behavior
  */
object PipelineMain {

  private val clipSchema = graft.model.Schemas.clips

  private val BooleanFlags = Set("once", "rocksdb")

  private val ValueOptions = Set("input", "updates", "output", "checkpoint",
    "watermark", "window", "state-ttl-ms", "interval", "pipelines",
    "token-budget", "strict-max-failures")

  private[graft] val AllPipelines =
    Seq("mapped", "dedup", "rollup", "sessions", "join", "upsert", "budget")

  /** Enabled-pipeline selection with the reference's boot guards:
    * unknown names and an empty selection are refused outright.
    */
  private[graft] def selectPipelines(opt: Map[String, String]): Seq[String] = {
    val requested = opt.get("pipelines") match {
      case Some(csv) => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
      case None =>
        Seq("mapped", "dedup", "rollup", "sessions") ++
          (if (opt.contains("updates")) Seq("join") else Nil)
    }
    val unknown = requested.filterNot(AllPipelines.contains)
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown pipeline(s): ${unknown.mkString(",")} (valid: ${AllPipelines.mkString(",")})")
    if (requested.contains("join") && !opt.contains("updates"))
      throw new IllegalArgumentException("pipeline 'join' requires --updates <dir>")
    if (requested.isEmpty)
      throw new IllegalArgumentException(
        "no pipelines enabled — refusing to start")
    requested
  }

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    @annotation.tailrec
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case Nil => acc
        case flag :: tail if flag.startsWith("--") =>
          val name = flag.drop(2)
          if (BooleanFlags(name)) loop(tail, acc + (name -> "true"))
          else if (!ValueOptions(name))
            throw new IllegalArgumentException(s"unknown option --$name")
          else tail match {
            case v :: t2 if !v.startsWith("--") => loop(t2, acc + (name -> v))
            case _ =>
              throw new IllegalArgumentException(s"option --$name needs a value")
          }
        case other :: _ =>
          throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    loop(args.toList, Map.empty)
  }

  /** Handle on one completed [[run]]: the sink of each enabled
    * pipeline in [[AllPipelines]] order, and the metrics
    * listener — what main prints and what the reconciliation spec
    * asserts over.
    */
  final case class PipelineRun(
      sinks: scala.collection.immutable.ListMap[String, CommittedSink],
      listener: GraftQueryListener)

  def main(args: Array[String]): Unit = {
    val (opt, enabled) =
      try {
        val o = parseArgs(args)
        (o, selectPipelines(o))
      } catch {
        case e: IllegalArgumentException =>
          System.err.println(s"[pipeline] ${e.getMessage}")
          sys.exit(2)
      }
    val cpus = GraftSession.localCpus()
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .appName("graft-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val r = run(spark, opt, enabled)

    // metrics summary (D8) — rows processed per query + late drops
    val summary = AllPipelines.map(p => s"graft_$p")
      .map(n => s""""$n":{"rows":${r.listener.totalInputRows(n)},"batches":${r.listener.batches(n)},"late_dropped":${r.listener.droppedByWatermark(n)}}""")
      .mkString("{", ",", "}")
    // each sink's reconciliation: an unreconciled run is visible, not silent
    val reconcile = r.sinks.map { case (name, sink) =>
      s""""$name":${sink.reconciliation(spark)}"""
    }.mkString("{", ",", "}")
    // budget conservation: the prefix sum is only correct if the
    // per-source running total survived every batch boundary — then
    // max(cum_tokens) over committed rows equals the source's total
    // token count (admitted AND rejected audit rows both count)
    val budgetJson = r.sinks.get("budget").collect { case sink: ExactlyOnceSink =>
      // one aggregation over the committed table: per-source rollup is
      // tiny (strata are few), so fold conservation + totals into a
      // single job and finish driver-side. coalesce: SUM over zero
      // committed rows (empty input) is NULL.
      val (n, adm, bad) = sink.readCommitted(spark)
        .groupBy(col("source"))
        .agg(max(col("cum_tokens")).as("max_cum"), sum(col("n_tok")).as("tot"),
          count(lit(1)).as("n"),
          sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted"))
        .agg(coalesce(sum(col("n")), lit(0L)),
          coalesce(sum(col("admitted")), lit(0L)),
          coalesce(sum(when(col("max_cum") =!= col("tot"), 1L).otherwise(0L)),
            lit(0L)))
        .as[(Long, Long, Long)].head()
      s""","budget":{"rows":$n,"admitted":$adm,"prefix_conserved":${bad == 0L}}"""
    }.getOrElse("")
    println(s"""{"pipeline":"done","queries":$summary,"lineage":$reconcile$budgetJson}""")
    spark.stop()
  }

  /** Builds, starts and drains every enabled pipeline on `spark` —
    * the whole engine application minus session lifecycle, so the
    * reconciliation spec can run it end-to-end on the shared test
    * session. The session's conf is left as it was found. The first
    * query to fail stops the others and its own error is rethrown.
    */
  private[graft] def run(spark: SparkSession, opt: Map[String, String],
      enabled: Seq[String]): PipelineRun = {
    val input = opt.getOrElse("input", {
      graft.synth.ClipGen.stagedClips(spark, "/root/testdata/sf0.001").head(1)
      graft.synth.ClipGen.clipsTablePath("/root/testdata/sf0.001")
    })
    val output = opt.getOrElse("output", "pipeline_out")
    val ckpt = opt.getOrElse("checkpoint", s"$output/_checkpoints")
    val watermark = opt.getOrElse("watermark", "10 minutes")
    val windowDur = opt.getOrElse("window", "1 day")
    val stateTtl = opt.getOrElse("state-ttl-ms", "1800000").toLong
    val trigger =
      opt.get("interval").map(Trigger.ProcessingTime(_)).getOrElse(Trigger.AvailableNow())

    import spark.implicits._

    def clipStream(): DataFrame =
      spark.readStream.schema(clipSchema).parquet(input)

    // watermarked clip metadata keyed per occurrence (dedup, sessions)
    def clipMeta(): Dataset[ClipMeta] = clipStream()
      .select(col("clip_id"), col("sr_hz"), col("dur_ms"), col("codec"),
        col("transcript"), col("event_time").cast("timestamp").as("event_time"),
        xxhash64(col("clip_id"), col("event_time")).as("event_id"))
      .withWatermark("event_time", watermark)
      .as[ClipMeta]

    def exactlyOnce(dir: String, orderCols: String*) =
      new ExactlyOnceSink(s"$output/$dir", orderCols)

    // one entry per enabled pipeline: its sink and its output frame.
    // The checkpoint is <ckpt>/<name>, the query name graft_<name>.
    val pipelines: Seq[(String, CommittedSink, DataFrame)] =
      AllPipelines.filter(enabled.contains).map { name =>
        val (sink, out) = name match {
          // decode map → mapped-record sink (the reference's core
          // topology, M1/M4 + F1/F4; --strict-max-failures swaps in the
          // poison-pill decode)
          case "mapped" =>
            val typedClips = clipStream().as[graft.model.Clip]
            val decoded = opt.get("strict-max-failures") match {
              case Some(n) => ClipPipeline.decodeStageStrict(typedClips, n.toLong)
              case None    => ClipPipeline.decodeStage(typedClips)
            }
            val mapped = decoded.toDF()
              .withColumn("event_time", col("event_time").cast("timestamp"))
            (exactlyOnce("mapped", "out_id"), mapped)
          // keyed stateful dedup decisions (D1)
          case "dedup" =>
            (exactlyOnce("dedup", "clip_id", "occurrence"),
              ClipPipeline.dedupStage(clipMeta(), stateTtl).toDF())
          // watermarked tumbling rollup (A3/D4), append mode — only
          // finalized windows are committed
          case "rollup" =>
            (exactlyOnce("rollups", "window_start", "codec"),
              ClipPipeline.tumblingRollup(
                clipStream()
                  .withColumn("event_time", col("event_time").cast("timestamp"))
                  .withWatermark("event_time", watermark),
                windowDur))
          // session-window MERGE per clip_id (D1b) — the reference's
          // within-message merge generalized; on --rocksdb this runs the
          // transformWithState processor (typed state + event-time
          // timers), otherwise the portable fMGWS twin, so a deployment
          // exercises whichever state API its store supports
          case "sessions" =>
            val merged =
              if (opt.contains("rocksdb"))
                graft.streaming.TwsSessionMerge.sessionMergeStageTws(clipMeta())
              else ClipPipeline.sessionMergeStage(clipMeta())
            (exactlyOnce("sessions", "clip_id", "session_start"), merged.toDF())
          // transcript-update interval join (J3; needs --updates)
          case "join" =>
            val updates = spark.readStream
              .schema(StructType(Seq(
                StructField("clip_id", StringType),
                StructField("u_transcript", StringType),
                StructField("u_event_time", TimestampNTZType))))
              .parquet(opt("updates"))
              .withColumn("u_event_time", col("u_event_time").cast("timestamp"))
            val clips = clipStream()
              .select(col("clip_id"), col("transcript"),
                col("event_time").cast("timestamp").as("event_time"))
            (exactlyOnce("joined", "clip_id", "u_event_time"),
              ClipPipeline.transcriptUpdateJoin(clips, updates, watermark, "10 MINUTES"))
          // keyed MERGE upsert into a bucketed snapshot chain (S3's
          // Iceberg-MERGE shape) — the CURRENT-STATE view of the clip
          // table: latest event time wins per clip_id, stale replays
          // never regress a key, untouched buckets carry forward by
          // reference
          case "upsert" =>
            val keyed = clipStream()
              .select(col("clip_id"), col("sr_hz"), col("dur_ms"), col("codec"),
                col("transcript"),
                col("event_time").cast("timestamp").as("event_time"))
              .withColumn("ver", unix_micros(col("event_time")))
            (new UpsertSink(s"$output/upsert", Seq("clip_id"), "ver"), keyed)
          // per-source token-budget admission (the ingestion-time mixing
          // control — s34's stateful operator as a deployable stage):
          // each codec stratum admits clips in processing order until its
          // running transcript-token total passes --token-budget; rows
          // past the cut are still committed as rejected audit rows,
          // never silently dropped. StreamRunner.run gives its
          // transformWithState the RocksDB store. doc_id is
          // xxhash64(clip_id, event_time) — the same per-OCCURRENCE
          // identity the dedup pipeline keys on: bare clip_id repeats in
          // the stream, and tied doc_ids would leave the fold's in-batch
          // order (hence cum_tokens attribution and the sink's
          // byte-identical replay) shuffle-order-dependent.
          case "budget" =>
            val docs = clipStream()
              .select(col("codec").as("source"),
                xxhash64(col("clip_id"), col("event_time")).as("doc_id"),
                col("transcript").as("text"))
            (exactlyOnce("budget", "doc_id"),
              graft.streaming.StreamTokenBudget
                .stage(graft.streaming.StreamTokenBudget.docTokens(docs),
                  opt.getOrElse("token-budget", "100000").toLong)
                .toDF())
        }
        (name, sink, out)
      }

    val (_, listener) = StreamRunner.run(pipelines.map { case (name, sink, out) =>
      StreamRunner.Query(s"graft_$name", out, StreamRunner.Sink.Batches(sink.write),
        Some(s"$ckpt/$name"))
    }, trigger, if (opt.contains("rocksdb")) Seq(StreamRunner.RocksDB) else Nil)
    PipelineRun(scala.collection.immutable.ListMap(
      pipelines.map { case (name, sink, _) => name -> sink }: _*), listener)
  }
}
