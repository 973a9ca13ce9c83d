package graft.streaming

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.audio.Codecs
import graft.model._

/** Metadata row of a clip as it enters the keyed stateful stage
  * (`event_id` carried through for deterministic ordering).
  */
final case class ClipMeta(
    clip_id: String,
    sr_hz: Int,
    dur_ms: Int,
    codec: String,
    transcript: String,
    event_time: java.sql.Timestamp,
    event_id: Long)

/** Dedup state per clip_id: occurrences seen so far. */
final case class DedupState(seen: Int)

/** The engine's core pipeline stages — each the Spark-native
  * re-expression of a reference topology node (SURVEY.md §3.2):
  * decode map (M4), keyed stateful dedup (D1), window rollups (A3/D4),
  * stream-stream join (J3). All stages work identically on batch and
  * streaming Datasets (incremental Catalyst plans).
  */
object ClipPipeline {

  // ------------------------------------------------------------ decode map

  /** Per-record map: decode audio, summarize PCM, normalize transcript.
    * 1:0..1 — failures (unknown codec, malformed payload) yield None
    * and are dropped by the caller, the analogue of
    * `mapValues(mapper).filter(v != null)`
    * (/root/reference/src/main/java/de/unimarburg/diz/labtofhir/processor/LabToFhirProcessor.java:39-40).
    */
  def mapClip(c: Clip): Option[MappedClip] = mapClipEither(c).toOption

  /** [[mapClip]] with the failure reason (quarantine + strict mode). */
  def mapClipEither(c: Clip): Either[String, MappedClip] =
    // fused decode+stats: no per-sample allocation (Codecs.summarize)
    Codecs.summarize(c.codec, c.bytes) match {
      case Left(reason) => Left(reason) // F4 exception guard: skip, don't crash
      case Right(st) =>
        val rms = math.sqrt(st.sumSq / st.n)
        val norm = normalizeTranscriptJvm(c.transcript)
        val nTok = if (norm.isEmpty) 0 else norm.count(_ == ' ') + 1
        Right(MappedClip(
          clip_id = c.clip_id,
          out_id = outId(c),
          sr_hz = c.sr_hz,
          dur_ms = c.dur_ms,
          codec = c.codec,
          pcm = PcmSummary(st.n, rms, st.peak, st.zeroCrossings, st.clipped),
          transcript_norm = norm,
          n_tokens = nTok,
          event_time = c.event_time))
    }

  /** JVM twin of [[graft.functions.TextFunctions.normalizeTranscript]]
    * (same semantics, fuzz-asserted equal in PropertySpec).
    *
    * NOT `String.trim`: Java trim strips every char ≤ 0x20 while SQL
    * `trim` (Spark AND DuckDB) strips only ' ' — an input edged with
    * `\t\n\r\f` would diverge from the Catalyst/oracle pair (found by
    * the property fuzz). Locale pinned to ROOT so a Turkish-locale
    * host can't change İ/ı case mapping vs Spark's locale-insensitive
    * `lower`.
    */
  def normalizeTranscriptJvm(s: String): String =
    if (s == null) ""
    else {
      var b = 0
      var e = s.length
      while (b < e && s.charAt(b) == ' ') b += 1
      while (e > b && s.charAt(e - 1) == ' ') e -= 1
      s.substring(b, e)
        .replaceAll("[ \\t\\n\\r\\f]+", " ")
        .toLowerCase(java.util.Locale.ROOT)
        .replaceAll("\\.\\z", "")
    }

  /** Deterministic timestamp-prefixed surrogate id (C3 analogue,
    * /root/reference/src/main/java/de/unimarburg/diz/labtofhir/util/TimestampPrefixedId.java:23-59).
    */
  def epochMs(t: LocalDateTime): Long =
    t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli

  def outId(c: Clip): String = {
    val millis = epochMs(c.event_time)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val sha = md.digest(s"${c.clip_id}|${c.codec}".getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    s"${java.lang.Long.toHexString(millis)}-$sha".take(64)
  }

  /** Typed decode stage over a (batch or streaming) Dataset[Clip]. */
  def decodeStage(clips: Dataset[Clip]): Dataset[MappedClip] = {
    import clips.sparkSession.implicits._
    clips.flatMap(mapClip _)
  }

  /** STRICT decode stage (opt-in): the reference's poison-pill
    * semantics — a deserialization error halts the client rather than
    * being skipped (/root/reference/src/main/java/de/unimarburg/diz/labtofhir/configuration/KafkaConfiguration.java:31-42,
    * README.md:85-89). The engine's default stays quarantine
    * ([[decodeStage]] + [[quarantineStage]], a documented divergence);
    * this variant throws once a task sees more than `maxFailures`
    * malformed records, failing the batch and stopping the streaming
    * query with the decode reason. The failure budget is counted per
    * task (the Spark analogue of the reference's per-client shutdown);
    * `maxFailures = 0` means the first poison record anywhere halts.
    *
    * Budget caveats (by design, documented rather than papered over):
    * the per-task counter resets on task retry and on micro-batch
    * replay after a restart, so across retries the EFFECTIVE tolerated
    * count can exceed `maxFailures`; and within-budget malformed rows
    * are silently skipped here — they leave no quarantine record. A
    * pipeline that needs an audit trail of skips must run the default
    * [[decodeStage]] + [[quarantineStage]] pair (skips become a
    * queryable table) and reserve strict mode for fail-fast ingestion
    * where any poison record should stop the world, `maxFailures = 0`.
    */
  def decodeStageStrict(clips: Dataset[Clip],
      maxFailures: Long = 0L): Dataset[MappedClip] = {
    import clips.sparkSession.implicits._
    clips.mapPartitions { it =>
      var failures = 0L
      it.flatMap { c =>
        mapClipEither(c) match {
          case Right(m) => Iterator.single(m)
          case Left(reason) =>
            failures += 1
            if (failures > maxFailures)
              throw new IllegalStateException(
                s"strict mode: decode failure #$failures (budget $maxFailures) " +
                  s"for clip ${c.clip_id} [codec=${c.codec}]: $reason")
            Iterator.empty
        }
      }
    }
  }

  /** Quarantine view: the records the decode stage skips, with the
    * reason — the engine's replacement for the reference's silent
    * error log (F4, AimLabMapper.java:99-106): quarantined rows are a
    * queryable table, not a log line. The reason is the payload check
    * alone (the decode stage's `Left`s are exactly these); nothing is
    * decoded.
    */
  def quarantineStage(clips: Dataset[Clip]): Dataset[(String, String, String)] = {
    import clips.sparkSession.implicits._
    clips.flatMap(c =>
      Codecs.nonEmptyReader(c.codec, c.bytes).left.toOption
        .map(reason => (c.clip_id, c.codec, reason)))
  }

  // -------------------------------------------------------- stateful dedup

  /** Per-key dedup/suffix function: occurrence `i` (event-time order)
    * of a clip_id gets out_id `clip_id` (first) or `clip_id_i-1`
    * (duplicates) — generalizing the reference's within-message
    * suffixing (`code_i`,
    * /root/reference/src/main/java/de/unimarburg/diz/labtofhir/mapper/Hl7LabMapper.java:160-179)
    * to per-key state across the whole stream. State is a single int
    * per key (RocksDB-backed when the provider is configured, D5) and
    * is dropped after `stateTtl` past the watermark.
    */
  def dedupFn(stateTtlMs: Long)(
      key: String,
      rows: Iterator[ClipMeta],
      state: GroupState[DedupState]): Iterator[DedupDecision] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = rows.toIndexedSeq.sortBy(r => (r.event_time.getTime, r.event_id))
      val base = state.getOption.map(_.seen).getOrElse(0)
      state.update(DedupState(base + sorted.size))
      if (state.getOption.isDefined && stateTtlMs > 0) {
        val wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(math.max(wm + stateTtlMs,
          sorted.lastOption.map(r => r.event_time.getTime + stateTtlMs).getOrElse(wm + stateTtlMs)))
      }
      sorted.iterator.zipWithIndex.map { case (r, i) =>
        val occ = base + i + 1
        DedupDecision(
          clip_id = r.clip_id,
          occurrence = occ,
          out_id = if (occ == 1) r.clip_id else s"${r.clip_id}_${occ - 1}",
          is_dup = occ > 1,
          event_time = r.event_time,
          transcript = r.transcript)
      }
    }
  }

  /** Streaming keyed dedup stage. Input must carry an event-time
    * watermark when used with a real stream.
    */
  def dedupStage(clips: Dataset[ClipMeta],
      stateTtlMs: Long = 30L * 60 * 1000): Dataset[DedupDecision] = {
    import clips.sparkSession.implicits._
    clips
      .groupByKey(_.clip_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        dedupFn(stateTtlMs))
  }

  // ------------------------------------------------- session merge (D1b)

  /** Accumulating session state for [[sessionMergeStage]]. Event
    * times are tracked in MICROSECONDS: `Timestamp.getTime` truncates
    * to millis, which both loses output precision against the µs
    * parquet timestamps and (worse) would move a row pair sitting
    * within 1 ms of the exact gap boundary across the split decision
    * relative to the µs-exact DuckDB oracle.
    */
  final case class SessionAcc(
      n: Int,
      totalDurMs: Long,
      lastTranscript: String,
      lastEventUs: Long,
      firstEventUs: Long)

  /** Epoch micros of a Timestamp (getTime truncates to ms; the
    * sub-ms part lives in getNanos).
    */
  def epochUs(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Timestamp from epoch micros (inverse of [[epochUs]]). */
  def usToTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Merged session record emitted when a key's session closes. */
  final case class SessionMerge(
      clip_id: String,
      n_records: Int,
      total_dur_ms: Long,
      last_transcript: String,
      session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp)

  /** The session fold shared by BOTH state APIs (fMGWS
    * [[sessionMergeFn]] and transformWithState
    * [[TwsSessionMerge.SessionMergeProcessor]]) — one implementation,
    * so a semantics tweak cannot diverge the twins and surface only
    * as a late oracle failure. Folds (event-time, event_id)-sorted
    * rows into the optional open accumulator with SPLITTING: a row
    * farther than gap from the open session's last event CLOSES it
    * and opens a new one — proper session-window semantics, not
    * merge-until-quiet (a late row within the open session's span
    * still merges; "latest transcript wins" is by EVENT time, so a
    * late out-of-order record never overwrites a newer one). Returns
    * (sessions closed by splitting, resulting open session).
    */
  private[streaming] def foldSessions(openStart: SessionAcc,
      sorted: Seq[ClipMeta], gapMs: Long): (Seq[SessionAcc], SessionAcc) = {
    var open = openStart
    val closed = scala.collection.mutable.ArrayBuffer.empty[SessionAcc]
    sorted.foreach { r =>
      val rUs = epochUs(r.event_time)
      if (open == null) {
        open = SessionAcc(1, r.dur_ms, r.transcript, rUs, rUs)
      } else if (rUs > open.lastEventUs + gapMs * 1000L) {
        closed += open
        open = SessionAcc(1, r.dur_ms, r.transcript, rUs, rUs)
      } else {
        open = SessionAcc(
          n = open.n + 1,
          totalDurMs = open.totalDurMs + r.dur_ms,
          lastTranscript =
            if (rUs >= open.lastEventUs) r.transcript
            else open.lastTranscript,
          lastEventUs = math.max(open.lastEventUs, rUs),
          firstEventUs = math.min(open.firstEventUs, rUs))
      }
    }
    (closed.toSeq, open)
  }

  /** Close timer for an open session in Spark's MILLISECOND timer
    * API: the µs close time rounded UP (never fires before the
    * watermark truly passes lastEvent + gap), floored at one past the
    * current watermark (both timer APIs require a future timestamp).
    */
  private[streaming] def sessionTimeoutMs(open: SessionAcc, gapMs: Long,
      currentWatermarkMs: Long): Long =
    math.max(Math.floorDiv(open.lastEventUs + gapMs * 1000L + 999L, 1000L),
      currentWatermarkMs + 1)

  /** Session-window MERGE per clip_id: occurrences of a key within
    * `gapMs` of each other accumulate into one state; when the
    * event-time watermark passes last-event + gap, the state times out
    * and ONE merged record (latest transcript wins, durations summed)
    * is emitted — the full generalization of the reference's
    * within-message merge (Hl7LabMapper.java:160-179) to
    * watermark-driven session windows. Emission happens only at
    * timeout, so late records inside the gap still merge.
    */
  def sessionMergeFn(gapMs: Long)(
      key: String,
      rows: Iterator[ClipMeta],
      state: GroupState[SessionAcc]): Iterator[SessionMerge] = {

    def close(acc: SessionAcc): SessionMerge = SessionMerge(
      clip_id = key,
      n_records = acc.n,
      total_dur_ms = acc.totalDurMs,
      last_transcript = acc.lastTranscript,
      session_start = usToTimestamp(acc.firstEventUs),
      session_end = usToTimestamp(acc.lastEventUs + gapMs * 1000L))

    if (state.hasTimedOut) {
      val acc = state.get
      state.remove()
      Iterator.single(close(acc))
    } else {
      val sorted = rows.toIndexedSeq.sortBy(r => (epochUs(r.event_time), r.event_id))
      if (sorted.isEmpty) Iterator.empty
      else {
        val (closed, open) =
          foldSessions(state.getOption.orNull, sorted, gapMs)
        state.update(open)
        state.setTimeoutTimestamp(
          sessionTimeoutMs(open, gapMs, state.getCurrentWatermarkMs()))
        closed.iterator.map(close)
      }
    }
  }

  /** Streaming session-merge stage (requires a watermark on input). */
  def sessionMergeStage(clips: Dataset[ClipMeta],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionMerge] = {
    import clips.sparkSession.implicits._
    clips
      .groupByKey(_.clip_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        sessionMergeFn(gapMs))
  }

  // ---------------------------------------------------- frame expansion

  /** 1:N frame expansion (the M8/M9 analogue, SURVEY.md §2.9): decode
    * each clip and emit one row per `frameMs` window of PCM with its
    * energy — `flatMap`, so a clip with k frames becomes k rows with
    * no intermediate array column.
    */
  def frameStage(clips: Dataset[Clip], frameMs: Int = 100)
      : Dataset[(String, String, Int, Double)] = {
    import clips.sparkSession.implicits._
    clips.flatMap { c =>
      val frameLen = math.max(1, c.sr_hz * frameMs / 1000)
      // fused decode+frame-energy (Codecs.frameEnergies): per-frame sums
      // accumulate inside the codec loop, no Float array per clip —
      // same fusion as the decode stage's Codecs.summarize (~2× on p04)
      Codecs.frameEnergies(c.codec, c.bytes, frameLen) match {
        case Left(_) => Iterator.empty
        case Right(es) =>
          es.iterator.zipWithIndex.map { case (e, f) => (c.clip_id, c.codec, f, e) }
      }
    }
  }

  // ------------------------------------------------------ resample (resize)

  /** Multimodal "resize" for audio: decode → linear resample to a
    * uniform model-ingest rate → stats, one typed map (no intermediate
    * column materialization). Output lengths are deterministic
    * functions of the input metadata, so the q57 oracle value-checks
    * them; resampled CONTENT is SNR-verified in CodecsSpec.
    */
  def resampleStage(clips: Dataset[Clip], targetRate: Int = 16000)
      : Dataset[(String, String, Int, Int, Int, Double)] = {
    import clips.sparkSession.implicits._
    clips.flatMap { c =>
      // fused decode→interpolate→rms (Codecs.resampleStats): neither
      // the decoded nor the resampled sample array is materialized
      Codecs.resampleStats(c.codec, c.bytes, c.sr_hz, targetRate) match {
        case Left(_) => Iterator.empty
        case Right((nIn, nOut, rms)) =>
          Iterator.single((c.clip_id, c.codec, c.sr_hz, nIn, nOut, rms))
      }
    }
  }

  // ------------------------------------------------------- window rollups

  /** Tumbling-window rollup per codec (A3/D4): clips, total duration.
    * Partial (map-side) aggregation + one hash exchange on
    * (window, codec) — Catalyst's standard two-phase agg.
    */
  def tumblingRollup(clips: DataFrame, windowDur: String): DataFrame =
    rollupBy(clips, window(col("event_time"), windowDur))

  /** Sliding-window rollup (windowDur every slide). */
  def slidingRollup(clips: DataFrame, windowDur: String, slide: String): DataFrame =
    rollupBy(clips, window(col("event_time"), windowDur, slide))

  /** The per-(window, codec) agg + select both window rollups share. */
  private def rollupBy(clips: DataFrame, win: Column): DataFrame =
    clips
      .groupBy(win, col("codec"))
      .agg(
        count(lit(1)).as("n_clips"),
        sum(col("dur_ms")).cast("long").as("total_dur_ms"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("codec"), col("n_clips"), col("total_dur_ms"))

  /** Session-window rollup: sessions close after `gap` of inactivity
    * per key (D4; the streaming generalization of the reference's
    * per-message grouping).
    */
  def sessionRollup(df: DataFrame, timeCol: String, keyCol: String,
      gap: String): DataFrame =
    df.groupBy(session_window(col(timeCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col(keyCol), col("n_events"))

  // ---------------------------------------------------- stream-stream join

  /** Watermarked stream-stream inner join pairing clips with
    * late-arriving transcript updates inside a bounded interval (J3).
    * State on both sides is bounded by the watermark + interval, so
    * executor state stays O(updates within the window) regardless of
    * total stream length.
    *
    * Skew/scale shape: the state lookup uses only EQUALITY keys, so a
    * hot clip_id would make matching quadratic (every update probes
    * every stored clip of that key; the interval is filtered per
    * pair). The equality key therefore includes the interval-aligned
    * time bucket: an update at u can only match clips in buckets
    * {⌊u⌋, ⌊u⌋−1}, so updates are exploded into those two candidate
    * buckets and joined on (clip_id, bucket) — each (clip, update)
    * pair matches exactly one candidate, semantics unchanged, hot keys
    * split across time (measured 2×+ on the hot-key stream; the win
    * grows with key heat).
    */
  def transcriptUpdateJoin(clips: DataFrame, updates: DataFrame,
      watermark: String, joinWindow: String): DataFrame =
    bucketedUpdateJoin(clips, updates, watermark, joinWindow, "inner")

  /** LEFT OUTER variant of [[transcriptUpdateJoin]]: clips with no
    * update inside the interval are emitted with null update columns
    * once the watermark passes their join window (state eviction time).
    * Same bucketed equality key as the inner join.
    */
  def transcriptUpdateLeftJoin(clips: DataFrame, updates: DataFrame,
      watermark: String, joinWindow: String): DataFrame =
    bucketedUpdateJoin(clips, updates, watermark, joinWindow, "leftOuter")

  /** The bucketed interval join body of [[transcriptUpdateJoin]] and
    * [[transcriptUpdateLeftJoin]], which differ only in `joinType`.
    */
  private def bucketedUpdateJoin(clips: DataFrame, updates: DataFrame,
      watermark: String, joinWindow: String, joinType: String): DataFrame = {
    val windowUs = parseDurationUs(joinWindow)
    val c = clips
      .withColumn("__cb", floor(unix_micros(col("event_time")) / windowUs))
      .withWatermark("event_time", watermark)
    val u = updates
      .withColumnRenamed("clip_id", "u_clip_id")
      .withColumn("__ub", explode(array(
        floor(unix_micros(col("u_event_time")) / windowUs),
        floor(unix_micros(col("u_event_time")) / windowUs) - 1)))
      .withWatermark("u_event_time", watermark)
    c.join(
        u,
        expr(s"""clip_id = u_clip_id AND __cb = __ub AND
                 u_event_time >= event_time AND
                 u_event_time <= event_time + INTERVAL $joinWindow"""),
        joinType)
      .drop("__cb", "__ub")
  }

  /** FULL OUTER watermarked interval join: matched pairs emit
    * immediately; an unmatched CLIP emits (clip, null) once the
    * watermark passes its join window, an unmatched UPDATE emits
    * (null, update) once the watermark passes its own event time (no
    * future surviving clip can still match it). Unlike the
    * inner/left variants this joins on the BARE clip_id equality —
    * the time-bucket state-key split explodes one side into two
    * candidate buckets, and in full outer an unmatched exploded row
    * would emit one null result PER bucket. The tradeoff is
    * deliberate: hot-key state probing is quadratic per key here, so
    * at scale prefer the BUCKETED COMPOSITION —
    * [[transcriptUpdateLeftJoin]] ∪ [[transcriptUpdateUnmatchedUpdates]]
    * (two bucketed stateful queries whose union is exactly full-outer;
    * s27 oracles it against the same SQL as this operator) — unless a
    * single-query API-native full outer is required.
    */
  def transcriptUpdateFullJoin(clips: DataFrame, updates: DataFrame,
      watermark: String, joinWindow: String): DataFrame = {
    val c = clips.withWatermark("event_time", watermark)
    val u = updates
      .withColumnRenamed("clip_id", "u_clip_id")
      .withWatermark("u_event_time", watermark)
    c.join(
        u,
        expr(s"""clip_id = u_clip_id AND
                 u_event_time >= event_time AND
                 u_event_time <= event_time + INTERVAL $joinWindow"""),
        "fullOuter")
  }

  /** The update-side half of the SCALE-SAFE full-outer composition:
    * a mirrored bucketed LEFT OUTER join with UPDATES as the left
    * (single-bucket, null-emitting) side and clips exploded into their
    * two candidate buckets (a clip at t can only match updates in
    * buckets {⌊t⌋, ⌊t⌋+1}), filtered to the rows whose clip side is
    * null — i.e. exactly the (null, update) rows of a FULL OUTER join.
    * Union with [[transcriptUpdateLeftJoin]] to obtain full-outer
    * semantics from two BUCKETED stateful queries: every state key
    * carries the interval-aligned time bucket, so a hot clip_id's
    * state probing stays linear per time bucket instead of quadratic
    * per key — the scale path [[transcriptUpdateFullJoin]]'s scaladoc
    * points to (an unmatched row on an EXPLODED null-emitting side
    * would null-emit once per bucket, which is why the API-native full
    * outer cannot bucket; here the exploded side is the inner side of
    * a left join, so its unmatched rows are never emitted).
    */
  def transcriptUpdateUnmatchedUpdates(clips: DataFrame, updates: DataFrame,
      watermark: String, joinWindow: String): DataFrame = {
    val windowUs = parseDurationUs(joinWindow)
    val u = updates
      .withColumnRenamed("clip_id", "u_clip_id")
      .withColumn("__ub", floor(unix_micros(col("u_event_time")) / windowUs))
      .withWatermark("u_event_time", watermark)
    val c = clips
      .withColumn("__cb", explode(array(
        floor(unix_micros(col("event_time")) / windowUs),
        floor(unix_micros(col("event_time")) / windowUs) + 1)))
      .withWatermark("event_time", watermark)
    u.join(
        c,
        expr(s"""u_clip_id = clip_id AND __ub = __cb AND
                 u_event_time >= event_time AND
                 u_event_time <= event_time + INTERVAL $joinWindow"""),
        "leftOuter")
      .filter(col("clip_id").isNull)
      .drop("__cb", "__ub")
  }

  /** Parse "<n> SECONDS|MINUTES|HOURS|DAYS" to microseconds. */
  def parseDurationUs(d: String): Long = {
    val parts = d.trim.split("\\s+")
    require(parts.length == 2, s"expected '<n> <unit>': $d")
    val n = parts(0).toLong
    val unitUs = parts(1).toUpperCase.stripSuffix("S") match {
      case "SECOND" => 1000000L
      case "MINUTE" => 60L * 1000000
      case "HOUR"   => 3600L * 1000000
      case "DAY"    => 86400L * 1000000
      case other    => throw new IllegalArgumentException(s"unit $other")
    }
    n * unitUs
  }
}
