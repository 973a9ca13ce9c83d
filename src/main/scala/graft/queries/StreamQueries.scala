package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sink.ExactlyOnceSink
import graft.streaming.{ClipMeta, ClipPipeline, StreamRunner}
import graft.synth.ClipGen

/** Streaming operator surface, driven to deterministic batch results
  * through `Trigger.AvailableNow` + memory sink so the same DuckDB
  * oracle gate covers streaming semantics (SURVEY.md §2.8 D1–D8).
  *
  * Input streams are parquet file sources over the driver tables
  * (Kafka stand-in, SURVEY.md §2.1 S1/S2); the clip metadata transform
  * is applied on the stream, so watermarks, state and joins run on the
  * true incremental plan.
  */
object StreamQueries {

  private val eventsSchema = graft.model.Schemas.events

  private def metaProjection(ev: DataFrame): DataFrame =
    ClipGen.metaProjection(ev)

  /** Occurrence-numbering oracle shared by the two dedup
    * implementations (s02 flatMapGroupsWithState, s10
    * transformWithState — identical semantics, different state APIs).
    */
  private val dedupOracleSql: String =
    s"""WITH clips AS (${ClipGen.metaSql}),
       |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY clip_id ORDER BY event_time, event_id) AS INT) AS occ
       |  FROM clips)
       |SELECT clip_id, occ AS occurrence,
       |  CASE WHEN occ = 1 THEN clip_id ELSE clip_id || '_' || (occ - 1) END AS out_id,
       |  occ > 1 AS is_dup, event_time, transcript
       |FROM r ORDER BY clip_id, occurrence""".stripMargin

  /** The 3-batch watermark-schedule oracle shared by s11 (fMGWS) and
    * s18 (transformWithState on RocksDB) — one schedule, two state
    * APIs, identical required output.
    */
  private val multiBatchDedupOracleSql: Option[String] =
    Some(s"""WITH clips AS (${ClipGen.metaSql}),
            |r0 AS (SELECT clip_id, event_time, transcript,
            |    CAST(row_number() OVER (PARTITION BY clip_id ORDER BY event_time, event_id) AS INT) AS occ
            |  FROM clips WHERE event_id % 3 = 0),
            |k0 AS (SELECT clip_id, COUNT(*) AS n FROM r0 GROUP BY clip_id),
            |r1 AS (SELECT c.clip_id, c.event_time, c.transcript,
            |    CAST(row_number() OVER (PARTITION BY c.clip_id ORDER BY c.event_time, c.event_id) + COALESCE(k0.n, 0) AS INT) AS occ
            |  FROM clips c LEFT JOIN k0 ON c.clip_id = k0.clip_id
            |  WHERE c.event_id % 3 = 1),
            |k01 AS (SELECT clip_id, COUNT(*) AS n FROM clips WHERE event_id % 3 IN (0, 1) GROUP BY clip_id),
            |wm AS (SELECT max(event_time) - INTERVAL 12 HOUR AS w FROM clips WHERE event_id % 3 = 0),
            |r2 AS (SELECT c.clip_id, c.event_time, c.transcript,
            |    CAST(row_number() OVER (PARTITION BY c.clip_id ORDER BY c.event_time, c.event_id) + COALESCE(k01.n, 0) AS INT) AS occ
            |  FROM clips c LEFT JOIN k01 ON c.clip_id = k01.clip_id
            |  WHERE c.event_id % 3 = 2 AND c.event_time > (SELECT w FROM wm)),
            |u AS (SELECT * FROM r0 UNION ALL SELECT * FROM r1 UNION ALL SELECT * FROM r2)
            |SELECT clip_id, occ AS occurrence,
            |  CASE WHEN occ = 1 THEN clip_id ELSE clip_id || '_' || (occ - 1) END AS out_id,
            |  occ > 1 AS is_dup, event_time, transcript
            |FROM u ORDER BY clip_id, occurrence""".stripMargin)

  /** Single-batch session-MERGE oracle shared by s21 (fMGWS) and s22
    * (transformWithState + event-time timers on RocksDB) — one
    * schedule, two state APIs, identical required output. All rows
    * arrive in ONE batch (asserted), so per key the fold sees the
    * full event-time-ordered row list: every session closed by
    * gap-SPLITTING emits unconditionally, and the final (open)
    * session emits iff the flush watermark strictly passes the
    * session's close timer — in the ENGINE'S MILLISECOND arithmetic:
    * the timer is the µs close time rounded UP to ms
    * (ceil(lastUs + gapUs)) and Spark's watermark is the µs max event
    * time truncated DOWN to ms minus the 12 h delay. A µs-exact
    * comparison here would be a latent flake: a session whose close
    * time sits within ~1 ms of the flush watermark would be emitted
    * by a µs oracle and withheld by the ms engine (or vice versa).
    * Latest transcript wins by (event_time, event_id).
    */
  private val sessionMergeOracleSql: Option[String] =
    Some(s"""WITH clips AS (${ClipGen.metaSql}),
            |o AS (SELECT clip_id, event_id, event_time, dur_ms, transcript,
            |    lag(event_time) OVER (PARTITION BY clip_id ORDER BY event_time, event_id) AS prev_t
            |  FROM clips),
            |f AS (SELECT *, CASE WHEN prev_t IS NULL OR event_time > prev_t + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns FROM o),
            |g AS (SELECT *, SUM(ns) OVER (PARTITION BY clip_id ORDER BY event_time, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM f),
            |sess AS (
            |  SELECT clip_id, sid,
            |    CAST(COUNT(*) AS INT) AS n_records,
            |    CAST(SUM(CAST(dur_ms AS BIGINT)) AS BIGINT) AS total_dur_ms,
            |    (array_agg(transcript ORDER BY event_time, event_id))[-1] AS last_transcript,
            |    MIN(event_time) AS session_start,
            |    MAX(event_time) + INTERVAL 30 MINUTE AS session_end,
            |    MAX(event_time) AS last_t
            |  FROM g GROUP BY clip_id, sid),
            |mx AS (SELECT max(event_time) AS mt FROM clips),
            |ls AS (SELECT clip_id, MAX(sid) AS msid FROM sess GROUP BY clip_id)
            |SELECT s.clip_id, s.n_records, s.total_dur_ms, s.last_transcript,
            |  s.session_start, s.session_end
            |FROM sess s JOIN ls USING (clip_id)
            |WHERE s.sid < ls.msid
            |   OR (epoch_us(s.last_t) + 1800000000 + 999) // 1000 < epoch_us((SELECT mt FROM mx)) // 1000 - 43200000
            |ORDER BY clip_id, session_start""".stripMargin)

  /** The 3-batch session-MERGE schedule oracle shared by s25 (fMGWS)
    * and s26 (transformWithState) — the cross-batch generalization of
    * the single-batch s21/s22 oracle, transcribing the Scala model
    * validated in MultiBatchModelSpec (both state APIs, adversarial
    * seeds) to SQL the way s19 transcribed the LEFT OUTER join model.
    *
    * Unrolled schedule (batches split by event_id % 3, watermark delay
    * 12 h, gap 30 min), all pinned facts from LateBoundarySpec:
    *  - late filter of batch N is ROW-level (fMGWS family) against the
    *    watermark through batch N−2: engine-exact as
    *    `tus > wm_ms * 1000` with wm_ms = floor_ms(max µs) − delay
    *    (batches 0/1 unfiltered);
    *  - per key WITH surviving rows in a batch the fold continues from
    *    the carried open session: ascending in-batch rows make the
    *    running max = max(carried_last, prev_row), so the split flag is
    *    `t > prev + gap AND t > carried_last + gap` — split-closed
    *    sessions (including a split-off carried session, CTEs x1/x2)
    *    emit immediately, regardless of watermark;
    *  - the close timer re-arms to max(ceil_ms(last + gap), wm_ms + 1)
    *    and is NOT re-armed in batches where the key has no surviving
    *    rows;
    *  - a key WITHOUT surviving rows fires its timer iff
    *    timer < wm_ms STRICTLY (batch 1 vs e1, batch 2 vs e2, final
    *    flush vs e3), emitting the open session and clearing state;
    *  - latest transcript wins by event time: within a merged carried
    *    session the batch side wins iff its max event time ≥ the
    *    carried last (fold overwrites on `t ≥ last`, and the batch row
    *    folds later).
    */
  private val multiBatchSessionMergeOracleSql: Option[String] =
    Some(s"""WITH clips AS (${ClipGen.metaSql}),
            |b AS (SELECT clip_id, dur_ms, transcript, event_id, epoch_us(event_time) AS tus, CAST(event_id % 3 AS INT) AS k FROM clips),
            |wm AS (SELECT
            |    (SELECT max(tus) FROM b WHERE k = 0) // 1000 - 43200000 AS e1,
            |    (SELECT max(tus) FROM b WHERE k <= 1) // 1000 - 43200000 AS e2,
            |    (SELECT max(tus) FROM b) // 1000 - 43200000 AS e3),
            |p0 AS (SELECT *, lag(tus) OVER (PARTITION BY clip_id ORDER BY tus, event_id) AS pus FROM b WHERE k = 0),
            |g0 AS (SELECT *, SUM(CASE WHEN pus IS NULL OR tus > pus + 1800000000 THEN 1 ELSE 0 END) OVER (PARTITION BY clip_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM p0),
            |a0 AS (SELECT clip_id, sid, CAST(COUNT(*) AS INT) AS n, CAST(SUM(CAST(dur_ms AS BIGINT)) AS BIGINT) AS dur, (array_agg(transcript ORDER BY tus, event_id))[-1] AS lastt, MIN(tus) AS fus, MAX(tus) AS lus, MAX(sid) OVER (PARTITION BY clip_id) AS msid FROM g0 GROUP BY clip_id, sid),
            |e0 AS (SELECT clip_id, n, dur, lastt, fus, lus FROM a0 WHERE sid < msid),
            |o0 AS (SELECT clip_id, n, dur, lastt, fus, lus, (lus + 1800000000 + 999) // 1000 AS tmr FROM a0 WHERE sid = msid),
            |k1 AS (SELECT DISTINCT clip_id FROM b WHERE k = 1),
            |f1 AS (SELECT clip_id, n, dur, lastt, fus, lus FROM o0 WHERE clip_id NOT IN (SELECT clip_id FROM k1) AND tmr < (SELECT e1 FROM wm)),
            |p1 AS (SELECT *, lag(tus) OVER (PARTITION BY clip_id ORDER BY tus, event_id) AS pus FROM b WHERE k = 1),
            |j1 AS (SELECT p1.*, c.n AS cn, c.dur AS cdur, c.lastt AS clastt, c.fus AS cfus, c.lus AS clus, CASE WHEN (p1.pus IS NULL OR p1.tus > p1.pus + 1800000000) AND (c.lus IS NULL OR p1.tus > c.lus + 1800000000) THEN 1 ELSE 0 END AS ns FROM p1 LEFT JOIN o0 c USING (clip_id)),
            |g1 AS (SELECT *, SUM(ns) OVER (PARTITION BY clip_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM j1),
            |a1 AS (SELECT clip_id, sid,
            |    CAST(COUNT(*) + COALESCE(CASE WHEN sid = 0 THEN MAX(cn) END, 0) AS INT) AS n,
            |    CAST(SUM(CAST(dur_ms AS BIGINT)) + COALESCE(CASE WHEN sid = 0 THEN MAX(cdur) END, 0) AS BIGINT) AS dur,
            |    CASE WHEN sid = 0 AND MAX(tus) < MAX(clus) THEN MAX(clastt) ELSE (array_agg(transcript ORDER BY tus, event_id))[-1] END AS lastt,
            |    CASE WHEN sid = 0 THEN LEAST(MIN(tus), MAX(cfus)) ELSE MIN(tus) END AS fus,
            |    CASE WHEN sid = 0 THEN GREATEST(MAX(tus), MAX(clus)) ELSE MAX(tus) END AS lus,
            |    MAX(sid) OVER (PARTITION BY clip_id) AS msid
            |  FROM g1 GROUP BY clip_id, sid),
            |e1s AS (SELECT clip_id, n, dur, lastt, fus, lus FROM a1 WHERE sid < msid),
            |x1 AS (SELECT o.clip_id, o.n, o.dur, o.lastt, o.fus, o.lus FROM o0 o JOIN (SELECT clip_id, MIN(sid) AS mnsid FROM g1 GROUP BY clip_id) m USING (clip_id) WHERE m.mnsid = 1),
            |o1 AS (SELECT clip_id, n, dur, lastt, fus, lus, GREATEST((lus + 1800000000 + 999) // 1000, (SELECT e1 FROM wm) + 1) AS tmr FROM a1 WHERE sid = msid),
            |st1 AS (SELECT * FROM o1 UNION ALL SELECT * FROM o0 WHERE clip_id NOT IN (SELECT clip_id FROM k1) AND clip_id NOT IN (SELECT clip_id FROM f1)),
            |b2 AS (SELECT * FROM b WHERE k = 2 AND tus > (SELECT e1 FROM wm) * 1000),
            |k2 AS (SELECT DISTINCT clip_id FROM b2),
            |f2 AS (SELECT clip_id, n, dur, lastt, fus, lus FROM st1 WHERE clip_id NOT IN (SELECT clip_id FROM k2) AND tmr < (SELECT e2 FROM wm)),
            |p2 AS (SELECT *, lag(tus) OVER (PARTITION BY clip_id ORDER BY tus, event_id) AS pus FROM b2),
            |j2 AS (SELECT p2.*, c.n AS cn, c.dur AS cdur, c.lastt AS clastt, c.fus AS cfus, c.lus AS clus, CASE WHEN (p2.pus IS NULL OR p2.tus > p2.pus + 1800000000) AND (c.lus IS NULL OR p2.tus > c.lus + 1800000000) THEN 1 ELSE 0 END AS ns FROM p2 LEFT JOIN st1 c USING (clip_id)),
            |g2 AS (SELECT *, SUM(ns) OVER (PARTITION BY clip_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM j2),
            |a2 AS (SELECT clip_id, sid,
            |    CAST(COUNT(*) + COALESCE(CASE WHEN sid = 0 THEN MAX(cn) END, 0) AS INT) AS n,
            |    CAST(SUM(CAST(dur_ms AS BIGINT)) + COALESCE(CASE WHEN sid = 0 THEN MAX(cdur) END, 0) AS BIGINT) AS dur,
            |    CASE WHEN sid = 0 AND MAX(tus) < MAX(clus) THEN MAX(clastt) ELSE (array_agg(transcript ORDER BY tus, event_id))[-1] END AS lastt,
            |    CASE WHEN sid = 0 THEN LEAST(MIN(tus), MAX(cfus)) ELSE MIN(tus) END AS fus,
            |    CASE WHEN sid = 0 THEN GREATEST(MAX(tus), MAX(clus)) ELSE MAX(tus) END AS lus,
            |    MAX(sid) OVER (PARTITION BY clip_id) AS msid
            |  FROM g2 GROUP BY clip_id, sid),
            |e2s AS (SELECT clip_id, n, dur, lastt, fus, lus FROM a2 WHERE sid < msid),
            |x2 AS (SELECT o.clip_id, o.n, o.dur, o.lastt, o.fus, o.lus FROM st1 o JOIN (SELECT clip_id, MIN(sid) AS mnsid FROM g2 GROUP BY clip_id) m USING (clip_id) WHERE m.mnsid = 1),
            |o2 AS (SELECT clip_id, n, dur, lastt, fus, lus, GREATEST((lus + 1800000000 + 999) // 1000, (SELECT e2 FROM wm) + 1) AS tmr FROM a2 WHERE sid = msid),
            |st2 AS (SELECT * FROM o2 UNION ALL SELECT * FROM st1 WHERE clip_id NOT IN (SELECT clip_id FROM k2) AND clip_id NOT IN (SELECT clip_id FROM f2)),
            |ff AS (SELECT clip_id, n, dur, lastt, fus, lus FROM st2 WHERE tmr < (SELECT e3 FROM wm)),
            |u AS (SELECT * FROM e0 UNION ALL SELECT * FROM f1 UNION ALL SELECT * FROM e1s UNION ALL SELECT * FROM x1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM e2s UNION ALL SELECT * FROM x2 UNION ALL SELECT * FROM ff)
            |SELECT clip_id, n AS n_records, dur AS total_dur_ms, lastt AS last_transcript,
            |  make_timestamp(fus) AS session_start,
            |  make_timestamp(lus + 1800000000) AS session_end
            |FROM u ORDER BY clip_id, session_start""".stripMargin)

  /** FULL OUTER interval-join oracle shared by s24 (API-native
    * unbucketed full outer) and s27 (the scale-safe bucketed
    * composition) — one required answer, two physical strategies.
    * Thinned clip side (event_id % 5 ≠ 0) so (null, update) rows are
    * non-vacuous; both sides restricted to the provable-eviction
    * cutoff (final watermark − join window − 1 min margin).
    */
  private val fullJoinOracleSql: Option[String] =
    Some(s"""WITH clips AS (SELECT * FROM (${ClipGen.metaSql}) WHERE event_id % 5 <> 0),
            |upd AS (${ClipGen.updatesSql}),
            |co AS (SELECT least(
            |    (SELECT max(ts) FROM events WHERE event_id % 5 <> 0),
            |    (SELECT max(ts) FROM events WHERE event_id % 6 = 1) + INTERVAL 3 MINUTE) - INTERVAL 41 MINUTE AS cutoff)
            |SELECT c.clip_id, c.event_id, c.event_time, u.clip_id AS u_clip_id, u.u_transcript, u.u_event_time
            |FROM clips c FULL JOIN upd u ON c.clip_id = u.clip_id
            |  AND u.u_event_time >= c.event_time
            |  AND u.u_event_time <= c.event_time + INTERVAL 10 MINUTE
            |WHERE (c.event_time <= (SELECT cutoff FROM co) OR c.clip_id IS NULL)
            |  AND (u.u_event_time <= (SELECT cutoff FROM co) OR u.clip_id IS NULL)
            |ORDER BY c.clip_id NULLS FIRST, c.event_id NULLS FIRST, u.clip_id NULLS FIRST, u.u_event_time NULLS FIRST""".stripMargin)

  val defs: Seq[QueryDef] = Seq(
    // --------------------------------- s01 streaming tumbling rollup (D4)
    QueryDef(
      "s01_stream_tumbling",
      (s, d) => {
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("event_time", col("event_time").cast("timestamp"))
        val rolled = ClipPipeline.tumblingRollup(
          clips.withWatermark("event_time", "1 hour"), "1 day")
        StreamRunner.runToMemory(rolled, "complete")
          .withColumn("window_start", col("window_start").cast("timestamp_ntz"))
          .withColumn("window_end", col("window_end").cast("timestamp_ntz"))
          .orderBy(col("window_start"), col("codec"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql})
              |SELECT make_timestamp((epoch_us(event_time) // 86400000000) * 86400000000) AS window_start,
              |  make_timestamp(((epoch_us(event_time) // 86400000000) + 1) * 86400000000) AS window_end,
              |  codec, COUNT(*) AS n_clips, CAST(SUM(CAST(dur_ms AS BIGINT)) AS BIGINT) AS total_dur_ms
              |FROM clips GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin)),

    // ---------------------------------- s02 keyed stateful dedup (D1)
    // Oracle parity assumes ONE AvailableNow batch (the default
    // schedule, checked by parquetStream and the runner):
    // dedupFn numbers occurrences in event-time order WITHIN a batch
    // but in arrival order ACROSS batches (see Model.scala's
    // cross-batch semantics note), while the oracle numbers by global
    // event-time order — equal only when all rows share one batch.
    QueryDef(
      "s02_stream_dedup",
      (s, d) => {
        import s.implicits._
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "10 minutes")
          .as[ClipMeta]
        val decided = ClipPipeline.dedupStage(clips)
        StreamRunner.runToMemory(decided.toDF(), "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("occurrence"))
      },
      Some(dedupOracleSql)),

    // ------------------- s10 keyed dedup via transformWithState (D1)
    // The same dedup semantics as s02 through the Spark 4.x
    // StatefulProcessor API (typed ValueState, native TTL) on the
    // RocksDB store — both implementations must agree with one oracle.
    QueryDef(
      "s10_stream_dedup_tws",
      (s, d) => {
        import s.implicits._
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "10 minutes")
          .as[ClipMeta]
        val decided = graft.streaming.TwsDedup.dedupStageTws(clips)
        StreamRunner.runToMemory(decided.toDF(), "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("occurrence"))
      },
      Some(dedupOracleSql)),

    // ------------------ s21 keyed session-window MERGE, fMGWS (D1/D4)
    // sessionMergeStage under the hard oracle: per-clip_id session
    // merge (gap split, duration sum, latest-transcript-wins) closed
    // by event-time timeout — previously ScalaTest-only.
    QueryDef(
      "s21_session_merge",
      (s, d) => {
        import s.implicits._
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "12 hours")
          .as[ClipMeta]
        val merged = ClipPipeline.sessionMergeStage(clips)
        StreamRunner.runToMemory(merged.toDF(), "append")
          .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
          .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("session_start"))
      },
      sessionMergeOracleSql),

    // --- s22 session MERGE via transformWithState + event-time timers
    // The TWS twin of s21 (the way s18 twins s11): typed
    // ValueState[SessionAcc] + registerTimer/handleExpiredTimer on
    // RocksDB must produce the identical session set — completing the
    // D1 story (dedup AND session merge) on the production state API.
    QueryDef(
      "s22_session_merge_tws",
      (s, d) => {
        import s.implicits._
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "12 hours")
          .as[ClipMeta]
        val merged = graft.streaming.TwsSessionMerge.sessionMergeStageTws(clips)
        StreamRunner.runToMemory(merged.toDF(), "append")
          .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
          .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("session_start"))
      },
      sessionMergeOracleSql),

    // ------- s25 session MERGE across THREE micro-batches, fMGWS (D1)
    // The cross-batch schedule s21 cannot exercise: timers firing
    // between batches (a quiet key's open session closes mid-stream; a
    // later row then opens a FRESH session), carried open sessions
    // extended or split by the next batch's rows, and the batch-2
    // row-level late filter — under the hard DuckDB oracle
    // (multiBatchSessionMergeOracleSql), the s19 playbook applied to
    // the last stateful family that was model-validated but not
    // oracle-gated.
    QueryDef(
      "s25_session_merge_multibatch",
      (s, d) => {
        import s.implicits._
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "12 hours")
          .as[ClipMeta]
        val merged = ClipPipeline.sessionMergeStage(clips)
        StreamRunner.runToMemory(merged.toDF(), "append")
          .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
          .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("session_start"))
      },
      multiBatchSessionMergeOracleSql),

    // -- s26 session MERGE across THREE micro-batches, TWS timers (D1)
    // The transformWithState twin of s25 (RocksDB, event-time timers
    // re-armed per batch) — both state APIs must walk the identical
    // cross-batch schedule under ONE oracle, completing the
    // s11≡s18 / s21≡s22 twin discipline at multi-batch depth.
    QueryDef(
      "s26_session_merge_tws_multibatch",
      (s, d) => {
        import s.implicits._
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "12 hours")
          .as[ClipMeta]
        val merged = graft.streaming.TwsSessionMerge.sessionMergeStageTws(clips)
        StreamRunner.runToMemory(merged.toDF(), "append")
          .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
          .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("session_start"))
      },
      multiBatchSessionMergeOracleSql),

    // ---------------- s11 keyed dedup across THREE micro-batches (D1)
    // The incremental-arrival case the single-batch queries can't
    // exercise: event_id % 3 splits events into three files processed
    // as three micro-batches (parquetStream's `batches = 3`; the runner
    // REQUIRES exactly 3 input batches). The oracle reproduces the
    // full schedule in SQL, including Spark's one-batch watermark LAG:
    // the late filter of batch N uses the watermark recorded in batch
    // N−1's offset metadata, i.e. max event time through batch N−2
    // minus the delay (verified against the FlatMapGroupsWithState
    // exec's lateEvents/eviction watermark pair). So batch-1 rows are
    // numbered in event-time order; batch-2 rows ALL survive (their
    // late-filter watermark predates any data) and continue each key's
    // numbering; batch-3 rows survive only if strictly newer than
    // max(batch-1 event_time) − 12 h (boundary pinned in
    // LateBoundarySpec: at-watermark rows drop) and continue the
    // numbering — dropped rows consume no occurrence. The 12 h delay
    // (vs 10 min elsewhere) keeps both drops AND survivors non-empty
    // at every test scale. State TTL sits far beyond the stream span
    // so eviction-renumbering (covered by StreamingSpec) stays out of
    // the oracle's scope.
    QueryDef(
      "s11_stream_dedup_multibatch",
      (s, d) => {
        import s.implicits._
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "12 hours")
          .as[ClipMeta]
        val decided = ClipPipeline.dedupStage(clips,
          stateTtlMs = 1000L * 86400 * 365)
        StreamRunner.runToMemory(decided.toDF(), "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("occurrence"))
      },
      multiBatchDedupOracleSql),

    // -- s18 multi-batch dedup on transformWithState + RocksDB (D1×D5)
    // s11's schedule (3-file incremental arrival, watermark lag, late
    // drops, cross-batch numbering) on the OTHER state API and the
    // production state store: the Spark 4.x StatefulProcessor with
    // typed ValueState on RocksDB must reproduce the identical
    // occurrence numbering — same oracle as s11, verbatim. Together
    // with s02≡s10 (single batch) this pins that the two dedup
    // implementations agree on every oracled schedule.
    QueryDef(
      "s18_stream_dedup_tws_multibatch",
      (s, d) => {
        import s.implicits._
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "12 hours")
          .as[ClipMeta]
        val decided = graft.streaming.TwsDedup.dedupStageTws(clips)
        StreamRunner.runToMemory(decided.toDF(), "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("occurrence"))
      },
      multiBatchDedupOracleSql),

    // ------------ s12 stream-stream join across THREE micro-batches (J3)
    // Cross-batch JOIN-STATE semantics under the hard oracle (the
    // dedup twin is s11): clips arrive split by event_id % 3, updates
    // by (event_id % 18) / 6 — updates all have event_id ≡ 1 (mod 6),
    // so a plain modulo split would land every update in the same
    // batch as its own clip; the mod-18 split instead puts a third of
    // the updates BEFORE their clip's batch and a third AFTER, so
    // matches must pair rows held in the join state store across batch
    // boundaries, in both directions. The watermark delay (40 days)
    // exceeds the whole stream span, so no row is ever late and no
    // state is ever evicted; the append output is then exactly the
    // full interval join, independent of the batch schedule — which is
    // what makes a clean DuckDB oracle possible (eviction semantics
    // are oracled separately by s09's cutoff construction;
    // late-arrival schedule effects by s11).
    QueryDef(
      "s12_stream_join_multibatch",
      (s, d) => {
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .drop("sr_hz", "dur_ms", "codec")
        val updates = ClipGen.updatesProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3, mod = 18, div = 6))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp"))
        val joined = ClipPipeline
          .transcriptUpdateJoin(clips, updates, "40 days", "10 MINUTES")
          .select(col("clip_id"), col("event_id"), col("event_time"),
            col("u_transcript"), col("u_event_time"))
        StreamRunner.runToMemory(joined, "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("event_id"), col("u_event_time"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |upd AS (${ClipGen.updatesSql})
              |SELECT c.clip_id, c.event_id, c.event_time, u.u_transcript, u.u_event_time
              |FROM clips c JOIN upd u ON c.clip_id = u.clip_id
              |  AND u.u_event_time >= c.event_time
              |  AND u.u_event_time <= c.event_time + INTERVAL 10 MINUTE
              |ORDER BY c.clip_id, c.event_id, u.u_event_time""".stripMargin)),

    // ------ s19 stream-stream LEFT OUTER join across THREE micro-batches
    // The two-sided-watermark LEFT OUTER schedule under the hard
    // oracle — s12 proved cross-batch INNER state, s09 proved
    // single-batch null emission; this row pins the multi-batch
    // schedule itself: the global watermark is the MIN over both
    // sides' column watermarks, the late filter lags two batches
    // (batch n drops rows <= gwm(n−2)), eviction lags one
    // (gwm(n−1)), and an unmatched clip emits its null row only once
    // the FINAL watermark passes its join window. The SQL is the
    // transcription of the engine-validated Scala model
    // (MultiBatchModelSpec.modelLeftJoin, adversarial-seed-checked):
    // survivors filter per batch against gwm(0); a surviving pair
    // emits unless the earlier side was evicted before the later
    // side's batch (conditions kept for fidelity — at lag-2 they are
    // provably implied: a surviving later side has time > gwm(n−2),
    // so the earlier side's deadline t+W >= that time survives the
    // SAME cutoff its partner's batch evicts against); an unmatched
    // surviving clip emits null iff t + 10 min < gwm(final).
    QueryDef(
      "s19_stream_left_join_multibatch",
      (s, d) => {
        // the oracle models exactly 3 PAIRED micro-batches with every
        // class populated on both sides — refuse anything else loudly
        val ev = s.read.parquet(s"$d/events.parquet")
        val classes = ev.agg(
          countDistinct(col("event_id") % 3).as("nc"),
          countDistinct(when(col("event_id") % 6 === 1,
            expr("(event_id % 18) div 6"))).as("nu")).head()
        require(classes.getLong(0) == 3 && classes.getLong(1) == 3,
          s"s19 needs all 3 batch classes non-empty on both sides, got $classes")
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .drop("sr_hz", "dur_ms", "codec")
        val updates = ClipGen.updatesProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3, mod = 18, div = 6))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp"))
        val joined = ClipPipeline
          .transcriptUpdateLeftJoin(clips, updates, "5 days", "10 MINUTES")
          .select(col("clip_id"), col("event_id"), col("event_time"),
            col("u_transcript"), col("u_event_time"))
        StreamRunner.runToMemory(joined, "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("event_id"),
            col("u_event_time").asc_nulls_first)
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |cb AS (SELECT clip_id, event_id, event_time, event_id % 3 AS bc FROM clips),
              |upd AS (
              |  SELECT CASE WHEN event_id % 10 < 2 THEN 'hot-' || (event_id % 5) ELSE 'c-' || event_id END AS clip_id,
              |    'corrected ' || (event_id % 100) AS u_transcript,
              |    ts + INTERVAL 3 MINUTE AS u_event_time,
              |    (event_id % 18) // 6 AS bu
              |  FROM events WHERE event_id % 6 = 1),
              |w0 AS (SELECT least(
              |    (SELECT max(event_time) FROM cb WHERE bc <= 0),
              |    (SELECT max(u_event_time) FROM upd WHERE bu <= 0)) - INTERVAL 5 DAY AS w),
              |wf AS (SELECT least(
              |    (SELECT max(event_time) FROM cb),
              |    (SELECT max(u_event_time) FROM upd)) - INTERVAL 5 DAY AS w),
              |sc AS (SELECT * FROM cb WHERE bc < 2 OR event_time > (SELECT w FROM w0)),
              |su AS (SELECT * FROM upd WHERE bu < 2 OR u_event_time > (SELECT w FROM w0)),
              |mt AS (
              |  SELECT c.clip_id, c.event_id, c.event_time, u.u_transcript, u.u_event_time
              |  FROM sc c JOIN su u ON c.clip_id = u.clip_id
              |    AND u.u_event_time >= c.event_time
              |    AND u.u_event_time <= c.event_time + INTERVAL 10 MINUTE
              |  WHERE CASE WHEN c.bc = u.bu THEN TRUE
              |    WHEN c.bc < u.bu THEN u.bu = 1 OR c.event_time + INTERVAL 10 MINUTE >= (SELECT w FROM w0)
              |    ELSE c.bc = 1 OR u.u_event_time >= (SELECT w FROM w0) END),
              |nl AS (
              |  SELECT c.clip_id, c.event_id, c.event_time,
              |    CAST(NULL AS VARCHAR) AS u_transcript, CAST(NULL AS TIMESTAMP) AS u_event_time
              |  FROM sc c
              |  WHERE c.event_time + INTERVAL 10 MINUTE < (SELECT w FROM wf)
              |    AND NOT EXISTS (SELECT 1 FROM mt WHERE mt.event_id = c.event_id))
              |SELECT * FROM mt UNION ALL SELECT * FROM nl
              |ORDER BY clip_id, event_id, u_event_time NULLS FIRST""".stripMargin)),

    // ------------------- s13 stream-static broadcast lookup join (J1×S1)
    // The streaming twin of q39: a stream of clip metadata enriched
    // against the static codec catalog (first-wins dedup on the lookup
    // side, LEFT semantics for misses — 'adpcm' has no catalog row and
    // must come through with a null category). Stream-static joins are
    // stateless on the stream side: the static side is deduplicated
    // once, broadcast to every task, and each micro-batch probes it
    // map-side — no state store, no watermark, so the append output is
    // schedule-independent by construction and the query still runs the
    // true incremental plan (BroadcastHashJoin under MicroBatchExec).
    QueryDef(
      "s13_stream_static_join",
      (s, d) => {
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
        val enriched = graft.operators.Joins.broadcastLookupJoin(
          clips, ClipGen.codecCategories(s), "codec", "code", "line_no")
          .select(col("event_id"), col("clip_id"), col("codec"),
            col("category"), col("dur_ms"))
        StreamRunner.runToMemory(enriched, "append")
          .orderBy(col("event_id"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |cat AS (
              |  SELECT code, category FROM (
              |    SELECT *, row_number() OVER (PARTITION BY code ORDER BY line_no) AS rn
              |    FROM (VALUES ('pcm16le', 'uncompressed', 1), ('ulaw', 'companded', 2),
              |                 ('ulaw', 'DUPLICATE-IGNORED', 3), ('alaw', 'companded', 4),
              |                 ('unknown', 'quarantine', 5)) t(code, category, line_no))
              |  WHERE rn = 1)
              |SELECT event_id, clip_id, codec, category, dur_ms
              |FROM clips LEFT JOIN cat ON codec = code
              |ORDER BY event_id""".stripMargin)),

    // ---------- s14 tumbling agg across THREE micro-batches, APPEND (D3/D4)
    // The built-in windowed aggregation's full append-mode schedule
    // under the hard oracle. Unlike fMGWS's row-level late filter
    // (s11), the agg path's late filter is WINDOW-level: a batch-N row
    // drops iff its window is already closed, window_end <= lagged
    // watermark (max event time through batch N−2 minus the delay) —
    // rows older than the watermark are still admitted while their
    // window stays open (all three boundaries pinned in
    // LateBoundarySpec). Windows emit exactly once when the eviction
    // watermark reaches their end (end <= wm, boundary inclusive), and
    // windows still open at stream end are withheld. The final no-data
    // flush batch evicts with a watermark that includes the LAST data
    // batch (also pinned), so the emission cutoff is max event time
    // over ALL batches minus the delay. The oracle collapses per-batch
    // emission content to one rule: an emitted window aggregates
    // exactly the survivors inside it — a window emitted at batch 1
    // has window_end <= max(b0) − 12h, which is precisely batch 2's
    // window-close predicate, so it can never miss a batch-2 row.
    QueryDef(
      "s14_stream_tumbling_multibatch",
      (s, d) => {
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "12 hours")
        val rolled = ClipPipeline.tumblingRollup(clips, "1 day")
        StreamRunner.runToMemory(rolled, "append")
          .withColumn("window_start", col("window_start").cast("timestamp_ntz"))
          .withColumn("window_end", col("window_end").cast("timestamp_ntz"))
          .orderBy(col("window_start"), col("codec"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |wm2 AS (SELECT max(event_time) - INTERVAL 12 HOUR AS w FROM clips WHERE event_id % 3 = 0),
              |wmf AS (SELECT max(event_time) - INTERVAL 12 HOUR AS w FROM clips),
              |surv AS (SELECT * FROM clips
              |  WHERE event_id % 3 IN (0, 1)
              |     OR make_timestamp(((epoch_us(event_time) // 86400000000) + 1) * 86400000000) > (SELECT w FROM wm2)),
              |agg AS (
              |  SELECT make_timestamp((epoch_us(event_time) // 86400000000) * 86400000000) AS window_start,
              |    make_timestamp(((epoch_us(event_time) // 86400000000) + 1) * 86400000000) AS window_end,
              |    codec, COUNT(*) AS n_clips, CAST(SUM(CAST(dur_ms AS BIGINT)) AS BIGINT) AS total_dur_ms
              |  FROM surv GROUP BY 1, 2, 3)
              |SELECT window_start, window_end, codec, n_clips, total_dur_ms
              |FROM agg WHERE window_end <= (SELECT w FROM wmf)
              |ORDER BY window_start, codec""".stripMargin)),

    // ------ s16 tumbling agg across THREE micro-batches, UPDATE (D4)
    // The third output mode under the hard oracle (complete: s01/s04,
    // append: s14/s15): update mode emits, per micro-batch, ONLY the
    // groups that changed in that batch, carrying their cumulative
    // value, and the memory sink accumulates one row per emission —
    // so the result is one row per (window, codec, touched batch)
    // with strictly growing n_clips (pinned in LateBoundarySpec).
    // Late rows drop per the same lagged window-level filter as s14;
    // eviction is silent (no emission) and cannot disagree with the
    // late filter because both use the same end-vs-watermark
    // predicate, one batch apart. Rows are keyed by (window, codec,
    // n_clips) — unique because every emission strictly increases the
    // group's count.
    QueryDef(
      "s16_stream_tumbling_update",
      (s, d) => {
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .withWatermark("event_time", "12 hours")
        val rolled = ClipPipeline.tumblingRollup(clips, "1 day")
        StreamRunner.runToMemory(rolled, "update")
          .withColumn("window_start", col("window_start").cast("timestamp_ntz"))
          .withColumn("window_end", col("window_end").cast("timestamp_ntz"))
          .orderBy(col("window_start"), col("codec"), col("n_clips"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |wm2 AS (SELECT max(event_time) - INTERVAL 12 HOUR AS w FROM clips WHERE event_id % 3 = 0),
              |adm AS (SELECT *, CAST(event_id % 3 AS INT) AS b FROM clips
              |  WHERE event_id % 3 IN (0, 1)
              |     OR make_timestamp(((epoch_us(event_time) // 86400000000) + 1) * 86400000000) > (SELECT w FROM wm2)),
              |pb AS (
              |  SELECT make_timestamp((epoch_us(event_time) // 86400000000) * 86400000000) AS window_start,
              |    make_timestamp(((epoch_us(event_time) // 86400000000) + 1) * 86400000000) AS window_end,
              |    codec, b, COUNT(*) AS n, SUM(CAST(dur_ms AS BIGINT)) AS s
              |  FROM adm GROUP BY 1, 2, 3, 4)
              |SELECT window_start, window_end, codec,
              |  CAST(SUM(n) OVER w AS BIGINT) AS n_clips,
              |  CAST(SUM(s) OVER w AS BIGINT) AS total_dur_ms
              |FROM pb
              |WINDOW w AS (PARTITION BY window_start, codec ORDER BY b ROWS UNBOUNDED PRECEDING)
              |ORDER BY window_start, codec, n_clips""".stripMargin)),

    // ------- s15 session windows across THREE micro-batches, APPEND (D4)
    // The hardest multi-batch shape: session MERGING state under the
    // full append-mode schedule. Unlike tumbling windows (s14), an
    // emitted session does not protect its time range — a late row
    // whose prospective end (ts + gap) clears the lagged watermark is
    // admitted even if it overlaps an already-emitted session, and
    // opens a FRESH session there (all boundaries pinned in
    // LateBoundarySpec). The oracle therefore replays the schedule in
    // two sessionization rounds: round 1 sessionizes b0∪b1 and emits
    // sessions with end <= wm1 (max b0 ts − delay — batch 1's eviction
    // watermark); round 2 re-sessionizes the UNEMITTED rows plus the
    // admitted b2 rows (prospective end > wm1, batch 2's lagged late
    // filter) and emits those with end <= final watermark (max over
    // all ts − delay); still-open sessions are withheld. Content of a
    // session emitted mid-stream is complete: any b2 row that could
    // have extended it is either admitted into round 2 (fresh session)
    // or dropped — emitted state is gone either way.
    QueryDef(
      "s15_stream_session_multibatch",
      (s, d) => {
        val ev = StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3)
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "12 hours")
        val sessions = ClipPipeline.sessionRollup(ev, "ts", "user_id", "30 minutes")
        StreamRunner.runToMemory(sessions, "append")
          .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
          .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some("""WITH wm1 AS (SELECT max(ts) - INTERVAL 12 HOUR AS w FROM events WHERE event_id % 3 = 0),
             |wmf AS (SELECT max(ts) - INTERVAL 12 HOUR AS w FROM events),
             |b01 AS (SELECT user_id, ts, event_id FROM events WHERE event_id % 3 IN (0, 1)),
             |f1 AS (SELECT user_id, ts, event_id,
             |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM b01),
             |g1 AS (SELECT user_id, ts, event_id,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM f1),
             |s1 AS (SELECT user_id, sid, MIN(ts) AS session_start,
             |    MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
             |  FROM g1 GROUP BY user_id, sid),
             |emit1 AS (SELECT session_start, session_end, user_id, n_events
             |  FROM s1 WHERE session_end <= (SELECT w FROM wm1)),
             |rem AS (SELECT g1.user_id, g1.ts, g1.event_id
             |  FROM g1 JOIN s1 ON g1.user_id = s1.user_id AND g1.sid = s1.sid
             |  WHERE s1.session_end > (SELECT w FROM wm1)),
             |b2a AS (SELECT user_id, ts, event_id FROM events
             |  WHERE event_id % 3 = 2 AND ts + INTERVAL 30 MINUTE > (SELECT w FROM wm1)),
             |u2 AS (SELECT * FROM rem UNION ALL SELECT * FROM b2a),
             |f2 AS (SELECT user_id, ts, event_id,
             |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             |         THEN 1 ELSE 0 END AS new_s
             |  FROM u2),
             |g2 AS (SELECT user_id, ts, event_id,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM f2),
             |s2 AS (SELECT user_id, sid, MIN(ts) AS session_start,
             |    MAX(ts) + INTERVAL 30 MINUTE AS session_end, COUNT(*) AS n_events
             |  FROM g2 GROUP BY user_id, sid),
             |emit2 AS (SELECT session_start, session_end, user_id, n_events
             |  FROM s2 WHERE session_end <= (SELECT w FROM wmf))
             |SELECT session_start, session_end, user_id, n_events
             |FROM (SELECT * FROM emit1 UNION ALL SELECT * FROM emit2)
             |ORDER BY user_id, session_start""".stripMargin)),

    // ----------------------------- s03 stream-stream interval join (J3)
    QueryDef(
      "s03_stream_join",
      (s, d) => {
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .drop("sr_hz", "dur_ms", "codec")
        val updates = ClipGen.updatesProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp"))
        val joined = ClipPipeline
          .transcriptUpdateJoin(clips, updates, "30 minutes", "10 MINUTES")
          .select(col("clip_id"), col("event_id"), col("event_time"),
            col("u_transcript"), col("u_event_time"))
        StreamRunner.runToMemory(joined, "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp_ntz"))
          .orderBy(col("clip_id"), col("event_id"), col("u_event_time"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |upd AS (${ClipGen.updatesSql})
              |SELECT c.clip_id, c.event_id, c.event_time, u.u_transcript, u.u_event_time
              |FROM clips c JOIN upd u ON c.clip_id = u.clip_id
              |  AND u.u_event_time >= c.event_time
              |  AND u.u_event_time <= c.event_time + INTERVAL 10 MINUTE
              |ORDER BY c.clip_id, c.event_id, u.u_event_time""".stripMargin)),

    // ------------------- s09 stream-stream LEFT OUTER interval join (J3)
    // Unmatched clips emit with null update columns only when the
    // watermark passes their join window (state eviction). Clips near
    // the stream tail are never evicted before the query ends, so both
    // sides apply the same deterministic cutoff: final watermark
    // (min over both streams' max event time − 30 min delay) minus the
    // 10-min join window minus a 1-min margin — every clip at or below
    // the cutoff is provably evicted, boundary ties are impossible.
    // Assumes single-batch arrival (asserted): a multi-batch input
    // would drop late rows against intermediate watermarks.
    QueryDef(
      "s09_stream_left_join",
      (s, d) => {
        val evB = s.read.parquet(s"$d/events.parquet")
        val m = evB.agg(
          max(col("ts")).as("m_all"),
          max(when(col("event_id") % 6 === 1, col("ts"))).as("m_upd")).head()
        val mAll = m.getAs[java.time.LocalDateTime]("m_all")
        // with ZERO update rows the updates stream's watermark never
        // advances, the global (min) watermark stays at 0 and no
        // unmatched clip is ever evicted — no cutoff can reconcile
        // that with the oracle, so refuse loudly (needs ≥6 events)
        val mUpdRaw = m.getAs[java.time.LocalDateTime]("m_upd")
        require(mUpdRaw != null,
          "s09 needs at least one transcript-update row (event_id % 6 = 1)")
        val mUpd = mUpdRaw.plusMinutes(3)
        val cutoff = (if (mAll.isBefore(mUpd)) mAll else mUpd).minusMinutes(41)
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .drop("sr_hz", "dur_ms", "codec")
        val updates = ClipGen.updatesProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp"))
        val joined = ClipPipeline
          .transcriptUpdateLeftJoin(clips, updates, "30 minutes", "10 MINUTES")
          .select(col("clip_id"), col("event_id"), col("event_time"),
            col("u_transcript"), col("u_event_time"))
        StreamRunner.runToMemory(joined, "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp_ntz"))
          .filter(col("event_time") <= lit(cutoff))
          .orderBy(col("clip_id"), col("event_id"),
            col("u_event_time").asc_nulls_first)
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |upd AS (${ClipGen.updatesSql}),
              |co AS (SELECT least(max(ts), (SELECT max(ts) FROM events WHERE event_id % 6 = 1) + INTERVAL 3 MINUTE) - INTERVAL 41 MINUTE AS cutoff FROM events)
              |SELECT c.clip_id, c.event_id, c.event_time, u.u_transcript, u.u_event_time
              |FROM clips c LEFT JOIN upd u ON c.clip_id = u.clip_id
              |  AND u.u_event_time >= c.event_time
              |  AND u.u_event_time <= c.event_time + INTERVAL 10 MINUTE
              |WHERE c.event_time <= (SELECT cutoff FROM co)
              |ORDER BY c.clip_id, c.event_id, u.u_event_time NULLS FIRST""".stripMargin)),

    // ------------------ s24 stream-stream FULL OUTER interval join (J3)
    // Completes the interval-join family: matched pairs, unmatched
    // clips (null update side, evicted at watermark past t+window) AND
    // unmatched updates (null clip side, evicted once the watermark
    // passes their own time — no future surviving clip can match).
    // The s09 provable-eviction cutoff applies to BOTH sides: every
    // row at or below final-watermark − window − margin is provably
    // evicted, so the append output restricted to the cutoff is the
    // batch FULL JOIN restricted the same way. Joins on bare clip_id
    // (no time-bucket split — see transcriptUpdateFullJoin's scaladoc
    // for why bucketing is incompatible with full outer).
    QueryDef(
      "s24_stream_full_join",
      (s, d) => {
        val evB = s.read.parquet(s"$d/events.parquet")
        // the clip-side watermark advances from the THINNED stream
        // (event_id % 5 ≠ 0, see below), so the cutoff must use that
        // side's max, not the unfiltered one
        val m = evB.agg(
          max(when(col("event_id") % 5 =!= 0, col("ts"))).as("m_clip"),
          max(when(col("event_id") % 6 === 1, col("ts"))).as("m_upd")).head()
        val mClip = m.getAs[java.time.LocalDateTime]("m_clip")
        val mUpdRaw = m.getAs[java.time.LocalDateTime]("m_upd")
        require(mClip != null && mUpdRaw != null,
          "s24 needs rows on both thinned sides")
        val mUpd = mUpdRaw.plusMinutes(3)
        val cutoff = (if (mClip.isBefore(mUpd)) mClip else mUpd).minusMinutes(41)
        // thin the clip side (drop event_id % 5 = 0): every update in
        // the fixture derives from a clip event that matches it, so an
        // unthinned full outer would never produce a null-clip row —
        // the regime that distinguishes FULL from LEFT would be
        // vacuous. Cold updates whose own clip is dropped (event_id ≡
        // 25 mod 30) have no other occurrence of their clip_id and
        // surface as (null, update) rows.
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .filter(col("event_id") % 5 =!= 0)
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .drop("sr_hz", "dur_ms", "codec", "transcript")
        val updates = ClipGen.updatesProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp"))
        val joined = ClipPipeline
          .transcriptUpdateFullJoin(clips, updates, "30 minutes", "10 MINUTES")
          .select(col("clip_id"), col("event_id"), col("event_time"),
            col("u_clip_id"), col("u_transcript"), col("u_event_time"))
        StreamRunner.runToMemory(joined, "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp_ntz"))
          .filter(
            coalesce(col("event_time") <= lit(cutoff), lit(true)) &&
            coalesce(col("u_event_time") <= lit(cutoff), lit(true)))
          .orderBy(col("clip_id").asc_nulls_first,
            col("event_id").asc_nulls_first,
            col("u_clip_id").asc_nulls_first,
            col("u_event_time").asc_nulls_first)
      },
      fullJoinOracleSql),

    // -------- s27 FULL OUTER as the scale-safe BUCKETED composition
    // The same required answer as s24, from two bucketed stateful
    // queries instead of one unbucketed one: (1) the bucketed LEFT
    // OUTER join (matched pairs + null-update clips) and (2) the
    // mirrored bucketed LEFT OUTER with updates as the null-emitting
    // side, filtered to null-clip rows — the (null, update) half.
    // Every state key carries the interval-aligned time bucket
    // (PlanSpec-asserted), so a hot clip_id's state probing stays
    // linear per bucket; this is the composition s24's scaladoc
    // directs users to at scale, proven here against s24's own oracle.
    QueryDef(
      "s27_stream_full_join_bucketed",
      (s, d) => {
        val evB = s.read.parquet(s"$d/events.parquet")
        val m = evB.agg(
          max(when(col("event_id") % 5 =!= 0, col("ts"))).as("m_clip"),
          max(when(col("event_id") % 6 === 1, col("ts"))).as("m_upd")).head()
        val mClip = m.getAs[java.time.LocalDateTime]("m_clip")
        val mUpdRaw = m.getAs[java.time.LocalDateTime]("m_upd")
        require(mClip != null && mUpdRaw != null,
          "s27 needs rows on both thinned sides")
        val mUpd = mUpdRaw.plusMinutes(3)
        val cutoff = (if (mClip.isBefore(mUpd)) mClip else mUpd).minusMinutes(41)
        def clips() = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .filter(col("event_id") % 5 =!= 0)
          .withColumn("event_time", col("event_time").cast("timestamp"))
          .drop("sr_hz", "dur_ms", "codec", "transcript")
        def updates() = ClipGen.updatesProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp"))
        val outCols = Seq(col("clip_id"), col("event_id"), col("event_time"),
          col("u_clip_id"), col("u_transcript"), col("u_event_time"))
        val left = ClipPipeline
          .transcriptUpdateLeftJoin(clips(), updates(), "30 minutes", "10 MINUTES")
          .select(outCols: _*)
        val unmatchedUpd = ClipPipeline
          .transcriptUpdateUnmatchedUpdates(clips(), updates(), "30 minutes", "10 MINUTES")
          .select(outCols: _*)
        // the two halves are independent stateful queries (separate
        // sources, state, sinks) — start both, await both (guide §2.6)
        val halves = StreamRunner.runAllToMemory(
          Seq(left -> "append", unmatchedUpd -> "append"))
        halves(0)
          .unionByName(halves(1))
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .withColumn("u_event_time", col("u_event_time").cast("timestamp_ntz"))
          .filter(
            coalesce(col("event_time") <= lit(cutoff), lit(true)) &&
            coalesce(col("u_event_time") <= lit(cutoff), lit(true)))
          .orderBy(col("clip_id").asc_nulls_first,
            col("event_id").asc_nulls_first,
            col("u_clip_id").asc_nulls_first,
            col("u_event_time").asc_nulls_first)
      },
      fullJoinOracleSql),

    // ------------------------------- s04 streaming session windows (D4)
    QueryDef(
      "s04_stream_session",
      (s, d) => {
        val ev = StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema)
          .withColumn("ts", col("ts").cast("timestamp"))
          .withWatermark("ts", "1 hour")
        val sessions = ClipPipeline.sessionRollup(ev, "ts", "user_id", "30 minutes")
        StreamRunner.runToMemory(sessions, "complete")
          .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
          .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some("""WITH f AS (
             |  SELECT user_id, ts,
             |    CASE WHEN lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
             |         THEN 1 ELSE 0 END AS new_s,
             |    event_id
             |  FROM events),
             |g AS (SELECT user_id, ts,
             |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM f)
             |SELECT MIN(ts) AS session_start,
             |  MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             |  user_id, COUNT(*) AS n_events
             |FROM g GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    // ------- s17 exactly-once sink across THREE micro-batches (D2×D9)
    // s05's commit protocol under incremental arrival: three file-
    // triggered micro-batches, one staging-write + atomic-move + marker
    // cycle each, union of committed batches checked against the full
    // clips oracle. The sink path is stateless per batch, so unlike
    // s11–s16 no watermark schedule enters the oracle — what this row
    // hardens is the commit protocol itself iterating (marker
    // idempotence, per-batch lineage, reader over multiple batch dirs).
    QueryDef(
      "s17_sink_multibatch",
      (s, d) => {
        // process-scoped sink work dir: no leak per pass (own dir is
        // wiped, dead-pid siblings reaped) and no cross-JVM race (a
        // FIXED shared dir wiped here would delete a concurrent
        // Verify/Bench run's live checkpoint mid-query)
        val outDir = graft.sink.FsUtil.processScopedWorkDir("graft_sink_mb", d)
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
        val sink = new ExactlyOnceSink(outDir, Seq("event_id"))
        StreamRunner.runToSink(clips, s"$outDir/_checkpoint")(sink.write)
        require(sink.committedBatchIds.size == 3,
          s"s17 expects 3 committed micro-batches, got ${sink.committedBatchIds}")
        val lin = sink.lineage
        require(lin.forall(b => b.partitionRows.sum == b.rows),
          "per-batch lineage must reconcile")
        sink.readCommitted(s)
          .select(col("clip_id"), col("event_id"), col("codec"),
            col("dur_ms"), col("event_time"))
          .orderBy(col("event_id"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql})
              |SELECT clip_id, event_id, codec, dur_ms, event_time
              |FROM clips ORDER BY event_id""".stripMargin)),

    // -------- s20 streaming fan-in: TWO live streams → ONE sink (W3×D2)
    // The reference's literal topology: both Kafka-Streams topologies
    // produce to the single lab-fhir topic
    // (/root/reference/src/main/resources/application.yml:24,31). Two
    // file streams (clip metadata + transcript updates, each staged as
    // 3 ordered files) unionByName into one ExactlyOnceSink — the
    // commit protocol must stay idempotent under batchIds that each
    // interleave rows from BOTH sources. The union is stateless (no
    // watermark, no state store), so the committed union is
    // schedule-independent and the oracle is plain UNION ALL SQL —
    // what this row hardens beyond s17 is fan-in through one sink,
    // not a watermark schedule.
    QueryDef(
      "s20_stream_union_sink",
      (s, d) => {
        val outDir = graft.sink.FsUtil.processScopedWorkDir("graft_sink_union", d)
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
          .select(col("clip_id"), lit("clip").as("kind"),
            col("transcript").as("payload"), col("event_time"))
        val updates = ClipGen.updatesProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3, mod = 18, div = 6))
          .select(col("clip_id"), lit("update").as("kind"),
            col("u_transcript").as("payload"),
            col("u_event_time").as("event_time"))
        val fanIn = clips.unionByName(updates)
        val sink = new ExactlyOnceSink(outDir,
          Seq("clip_id", "event_time", "kind", "payload"))
        StreamRunner.runToSink(fanIn, s"$outDir/_checkpoint")(sink.write)
        require(sink.committedBatchIds.size == 3,
          s"s20 expects 3 committed fan-in micro-batches, got ${sink.committedBatchIds}")
        require(sink.lineage.forall(b => b.partitionRows.sum == b.rows),
          "per-batch lineage must reconcile")
        sink.readCommitted(s)
          .select(col("clip_id"), col("kind"), col("payload"),
            col("event_time"))
          .orderBy(col("kind"), col("clip_id"), col("event_time"),
            col("payload"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |upd AS (${ClipGen.updatesSql})
              |SELECT clip_id, 'clip' AS kind, transcript AS payload, event_time FROM clips
              |UNION ALL
              |SELECT clip_id, 'update' AS kind, u_transcript AS payload, u_event_time AS event_time FROM upd
              |ORDER BY kind, clip_id, event_time, payload""".stripMargin)),

    // ---------- s23 streaming keyed MERGE (upsert) sink — Iceberg MERGE
    // The north rule's "idempotent exactly-once Iceberg MERGE sink"
    // under the hard oracle (UpsertSink was ScalaTest-only): three
    // micro-batches of clip metadata MERGE into a snapshot chain keyed
    // by clip_id, latest version (event_id) wins. Versions are global,
    // so the final snapshot is batch-schedule independent — per key,
    // the max-event_id row over the whole stream — which is what makes
    // a plain argmax oracle possible while still iterating the
    // snapshot/pointer commit protocol across interleaved batches
    // (hot-N keys receive competing rows in EVERY batch).
    QueryDef(
      "s23_stream_upsert",
      (s, d) => {
        val outDir = graft.sink.FsUtil.processScopedWorkDir("graft_sink_upsert", d)
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema,
            batches = 3))
        val sink = new graft.sink.UpsertSink(outDir, Seq("clip_id"), "event_id")
        StreamRunner.runToSink(clips, s"$outDir/_checkpoint")(sink.write)
        require(sink.committedBatchIds.size == 3 &&
          sink.latestCommitted == sink.committedBatchIds.lastOption,
          s"s23 expects 3 committed MERGE batches, got ${sink.committedBatchIds}")
        sink.readLatest(s)
          .select(col("clip_id"), col("sr_hz"), col("dur_ms"), col("codec"),
            col("transcript"), col("event_time"), col("event_id"))
          .orderBy(col("clip_id"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql}),
              |r AS (SELECT *, row_number() OVER (PARTITION BY clip_id ORDER BY event_id DESC) AS rn
              |  FROM clips)
              |SELECT clip_id, sr_hz, dur_ms, codec, transcript, event_time, event_id
              |FROM r WHERE rn = 1 ORDER BY clip_id""".stripMargin)),

    // --------------------------- s05 exactly-once foreachBatch sink (D2)
    QueryDef(
      "s05_exactly_once_sink",
      (s, d) => {
        // same process-scoped discipline as s17 (leak-free AND safe
        // under concurrent JVMs)
        val outDir = graft.sink.FsUtil.processScopedWorkDir("graft_sink_s05", d)
        val clips = metaProjection(
          StreamRunner.parquetStream(s, s"$d/events.parquet", eventsSchema))
        val sink = new ExactlyOnceSink(outDir, Seq("event_id"))
        StreamRunner.runToSink(clips, s"$outDir/_checkpoint")(sink.write)
        sink.readCommitted(s)
          .select(col("clip_id"), col("event_id"), col("codec"),
            col("dur_ms"), col("event_time"))
          .orderBy(col("event_id"))
      },
      Some(s"""WITH clips AS (${ClipGen.metaSql})
              |SELECT clip_id, event_id, codec, dur_ms, event_time
              |FROM clips ORDER BY event_id""".stripMargin)))
}
