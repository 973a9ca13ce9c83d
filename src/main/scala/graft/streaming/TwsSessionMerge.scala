package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.streaming.ClipPipeline.{SessionAcc, SessionMerge}

/** D1 session-window MERGE on the Spark 4.x `transformWithState` API —
  * the production-state-store twin of
  * [[ClipPipeline.sessionMergeStage]] (flatMapGroupsWithState), the
  * way [[TwsDedup]] twins the dedup stage: identical semantics,
  * modern API, RocksDB-only. Both implementations share one DuckDB
  * oracle (`s21`/`s22`) and the same ScalaTest schedules.
  *
  * State = one typed `ValueState[SessionAcc]` per clip_id; closing is
  * driven by an EVENT-TIME TIMER re-armed on every input batch to
  * `max(lastEvent + gap, watermark + 1)` — exactly the fMGWS
  * `setTimeoutTimestamp` discipline, so the two APIs close sessions
  * on the same schedule. Sessions closed by gap-SPLITTING inside a
  * batch emit immediately from `handleInputRows`; the open session
  * emits from `handleExpiredTimer` once the watermark passes
  * lastEvent + gap.
  *
  * Reference analogue: the within-message merge of
  * /root/reference/src/main/java/de/unimarburg/diz/labtofhir/mapper/Hl7LabMapper.java:160-179
  * generalized to watermark-driven session windows.
  */
class SessionMergeProcessor(gapMs: Long)
    extends StatefulProcessor[String, ClipMeta, SessionMerge] {

  @transient private var acc: ValueState[SessionAcc] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    acc = getHandle.getValueState[SessionAcc]("session",
      Encoders.product[SessionAcc], TTLConfig.NONE)

  private def close(key: String, a: SessionAcc): SessionMerge = SessionMerge(
    clip_id = key,
    n_records = a.n,
    total_dur_ms = a.totalDurMs,
    last_transcript = a.lastTranscript,
    session_start = ClipPipeline.usToTimestamp(a.firstEventUs),
    session_end = ClipPipeline.usToTimestamp(a.lastEventUs + gapMs * 1000L))

  override def handleInputRows(key: String, rows: Iterator[ClipMeta],
      timerValues: TimerValues): Iterator[SessionMerge] = {
    val sorted = rows.toIndexedSeq
      .sortBy(r => (ClipPipeline.epochUs(r.event_time), r.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      // the ONE shared fold (ClipPipeline.foldSessions) — the two
      // state APIs cannot diverge on session semantics by construction
      val (closed, open) = ClipPipeline.foldSessions(
        if (acc.exists()) acc.get() else null, sorted, gapMs)
      acc.update(open)
      // one live timer per key: drop the superseded one, re-arm via
      // the shared timeout rule (the fMGWS setTimeoutTimestamp twin);
      // materialize before deleting — deleteTimer during the live
      // listTimers iteration would mutate the store under its iterator
      getHandle.listTimers().toSeq.foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(ClipPipeline.sessionTimeoutMs(open, gapMs,
        timerValues.getCurrentWatermarkInMs()))
      closed.iterator.map(a => close(key, a))
    }
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionMerge] = {
    if (!acc.exists()) Iterator.empty
    else {
      val a = acc.get()
      acc.clear()
      Iterator.single(close(key, a))
    }
  }
}

object TwsSessionMerge {

  /** Streaming session merge via `transformWithState` (RocksDB-backed,
    * event-time timers); [[StreamRunner]] selects RocksDB from the
    * query's plan.
    */
  def sessionMergeStageTws(clips: Dataset[ClipMeta],
      gapMs: Long = 30L * 60 * 1000): Dataset[SessionMerge] = {
    import clips.sparkSession.implicits._
    clips
      .groupByKey(_.clip_id)
      .transformWithState(new SessionMergeProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
