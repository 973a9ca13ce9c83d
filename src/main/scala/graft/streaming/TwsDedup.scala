package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.model.DedupDecision

/** D1 (keyed stateful dedup) on the Spark 4.x `transformWithState`
  * API — the modern replacement for `flatMapGroupsWithState`
  * ([[ClipPipeline.dedupStage]] stays as the portable twin; both are
  * oracled against the same DuckDB SQL, `s02`/`s10`).
  *
  * What the new API buys at 100 TB:
  *  - typed state handles (`ValueState[Int]`) with **native TTL**
  *    (`TTLConfig`) — eviction happens inside the RocksDB store, no
  *    hand-rolled timeout bookkeeping per key;
  *  - state schema evolution + multiple independent state variables
  *    per key without re-encoding a monolithic case class;
  *  - timers decoupled from data arrival (`handleExpiredTimer`).
  *
  * Requires the RocksDB state store provider (the API is
  * RocksDB-only); [[StreamRunner]] selects it for any query whose plan
  * holds a `transformWithState` operator.
  */
class DedupProcessor(ttl: java.time.Duration)
    extends StatefulProcessor[String, ClipMeta, DedupDecision] {

  @transient private var seen: ValueState[Int] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Int]("seen", Encoders.scalaInt,
      if (ttl == null) TTLConfig.NONE else TTLConfig(ttl))

  /** Same per-key occurrence numbering as [[ClipPipeline.dedupFn]]:
    * event-time order within a batch, arrival order across batches.
    */
  override def handleInputRows(key: String, rows: Iterator[ClipMeta],
      timerValues: TimerValues): Iterator[DedupDecision] = {
    val sorted = rows.toIndexedSeq.sortBy(r => (r.event_time.getTime, r.event_id))
    val base = if (seen.exists()) seen.get() else 0
    seen.update(base + sorted.size)
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

object TwsDedup {

  /** Streaming keyed dedup via `transformWithState` (RocksDB-backed).
    * `ttl = null` keeps state forever (event-time mode); a Duration
    * enables native per-value TTL inside the store — state TTL is
    * wall-clock by definition, and Spark enforces that by allowing
    * `TTLConfig` only in `TimeMode.ProcessingTime()`
    * (STATEFUL_PROCESSOR_INCORRECT_TIME_MODE_TO_ASSIGN_TTL), so the
    * time mode follows the ttl argument.
    */
  def dedupStageTws(clips: Dataset[ClipMeta],
      ttl: java.time.Duration = null): Dataset[DedupDecision] = {
    import clips.sparkSession.implicits._
    val mode = if (ttl == null) TimeMode.EventTime() else TimeMode.ProcessingTime()
    clips
      .groupByKey(_.clip_id)
      .transformWithState(new DedupProcessor(ttl), mode, OutputMode.Append())
  }
}
