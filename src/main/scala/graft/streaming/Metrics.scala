package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Observability (SURVEY.md §2.8 D8) — the engine's answer to the
  * reference's `// TODO add metrics` (`mapper/AimLabMapper.java:104`
  * in the reference) and its Prometheus actuator surface
  * (application.yml:72-81): collects per-batch progress per query name
  * off the streaming listener bus (input rows, batches, rows dropped by
  * the watermark), queryable by sink/bench code. Thread-safe; events
  * arrive async on the listener bus — callers poll [[totalInputRows]].
  */
class GraftQueryListener extends StreamingQueryListener {

  final case class QueryStats(
      var inputRows: Long = 0L,
      var batches: Long = 0L,
      var droppedByWatermark: Long = 0L)

  private val stats = new ConcurrentHashMap[String, QueryStats]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val name = Option(e.progress.name).getOrElse(e.progress.id.toString)
    val s = stats.computeIfAbsent(name, _ => QueryStats())
    s.synchronized {
      s.inputRows += e.progress.numInputRows
      s.batches += 1
      s.droppedByWatermark +=
        e.progress.stateOperators.map(_.numRowsDroppedByWatermark).sum
    }
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def totalInputRows(queryName: String): Long =
    Option(stats.get(queryName)).map(_.inputRows).getOrElse(0L)

  def batches(queryName: String): Long =
    Option(stats.get(queryName)).map(_.batches).getOrElse(0L)

  /** Late rows discarded by the watermark (D3) — the reference's
    * skipped-record log, as a counter.
    */
  def droppedByWatermark(queryName: String): Long =
    Option(stats.get(queryName)).map(_.droppedByWatermark).getOrElse(0L)
}
