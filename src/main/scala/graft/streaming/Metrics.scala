package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Observability (SURVEY.md §2.8 D8) — the engine's answer to the
  * reference's `// TODO add metrics`
  * (/root/reference/src/main/java/de/unimarburg/diz/labtofhir/mapper/AimLabMapper.java:104)
  * and its Prometheus actuator surface (application.yml:72-81):
  *
  *  - [[Metrics.observed]] attaches an `observe()` node to any stage —
  *    counters ride the data path (no second job, no driver loop);
  *  - [[GraftQueryListener]] collects per-batch progress + observed
  *    metrics off the streaming listener bus (rows/sec, batch
  *    durations, per-stage counters), queryable by sink/bench code.
  */
object Metrics {

  val DefaultName = "graft_metrics"

  /** Attach a row counter to a stage. */
  def observed(df: DataFrame, name: String = DefaultName): DataFrame =
    df.observe(name, count(lit(1)).as("rows_total"))
}

/** Collects streaming progress per query name. Thread-safe; events
  * arrive async on the listener bus — callers poll [[totalInputRows]].
  */
class GraftQueryListener extends StreamingQueryListener {

  final case class QueryStats(
      var inputRows: Long = 0L,
      var batches: Long = 0L,
      var droppedByWatermark: Long = 0L,
      var lastObserved: Map[String, Row] = Map.empty)

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
      val om = e.progress.observedMetrics
      if (om != null && !om.isEmpty)
        s.lastObserved = om.asScala.toMap
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

  def observedMetric(queryName: String, metricName: String): Option[Row] =
    Option(stats.get(queryName)).flatMap(_.lastObserved.get(metricName))
}
