package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the planning phases of every SQL execution in the JVM it is
  * loaded into, one JSON line per execution, appended to the file named
  * by the `graftbench.phases` system property. Registered from outside
  * the program with `-Dspark.sql.queryExecutionListeners=graftbench.PhaseListener`
  * in traced runs only.
  */
class PhaseListener extends QueryExecutionListener {

  private val out = Paths.get(sys.props.getOrElse("graftbench.phases", "phases.jsonl"))

  private def record(qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(name: String): Double =
      phases.get(name).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val line =
      f"""{"execution_id":${qe.id},"analysis_ms":${ms("analysis")}%.1f,"optimization_ms":${ms("optimization")}%.1f,"planning_ms":${ms("planning")}%.1f,"execution_ms":${durationNs / 1e6}%.3f,"ok":$ok}
"""
    this.synchronized {
      Files.write(out, line.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L, ok = false)
}
