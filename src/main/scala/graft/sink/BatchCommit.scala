package graft.sink

import java.nio.file.{Files, Path, Paths}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame

/** The batchId-keyed commit protocol of both sinks: idempotent
  * `prepare` steps, the marker `_commits/<id>` holding the batch's one
  * record (written to a tmp file and renamed, so it never exists
  * without its content), then `rollForward` steps. A replayed committed
  * batchId runs only `drain`, which runs the batch into a no-op sink
  * (Spark fails a stateful query's batch whose state stores did not all
  * commit), and `rollForward`. */
final class BatchCommit(root: String) extends Serializable {

  private def marker(batchId: Long): Path = Paths.get(root, "_commits", batchId.toString)

  def isCommitted(batchId: Long): Boolean = Files.exists(marker(batchId))

  /** The all-digit names under `_commits/`: a leftover tmp file of a
    * crashed `mark` is not a commit. */
  def committedBatchIds: Seq[Long] = {
    val dir = Paths.get(root, "_commits")
    if (!Files.exists(dir)) Seq.empty
    else FsUtil.list(dir).map(_.getFileName.toString)
      .filter(_.forall(_.isDigit)).map(_.toLong).sorted
  }

  /** Each committed batch's record, parsed; one that is not a JSON
    * object fails naming its batch. */
  def records: Seq[(Long, JsonNode)] = committedBatchIds.map { id =>
    val node = try Option(new ObjectMapper().readTree(Files.readAllBytes(marker(id)))) catch {
      case _: java.io.IOException => None
    }
    id -> node.filter(_.isObject).getOrElse(
      throw new IllegalStateException(s"batch $id: ${marker(id)} holds no JSON record"))
  }

  /** The steps of batch `batchId`; `record` is the marker's content. */
  def steps(batchId: Long, batch: DataFrame, prepare: Seq[BatchCommit.Step],
      record: => String, rollForward: Seq[BatchCommit.Step]): Seq[BatchCommit.Step] =
    if (isCommitted(batchId))
      BatchCommit.Step("drain", () => batch.write.format("noop").mode("append").save()) +: rollForward
    else prepare ++ (BatchCommit.Step("mark", () =>
      FsUtil.replace(marker(batchId), record.getBytes("UTF-8"))) +: rollForward)
}

object BatchCommit {
  /** One named step of a batch's commit. */
  final case class Step(name: String, run: () => Unit)
}
