package graft.sink

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.DataFrame

/** The batchId-keyed commit protocol of both sinks: idempotent
  * `prepare` steps, the marker `_commits/<id>` (atomic create), then
  * `rollForward` steps. A replayed committed batchId runs only `drain`,
  * which runs the batch into a no-op sink (Spark fails a stateful
  * query's batch whose state stores did not all commit), and
  * `rollForward`. */
final class BatchCommit(root: String) extends Serializable {

  private[sink] def marker(batchId: Long): Path = Paths.get(root, "_commits", batchId.toString)

  def isCommitted(batchId: Long): Boolean = Files.exists(marker(batchId))

  def committedBatchIds: Seq[Long] = {
    val dir = Paths.get(root, "_commits")
    if (!Files.exists(dir)) Seq.empty
    else FsUtil.list(dir).map(_.getFileName.toString.toLong).sorted
  }

  /** The steps of batch `batchId`; `record` is the marker's content. */
  def steps(batchId: Long, batch: DataFrame, prepare: Seq[BatchCommit.Step],
      record: => String, rollForward: Seq[BatchCommit.Step]): Seq[BatchCommit.Step] =
    if (isCommitted(batchId))
      BatchCommit.Step("drain", () => batch.write.format("noop").mode("append").save()) +: rollForward
    else prepare ++ (BatchCommit.Step("mark", () => {
      Files.createDirectories(marker(batchId).getParent)
      Files.write(marker(batchId), record.getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    }) +: rollForward)
}

object BatchCommit {
  /** One named step of a batch's commit. */
  final case class Step(name: String, run: () => Unit)
}
