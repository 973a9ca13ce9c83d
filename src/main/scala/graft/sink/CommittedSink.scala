package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A `foreachBatch` sink that commits each batch through [[BatchCommit]]. */
trait CommittedSink extends Serializable {
  def write(df: DataFrame, batchId: Long): Unit
  def committedBatchIds: Seq[Long]
  /** Its JSON reconciliation record; `inputRows` is what its query read. */
  def reconciliation(spark: SparkSession, inputRows: Long): String
}
