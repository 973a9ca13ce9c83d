package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A `foreachBatch` sink that commits each batch through [[BatchCommit]]. */
trait CommittedSink extends Serializable {
  def write(df: DataFrame, batchId: Long): Unit
  def committedBatchIds: Seq[Long]
  /** Its JSON reconciliation record, from its committed records alone. */
  def reconciliation(spark: SparkSession): String
}
