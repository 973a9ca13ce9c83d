package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{SparkSession, classic}

/** Test-only bridge to the `private[sql]` session constructor: a
  * session on `spark`'s context that never saw the engine's builder or
  * extensions — what a caller that builds its own session hands to
  * `SparkEntry`.
  */
object PlainSessionBridge {
  def plainSession(spark: SparkSession): SparkSession =
    new classic.SparkSession(spark.sparkContext)
}
