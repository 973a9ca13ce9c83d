package org.apache.spark.sql.graftbridge

import java.util.UUID

import org.apache.spark.sql.execution.streaming.state.{StateStore, StateStoreId, StateStoreProviderId}

/** Test-only bridge to the `private[sql]` state store cache: whether
  * this JVM holds the provider of one partition of a query run's first
  * stateful operator (operator 0, store `default`) under `stateRoot`,
  * the query's `<checkpoint>/state` directory.
  */
object StateStoreBridge {
  def isLoaded(stateRoot: String, partition: Int, runId: UUID): Boolean =
    StateStore.isLoaded(StateStoreProviderId(
      StateStoreId(stateRoot, 0L, partition, StateStoreId.DEFAULT_STORE_NAME), runId))
}
