package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling for hot keys (SURVEY.md §2.8 D6).
  *
  * The clip stream deliberately collapses ~20% of records onto 5 hot
  * `clip_id`s (FIXTURES.md §2.1). A plain `groupBy(clip_id)` sends
  * every hot-key row to one reducer; at 10^12-clip scale that single
  * task is the job. Two-phase salted aggregation bounds any one task
  * at 1/`saltBuckets` of a hot key:
  *
  *   phase 1: groupBy(key, salt) — partial aggregates, salt derived
  *            deterministically from a row attribute (never rand():
  *            replays must produce identical partials for exactly-once)
  *   phase 2: groupBy(key)       — combine the `saltBuckets` partials
  *
  * The second shuffle moves only `keys × saltBuckets` pre-aggregated
  * rows. Complements AQE skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`), which handles the join
  * case at runtime; salting handles aggregation skew statically.
  */
object Skew {

  /** Deterministic salt in [0, buckets) from an arbitrary column. */
  def saltFor(c: Column, buckets: Int): Column =
    pmod(hash(c), lit(buckets))

  /** Salted per-clip rollup: count + total duration per clip_id.
    * Result is identical to the unsalted `groupBy(clip_id)` (oracle
    * q41), execution is hot-key-proof.
    */
  def saltedClipRollup(clips: DataFrame, saltBuckets: Int = 16): DataFrame =
    clips
      .withColumn("__salt", saltFor(col("event_id"), saltBuckets))
      .groupBy(col("clip_id"), col("__salt"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("dur_ms").cast("long")).as("__d"))
      .groupBy(col("clip_id"))
      .agg(
        sum(col("__n")).as("n_clips"),
        sum(col("__d")).as("total_dur_ms"))
}
