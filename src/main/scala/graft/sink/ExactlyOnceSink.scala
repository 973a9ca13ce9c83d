package graft.sink

import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Idempotent exactly-once `foreachBatch` sink (SURVEY.md §2.8 D2/D7,
  * §4 "Exactly-once physical plan").
  *
  * The reference gets exactly-once from Kafka Streams' transactional
  * delivery (serde errors shut the client down so nothing is emitted
  * past a poison pill,
  * /root/reference/src/main/java/de/unimarburg/diz/labtofhir/configuration/KafkaConfiguration.java:31-42).
  * Spark's micro-batch checkpoint guarantees at-least-once replay of
  * `foreachBatch`; this sink turns that into exactly-once with the
  * Iceberg-MERGE-style commit protocol (no Iceberg runtime in the
  * sandbox):
  *
  *  1. `stage`: write the batch to `_staging/batch-<id>` (re-runnable)
  *     and build its lineage record from the write's metrics and the
  *     staged footers,
  *  2. `publish`: atomically move staging → `data/batch=<id>`,
  *  3. `mark`: atomically publish the record as the commit marker
  *     `_commits/<id>` ([[BatchCommit]]), the batch's one record.
  *
  * A replayed batchId short-circuits at the marker check, so restarts
  * from checkpoint produce byte-identical output (rows inside each file
  * are pre-sorted by `orderCols` to make the files themselves stable).
  * At cluster scale steps 2-3 map onto a metastore/Iceberg snapshot
  * commit; the protocol (idempotence keyed on batchId) is unchanged.
  */
class ExactlyOnceSink(outDir: String, orderCols: Seq[String]) extends CommittedSink {

  private val commit = new BatchCommit(outDir)
  private def dataDir(batchId: Long): Path = Paths.get(outDir, "data", s"batch=$batchId")
  private def stagingDir(batchId: Long): Path = Paths.get(outDir, "_staging", s"batch-$batchId")

  def committedBatchIds: Seq[Long] = commit.committedBatchIds

  /** The foreachBatch function. Safe to call repeatedly with the same
    * batchId (idempotent); safe to re-run after a crash at any step.
    */
  def write(df: DataFrame, batchId: Long): Unit = steps(df, batchId).foreach(_.run())

  /** Steps `stage, publish, mark` of batch `batchId`. */
  private[sink] def steps(df: DataFrame, batchId: Long): Seq[BatchCommit.Step] = {
    lazy val record = {
      // Deterministic file contents: hash-partition on the leading order
      // column, then sort within partitions. (A global orderBy would use
      // sampled range partitioning — file BOUNDARIES would then vary run
      // to run, breaking the byte-identical-replay guarantee.)
      val ordered =
        if (orderCols.nonEmpty)
          df.repartition(col(orderCols.head))
            .sortWithinPartitions(orderCols.map(col): _*)
        else df
      // Single-pass lineage (D7/D8): row count + event-time bounds ride
      // the staging write itself via observe() (one Spark job per batch,
      // not four — this is micro-batch p99 latency); per-partition counts
      // come from the staged parquet footers, driver-side metadata only.
      val hasTs = ordered.columns.contains("event_time")
      val obs = org.apache.spark.sql.Observation(s"sink-lineage-$batchId-${System.nanoTime()}")
      val metrics =
        count(lit(1)).as("rows") +: (
          if (hasTs)
            Seq(min(col("event_time")).cast("string").as("mn"),
              max(col("event_time")).cast("string").as("mx"))
          else Seq.empty)
      ordered.observe(obs, metrics.head, metrics.tail: _*)
        .write.mode("overwrite").parquet(stagingDir(batchId).toString)
      val m = obs.get
      val total = m("rows").asInstanceOf[Long]
      val tsBounds = if (hasTs && total > 0)
        s""","event_time_min":"${m("mn")}","event_time_max":"${m("mx")}""""
      else ""
      // the footers are read here, before `publish` moves the staging dir
      val conf = df.sparkSession.sessionState.newHadoopConf()
      val partCounts = FsUtil.list(stagingDir(batchId)).filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString).zipWithIndex.map { case (f, seq) =>
        // part-%05d-… but ≥100000 partitions widens the field: take digits.
        // A committer emitting a non-standard name (e.g. part-r-00000)
        // yields no digits — fall back to the sorted sequence index
        // rather than failing the whole batch for a lineage nicety.
        val digits = f.getFileName.toString.stripPrefix("part-")
          .takeWhile(_.isDigit)
        val pid = if (digits.nonEmpty) digits.toInt else seq
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        val n = try reader.getRecordCount finally reader.close()
        s"""{"partition_id":$pid,"rows":$n}"""
      }.sorted.mkString("[", ",", "]")
      s"""{"batch_id":$batchId,"rows":$total,"partitions":$partCounts$tsBounds}"""
    }
    commit.steps(batchId, df, Seq(
      BatchCommit.Step("stage", () => record),
      BatchCommit.Step("publish", () => FsUtil.publish(stagingDir(batchId), dataDir(batchId)))),
      record, Nil)
  }

  /** The lineage of every committed batch (D7 evidence), read from its
    * commit marker; a record without its row counts fails naming its
    * batch. */
  def lineage: Seq[ExactlyOnceSink.BatchLineage] = commit.records.map { case (id, r) =>
    val parts = r.path("partitions").elements().asScala.toSeq
    if (!r.hasNonNull("rows") || !r.path("partitions").isArray || parts.exists(!_.hasNonNull("rows")))
      throw new IllegalStateException(s"batch $id record lacks rows/partitions: $r")
    ExactlyOnceSink.BatchLineage(id, r.get("rows").asLong(), parts.map(_.get("rows").asLong()))
  }

  /** All committed rows (ignores uncommitted staging leftovers). A
    * committed EMPTY batch contains only _SUCCESS (FileFormatWriter
    * writes no part files for empty partitions), so pass only dirs
    * with data to the reader — schema inference over exclusively
    * empty batches would otherwise throw. Limitation: when EVERY
    * committed batch is empty there is no parquet footer to recover
    * the schema from, so the returned frame is `spark.emptyDataFrame`
    * (zero columns) — count()/isEmpty work, column selection does
    * not; callers that need the schema in that state must carry it
    * themselves.
    */
  def readCommitted(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val dirs = committedBatchIds.map(dataDir)
      .filter(d => FsUtil.list(d).exists(_.getFileName.toString.endsWith(".parquet")))
    if (dirs.isEmpty)
      spark.emptyDataFrame
    else
      spark.read.parquet(dirs.map(_.toString): _*)
  }

  /** Lineage (D7): Σ partition rows = each batch's total; Σ totals = committed rows. */
  def reconciliation(spark: org.apache.spark.sql.SparkSession): String = {
    val lin = lineage
    val partsOk = lin.forall(b => b.partitionRows.sum == b.rows)
    val (total, committed) = (lin.map(_.rows).sum, readCommitted(spark).count())
    s"""{"lineage_rows":$total,"committed_rows":$committed,"partitions_consistent":$partsOk,"reconciled":${partsOk && total == committed}}"""
  }

}

object ExactlyOnceSink {

  /** Parsed lineage of one committed batch: the observed row total and
    * the per-partition counts read back from the staged parquet
    * footers. [[ExactlyOnceSink.write]] records both through different
    * channels (observe() on the write vs driver-side footer metadata),
    * so Σ partitionRows == rows is a real conservation check, not a
    * tautology — and reconciling either against `readCommitted().count`
    * closes the loop with what a reader actually sees.
    */
  final case class BatchLineage(batchId: Long, rows: Long, partitionRows: Seq[Long])
}
