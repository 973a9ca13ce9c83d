package graft.sink

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed exactly-once MERGE (upsert) sink — the full Iceberg-MERGE
  * analogue of the north star: each batch UPSERTS rows by `keyCols`
  * into a snapshot table with a VERSION GUARD (the max `versionCol`
  * row wins per key, across batches as well as within one — a stale
  * out-of-order batch never regresses a key), committed with the
  * same batchId-idempotent protocol as [[ExactlyOnceSink]].
  *
  * BUCKETED copy-on-write (the real Iceberg-MERGE shape): keys are
  * hash-assigned to `numBuckets` fixed buckets
  * (`pmod(xxhash64(keyCols), B)`). A batch derives its touched-bucket
  * set (≤ B driver-side values — manifest-scale metadata, not data),
  * reads ONLY those buckets' files from the previous snapshot, merges
  * under the version guard, and rewrites ONLY those buckets in one
  * bucket-partitioned job. Untouched buckets are carried forward BY
  * REFERENCE in the new snapshot's manifest — their files are never
  * read, shuffled, or rewritten. Per-batch cost is therefore
  * O(touched buckets): a batch rewrites min(B, batch keys) buckets at
  * most. With hashed random keys that approaches the whole table once
  * a batch holds about B keys: 13–16 of 16 buckets were rewritten per
  * 40-clip batch of the deployable pipeline (ROADMAP).
  *
  * Snapshot layout (a miniature of Iceberg's snapshot chain):
  *
  *   data/v=<batchId>/__bucket=<K>/   bucket K's files as of batch batchId
  *   snapshots/v=<batchId>/manifest   lines "<bucket>\t<dataDir>" — the
  *                                    FULL bucket→dir map (untouched
  *                                    buckets point into older v= dirs)
  *   _commits/<batchId>               commit marker and the batch's
  *                                    record {"batch_id","rows"}
  *   _latest                          newest committed batchId
  *   _buckets                         pinned bucket count (first write
  *                                    wins; a reopened sink adopts it)
  *
  * Each step of a write is idempotent ([[BatchCommit]]): a crash before
  * the marker leaves uncommitted data/manifest dirs that the replay
  * overwrites, and a replayed committed batchId only finishes the
  * pointer swing. Readers resolve `_latest` → manifest → bucket
  * dirs, so they never observe a half-written state (same
  * read-isolation idea as Iceberg's metadata pointer swap). Older v=
  * data dirs stay referenced by older manifests (time travel); nothing
  * here deletes a committed file.
  *
  * Provenance: generalizes the reference's upsert-by-key delivery
  * (lab-to-fhir's keyed KTable/produce semantics,
  * /root/reference/src/main/java/de/unimarburg/diz/labtofhir/processor/LabToFhirProcessor.java)
  * to a snapshot-isolated MERGE with Iceberg-style bucket-scoped
  * copy-on-write.
  */
class UpsertSink(outDir: String, keyCols: Seq[String], versionCol: String,
    numBuckets: Int = 16)
    extends CommittedSink {

  require(keyCols.nonEmpty)
  require(numBuckets > 0)

  private val commit = new BatchCommit(outDir)
  private def manifestPath(batchId: Long): Path =
    Paths.get(outDir, "snapshots", s"v=$batchId", "manifest")
  private def latestPtr: Path = Paths.get(outDir, "_latest")
  private def bucketsPin: Path = Paths.get(outDir, "_buckets")

  /** Effective bucket count: pinned at first write — a sink reopened
    * with a different `numBuckets` silently adopts the stored layout
    * (re-bucketing a live table is a migration, not a constructor arg).
    */
  private def effectiveBuckets(): Int =
    if (Files.exists(bucketsPin))
      new String(Files.readAllBytes(bucketsPin), "UTF-8").trim.toInt
    else numBuckets

  private def bucketCol(b: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(b.toLong)).cast("int")

  def committedBatchIds: Seq[Long] = commit.committedBatchIds

  def latestCommitted: Option[Long] =
    if (!Files.exists(latestPtr)) None
    else Some(new String(Files.readAllBytes(latestPtr), "UTF-8").trim.toLong)

  /** bucket → data dir of the given committed snapshot. */
  private def readManifest(batchId: Long): Map[Int, String] =
    Files.readAllLines(manifestPath(batchId), java.nio.charset.StandardCharsets.UTF_8)
      .asScala.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i).toInt -> line.substring(i + 1)
      }.toMap

  /** Exposed for tests: the bucket→dir map of the latest snapshot. */
  private[sink] def latestManifest: Map[Int, String] =
    latestCommitted.map(readManifest).getOrElse(Map.empty)

  /** Current merged table (empty schema-less frame before any commit). */
  def readLatest(spark: SparkSession): DataFrame = {
    val dirs = latestManifest.values.toSeq.sorted
    if (dirs.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(dirs: _*)
  }

  /** One merged row per key, and no more merged rows than the
    * committed batches' rows. */
  def reconciliation(spark: SparkSession): String = {
    val inputRows = commit.records.map(_._2.path("rows").asLong()).sum
    val merged = readLatest(spark)
    val rows = merged.count()
    val keys = if (rows == 0) 0L else merged.select(keyCols.map(col): _*).distinct().count()
    s"""{"merged_rows":$rows,"distinct_keys":$keys,"input_rows":$inputRows,"reconciled":${rows == keys && inputRows >= rows}}"""
  }

  /** foreachBatch entrypoint: MERGE `df` into the latest snapshot,
    * rewriting only the buckets the batch touches.
    */
  def write(df: DataFrame, batchId: Long): Unit = steps(df, batchId).foreach(_.run())

  /** Steps `pin, stage, publish, snapshot, mark, swing`; a replayed
    * committed batch's `swing` finishes a crash before the pointer. */
  private[sink] def steps(df: DataFrame, batchId: Long): Seq[BatchCommit.Step] = {
    val dataDir = Paths.get(outDir, "data", s"v=$batchId")
    val stagedData = Paths.get(outDir, "data", s"_staging-v=$batchId")
    // (previous manifest, touched buckets, batch rows)
    lazy val staged: (Map[Int, String], Set[Int], Long) = {
      val b = effectiveBuckets()
      val prev = latestManifest
      // evaluated once: the bucket count's job fills the cache and the
      // merge reads it. It counts per partition with no shuffle: an
      // aggregate over a cached frame runs one more job, only to fill it
      val batch = df.withColumn("__bucket", bucketCol(b))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // rows per touched bucket: ≤ B small pairs per partition —
        // manifest-scale metadata (the Iceberg planner does the same
        // partition-pruning collect); NOT a data-sized driver collect
        import df.sparkSession.implicits._
        val perBucket = batch.select("__bucket").as[Int].mapPartitions { it =>
          val n = scala.collection.mutable.Map.empty[Int, Long]
          it.foreach(k => n(k) = n.getOrElse(k, 0L) + 1)
          n.iterator
        }.collect().groupMapReduce(_._1)(_._2)(_ + _)
        val touched = perBucket.keySet
        if (touched.nonEmpty) {
          // base slice: ONLY the touched buckets' files of the previous
          // snapshot — untouched buckets are never read
          val baseDirs = touched.toSeq.flatMap(prev.get).distinct.sorted
          val base =
            if (baseDirs.isEmpty) batch.limit(0)
            else df.sparkSession.read.parquet(baseDirs: _*)
              .withColumn("__bucket", bucketCol(b))
              // a carried dir can only hold its own bucket's keys, but a
              // prev dir shared by several buckets (never the case under
              // this writer — one dir per bucket) would over-read; filter
              // keeps the merge window scoped to the touched slice
              .filter(col("__bucket").isin(touched.toSeq.map(Int.box): _*))

          // VERSION-GUARDED MERGE (the Iceberg `WHEN MATCHED AND
          // s.version > t.version THEN UPDATE` shape): one resolution
          // window over touched-base ∪ batch keeps the max-version row per
          // key — an out-of-order or late-replayed batch carrying a STALE
          // version can never regress a key. Ties break by content hash so
          // the winner is independent of shuffle order AND of which side
          // carried the row; the single window also dedups within-batch
          // key collisions, so the merge is one shuffle over the touched
          // slice, not the table.
          val all = base.unionByName(batch)
          val payloadCols = all.columns.filter(_ != "__bucket")
          val w = Window.partitionBy(keyCols.map(col): _*)
            .orderBy(col(versionCol).desc,
              xxhash64(payloadCols.map(col).toIndexedSeq: _*).desc)
          val merged = all
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .drop("__rn")

          FsUtil.deleteRecursively(stagedData)
          merged
            .repartition(col("__bucket"), col(keyCols.head))
            .sortWithinPartitions((keyCols :+ versionCol).map(col): _*)
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(stagedData.toString)
        }
        (prev, touched, perBucket.values.sum)
      } finally batch.unpersist()
    }
    def snapshot(): Unit = {
      val (prev, touched, _) = staged
      // an all-dup touched bucket still re-elects its keepers, so every
      // touched bucket with ≥1 surviving key has a dir; a touched
      // bucket whose dir is absent (possible only if the merge emitted
      // zero rows for it — cannot happen under keep-max semantics, but
      // cheap to honor) falls back to its previous reference
      val written = touched.filter(k => Files.isDirectory(dataDir.resolve(s"__bucket=$k")))
      val manifest = prev ++ written.map(k => k -> dataDir.resolve(s"__bucket=$k").toString)
      val stagedSnap = Paths.get(outDir, "snapshots", s"_staging-v=$batchId")
      FsUtil.deleteRecursively(stagedSnap)
      Files.createDirectories(stagedSnap)
      Files.write(stagedSnap.resolve("manifest"),
        manifest.toSeq.sortBy(_._1)
          .map { case (k, d) => s"$k\t$d" }.mkString("\n").getBytes("UTF-8"))
      FsUtil.publish(stagedSnap, manifestPath(batchId).getParent)
    }
    // the marker comes before the pointer: a reader between the two
    // still sees the previous consistent snapshot
    commit.steps(batchId, df, Seq(
      BatchCommit.Step("pin", () =>
        if (!Files.exists(bucketsPin)) FsUtil.replace(bucketsPin, numBuckets.toString.getBytes("UTF-8"))),
      BatchCommit.Step("stage", () => staged),
      BatchCommit.Step("publish", () =>
        if (staged._2.nonEmpty) FsUtil.publish(stagedData, dataDir)),
      BatchCommit.Step("snapshot", () => snapshot())),
      s"""{"batch_id":$batchId,"rows":${staged._3}}""",
      Seq(BatchCommit.Step("swing", () =>
        if (latestCommitted.forall(_ < batchId))
          FsUtil.replace(latestPtr, s"$batchId".getBytes("UTF-8")))))
  }

}
