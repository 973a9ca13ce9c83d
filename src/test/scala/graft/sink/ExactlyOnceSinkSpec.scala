package graft.sink

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Exactly-once delivery (SURVEY.md §2.8 D2/D7): restart from
  * checkpoint must produce zero duplicate and zero dropped rows, with
  * per-partition lineage recorded per committed batch.
  */
class ExactlyOnceSinkSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Input laid out as several parquet files so maxFilesPerTrigger=1
    * yields several micro-batches.
    */
  private def writeInput(dir: String, nFiles: Int, rowsPerFile: Int): Unit =
    (0 until nFiles).foreach { f =>
      (0 until rowsPerFile)
        .map(i => (f.toLong * rowsPerFile + i, s"v-$f-$i"))
        .toDF("id", "payload")
        .coalesce(1)
        .write.mode("append").parquet(dir)
    }

  private def stream(inDir: String): DataFrame =
    spark.readStream
      .schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir)

  test("kill mid-stream + restart from checkpoint: no dups, no drops, lineage per batch") {
    val base = Files.createTempDirectory("eo_sink_test_").toString
    val inDir = s"$base/in"
    val outDir = s"$base/out"
    val ckpt = s"$base/ckpt"
    writeInput(inDir, nFiles = 5, rowsPerFile = 100)
    val sink = new ExactlyOnceSink(outDir, Seq("id"))

    // phase 1: process a couple of batches, then kill the query
    val q1 = stream(inDir).writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        sink.write(df, id)
        if (id >= 1) throw new RuntimeException("injected crash after batch 1")
      }
      .option("checkpointLocation", ckpt)
      .start()
    intercept[Exception] { q1.awaitTermination() }
    val committedAfterCrash = sink.committedBatchIds
    assert(committedAfterCrash.nonEmpty, "at least one batch committed before crash")

    // phase 2: restart from the same checkpoint; replayed batch ids are
    // skipped by the sink (idempotent), the rest are processed
    val q2 = stream(inDir).writeStream
      .foreachBatch((df: DataFrame, id: Long) => sink.write(df, id))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q2.awaitTermination()

    val out = sink.readCommitted(spark)
    assert(out.count() == 500, "exactly the input row count — no dups, no drops")
    assert(out.select("id").distinct().count() == 500)

    // explicit replay of an already-committed batch is a no-op
    val before = out.count()
    sink.write(Seq((999L, "dup")).toDF("id", "payload"), committedAfterCrash.head)
    assert(sink.readCommitted(spark).count() == before)

    // lineage: one record per committed batch, its commit marker
    val lin = sink.lineage
    assert(lin.map(_.batchId) == sink.committedBatchIds)
    assert(lin.map(_.rows).sum == 500 && lin.forall(b => b.partitionRows.sum == b.rows))
    assert(!Files.exists(java.nio.file.Paths.get(outDir, "_lineage")), "no second copy of the record")
  }

  test("byte-stable output: same batch written twice from scratch is BYTE-identical") {
    val base = Files.createTempDirectory("eo_sink_det_").toString
    def scrambled(seed: Int) = (1 to 1000).map(i => (i.toLong, s"p$i"))
      .toDF("id", "payload")
      .repartition(4 + seed) // different incoming partitioning each time
    val s1 = new ExactlyOnceSink(s"$base/a", Seq("id"))
    val s2 = new ExactlyOnceSink(s"$base/b", Seq("id"))
    s1.write(scrambled(0), 0)
    s2.write(scrambled(3), 0)

    def fileHashes(dir: String): Seq[String] = {
      val d = new java.io.File(s"$dir/data/batch=0")
      d.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map { f =>
          val md = java.security.MessageDigest.getInstance("SHA-256")
          md.digest(Files.readAllBytes(f.toPath)).map(b => f"$b%02x").mkString
        }.toSeq
    }
    val (h1, h2) = (fileHashes(s"$base/a"), fileHashes(s"$base/b"))
    assert(h1.nonEmpty)
    assert(h1 == h2, "replayed output files must be byte-identical")
    assert(s1.readCommitted(spark).count() == 1000)
  }

  test("empty committed batches: readCommitted returns 0 rows (no schema-inference crash); lineage parses") {
    // foreachBatch fires for empty micro-batches too; FileFormatWriter
    // writes only _SUCCESS for them, so a sink whose every batch is
    // empty used to crash spark.read.parquet with unreadable-schema —
    // PipelineMain's reconciliation summary must survive this.
    val base = Files.createTempDirectory("eo_sink_empty_").toString
    val sink = new ExactlyOnceSink(base, Seq("id"))
    val empty = Seq.empty[(Long, String)].toDF("id", "payload")
    sink.write(empty, 0)
    sink.write(empty, 1)
    assert(sink.committedBatchIds == Seq(0L, 1L))
    assert(sink.readCommitted(spark).count() == 0)
    val lin = sink.lineage
    assert(lin.map(_.rows) == Seq(0L, 0L))
    assert(lin.forall(b => b.partitionRows.sum == b.rows))
    // a mixed sink (one empty + one non-empty batch) reads the data
    sink.write((1 to 5).map(i => (i.toLong, s"p$i")).toDF("id", "payload"), 2)
    assert(sink.readCommitted(spark).count() == 5)
  }

  test("a corrupt commit marker fails naming its batch") {
    val base = Files.createTempDirectory("eo_sink_lin_").toString
    val sink = new ExactlyOnceSink(base, Seq("id"))
    sink.write((1 to 10).map(i => (i.toLong, s"p$i")).toDF("id", "payload"), 0)
    assert(sink.lineage.map(_.rows) == Seq(10L))
    // a torn document, and a JSON object without the counts → a
    // descriptive failure, not NoSuchElement
    Seq("{broken", "{}").foreach { content =>
      Files.writeString(java.nio.file.Paths.get(base, "_commits", "0"), content)
      val e = intercept[IllegalStateException](sink.lineage)
      assert(e.getMessage.contains("batch 0"), s"$content: ${e.getMessage}")
    }
  }
}
