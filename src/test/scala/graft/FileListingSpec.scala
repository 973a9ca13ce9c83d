package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.ExactlyOnceSink

/** A micro-batch over many files and a read-back of many committed
  * sink batches list their paths on the driver: neither launches
  * Spark's parallel-listing job (see GraftSession's
  * `parallelPartitionDiscovery.threshold` default).
  */
class FileListingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `f` and returns the descriptions of the jobs it started. */
  private def jobDescriptions(f: => Unit): Seq[String] = {
    val descriptions = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      f
      assert(SparkBridge.drainListenerBus(spark.sparkContext, 30000))
    } finally spark.sparkContext.removeSparkListener(listener)
    descriptions.asScala.toSeq
  }

  private def listingJobs(ds: Seq[String]) =
    ds.filter(_.startsWith("Listing leaf files and directories"))

  test("a 40-file micro-batch lists its files on the driver") {
    val base = Files.createTempDirectory("listing_stream_").toString
    spark.range(0, 40, 1, 40).write.parquet(s"$base/in")
    assert(new java.io.File(s"$base/in").list().count(_.endsWith(".parquet")) == 40)
    var rows = 0L
    val jobs = jobDescriptions {
      val q = spark.readStream.schema("id LONG").parquet(s"$base/in")
        .writeStream.format("noop")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      rows = q.recentProgress.map(_.numInputRows).sum
    }
    assert(rows == 40)
    assert(listingJobs(jobs).isEmpty, listingJobs(jobs).mkString("\n"))
  }

  test("reading back 40 committed sink batches lists them on the driver") {
    val base = Files.createTempDirectory("listing_sink_").toString
    val sink = new ExactlyOnceSink(s"$base/out", Seq("id"))
    (0 until 40).foreach(b => sink.write(Seq(b.toLong).toDF("id"), b.toLong))
    var rows = 0L
    val jobs = jobDescriptions { rows = sink.readCommitted(spark).count() }
    assert(rows == 40)
    assert(listingJobs(jobs).isEmpty, listingJobs(jobs).mkString("\n"))
  }
}
