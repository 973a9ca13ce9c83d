package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Starting, sizing, awaiting and releasing streaming queries. */
class StreamRunnerSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("runAllToMemory surfaces the failure that happened first, without waiting for its sibling") {
    val base = Files.createTempDirectory("runall_").toString
    Seq("slow", "fast").foreach(d => spark.range(1).write.parquet(s"$base/$d"))
    def source(d: String) = spark.readStream.schema("id LONG").parquet(s"$base/$d")
    // the first query sleeps, then fails; the second fails at once
    val late = udf { (id: Long) =>
      Thread.sleep(30000)
      if (id >= 0) throw new IllegalStateException("late failure")
      id
    }
    val early = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("early failure")
      id
    }
    val t0 = System.nanoTime()
    val e = intercept[StreamingQueryException] {
      StreamRunner.runAllToMemory(Seq(
        source("slow").select(late(col("id")).as("id")) -> "append",
        source("fast").select(early(col("id")).as("id")) -> "append"))
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    assert(e.getMessage.contains("early failure"), e.getMessage)
    assert(!e.getMessage.contains("late failure"), e.getMessage)
    assert(elapsedS < 20, s"the failure surfaced after $elapsedS s, behind its sibling")
    assert(!spark.streams.active.exists(q => Option(q.name).exists(_.startsWith("graft_mem_"))),
      "the sibling query was left running")
  }

  test("memory-sink runs drop their graft_mem_* views; the returned frames still read") {
    import spark.implicits._
    val base = Files.createTempDirectory("runmem_").toString
    spark.range(10).write.parquet(s"$base/in")
    def source = spark.readStream.schema("id LONG").parquet(s"$base/in")
    val one = StreamRunner.runToMemory(source, "append")
    val (doubled, batches) =
      StreamRunner.runToMemoryCounted(source.select((col("id") * 2).as("id")), "append")
    val all = StreamRunner.runAllToMemory(Seq(
      source -> "append",
      source.agg(sum(col("id")).as("total")) -> "complete"))
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_mem_"))
    assert(left.isEmpty, s"memory-sink views left behind: ${left.mkString(", ")}")
    assert(one.as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(doubled.as[Long].collect().sorted.toSeq == (0L until 10L).map(_ * 2))
    assert(batches == 1)
    assert(all(0).orderBy(col("id")).as[Long].collect().toSeq == (0L until 10L))
    assert(all(1).as[Long].collect().toSeq == Seq(45L))
  }

  test("a query's source bytes are the bytes of its own source dirs, however it was opened") {
    val base = Files.createTempDirectory("srcbytes_").toString
    Seq("built" -> 50, "sized" -> 400, "plain" -> 3000)
      .foreach { case (d, n) => spark.range(n).write.parquet(s"$base/$d") }
    def dirBytes(d: String): Long = {
      val files = Files.list(Paths.get(base, d))
      try files.iterator.asScala.filter(Files.isRegularFile(_))
        .map((p: Path) => Files.size(p)).sum
      finally files.close()
    }
    val schema = new org.apache.spark.sql.types.StructType().add("id", "long")
    // built and never run: must not count toward the next query
    StreamRunner.parquetStream(spark, s"$base/built", schema)
    val sized = StreamRunner.parquetStream(spark, s"$base/sized", schema)
    assert(StreamRunner.sourceBytes(sized.select((col("id") + 1).as("id"))) ==
      dirBytes("sized"))
    // opened with a plain readStream: counted all the same
    val plain = spark.readStream.schema(schema).parquet(s"$base/plain")
    assert(StreamRunner.sourceBytes(plain) == dirBytes("plain"))
    // a union counts each of its sources
    assert(StreamRunner.sourceBytes(sized.unionByName(plain)) ==
      dirBytes("sized") + dirBytes("plain"))
  }

  test(".writeStream under src/main appears only in StreamRunner, PipelineMain (once) and ScalingBench") {
    val call = """\.\s*writeStream\b""".r
    val counts = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> call.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0).toMap
    val allowed = Set("StreamRunner.scala", "PipelineMain.scala", "ScalingBench.scala")
    assert(counts.keySet.subsetOf(allowed),
      s"streaming queries started outside StreamRunner: ${(counts -- allowed).mkString(", ")}")
    assert(counts.get("PipelineMain.scala").contains(1), s"PipelineMain: $counts")
  }
}
