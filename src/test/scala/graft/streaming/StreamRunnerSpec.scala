package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Driving several streaming queries to completion together. */
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
}
