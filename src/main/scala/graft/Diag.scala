package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic entry point (NOT part of the frozen `SparkEntry`/`Bench`
  * contract — `Bench.scala` stays the artifact of record), one
  * subcommand per job, each on the exact [[GraftSession]]
  * configuration:
  *
  *  - `run <query> [sfDir] [reps]` times one registered query and
  *    prints its formatted physical plan — the plan-iteration loop
  *    (`.explain` until it's the plan you'd want) without paying for
  *    the whole query suite (sfDir default sf0.1, 3 reps).
  *  - `bench <query> [query...]` prints per-pass wall time (gc +
  *    pass, the Bench discipline) plus every streaming micro-batch's
  *    progress JSON — the durationMs breakdown (addBatch / getBatch /
  *    queryPlanning / walCommit / commitOffsets / triggerExecution) and
  *    state-store metrics the noop-sink wall number alone cannot
  *    attribute, then the pass's post-GC heap (`heap_after_gc_mb=`),
  *    which shows whether finished queries left memory or state
  *    behind. `SPARK_GRAFT_SF_DIR` (default sf0.1) and
  *    `SPARK_GRAFT_REPS` (default 2) select scale and passes.
  *  - `explain [query...]` prints `explain("formatted")` for the named
  *    queries (or a default set of plan-sensitive ones) at local[4] on
  *    `SPARK_GRAFT_SF_DIR` (default sf0.001), so pushdown / pruning /
  *    join strategies can be reviewed per round.
  *  - `updates <outDir> [sfDir]` writes the transcript-update table for
  *    `PipelineMain --updates` runs (sfDir default sf0.001).
  *
  * `run` and `bench` use `local[SPARK_GRAFT_CPUS]` (unset: the host's
  * cores, at most 16 — [[GraftSession.localCpus]]).
  * Usage: `runMain graft.Diag <subcommand> [args...]`.
  */
object Diag {

  private val testdata = "/root/testdata"

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: name :: rest =>
      runOne(name, rest.lift(0).getOrElse(s"$testdata/sf0.1"),
        rest.lift(1).map(_.toInt).getOrElse(3))
    case "bench" :: names if names.nonEmpty => bench(names)
    case "explain" :: names => explain(names)
    case "updates" :: outDir :: rest =>
      updates(outDir, rest.headOption.getOrElse(s"$testdata/sf0.001"))
    case _ =>
      System.err.println("usage: Diag run <query> [sfDir] [reps] | " +
        "bench <query> [query...] | explain [query...] | updates <outDir> [sfDir]")
      sys.exit(2)
  }

  private def cpus = GraftSession.localCpus()

  private def withSession(master: String, partitions: String,
      logLevel: String)(f: SparkSession => Unit): Unit = {
    val spark = GraftSession.builder(master, partitions).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    try f(spark) finally spark.stop()
  }

  private def noopPass(spark: SparkSession, name: String, sfDir: String): Double = {
    System.gc()
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def runOne(name: String, sfDir: String, reps: Int): Unit =
    withSession(s"local[$cpus]", cpus, "WARN") { spark =>
      println(s"=== $name @ $sfDir ===")
      (0 until reps).foreach { i =>
        println(f"pass $i: ${noopPass(spark, name, sfDir)}%.3f s")
      }
      println(SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }

  private def bench(names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    withSession(s"local[$cpus]", cpus, "WARN") { spark =>
      val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.add(e.progress.json)
      })
      names.foreach { name =>
        println(s"=== $name @ $sfDir (local[$cpus]) ===")
        (0 until reps).foreach { i =>
          progress.clear()
          println(f"pass $i: ${noopPass(spark, name, sfDir)}%.3f s")
          // progress events arrive on the async listener bus
          if (!org.apache.spark.sql.graftbridge.SparkBridge
              .drainListenerBus(spark.sparkContext, 30000L))
            System.err.println("[diag] listener bus not drained in 30s")
          import scala.jdk.CollectionConverters._
          progress.asScala.foreach(j => println(s"  progress: $j"))
          System.gc()
          val rt = Runtime.getRuntime
          println(s"heap_after_gc_mb=${(rt.totalMemory - rt.freeMemory) >> 20}")
        }
      }
    }
  }

  private def explain(names: Seq[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$testdata/sf0.001")
    val selected =
      if (names.nonEmpty) names
      else Seq("q02_filter_project", "q03_join_agg", "q15_range_join",
        "q16_asof_join", "q41_salted_rollup", "q31_minhash_pairs",
        "q70_sample_quota", "q73_decontam")
    withSession("local[4]", "4", "ERROR") { spark =>
      selected.foreach { n =>
        println(s"\n========== $n ==========")
        try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"failed: ${e.getMessage}") }
      }
    }
  }

  private def updates(outDir: String, sfDir: String): Unit =
    withSession("local[4]", "4", "WARN") { spark =>
      graft.synth.ClipGen.transcriptUpdates(spark, sfDir)
        .write.mode("overwrite").parquet(outDir)
    }
}
