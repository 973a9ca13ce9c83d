package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{SparkBridge, StateStoreBridge}
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
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
    val doubled = StreamRunner.runToMemory(source.select((col("id") * 2).as("id")), "append")
    val all = StreamRunner.runAllToMemory(Seq(
      source -> "append",
      source.agg(sum(col("id")).as("total")) -> "complete"))
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_mem_"))
    assert(left.isEmpty, s"memory-sink views left behind: ${left.mkString(", ")}")
    assert(one.as[Long].collect().sorted.toSeq == (0L until 10L))
    assert(doubled.as[Long].collect().sorted.toSeq == (0L until 10L).map(_ * 2))
    assert(all(0).orderBy(col("id")).as[Long].collect().toSeq == (0L until 10L))
    assert(all(1).as[Long].collect().toSeq == Seq(45L))
  }

  test("a query's source bytes are the bytes of its own source dirs, however it was opened") {
    val base = Files.createTempDirectory("srcbytes_").toString
    // parquetStream's default (one-batch) schedule takes one-file inputs
    Seq("built" -> 50, "sized" -> 400).foreach { case (d, n) =>
      spark.range(n).coalesce(1).write.parquet(s"$base/$d")
    }
    spark.range(3000).write.parquet(s"$base/plain")
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

  test("under src/main only StreamRunner starts, awaits or sets the conf of a streaming query") {
    val calls = Seq("""\.\s*writeStream\b""", """\bawaitTermination\b""", """\bwithConf\(""")
      .map(_.r)
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => calls.exists(_.findFirstIn(Files.readString(p)).isDefined))
      .map(_.getFileName.toString).toSet
    assert(files == Set("StreamRunner.scala"),
      s"streaming queries started or awaited outside StreamRunner: ${(files - "StreamRunner.scala").mkString(", ")}")
  }

  test("a start that throws stops the queries already started") {
    val base = Files.createTempDirectory("start_fails_").toString
    Seq("slow", "plain").foreach(d => spark.range(1).write.parquet(s"$base/$d"))
    def source(d: String) = spark.readStream.schema("id LONG").parquet(s"$base/$d")
    val slow = udf { (id: Long) => Thread.sleep(30000); id }
    // complete mode over a stream without an aggregate: start() throws
    intercept[org.apache.spark.sql.AnalysisException] {
      StreamRunner.runAllToMemory(Seq(
        source("slow").select(slow(col("id")).as("id")) -> "append",
        source("plain") -> "complete"))
    }
    assert(!spark.streams.active.exists(q => Option(q.name).exists(_.startsWith("graft_mem_"))),
      s"left running: ${spark.streams.active.map(_.name).mkString(", ")}")
  }

  /** `rows(i)` rows of `id` in file `f<i>.parquet` under `dir`, with
    * increasing mtimes (the order a capped file stream reads them in).
    */
  private def fileLayout(dir: Path, rows: Seq[Int]): Unit = {
    Files.createDirectories(dir)
    rows.zipWithIndex.foreach { case (n, i) =>
      val stage = dir.resolveSibling(s"${dir.getFileName}_stage$i")
      spark.range(n).coalesce(1).write.parquet(stage.toString)
      val parts = Files.list(stage)
      val part = try parts.iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get finally parts.close()
      val target = dir.resolve(s"f$i.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 5000L))
    }
  }

  test("the runner derives a query's data micro-batches from its sources' files and caps") {
    val base = Files.createTempDirectory("expected_batches_")
    fileLayout(base.resolve("three"), Seq(5, 5, 5))
    Files.write(base.resolve("three").resolve("_SUCCESS"), Array.emptyByteArray)
    Files.write(base.resolve("three").resolve(".hidden"), Array.emptyByteArray)
    fileLayout(base.resolve("one"), Seq(5))
    def open(d: String, cap: Option[(String, Int)]) = {
      val r = spark.readStream.schema("id LONG")
      cap.foreach { case (k, v) => r.option(k, v) }
      r.parquet(base.resolve(d).toString)
    }
    val capped = open("three", Some("maxfilespertrigger" -> 1))
    assert(StreamRunner.expectedDataBatches(capped).contains(3))
    assert(StreamRunner.expectedDataBatches(open("three", Some("maxFilesPerTrigger" -> 2)))
      .contains(2))
    assert(StreamRunner.expectedDataBatches(open("three", None)).contains(1))
    assert(StreamRunner.expectedDataBatches(capped.unionByName(open("one", None))).contains(3))
  }

  test("a run whose data micro-batches differ from what its sources imply fails naming both counts") {
    val dir = Files.createTempDirectory("short_schedule_").resolve("in")
    // three files read one per trigger imply 3 data batches, but the
    // middle file holds no rows, so only 2 batches carry input
    fileLayout(dir, Seq(4, 0, 4))
    val stream = spark.readStream.schema("id LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val e = intercept[IllegalStateException](StreamRunner.runToMemory(stream, "append"))
    assert(e.getMessage.contains("ran 2 data micro-batches"), e.getMessage)
    assert(e.getMessage.contains("imply 3"), e.getMessage)
    assert(e.getMessage.contains("graft_mem_"), e.getMessage)
  }

  test("a staged copy is rebuilt only when its fingerprint changes or its last build failed") {
    import graft.sink.FsUtil
    val dir = Files.createTempDirectory("staged_").resolve("copy")
    var builds = 0
    def stage(fp: String): Unit = FsUtil.staged(dir, fp) {
      builds += 1
      Files.write(dir.resolve(s"data$builds"), Array[Byte](1))
    }
    stage("v1")
    stage("v1")
    assert(builds == 1, "an unchanged fingerprint re-ran the build")
    stage("v2")
    assert(builds == 2, "a changed fingerprint did not re-run the build")
    val left = Files.list(dir)
    try assert(left.iterator.asScala.map(_.getFileName.toString).toSeq == Seq("data2"),
      "the rebuild did not start from an empty dir")
    finally left.close()
    intercept[IllegalStateException](FsUtil.staged(dir, "v3") {
      throw new IllegalStateException("build failed")
    })
    assert(!Files.exists(Paths.get(s"$dir.ok")), "a failed build left a marker")
    stage("v3")
    assert(builds == 3, "the build after a failed one did not run")
    stage("v3")
    assert(builds == 3)
  }

  test("maxFilesPerTrigger under src/main appears only in StreamRunner and ScalingBench; withStagingLock( only beside staged") {
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    def filesWith(text: String): Set[String] =
      sources.collect { case (name, src) if src.contains(text) => name }.toSet
    val capped = filesWith("maxFilesPerTrigger")
    assert(capped.subsetOf(Set("StreamRunner.scala", "ScalingBench.scala")),
      s"input schedules declared outside StreamRunner: ${capped.mkString(", ")}")
    val helper = filesWith("def staged(")
    assert(helper.size == 1, s"staged is defined in: ${helper.mkString(", ")}")
    assert(filesWith("withStagingLock(") == helper,
      s"staging locks taken outside the staged helper: ${filesWith("withStagingLock(").mkString(", ")}")
  }

  /** A one-file stream of clips `a`, `a`, `b` (a minute apart), keyed
    * and deduplicated through `transformWithState`.
    */
  private def twsDedup(): Dataset[graft.model.DedupDecision] = {
    import spark.implicits._
    val dir = Files.createTempDirectory("tws_run_").resolve("in").toString
    Seq("a" -> 1L, "a" -> 2L, "b" -> 3L).map { case (id, n) =>
      ClipMeta(id, 8000, 100, "pcm16le", s"t$n", new java.sql.Timestamp(n * 60000L), n)
    }.toDS().coalesce(1).write.parquet(dir)
    val clips = spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[ClipMeta]].schema)
      .parquet(dir)
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .withWatermark("event_time", "10 minutes")
      .as[ClipMeta]
    TwsDedup.dedupStageTws(clips)
  }

  test("a transformWithState query runs on RocksDB without a wrapper; the session's provider is left as found") {
    import spark.implicits._
    val provider = StreamRunner.RocksDB._1
    val before = spark.conf.getOption(provider)
    val rows = StreamRunner.runToMemory(twsDedup().toDF(), "append")
      .select("clip_id", "occurrence", "out_id").as[(String, Int, String)].collect().toSet
    assert(rows == Set(("a", 1, "a"), ("a", 2, "a_1"), ("b", 1, "b")))
    assert(spark.conf.getOption(provider) == before)
  }

  test("a finished runToSink query's state store providers are unloaded") {
    val ckpt = Files.createTempDirectory("tws_unload_").resolve("ckpt").toString
    val stateRoot = {
      val p = new org.apache.hadoop.fs.Path(ckpt)
      new org.apache.hadoop.fs.Path(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p),
        "state").toString
    }
    // query-started events reach the session's listeners synchronously
    val runIds = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        runIds.add(e.runId)
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    var partitions = 0
    var loadedInRun = 0
    var rows = 0L
    spark.streams.addListener(listener)
    try StreamRunner.runToSink(twsDedup().toDF(), ckpt) { (df: DataFrame, _: Long) =>
      rows += df.count()
      partitions = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      loadedInRun = (0 until partitions)
        .count(StateStoreBridge.isLoaded(stateRoot, _, runIds.peek()))
    } finally {
      assert(SparkBridge.drainListenerBus(spark.sparkContext, 30000))
      spark.streams.removeListener(listener)
    }
    assert(rows == 3)
    assert(runIds.size == 1)
    // the ids name the run's stores: they were loaded while it ran
    assert(loadedInRun > 0, s"none of $partitions state partitions found loaded in the run")
    val left = (0 until partitions).filter(StateStoreBridge.isLoaded(stateRoot, _, runIds.peek()))
    assert(left.isEmpty, s"state partitions still loaded after the run: ${left.mkString(", ")}")
  }

  test("no provider wrapper under src; under src/main only StreamRunner names the provider and writes session conf, beside GraftExtensions' defaults") {
    def sources(root: String) = Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    def filesWith(root: String, text: String): Set[String] =
      sources(root).collect { case (name, src) if src.contains(text) => name }.toSet
    // spelled in two parts so this file does not name it
    val wrapper = "with" + "RocksDB"
    assert(filesWith("src", wrapper).isEmpty,
      s"provider wrappers left: ${filesWith("src", wrapper).mkString(", ")}")
    assert(filesWith("src/main", "stateStore.providerClass") == Set("StreamRunner.scala"),
      s"state store provider named in: ${filesWith("src/main", "stateStore.providerClass").mkString(", ")}")
    val writers = filesWith("src/main", "conf.set(") ++ filesWith("src/main", "conf.unset(")
    assert(writers.subsetOf(Set("StreamRunner.scala", "GraftExtensions.scala")),
      s"session conf written outside StreamRunner: ${writers.mkString(", ")}")
  }
}
