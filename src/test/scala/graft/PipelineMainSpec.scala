package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sink.{ExactlyOnceSink, UpsertSink}

/** Boot-time configuration guards of the deployable app — the
  * reference refuses to start with zero enabled mappers
  * (/root/reference/src/main/java/de/unimarburg/diz/labtofhir/processor/LabToFhirProcessor.java:26-29,
  * mapper/AimLabMapper.java:35); PipelineMain mirrors that with
  * `--pipelines` selection + refusal on empty/invalid selections
  * (main exits 2 on these IllegalArgumentExceptions).
  */
class PipelineMainSpec extends AnyFunSuite {

  test("default selection: core pipelines; join auto-enables with --updates") {
    assert(PipelineMain.selectPipelines(Map.empty) ==
      Seq("mapped", "dedup", "rollup", "sessions"))
    assert(PipelineMain.selectPipelines(Map("updates" -> "/x")) ==
      Seq("mapped", "dedup", "rollup", "sessions", "join"))
  }

  test("--pipelines narrows the set and preserves order, deduplicated") {
    assert(PipelineMain.selectPipelines(Map("pipelines" -> "dedup")) == Seq("dedup"))
    assert(PipelineMain.selectPipelines(
      Map("pipelines" -> "rollup, mapped, rollup")) == Seq("rollup", "mapped"))
  }

  test("zero pipelines enabled → refusal (boot failure)") {
    val e = intercept[IllegalArgumentException] {
      PipelineMain.selectPipelines(Map("pipelines" -> ""))
    }
    assert(e.getMessage.contains("no pipelines enabled"))
    intercept[IllegalArgumentException] {
      PipelineMain.selectPipelines(Map("pipelines" -> " , "))
    }
  }

  test("unknown pipeline name and join-without-updates → refusal") {
    val e = intercept[IllegalArgumentException] {
      PipelineMain.selectPipelines(Map("pipelines" -> "mapped,bogus"))
    }
    assert(e.getMessage.contains("bogus"))
    val e2 = intercept[IllegalArgumentException] {
      PipelineMain.selectPipelines(Map("pipelines" -> "join"))
    }
    assert(e2.getMessage.contains("--updates"))
  }

  /** One run of five pipelines (both sink kinds) over the staged
    * sf0.001 clips, shared by the end-to-end and the resume test.
    */
  private lazy val e2e = {
    val spark = TestSpark.spark
    val out = Files.createTempDirectory("pipe_e2e_").toString
    graft.synth.ClipGen.stagedClips(spark, "/root/testdata/sf0.001").head(1)
    val input = graft.synth.ClipGen.clipsTablePath("/root/testdata/sf0.001")
    val opt = Map("input" -> input, "output" -> out, "checkpoint" -> s"$out/_ckpt")
    (opt, PipelineMain.run(spark, opt, Seq("mapped", "dedup", "rollup", "sessions", "upsert")))
  }

  private def exactlyOnce(r: PipelineMain.PipelineRun, name: String): ExactlyOnceSink =
    r.sinks(name) match { case s: ExactlyOnceSink => s }

  /** The `reconciled` field of a sink's JSON reconciliation record. */
  private def reconciled(record: String): Boolean =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(record)
      .path("reconciled").asBoolean(false)

  test("end-to-end run reconciles: Σ lineage = committed rows; mapped = input − quarantined") {
    val spark = TestSpark.spark
    import spark.implicits._
    val (opt, r) = e2e
    val input = opt("input")
    // one sinks table, in pipeline order
    assert(r.sinks.keys.toSeq == Seq("mapped", "dedup", "rollup", "sessions", "upsert"))
    assert(r.sinks("upsert").isInstanceOf[UpsertSink])
    r.sinks.foreach { case (name, sink) =>
      val rec = sink.reconciliation(spark)
      assert(reconciled(rec), s"$name: $rec")
    }

    // lineage conservation per sink: each committed batch's partition
    // counts sum to its observed total, and the totals equal what a
    // reader of the committed data sees (D7)
    r.sinks.collect { case (name, sink: ExactlyOnceSink) => name -> sink }.foreach { case (name, sink) =>
      val lin = sink.lineage
      assert(lin.nonEmpty, s"$name committed no batches")
      lin.foreach(b => assert(b.partitionRows.sum == b.rows,
        s"$name batch ${b.batchId}: partitions ${b.partitionRows.sum} != total ${b.rows}"))
      assert(lin.map(_.rows).sum == sink.readCommitted(spark).count(),
        s"$name: lineage total != committed rows")
    }

    // row conservation across the decode map: committed mapped rows =
    // input − quarantined (nothing silently lost, nothing duplicated)
    val clips = spark.read.parquet(input).as[graft.model.Clip]
    val inputRows = clips.count()
    // each query reads every input row once: a sink that runs several
    // jobs per batch must not make its query read the batch again
    r.sinks.keys.foreach { name =>
      assert(r.listener.totalInputRows(s"graft_$name") == inputRows,
        s"$name: listener rows ${r.listener.totalInputRows(s"graft_$name")} != input $inputRows")
    }
    // the upsert records count the same rows the query read
    assert(new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(r.sinks("upsert").reconciliation(spark)).path("input_rows").asLong() == inputRows)
    val quarantined = graft.streaming.ClipPipeline.quarantineStage(clips).count()
    val mappedRows = exactlyOnce(r, "mapped").readCommitted(spark).count()
    assert(quarantined > 0, "fixture must exercise the quarantine path")
    assert(mappedRows == inputRows - quarantined,
      s"mapped $mappedRows != input $inputRows - quarantined $quarantined")

    // dedup decisions: single-batch AvailableNow drains every input row
    assert(exactlyOnce(r, "dedup").readCommitted(spark).count() == inputRows)

    // sessions: the committed closed-session set must equal the
    // single-batch model (per key: event-time order, split at the
    // 30-min gap; every split-closed session emits, the final open one
    // only if lastEvent + gap < global max − 10-min watermark) and
    // conserve rows: Σ n_records over committed sessions + withheld
    // open-session rows = input rows
    val gapUs = 30L * 60 * 1000 * 1000
    val wmUs = 10L * 60 * 1000 * 1000
    val byKey = spark.read.parquet(input)
      .select("clip_id", "event_time").as[(String, java.time.LocalDateTime)]
      .collect()
      .map { case (k, t) =>
        (k, t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L) }
      .groupBy(_._1)
    val maxUs = byKey.values.flatten.map(_._2).max
    var expectedClosed = 0L
    var withheldRows = 0L
    byKey.values.foreach { rows =>
      val ts = rows.map(_._2).sorted
      val sessions = ts.foldLeft(List.empty[List[Long]]) {
        case (Nil, t) => List(List(t))
        case (cur :: done, t) =>
          if (t > cur.head + gapUs) List(t) :: cur :: done
          else (t :: cur) :: done
      }
      val (open :: closed) = sessions: @unchecked // head = latest session
      expectedClosed += closed.size
      // engine ms arithmetic: close timer = µs close rounded UP to ms,
      // watermark = µs max truncated DOWN to ms minus the delay — a
      // µs-exact comparison would flake within 1 ms of the boundary
      val timerMs = Math.floorDiv(open.head + gapUs + 999, 1000)
      val wmMs = Math.floorDiv(maxUs, 1000) - wmUs / 1000
      if (timerMs < wmMs) expectedClosed += 1
      else withheldRows += open.size
    }
    val committedSessions = exactlyOnce(r, "sessions").readCommitted(spark)
    assert(committedSessions.count() == expectedClosed,
      s"sessions: committed ${committedSessions.count()} != model $expectedClosed")
    val committedRecords = committedSessions
      .agg(org.apache.spark.sql.functions.sum("n_records")).head().getLong(0)
    assert(committedRecords + withheldRows == inputRows,
      s"session row conservation: $committedRecords committed + $withheldRows withheld != $inputRows input")

    // upsert: the merged snapshot is exactly the latest-event-time row
    // per clip_id of the input (version-guarded MERGE conservation:
    // one row per distinct key, each the argmax of its key)
    val merged = r.sinks("upsert").asInstanceOf[UpsertSink].readLatest(spark)
      .select("clip_id", "transcript", "ver")
    val expectedKeys = spark.read.parquet(input)
      .select("clip_id").distinct().count()
    assert(merged.count() == expectedKeys,
      s"upsert: merged ${merged.count()} rows != $expectedKeys distinct input keys")
    val expectedWinners = {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions.{col, row_number, unix_micros}
      spark.read.parquet(input)
        .withColumn("ver", unix_micros(col("event_time").cast("timestamp")))
        .withColumn("rn", row_number().over(
          Window.partitionBy("clip_id").orderBy(col("ver").desc)))
        .filter(col("rn") === 1)
        .select("clip_id", "transcript", "ver")
    }
    assert(merged.exceptAll(expectedWinners).isEmpty &&
      expectedWinners.exceptAll(merged).isEmpty,
      "upsert: merged snapshot differs from per-key latest-version winners")
  }

  test("a second --once run with no new input commits nothing and changes no sink file") {
    val spark = TestSpark.spark
    val (opt, first) = e2e
    val out = Paths.get(opt("output"))
    // every sink file, keyed by its path under the output root; the
    // checkpoint (Spark's own logs) is left out
    def files(): Map[String, String] = {
      val walk = Files.walk(out)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.startsWith(out.resolve("_ckpt")))
        .map((p: Path) => out.relativize(p).toString ->
          java.security.MessageDigest.getInstance("MD5").digest(Files.readAllBytes(p))
            .map("%02x".format(_)).mkString)
        .toMap
      finally walk.close()
    }
    val before = files()
    val commitsBefore = first.sinks.map { case (n, s) => n -> s.committedBatchIds }
    val again = PipelineMain.run(spark, opt + ("once" -> "true"), first.sinks.keys.toSeq)
    assert(again.sinks.map { case (n, s) => n -> s.committedBatchIds } == commitsBefore)
    val after = files()
    val changed = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(changed.isEmpty, s"sink files changed by the resumed run: ${changed.toSeq.sorted.mkString(", ")}")
    // every sink reconciles from its committed records alone, with no
    // new input in this run
    again.sinks.foreach { case (name, sink) =>
      val rec = sink.reconciliation(spark)
      assert(reconciled(rec), s"$name after the resumed run: $rec")
    }
  }

  test("budget pipeline: per-source prefix conservation without --rocksdb") {
    val spark = TestSpark.spark
    import spark.implicits._
    assert(PipelineMain.selectPipelines(Map("pipelines" -> "budget")) == Seq("budget"))
    val out = java.nio.file.Files.createTempDirectory("pipe_budget_").toString
    graft.synth.ClipGen.stagedClips(spark, "/root/testdata/sf0.001").head(1)
    val input = graft.synth.ClipGen.clipsTablePath("/root/testdata/sf0.001")
    // transformWithState is RocksDB-only: run selects the RocksDB
    // provider itself, without --rocksdb, and restores the session's value
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val providerBefore = spark.conf.getOption(provider)
    val r = PipelineMain.run(spark,
      Map("input" -> input, "output" -> out, "checkpoint" -> s"$out/_ckpt",
        "token-budget" -> "200"),
      Seq("budget"))
    assert(spark.conf.getOption(provider) == providerBefore)
    val per = exactlyOnce(r, "budget").readCommitted(spark)
      .groupBy(col("source"))
      .agg(max(col("cum_tokens")).as("max_cum"), sum(col("n_tok")).as("tot"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("adm"),
        count(lit(1)).as("n"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(per.nonEmpty)
    per.foreach { case (src, maxCum, tot, adm, n) =>
      // the running total survived every batch boundary iff the max
      // committed prefix equals the source's full token count
      assert(maxCum == tot, s"$src prefix broken: max cum $maxCum != total $tot")
      assert(adm <= n)
    }
    assert(per.map(_._4).sum > 0, "no source admitted anything")
    assert(per.exists { case (_, _, _, adm, n) => adm < n },
      "budget never cut — the 200-token budget should reject some clips")
  }

  test("parseArgs: value flags, boolean flags, malformed input") {
    val o = PipelineMain.parseArgs(Array(
      "--input", "/a", "--rocksdb", "--strict-max-failures", "3"))
    assert(o == Map("input" -> "/a", "rocksdb" -> "true",
      "strict-max-failures" -> "3"))
    intercept[IllegalArgumentException] {
      PipelineMain.parseArgs(Array("--input")) // missing value
    }
    intercept[IllegalArgumentException] {
      PipelineMain.parseArgs(Array("stray"))
    }
    Seq(Array("--master", "x"), Array("--shuffle-partitions", "8"),
      Array("--watermak", "5")).foreach { a =>
      val e = intercept[IllegalArgumentException](PipelineMain.parseArgs(a))
      assert(e.getMessage.contains(s"unknown option ${a.head}"))
    }
  }

  test("a failing query surfaces its own error, stops its siblings and detaches the listener") {
    val spark = TestSpark.spark
    val out = java.nio.file.Files.createTempDirectory("pipe_fail_").toString
    graft.synth.ClipGen.stagedClips(spark, "/root/testdata/sf0.001").head(1)
    val input = graft.synth.ClipGen.clipsTablePath("/root/testdata/sf0.001")
    // the staged input holds unknown-codec clips: mapped fails on its
    // first micro-batch while dedup, under --interval, would run forever
    val opt = PipelineMain.parseArgs(Array("--interval", "1 second",
      "--pipelines", "mapped,dedup", "--strict-max-failures", "0",
      "--input", input, "--output", out))
    val listenersBefore = spark.streams.listListeners().length
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      PipelineMain.run(spark, opt, PipelineMain.selectPipelines(opt))
    }
    assert(e.getMessage.contains("strict mode") || Option(e.getCause)
      .exists(_.toString.contains("strict mode")), s"got: ${e.getMessage}")
    assert(!spark.streams.active.exists(q => Option(q.name).exists(_.startsWith("graft_"))),
      s"left running: ${spark.streams.active.map(_.name).mkString(", ")}")
    assert(spark.streams.listListeners().length == listenersBefore)
  }
}
