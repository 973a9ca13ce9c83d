package graft.sink

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.streaming.{ClipMeta, StreamRunner, TwsDedup}

/** The sinks' one commit protocol under a crash after every step: a
  * query that runs the first k steps of batch 1 and dies, then resumes
  * from its checkpoint, must leave the files a crash-free run leaves.
  */
class BatchCommitSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** One parquet file `f<i>.parquet` per frame under `dir`, with
    * increasing mtimes (the order a capped file stream reads them in).
    */
  private def layout(dir: Path, frames: Seq[DataFrame]): Unit = {
    Files.createDirectories(dir)
    frames.zipWithIndex.foreach { case (frame, i) =>
      val stage = dir.resolveSibling(s"${dir.getFileName}_stage$i")
      frame.coalesce(1).write.parquet(stage.toString)
      val part = FsUtil.list(stage).find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(s"f$i.parquet"))
      Files.setLastModifiedTime(dir.resolve(s"f$i.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 5000L))
    }
  }

  /** relative path → MD5 of every file under `root`; part files keyed
    * by part number, the root path in text files normalized.
    */
  private def files(root: Path): Map[String, String] =
    Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
      val rel = root.relativize(p).toString.replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1")
      val bytes = Files.readAllBytes(p)
      val content =
        if (rel.endsWith(".parquet")) bytes
        else new String(bytes, "UTF-8").replace(root.toString, "<root>").getBytes("UTF-8")
      rel -> java.security.MessageDigest.getInstance("MD5").digest(content)
        .map("%02x".format(_)).mkString
    }.toMap

  /** For each k in 0..steps: a fresh sink whose query runs the first k
    * steps of batch 1 and throws, then resumes from its checkpoint with
    * AvailableNow. Each run's files must equal a crash-free run's, and
    * `check` holds on the resumed sink.
    */
  private def crashMatrix[S](base: Path, stream: () => DataFrame, open: String => S,
      write: S => (DataFrame, Long) => Unit,
      steps: S => (DataFrame, Long) => Seq[BatchCommit.Step])(check: S => Unit): Unit = {
    def run(name: String, crashAfter: Option[Int]): S = {
      val sink = open(base.resolve(name).resolve("out").toString)
      val ckpt = base.resolve(name).resolve("ckpt").toString
      crashAfter.foreach { k =>
        val q = stream().writeStream.foreachBatch { (df: DataFrame, id: Long) =>
          if (id == 1) {
            steps(sink)(df, id).take(k).foreach(_.run())
            throw new IllegalStateException(s"crash after $k steps of batch 1")
          }
          write(sink)(df, id)
        }.option("checkpointLocation", ckpt).start()
        intercept[StreamingQueryException](q.awaitTermination())
      }
      stream().writeStream.foreachBatch(write(sink))
        .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      check(sink)
      sink
    }
    run("reference", None)
    val expected = files(base.resolve("reference").resolve("out"))
    val n = steps(open(base.resolve("names").toString))(spark.emptyDataFrame, 0).size
    (0 to n).foreach { k =>
      run(s"crash$k", Some(k))
      val got = files(base.resolve(s"crash$k").resolve("out"))
      assert(got == expected, s"crash after $k steps: files differ from the crash-free run")
    }
  }

  private def eoCheck(sink: ExactlyOnceSink): Unit = {
    val lin = sink.lineage
    assert(lin.map(_.rows).sum == sink.readCommitted(spark).count(), "Σ lineage = committed rows")
    assert(lin.forall(b => b.partitionRows.sum == b.rows), s"per-batch partition counts: $lin")
  }

  test("steps of each sink are named in protocol order; a committed batch only drains and rolls forward") {
    val base = Files.createTempDirectory("commit_steps_")
    val eo = new ExactlyOnceSink(base.resolve("eo").toString, Seq("id"))
    assert(eo.steps(spark.emptyDataFrame, 0).map(_.name) == Seq("stage", "publish", "mark"))
    val up = new UpsertSink(base.resolve("up").toString, Seq("k"), "v")
    assert(up.steps(spark.emptyDataFrame, 0).map(_.name) ==
      Seq("pin", "stage", "publish", "snapshot", "mark", "swing"))
    assert(!Files.exists(base.resolve("eo")) && !Files.exists(base.resolve("up")),
      "building the steps does no work")
    eo.write(spark.range(3).toDF("id"), 0)
    up.write(Seq(("a", 1)).toDF("k", "v"), 0)
    assert(eo.steps(spark.emptyDataFrame, 0).map(_.name) == Seq("drain"))
    assert(up.steps(spark.emptyDataFrame, 0).map(_.name) == Seq("drain", "swing"))
  }

  test("exactly-once sink: a crash after any step of a batch resumes to the crash-free files") {
    val base = Files.createTempDirectory("commit_eo_")
    layout(base.resolve("in"), (0 until 3).map { f =>
      spark.range(f * 40L, f * 40L + 40)
        .select(col("id"), concat(lit("p"), col("id")).as("payload"),
          timestamp_seconds(col("id") * 60).as("event_time"))
    })
    def stream() = spark.readStream.schema("id LONG, payload STRING, event_time TIMESTAMP")
      .option("maxFilesPerTrigger", 1).parquet(base.resolve("in").toString)
    crashMatrix[ExactlyOnceSink](base, () => stream(), new ExactlyOnceSink(_, Seq("id")),
      _.write, s => s.steps _) { sink =>
      eoCheck(sink)
      assert(sink.committedBatchIds == Seq(0L, 1L, 2L))
      assert(sink.readCommitted(spark).count() == 120)
    }
  }

  test("upsert sink: a crash after any step of a batch resumes to the crash-free files") {
    val base = Files.createTempDirectory("commit_upsert_")
    // overlapping keys: file f holds k<10f>..k<10f+19> at version f
    layout(base.resolve("in"), (0 until 3).map { f =>
      (10 * f until 10 * f + 20).map(i => (s"k$i", f, s"p$i-$f")).toDF("k", "v", "payload")
    })
    def stream() = spark.readStream.schema("k STRING, v INT, payload STRING")
      .option("maxFilesPerTrigger", 1).parquet(base.resolve("in").toString)
    crashMatrix[UpsertSink](base, () => stream(), new UpsertSink(_, Seq("k"), "v"),
      _.write, s => s.steps _) { sink =>
      val merged = sink.readLatest(spark)
      assert(merged.count() == 40, "merged rows = distinct keys")
      assert(merged.select("k").distinct().count() == 40)
      assert(merged.filter(col("k") === "k15").select("v").as[Int].collect().toSeq == Seq(1))
      assert(sink.committedBatchIds == Seq(0L, 1L, 2L))
      assert(sink.latestCommitted.contains(2L), "_latest names the last batch")
      // each batch's record counts its 20 rows once, however often it ran
      assert(sink.reconciliation(spark).contains("\"input_rows\":60,\"reconciled\":true"),
        sink.reconciliation(spark))
    }
  }

  test("exactly-once sink over a RocksDB transformWithState dedup: a crash after any step replays state") {
    val base = Files.createTempDirectory("commit_tws_")
    def meta(id: String, eventId: Long) = ClipMeta(id, 8000, 100, "pcm16le", s"t$eventId",
      new java.sql.Timestamp(1700000000000L + eventId * 1000L), eventId)
    // each file holds c0..c2 twice and c3, c4 once: occurrences count through the state
    layout(base.resolve("in"), (0 until 3).map { f =>
      (0 until 8).map(i => meta(s"c${i % 5}", f * 8L + i)).toDS().toDF()
    })
    def stream() = TwsDedup.dedupStageTws(spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[ClipMeta]].schema)
      .option("maxFilesPerTrigger", 1).parquet(base.resolve("in").toString)
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .withWatermark("event_time", "10 minutes")
      .as[ClipMeta]).toDF()
    TestSpark.withConf(spark, StreamRunner.RocksDB) {
      crashMatrix[ExactlyOnceSink](base, () => stream(),
        new ExactlyOnceSink(_, Seq("clip_id", "occurrence")), _.write, s => s.steps _) { sink =>
        eoCheck(sink)
        val occ = sink.readCommitted(spark).filter(col("clip_id") === "c0")
          .select("occurrence").as[Int].collect().sorted.toSeq
        assert(occ == (1 to 6), s"c0 occurs twice per file, numbered through the state: $occ")
      }
    }
  }

  test("mark publishes the whole record or nothing; a leftover tmp file is not a commit") {
    val base = Files.createTempDirectory("commit_mark_")
    val eo = new ExactlyOnceSink(base.toString, Seq("id"))
    eo.write(spark.range(3).toDF("id"), 0)
    // a mark that fails before its rename leaves no marker behind
    Files.createDirectories(base.resolve("_commits").resolve("1.tmp").resolve("occupied"))
    intercept[java.io.IOException](eo.write(spark.range(3, 5).toDF("id"), 1))
    assert(!Files.exists(base.resolve("_commits").resolve("1")))
    FsUtil.deleteRecursively(base.resolve("_commits").resolve("1.tmp"))
    // a torn tmp file of a crashed mark: only all-digit names count
    Files.writeString(base.resolve("_commits").resolve("1.tmp"), "{\"batch_id\":1,")
    assert(eo.committedBatchIds == Seq(0L))
    assert(eo.lineage.map(_.rows) == Seq(3L))
    eo.write(spark.range(3, 5).toDF("id"), 1)
    assert(eo.committedBatchIds == Seq(0L, 1L) && eo.lineage.map(_.rows) == Seq(3L, 2L))
    assert(FsUtil.list(base.resolve("_commits")).map(_.getFileName.toString).sorted == Seq("0", "1"))
  }

  test("FsUtil.replace: a write that fails before the rename leaves the old content") {
    val dir = Files.createTempDirectory("commit_replace_")
    val target = dir.resolve("_latest")
    FsUtil.replace(target, "1".getBytes("UTF-8"))
    Files.createDirectories(dir.resolve("_latest.tmp").resolve("occupied"))
    intercept[java.io.IOException](FsUtil.replace(target, "2".getBytes("UTF-8")))
    assert(Files.readString(target) == "1")
    FsUtil.deleteRecursively(dir.resolve("_latest.tmp"))
    FsUtil.replace(target, "2".getBytes("UTF-8"))
    assert(Files.readString(target) == "2" && FsUtil.list(dir) == Seq(target))
  }

  test("under src/main only FsUtil lists a directory; only BatchCommit and FsUtil name the marker dir, CREATE_NEW and ATOMIC_MOVE") {
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).map(p => p.getFileName.toString -> Files.readString(p)).toSeq
    def filesWith(token: String): Set[String] = sources.collect { case (n, s) if s.contains(token) => n }.toSet
    assert(filesWith("Files.list(") == Set("FsUtil.scala"))
    Seq("\"_commits\"", "CREATE_NEW", "ATOMIC_MOVE").foreach { token =>
      assert(filesWith(token).subsetOf(Set("BatchCommit.scala", "FsUtil.scala")), s"$token: ${filesWith(token)}")
    }
  }
}
