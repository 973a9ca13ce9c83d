package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.audio.Codecs
import graft.model.{Clip, Schemas}
import graft.sink.{ExactlyOnceSink, UpsertSink}
import graft.streaming.ClipPipeline

/** Timed direct calls into single layers, on a workload's own landed
  * clip files (traced runs only):
  *
  *  - `Codecs.decode`, single-threaded, per codec: ns per decoded sample;
  *  - `ExactlyOnceSink.write` on the mapped pipeline's frame of one
  *    representative batch, replayed under fresh batch ids;
  *  - `UpsertSink.write` on the upsert pipeline's keyed frame of the
  *    same batch, replayed into one growing snapshot chain.
  *
  * Usage: LayerProbe <outDir> <reps> <batchFile>... ; prints one JSON line.
  */
object LayerProbe {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeMs(f: => Unit): Double = {
    val t = System.nanoTime()
    f
    (System.nanoTime() - t) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val reps = args(1).toInt
    val files = args.drop(2).toSeq
    // the same session settings PipelineMain builds for itself
    val spark = SparkSession.builder().master("local[4]").appName("graftbench-probe")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val batch = spark.read.schema(Schemas.clips).parquet(files: _*).as[Clip]
    val clips = batch.collect().toSeq

    // ---- audio decode, one thread
    val codecs = Seq("pcm16le", "ulaw", "alaw", "adpcm")
    val decodeNs = codecs.map { codec =>
      val mine = clips.filter(_.codec == codec).map(_.bytes)
      var samples = 0L
      def pass(): Unit = mine.foreach { b =>
        Codecs.decode(codec, b).foreach(s => samples += s.length)
      }
      // warm-up: let the JIT compile the decoders before timing
      val warm = System.nanoTime()
      while (System.nanoTime() - warm < 1000000000L) pass()
      val runs = (1 to 5).map { _ =>
        samples = 0L
        val t = System.nanoTime()
        pass()
        (System.nanoTime() - t).toDouble / math.max(1L, samples)
      }
      codec -> median(runs)
    }
    val quarantined = clips.count(c => Codecs.decode(c.codec, c.bytes).isLeft)

    // ---- sink commit protocols on one representative batch
    val mapped: DataFrame = ClipPipeline.decodeStage(batch).toDF()
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .localCheckpoint(true)
    val keyed: DataFrame = batch.toDF()
      .select(col("clip_id"), col("sr_hz"), col("dur_ms"), col("codec"),
        col("transcript"), col("event_time").cast("timestamp").as("event_time"))
      .withColumn("ver", unix_micros(col("event_time")))
      .localCheckpoint(true)
    val eo = new ExactlyOnceSink(s"$outDir/exactly_once", Seq("out_id"))
    val eoMs = (0 to reps).map(id => timeMs(eo.write(mapped, id.toLong))).drop(1)
    val up = new UpsertSink(s"$outDir/upsert", Seq("clip_id"), "ver")
    val upMs = (0 to reps).map(id => timeMs(up.write(keyed, id.toLong))).drop(1)

    val dec = decodeNs.map { case (c, v) => f""""$c":$v%.3f""" }.mkString("{", ",", "}")
    println(f"""{"probe":"layers","clips":${clips.size},"quarantined":$quarantined,"decode_ns_per_sample":$dec,"exactly_once_write_ms":${median(eoMs)}%.3f,"upsert_write_ms":${median(upMs)}%.3f,"batch_rows":${mapped.count()}}""")
    spark.stop()
  }
}
