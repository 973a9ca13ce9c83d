package graftbench

import java.time.{LocalDateTime, ZoneOffset}

import org.apache.spark.sql.functions._

import graft.audio.Codecs
import graft.synth.ClipGen

/** Seeded clip-file generator, run before any timing and kept apart
  * from the program under test. It draws an events-shaped frame
  * (event_id, ts) from the seed and derives every clip through the
  * program's own public synthesis: `ClipGen.metaProjection` for the
  * metadata and `ClipGen.samplesFor` + `Codecs.encode` for the audio
  * bytes.
  *
  * The workload shape comes only from which event ids are drawn:
  * `short` keeps ids whose derived duration is at most 300 ms,
  * `long` keeps 44.1 kHz ids of at least 1.55 s. The seed picks the ids
  * within those sets, the event times and the disorder.
  *
  * Usage: GenClips <outDir> <seed> <files> <clipsPerFile> <short|long>
  *          <stepSeconds> <latePermille>
  * Writes one parquet table to `<outDir>/clips`, every row tagged with
  * the `file_no` it lands in.
  */
object GenClips {

  def accept(shape: String, id: Long): Boolean = shape match {
    case "short" => (id * 7) % 1951 <= 250
    case "long"  => id % 3 == 2 && (id * 7) % 1951 >= 1500
    case other   => throw new IllegalArgumentException(s"unknown shape $other")
  }

  def main(args: Array[String]): Unit = {
    val Array(outDir, seedS, filesS, perFileS, shape, stepS, lateS) = args
    val seed = seedS.toLong
    val files = filesS.toInt
    val perFile = perFileS.toInt
    val stepUs = (stepS.toDouble * 1e6).toLong
    val latePermille = lateS.toInt
    val rnd = new java.util.Random(seed)
    val base = LocalDateTime.of(2024, 1, 1, 0, 0)
    val baseUs = base.toEpochSecond(ZoneOffset.UTC) * 1000000L
    val seen = scala.collection.mutable.HashSet.empty[Long]
    val rows = for (f <- 0 until files; j <- 0 until perFile) yield {
      // the id's residue mod 20 follows the slot, so every seed gets the
      // same codec mix, hot-key share and quarantine share
      val slot = f * perFile + j
      var id = -1L
      while (id < 0 || id % 20 != slot % 20 || !accept(shape, id) || seen(id))
        id = (rnd.nextLong() >>> 1) % 10000000L
      seen += id
      val nominal = baseUs + f * stepUs + j * (stepUs / perFile)
      // bounded disorder: most rows up to 4 minutes early, a small
      // share 15-40 minutes early (beyond a 10-minute watermark)
      val lag =
        if (rnd.nextInt(1000) < latePermille) (15 * 60 + rnd.nextInt(25 * 60)) * 1000000L
        else rnd.nextInt(4 * 60) * 1000000L
      val us = nominal - lag
      val ts = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
        (Math.floorMod(us, 1000000L) * 1000).toInt, ZoneOffset.UTC)
      (id, ts, f)
    }

    val spark = graft.GraftSession.builder("local[4]", "4")
      .appName("graftbench-gen").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val ev = rows.toDF("event_id", "ts", "file_no")
    val meta = ClipGen.metaProjection(ev).join(ev.select("event_id", "file_no"), "event_id")
    val encode = udf { (codec: String, eventId: Long, srHz: Int, durMs: Int) =>
      if (codec == "unknown") Array.tabulate[Byte](16)(i => ((eventId + i) % 251).toByte)
      else Codecs.encode(codec, ClipGen.samplesFor(eventId, srHz, durMs))
    }
    meta
      .select(col("clip_id"),
        encode(col("codec"), col("event_id"), col("sr_hz"), col("dur_ms")).as("bytes"),
        col("sr_hz"), col("dur_ms"), col("codec"), col("transcript"),
        col("event_time"), col("file_no"))
      .repartition(1).write.parquet(s"$outDir/clips")

    spark.stop()
  }
}
