package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Validates the multi-batch oracle MODELS (s11 dedup row-level late
  * filter, s14 tumbling append, s15 session two-round, s16 update
  * mode) on randomized and adversarial datasets the driver fixture
  * cannot produce. The s-queries prove the models on the fixture
  * distribution; here the same pinned schedule facts
  * (LateBoundarySpec) are re-implemented in plain Scala and compared
  * against the real engine run for seeds that include: a batch holding
  * the global max (final-flush watermark from the LAST batch), an
  * all-late final batch, and times quantized to window boundaries so
  * `end == watermark` ties actually occur.
  *
  * Schedule facts (all pinned in LateBoundarySpec):
  *  - late filter of batch N uses max event time through batch N−2
  *    minus the delay (−∞ for N ≤ 1);
  *  - eviction/emission of batch N (and the final no-data flush) uses
  *    max through batch N−1;
  *  - agg/session late filter is WINDOW-level (drop iff window end /
  *    prospective session end ≤ wm); fMGWS's is ROW-level (drop iff
  *    event_time ≤ wm); emission is `end <= wm`.
  */
class MultiBatchModelSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Hour = 3600L * 1000
  private val DelayMs = 2 * Hour // watermark delay: 2 hours
  private val WindowMs = Hour    // tumbling window: 1 hour
  private val GapMs = 30L * 60 * 1000 // session gap: 30 minutes
  private val Base = Timestamp.valueOf("2024-03-01 00:00:00").getTime

  private def meta(id: String, tMs: Long, eventId: Long): ClipMeta =
    ClipMeta(id, 8000, 100, codecOf(eventId), s"t$eventId",
      new Timestamp(tMs), eventId)

  /** Grouping key for the windowed/session tests. MUST be independent
    * of `event_id % 3` — the batch split — or every key lives in
    * exactly one micro-batch and the cross-batch merge/cumulative
    * paths the models exist to validate go vacuously untested (an
    * earlier draft used `event_id % 3` itself and masked a
    * one-batch-off eviction watermark in the session model).
    */
  private def codecOf(eventId: Long): String = {
    var x = eventId * 0x9e3779b97f4a7c15L + 0x1234567
    x ^= x >>> 17
    "c" + math.abs(x % 3)
  }

  /** Deterministic pseudo-random dataset split into 3 batches. */
  private def gen(seed: Int): Seq[Seq[ClipMeta]] = {
    def h(i: Int): Long = {
      var x = seed * 2654435761L + i * 40503L
      x ^= x >>> 16; x *= 0x45d9f3b; x ^= x >>> 16
      math.abs(x)
    }
    val n = 60
    val rows = (0 until n).map { i =>
      val tMs = seed match {
        case 2 => // all-late batch 2: its times sit far before b0's max
          if (i % 3 == 2) Base + h(i) % (3 * Hour)
          else Base + 10 * Hour + h(i) % (10 * Hour)
        case 3 => // boundary ties: whole-hour quantized times
          Base + (h(i) % 30) * Hour
        case 4 => // exactly-gap spacing: 30-min quantized → session
                  // merges at the inclusive t == end boundary
          Base + (h(i) % 60) * GapMs
        case _ => // uniform; global max lands wherever the hash puts it
          Base + h(i) % (30 * Hour)
      }
      meta(s"k${h(i + 1000) % 8}", tMs, i.toLong)
    }
    (0 until 3).map(k => rows.filter(_.event_id % 3 == k))
  }

  /** One batch-per-file staging dir with ordered mtimes (shared by
    * the single-source and join runners; streams closed like
    * StreamRunner.parquetStream's n-batch staging does).
    */
  private def stageBatchFiles(batchDfs: Seq[DataFrame]): String = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("mb_model_").toString
    batchDfs.zipWithIndex.foreach { case (df, i) =>
      val stage = s"$dir/stage$i"
      df.coalesce(1).write.parquet(stage)
      val listing = Files.list(Paths.get(stage))
      val part =
        try {
          val it = listing.iterator()
          var p: java.nio.file.Path = null
          while (it.hasNext) {
            val f = it.next()
            if (f.getFileName.toString.endsWith(".parquet")) p = f
          }
          p
        } finally listing.close()
      val target = Paths.get(dir, f"b$i%d.parquet")
      Files.move(part, target)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(1700000000000L + i * 5000L))
      graft.sink.FsUtil.deleteRecursively(Paths.get(stage))
    }
    dir
  }

  /** Stage the 3 batches as parquet files with ordered mtimes and run
    * `op` on the file stream (1 file per trigger, AvailableNow).
    */
  private def runEngine(batches: Seq[Seq[ClipMeta]], mode: String)(
      op: DataFrame => DataFrame): Seq[org.apache.spark.sql.Row] = {
    val dir = stageBatchFiles(batches.map(_.toDS().toDF()))
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[ClipMeta]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
      .withColumn("event_time", col("event_time").cast("timestamp"))
      .withWatermark("event_time", "2 hours")
    val out = op(stream)
    val name = s"mb_model_${System.nanoTime()}"
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).collect().toSeq
  }

  // ------------------------------------------------- schedule helpers

  private def maxTime(rows: Seq[ClipMeta]): Option[Long] =
    if (rows.isEmpty) None else Some(rows.map(_.event_time.getTime).max)

  /** wmLate(k): late-filter watermark of batch k (max through k−2). */
  private def wmLate(batches: Seq[Seq[ClipMeta]], k: Int): Option[Long] =
    maxTime(batches.take(k - 1).flatten).map(_ - DelayMs)

  /** Final-flush eviction watermark (max over all batches). */
  private def wmFinal(batches: Seq[Seq[ClipMeta]]): Option[Long] =
    maxTime(batches.flatten).map(_ - DelayMs)

  private def winStart(tMs: Long): Long = Math.floorDiv(tMs, WindowMs) * WindowMs
  private def winEnd(tMs: Long): Long = winStart(tMs) + WindowMs

  /** Rows admitted by the WINDOW-level late filter (agg/session path
    * uses prospective end = window end resp. ts + gap).
    */
  private def admitted(batches: Seq[Seq[ClipMeta]],
      prospectiveEnd: Long => Long): Seq[ClipMeta] =
    batches.zipWithIndex.flatMap { case (rows, k) =>
      wmLate(batches, k) match {
        case None => rows
        case Some(wm) => rows.filter(r => prospectiveEnd(r.event_time.getTime) > wm)
      }
    }

  // ------------------------------------------------------- the models

  /** s14 model: tumbling append = aggregate survivors, emit closed. */
  private def modelTumblingAppend(
      batches: Seq[Seq[ClipMeta]]): Set[(Long, String, Long)] = {
    val wmF = wmFinal(batches).getOrElse(Long.MinValue)
    admitted(batches, winEnd)
      .groupBy(r => (winStart(r.event_time.getTime), r.codec))
      .collect {
        case ((ws, codec), rs) if ws + WindowMs <= wmF =>
          (ws, codec, rs.size.toLong)
      }
      .toSet
  }

  /** s16 model: update mode = cumulative emission per touched batch. */
  private def modelTumblingUpdate(
      batches: Seq[Seq[ClipMeta]]): Seq[(Long, String, Long)] = {
    val admittedPerBatch = batches.zipWithIndex.map { case (rows, k) =>
      wmLate(batches, k) match {
        case None => rows
        case Some(wm) => rows.filter(r => winEnd(r.event_time.getTime) > wm)
      }
    }
    val emissions = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val counts = scala.collection.mutable.Map.empty[(Long, String), Long]
    admittedPerBatch.foreach { rows =>
      val touched = rows.groupBy(r => (winStart(r.event_time.getTime), r.codec))
      touched.foreach { case (key, rs) =>
        val c = counts.getOrElse(key, 0L) + rs.size
        counts(key) = c
        emissions += ((key._1, key._2, c))
      }
    }
    emissions.toSeq.sorted
  }

  /** s15 model: iterative per-batch sessionization with emission. */
  private def modelSessionAppend(
      batches: Seq[Seq[ClipMeta]]): Set[(Long, Long, String, Long)] = {
    type Row = (String, Long) // (key, tMs) — key here is codec
    def sessionize(rows: Seq[Row]): Seq[(String, Long, Long, Long)] =
      rows.groupBy(_._1).toSeq.flatMap { case (key, rs) =>
        val ts = rs.map(_._2).sorted
        val sessions = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
        // merge is INCLUSIVE at exactly-gap distance: events 10:00 and
        // 10:30 with a 30-minute gap form ONE session (verified against
        // Spark's session_window; same `diff > gap → new session` rule
        // as the s04/s15 oracles)
        var start = ts.head; var end = ts.head + GapMs; var n = 1L
        ts.tail.foreach { t =>
          if (t <= end) { end = t + GapMs; n += 1 }
          else { sessions += ((start, end, n)); start = t; end = t + GapMs; n = 1 }
        }
        sessions += ((start, end, n))
        sessions.map(s => (key, s._1, s._2, s._3))
      }
    var state = Seq.empty[Row]
    val emitted = scala.collection.mutable.Set.empty[(Long, Long, String, Long)]
    batches.zipWithIndex.foreach { case (rows, k) =>
      val adm = (wmLate(batches, k) match {
        case None => rows
        case Some(wm) => rows.filter(r => r.event_time.getTime + GapMs > wm)
      }).map(r => (r.codec, r.event_time.getTime))
      val all = state ++ adm
      // eviction at end of batch k uses the watermark through batch
      // k−1 (the pinned one-batch lag) — an earlier draft used
      // through-batch-k, which closes sessions one batch early and
      // was masked by the correlated-key generator this spec had then
      val wmE = maxTime(batches.take(k).flatten)
        .map(_ - DelayMs).getOrElse(Long.MinValue)
      val sessions = sessionize(all)
      val (close, keep) = sessions.partition(_._3 <= wmE)
      emitted ++= close.map(s => (s._2, s._3, s._1, s._4))
      state = all.filter { case (key, t) =>
        keep.exists(s => s._1 == key && t >= s._2 && t < s._3)
      }
    }
    // final flush
    val wmF = wmFinal(batches).getOrElse(Long.MinValue)
    emitted ++= sessionize(state).filter(_._3 <= wmF)
      .map(s => (s._2, s._3, s._1, s._4))
    emitted.toSet
  }

  /** s11 model: keyed dedup with the ROW-level late filter. */
  private def modelDedup(
      batches: Seq[Seq[ClipMeta]]): Set[(String, Int, String)] = {
    val occ = scala.collection.mutable.Map.empty[String, Int]
    val out = scala.collection.mutable.Set.empty[(String, Int, String)]
    batches.zipWithIndex.foreach { case (rows, k) =>
      val adm = wmLate(batches, k) match {
        case None => rows
        case Some(wm) => rows.filter(_.event_time.getTime > wm)
      }
      adm.sortBy(r => (r.event_time.getTime, r.event_id)).foreach { r =>
        val i = occ.getOrElse(r.clip_id, 0) + 1
        occ(r.clip_id) = i
        val outId = if (i == 1) r.clip_id else s"${r.clip_id}_${i - 1}"
        out += ((r.clip_id, i, outId))
      }
    }
    out.toSet
  }

  /** Session-MERGE (fMGWS `sessionMergeStage` / TWS `TwsSessionMerge`)
    * multi-batch model: row-level late filter with the two-batch lag
    * (the fMGWS family's filter, same as dedup); per key-with-data the
    * fold splits at the gap (split-closed sessions emit immediately,
    * regardless of watermark) and re-arms one timeout to
    * max(lastEvent + gap, current eviction watermark + 1); a key
    * WITHOUT surviving data in a batch fires its timeout iff
    * timeout < that batch's eviction watermark (max event time through
    * the previous batch − delay; the final no-data flush uses the
    * all-data watermark), emitting the open session and clearing state
    * — a later row for that key then opens a FRESH session.
    */
  private def modelSessionMerge(
      batches: Seq[Seq[ClipMeta]]): Seq[(String, Int, String, Long, Long)] = {
    final case class Acc(n: Int, lastT: String, lastMs: Long, firstMs: Long)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, String, Long, Long)]
    val state = scala.collection.mutable.Map.empty[String, Acc]
    val timeout = scala.collection.mutable.Map.empty[String, Long]
    def close(key: String, a: Acc): (String, Int, String, Long, Long) =
      (key, a.n, a.lastT, a.firstMs, a.lastMs + GapMs)
    val nB = batches.size
    for (k <- 0 to nB) { // data batches + final no-data flush
      val wmE =
        if (k == 0) 0L
        else maxTime(batches.take(k).flatten).map(_ - DelayMs).getOrElse(0L)
      val surv: Map[String, Seq[ClipMeta]] =
        if (k < nB) {
          val wmL = wmLate(batches, k).getOrElse(Long.MinValue)
          batches(k).filter(_.event_time.getTime > wmL).groupBy(_.clip_id)
        } else Map.empty
      surv.foreach { case (key, rows) =>
        var open = state.get(key).orNull
        rows.sortBy(r => (r.event_time.getTime, r.event_id)).foreach { r =>
          val t = r.event_time.getTime
          if (open == null) open = Acc(1, r.transcript, t, t)
          else if (t > open.lastMs + GapMs) {
            out += close(key, open)
            open = Acc(1, r.transcript, t, t)
          } else open = Acc(open.n + 1,
            if (t >= open.lastMs) r.transcript else open.lastT,
            math.max(open.lastMs, t), math.min(open.firstMs, t))
        }
        state(key) = open
        timeout(key) = math.max(open.lastMs + GapMs, wmE + 1)
      }
      (state.keySet -- surv.keySet).toSeq.foreach { key =>
        if (timeout(key) < wmE) {
          out += close(key, state(key))
          state -= key
          timeout -= key
        }
      }
    }
    out.toSeq.sorted
  }

  // -------------------------------------------------------- the tests

  private val seeds = Seq(1, 2, 3, 4, 7)

  test("session-MERGE model matches BOTH state APIs on adversarial seeds (s21/s22 cross-batch)") {
    def collect(rows: Seq[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getString(0), r.getInt(1), r.getString(3),
        r.getTimestamp(4).getTime, r.getTimestamp(5).getTime)).sorted
    seeds.foreach { seed =>
      val batches = gen(seed)
      val want = modelSessionMerge(batches)
      assert(want.nonEmpty, s"seed $seed must close at least one session")
      val fm = runEngine(batches, "append") { st =>
        ClipPipeline.sessionMergeStage(st.as[ClipMeta], GapMs).toDF()
      }
      assert(collect(fm) == want, s"fMGWS seed $seed")
      val tw = TestSpark.withConf(spark, StreamRunner.RocksDB) {
        runEngine(batches, "append") { st =>
          graft.streaming.TwsSessionMerge.sessionMergeStageTws(st.as[ClipMeta], GapMs).toDF()
        }
      }
      assert(collect(tw) == want, s"TWS seed $seed")
    }
  }

  test("tumbling append model matches the engine on adversarial seeds (s14)") {
    seeds.foreach { seed =>
      val batches = gen(seed)
      val got = runEngine(batches, "append")(
        st => ClipPipeline.tumblingRollup(st, "1 hour"))
        .map(r => (r.getTimestamp(0).getTime, r.getString(2), r.getLong(3)))
        .toSet
      assert(got == modelTumblingAppend(batches), s"seed $seed")
    }
  }

  test("tumbling update model matches the engine on adversarial seeds (s16)") {
    seeds.foreach { seed =>
      val batches = gen(seed)
      val got = runEngine(batches, "update")(
        st => ClipPipeline.tumblingRollup(st, "1 hour"))
        .map(r => (r.getTimestamp(0).getTime, r.getString(2), r.getLong(3)))
        .toSeq.sorted
      assert(got == modelTumblingUpdate(batches), s"seed $seed")
    }
  }

  test("session append model matches the engine on adversarial seeds (s15)") {
    seeds.foreach { seed =>
      val batches = gen(seed)
      val got = runEngine(batches, "append")(
        st => ClipPipeline.sessionRollup(st, "event_time", "codec", "30 minutes"))
        .map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
          r.getString(2), r.getLong(3)))
        .toSet
      assert(got == modelSessionAppend(batches), s"seed $seed")
    }
  }

  // ------------------------- multi-batch LEFT OUTER stream-stream join

  /** Two-source engine run: clips and updates each staged as 3 files
    * with ordered mtimes; both sources release one file per trigger,
    * so micro-batch k pairs (c_k, u_k).
    */
  private def runJoinEngine(
      clipBatches: Seq[Seq[ClipMeta]],
      updBatches: Seq[Seq[(String, String, Timestamp)]])(
      build: (DataFrame, DataFrame) => DataFrame)
      : Seq[org.apache.spark.sql.Row] = {
    val clipDir = stageBatchFiles(clipBatches.map(b =>
      b.map(c => (c.clip_id, c.event_time, c.event_id))
        .toDF("clip_id", "event_time", "event_id")))
    val updDir = stageBatchFiles(updBatches.map(
      _.toDF("clip_id", "u_transcript", "u_event_time")))
    import org.apache.spark.sql.types._
    def clips() = spark.readStream
      .schema(StructType(Seq(StructField("clip_id", StringType),
        StructField("event_time", TimestampType), StructField("event_id", LongType))))
      .option("maxFilesPerTrigger", 1).parquet(clipDir)
    def updates() = spark.readStream
      .schema(StructType(Seq(StructField("clip_id", StringType),
        StructField("u_transcript", StringType),
        StructField("u_event_time", TimestampType))))
      .option("maxFilesPerTrigger", 1).parquet(updDir)
    val joined = build(clips(), updates())
    val name = s"mb_join_${System.nanoTime()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(name).collect().toSeq
  }

  /** FULL OUTER join model over the two-sided watermark schedule —
    * the core the LEFT OUTER model is a projection of. The global
    * watermark is the MIN over both sides' column watermarks (default
    * multi-watermark policy); late filters are row-level with the
    * two-batch lag; a clip is evicted (null-emitting if unmatched) at
    * the first batch whose eviction watermark exceeds its join window
    * t+W; an UPDATE is evicted once the watermark passes its own time
    * ut (the condition `u_event_time >= event_time` bounds future
    * clips: a match needs t ≤ ut, future clips have t > wm, so no
    * future match once wm ≥ ut) — silently under left outer,
    * null-emitting under full outer; a match emits iff the
    * earlier-arriving side is still in state when the later side's
    * batch runs (same-batch pairs always emit — eviction happens at
    * end of batch). "Unmatched" means no EMITTED match: a pair whose
    * earlier side was state-evicted before the later side arrived
    * leaves BOTH sides null-emitting.
    */
  private def modelFullJoin(
      clipBatches: Seq[Seq[ClipMeta]],
      updBatches: Seq[Seq[(String, String, Timestamp)]],
      windowMs: Long): Set[(Option[Long], Option[String])] = {
    val nB = clipBatches.size
    def gwm(m: Int): Option[Long] = {
      // watermark computed from data through batch m: min of sides
      val mc = maxTime(clipBatches.take(m + 1).flatten)
      val mu = updBatches.take(m + 1).flatten.map(_._3.getTime) match {
        case Nil => None; case ts => Some(ts.max)
      }
      for (a <- mc; b <- mu) yield math.min(a, b) - DelayMs
    }
    def late(n: Int): Long =
      (if (n >= 2) gwm(n - 2) else None).getOrElse(Long.MinValue)
    def evict(n: Int): Long = gwm(n - 1).getOrElse(Long.MinValue) // n = nB → flush
    val survC = clipBatches.zipWithIndex.flatMap { case (rows, k) =>
      rows.filter(_.event_time.getTime > late(k)).map(r => (r, k))
    }
    val survU = updBatches.zipWithIndex.flatMap { case (rows, k) =>
      rows.filter(_._3.getTime > late(k)).map(r => (r, k))
    }
    // first batch index (data batches 1..nB−1, flush = nB) that evicts
    def evictBatch(deadline: Long): Option[Int] =
      (1 to nB).find(k => deadline < evict(k))
    val out = scala.collection.mutable.Set.empty[(Option[Long], Option[String])]
    val matchedClips = scala.collection.mutable.Set.empty[Long]
    val matchedUpds = scala.collection.mutable.Set.empty[String]
    for (((c, nc), (u, nu)) <- for (x <- survC; y <- survU) yield (x, y)) {
      val t = c.event_time.getTime
      val ut = u._3.getTime
      val inWindow = c.clip_id == u._1 && ut >= t && ut <= t + windowMs
      if (inWindow) {
        val emitted =
          if (nc == nu) true
          else if (nc < nu) evictBatch(t + windowMs).forall(_ >= nu)
          else evictBatch(ut).forall(_ >= nc)
        if (emitted) {
          out += ((Some(c.event_id), Some(u._2)))
          matchedClips += c.event_id
          matchedUpds += u._2
        }
      }
    }
    survC.foreach { case (c, _) =>
      val t = c.event_time.getTime
      if (!matchedClips.contains(c.event_id) && evictBatch(t + windowMs).isDefined)
        out += ((Some(c.event_id), None))
    }
    survU.foreach { case (u, _) =>
      if (!matchedUpds.contains(u._2) && evictBatch(u._3.getTime).isDefined)
        out += ((None, Some(u._2)))
    }
    out.toSet
  }

  /** LEFT OUTER = the full-outer model minus the (null, update) rows. */
  private def modelLeftJoin(
      clipBatches: Seq[Seq[ClipMeta]],
      updBatches: Seq[Seq[(String, String, Timestamp)]],
      windowMs: Long): Set[(Long, Option[String])] =
    modelFullJoin(clipBatches, updBatches, windowMs)
      .collect { case (Some(id), v) => (id, v) }

  private def genJoin(seed: Int): (Seq[Seq[ClipMeta]], Seq[Seq[(String, String, Timestamp)]]) = {
    val clipBatches = gen(seed)
    def h(i: Int): Long = {
      var x = seed * 911382323L + i * 972663749L
      x ^= x >>> 15; x *= 0x2545f491; x ^= x >>> 13
      math.abs(x)
    }
    val allClips = clipBatches.flatten
    val upds = allClips.zipWithIndex.collect {
      case (c, i) if h(i) % 2 == 0 =>
        // half in-window (0..10 min after the clip), half just outside
        val off = if (h(i + 500) % 2 == 0) h(i + 900) % (10L * 60 * 1000)
                  else 10L * 60 * 1000 + 1 + h(i + 900) % (60L * 60 * 1000)
        (c.clip_id, s"u$i", new Timestamp(c.event_time.getTime + off), h(i + 700) % 3)
    }
    val updBatches = (0 until 3).map(k =>
      upds.filter(_._4 == k).map(u => (u._1, u._2, u._3)))
    (clipBatches, updBatches)
  }

  test("multi-batch LEFT OUTER join model (two-sided watermark, eviction, lost-then-null) matches the engine") {
    seeds.foreach { seed =>
      val (cb, ub) = genJoin(seed)
      val got = runJoinEngine(cb, ub) { (c, u) =>
        ClipPipeline.transcriptUpdateLeftJoin(c, u, "2 hours", "10 MINUTES")
          .select(col("event_id"), col("u_transcript"))
      }.map(r => (r.getLong(0), Option(r.getString(1)))).toSet
      val want = modelLeftJoin(cb, ub, 10L * 60 * 1000)
      assert(got == want,
        s"seed $seed: extra=${got -- want} missing=${want -- got}")
      assert(want.exists(_._2.isEmpty) && want.exists(_._2.nonEmpty),
        s"seed $seed must exercise both null and matched rows")
    }
  }

  private def fullRows(rows: Seq[org.apache.spark.sql.Row]): Set[(Option[Long], Option[String])] =
    rows.map { r =>
      (if (r.isNullAt(0)) None else Some(r.getLong(0)), Option(r.getString(1)))
    }.toSet

  test("multi-batch FULL OUTER join model (both-sides null emission timing) matches the engine (s24)") {
    seeds.foreach { seed =>
      val (cb, ub) = genJoin(seed)
      val got = fullRows(runJoinEngine(cb, ub) { (c, u) =>
        ClipPipeline.transcriptUpdateFullJoin(c, u, "2 hours", "10 MINUTES")
          .select(col("event_id"), col("u_transcript"))
      })
      val want = modelFullJoin(cb, ub, 10L * 60 * 1000)
      assert(got == want,
        s"seed $seed: extra=${got -- want} missing=${want -- got}")
      assert(want.exists(p => p._1.isEmpty) && want.exists(p => p._2.isEmpty) &&
        want.exists(p => p._1.nonEmpty && p._2.nonEmpty),
        s"seed $seed must exercise matched, clip-null, and update-null rows")
    }
  }

  test("multi-batch s27 bucketed composition (left ∪ unmatched-updates) matches the FULL OUTER model") {
    // the two halves are independent streaming queries in the real
    // composition too — run each over its own staged copy of the same
    // batches and union the outputs
    seeds.foreach { seed =>
      val (cb, ub) = genJoin(seed)
      val left = runJoinEngine(cb, ub) { (c, u) =>
        ClipPipeline.transcriptUpdateLeftJoin(c, u, "2 hours", "10 MINUTES")
          .select(col("event_id"), col("u_transcript"))
      }
      val unmatched = runJoinEngine(cb, ub) { (c, u) =>
        ClipPipeline.transcriptUpdateUnmatchedUpdates(c, u, "2 hours", "10 MINUTES")
          .select(col("event_id"), col("u_transcript"))
      }
      val got = fullRows(left ++ unmatched)
      val want = modelFullJoin(cb, ub, 10L * 60 * 1000)
      assert(got == want,
        s"seed $seed: extra=${got -- want} missing=${want -- got}")
    }
  }

  test("dedup model (row-level late filter) matches the engine on adversarial seeds (s11)") {
    seeds.foreach { seed =>
      val batches = gen(seed)
      val got = runEngine(batches, "append") { st =>
        ClipPipeline.dedupStage(st.as[ClipMeta],
          stateTtlMs = 1000L * 86400 * 365).toDF()
      }
        .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .toSet
      assert(got == modelDedup(batches), s"seed $seed")
    }
  }

  // --------------------------------- s29 streaming near-dup (cross-batch)

  /** Deterministic document corpus for the near-dup schedule: ~10
    * groups of mutually-similar texts (a base sentence per group,
    * per-doc 0–2 word perturbations), assigned to 3 batches by a
    * seeded hash so later batches hold SMALLER doc_ids than earlier
    * ones — the scenario the single-batch s29 oracle cannot produce
    * (there, arrival order IS doc_id order; here batch order must
    * win).
    */
  private def genDocs(seed: Int): Seq[Seq[(Long, String)]] = {
    def h(i: Int): Long = {
      var x = (seed * 2654435761L) ^ (i * 40503L)
      x ^= x >>> 16; x *= 0x45d9f3b; x ^= x >>> 16
      x & 0x7fffffffL
    }
    val vocab = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango")
    val docs = (0 until 42).map { i =>
      val g = i % 10
      val base = (0 until 12).map(p => vocab((g * 7 + p * 3) % vocab.size))
      // 0–2 seeded word swaps: same-group docs stay near-dups (high
      // signature overlap) without being byte-identical
      val nSwap = (h(i * 3 + 1) % 3).toInt
      val txt = (0 until nSwap).foldLeft(base) { (t, s) =>
        val pos = (h(i * 5 + s) % t.size).toInt
        t.updated(pos, vocab((h(i * 7 + s) % vocab.size).toInt))
      }
      (i.toLong, txt.mkString(" "))
    }
    // batch assignment from the TOP bits so it is independent of the
    // per-doc text perturbation; every seed leaves each batch non-empty
    val by = docs.groupBy { case (id, _) => (h(1000 + id.toInt) % 3).toInt }
    (0 until 3).map(b => by.getOrElse(b, Seq.empty))
  }

  /** The cross-batch model: per batch, the engine's own banding
    * (batch-mode [[StreamNearDup.bandedDocs]] — identical columnar
    * derivation) grouped per bucket, folded through the SHARED
    * [[StreamNearDup.foldBucket]] with state carried across batches.
    * What this validates beyond the fold itself: state accumulation
    * order (batch order beats doc_id order), admission-cap persistence
    * across batches, and the engine's groupByKey partitioning
    * delivering every row of a bucket to its state.
    */
  private def modelNearDup(batches: Seq[Seq[(Long, String)]],
      threshold: Double, maxBucket: Int): Set[(Long, String, Boolean)] = {
    val state = scala.collection.mutable.Map
      .empty[String, IndexedSeq[SeenSig]]
    val out = Set.newBuilder[(Long, String, Boolean)]
    batches.foreach { batch =>
      val df = batch.toDF("doc_id", "text")
      val rows = StreamNearDup.bandedDocs(df).collect().toSeq
      rows.groupBy(_.band_key).foreach { case (bk, rs) =>
        val (flags, admitted) = StreamNearDup.foldBucket(
          state.getOrElse(bk, IndexedSeq.empty), rs, threshold, maxBucket)
        state(bk) = state.getOrElse(bk, IndexedSeq.empty) ++ admitted
        flags.foreach(f => out += ((f.doc_id, f.band_key, f.hit)))
      }
    }
    out.result()
  }

  test("streaming near-dup cross-batch schedule matches the model on adversarial seeds (s29)") {
    // maxBucket 4 forces admission-cap overflow WITHIN batch 1 and
    // ACROSS batches — a later duplicate of a non-admitted doc must
    // not hit unless it also matches an admitted one
    val (threshold, maxBucket) = (0.25, 4)
    seeds.foreach { seed =>
      val batches = genDocs(seed)
      assert(batches.forall(_.nonEmpty), s"seed $seed: empty batch")
      val dir = stageBatchFiles(batches.map(_.toDF("doc_id", "text")))
      val got = TestSpark.withConf(spark, StreamRunner.RocksDB) {
        val stream = spark.readStream
          .schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", 1)
          .parquet(dir)
        val flags = StreamNearDup.stage(
          StreamNearDup.bandedDocs(stream), threshold, maxBucket)
        val name = s"mb_neardup_$seed"
        val q = flags.toDF().writeStream.format("memory").queryName(name)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.table(name).collect().toSeq
      }.map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      val want = modelNearDup(batches, threshold, maxBucket)
      assert(got == want, s"seed $seed")
      assert(want.exists(_._3), s"seed $seed: no near-dup hit exercised")
      graft.sink.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }
}
