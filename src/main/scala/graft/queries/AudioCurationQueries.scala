package graft.queries

import org.apache.spark.sql.functions._

import graft.streaming.{AudioCuration, StreamRunner}
import graft.synth.ClipGen

/** Audio training-data curation over the binary clip table — the
  * audio-axis analogue of the text pipeline's dedup/keep-list family
  * (q29/q48/q61), keyed by the content fingerprint
  * ([[graft.audio.Fingerprint]]): cross-codec/rate/duration-invariant,
  * so clips that re-encode the same underlying waveform collapse onto
  * one key the way shingled text collapses onto a MinHash signature.
  *
  * Oracle strategy (the p01/q58 pattern): the fingerprint and the
  * gate inputs are PCM-derived, so DuckDB cannot recompute them from
  * `events` — instead the staged expected-stat side table carries
  * ground truth computed by the INDEPENDENT decoder + direct-DFT
  * filterbank, hard-asserted equal to the engine's fused
  * Goertzel path for every staged clip at staging time. The oracle
  * then joins that table against the pure-SQL metadata derivation;
  * the engine recomputes everything from the bytes, distributed.
  */
object AudioCurationQueries {

  /** Shared oracle CTEs: the per-clip profile the engine derives by
    * decoding, re-assembled oracle-side from metadata SQL × the
    * expected-stat side table.
    */
  private val profCtes: String =
    s"""WITH clips AS (${ClipGen.metaSql}),
       |exp AS (SELECT * FROM read_parquet('__CLIPS_EXPECTED__/*.parquet')),
       |prof AS (
       |  SELECT c.clip_id, c.event_time, c.codec, c.sr_hz, c.dur_ms,
       |    e.rms, e.clipped, e.tone_detected, e.fp_f1, e.fp_f2
       |  FROM clips c JOIN exp e ON e.clip_id = c.clip_id AND e.event_time = c.event_time
       |  WHERE c.codec <> 'unknown')""".stripMargin

  /** The q67/s28 shared keep-list oracle — batch canonical election
    * and streaming timeout-driven election must produce the identical
    * keep set (the s21≡s22 twin discipline).
    */
  private val keepOracleSql: String =
    s"""$profCtes,
       |gated AS (
       |  SELECT * FROM prof
       |  WHERE dur_ms >= 500 AND clipped = 0 AND rms >= 0.1 AND rms <= 0.9
       |    AND tone_detected = FALSE),
       |ranked AS (
       |  SELECT fp_f1, fp_f2, clip_id, event_time,
       |    COUNT(*) OVER (PARTITION BY fp_f1, fp_f2) AS n_candidates,
       |    ROW_NUMBER() OVER (PARTITION BY fp_f1, fp_f2 ORDER BY event_time, clip_id) AS rn
       |  FROM gated)
       |SELECT fp_f1, fp_f2, n_candidates, clip_id, event_time
       |FROM ranked WHERE rn = 1 ORDER BY fp_f1, fp_f2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    // ---------------- q66 content-fingerprint duplicate clusters (A2×M4)
    // Exact grouping on the decode-derived content key: every
    // decodable clip fingerprinted in one fused pass, then a plain
    // hash-partitioned agg — at 100 TB this is exact-dedup cost
    // (map-side partial agg, one shuffle of (int,int)-keyed partials),
    // with the decode dominating and the fingerprint O(1) on top.
    QueryDef(
      "q66_audio_fp_clusters",
      (s, d) => {
        AudioCuration.profileStage(ClipGen.stagedClips(s, d)).toDF()
          .groupBy(col("fp_f1"), col("fp_f2"))
          .agg(count(lit(1)).as("n_members"),
            countDistinct(col("clip_id")).as("n_ids"),
            countDistinct(col("codec")).as("n_codecs"),
            min(col("clip_id")).as("canonical_clip"))
          // tiny post-agg rows: materialize once so the global sort's
          // range-partition sampling doesn't re-run the decode (p01)
          .localCheckpoint(true)
          .orderBy(col("fp_f1"), col("fp_f2"))
      },
      Some(s"""$profCtes
              |SELECT fp_f1, fp_f2, COUNT(*) AS n_members,
              |  COUNT(DISTINCT clip_id) AS n_ids,
              |  COUNT(DISTINCT codec) AS n_codecs,
              |  MIN(clip_id) AS canonical_clip
              |FROM prof GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ------------------- q67 audio curation keep-list (F2×A2 on audio)
    // Quality gates (duration, clipping, RMS band, 500 Hz-hum
    // rejection) then ONE canonical survivor per content class: the
    // earliest (event_time, clip_id), elected with an order-independent
    // min-struct agg — no per-class sort, no window shuffle; the same
    // shape that made q62's keeper election scale-safe.
    QueryDef(
      "q67_audio_keeplist",
      (s, d) => {
        AudioCuration.profileStage(ClipGen.stagedClips(s, d))
          .filter(AudioCuration.gate _)
          .toDF()
          .groupBy(col("fp_f1"), col("fp_f2"))
          .agg(count(lit(1)).as("n_candidates"),
            min(struct(col("event_time"), col("clip_id"))).as("c"))
          .select(col("fp_f1"), col("fp_f2"), col("n_candidates"),
            col("c.clip_id").as("clip_id"),
            col("c.event_time").cast("timestamp_ntz").as("event_time"))
          .localCheckpoint(true)
          .orderBy(col("fp_f1"), col("fp_f2"))
      },
      Some(keepOracleSql)),

    // ---------------- q68 cross-rate duplicate pairs (J4 on content)
    // "The same recording, different sample rate" report — the
    // fingerprint's invariance is exactly what makes these detectable:
    // one canonical clip per (fingerprint, sr_hz) — an
    // order-independent min-struct agg again — then rate-ordered pairs
    // within each class. The join runs on POST-AGG rows (≤ classes ×
    // rates), broadcast to dodge the shuffle; there is never an
    // all-pairs product over clips. Rates, not codecs, are the pair
    // axis on purpose: the synthetic codec residue (event_id % 4)
    // divides the content-class modulus (% 920), so a class can NEVER
    // span codecs and a codec-pair query would be structurally vacuous
    // (the correlated-modulus trap, cf. the p05 residue choice) — the
    // rate residue (% 3) is coprime with it, so classes genuinely span
    // rates.
    QueryDef(
      "q68_crossrate_dups",
      (s, d) => {
        val per = AudioCuration.profileStage(ClipGen.stagedClips(s, d)).toDF()
          .groupBy(col("fp_f1"), col("fp_f2"), col("sr_hz"))
          .agg(count(lit(1)).as("n"),
            min(struct(col("event_time"), col("clip_id"))).as("c"))
          .select(col("fp_f1"), col("fp_f2"), col("sr_hz"), col("n"),
            col("c.clip_id").as("cid"), col("c.event_time").as("ct"))
          // one decode pass for both join sides
          .localCheckpoint(true)
        val a = per.select(col("fp_f1"), col("fp_f2"),
          col("sr_hz").as("sr_a"), col("n").as("n_a"),
          col("cid").as("clip_a"), col("ct").as("time_a"))
        val b = per.select(col("fp_f1").as("f1_b"), col("fp_f2").as("f2_b"),
          col("sr_hz").as("sr_b"), col("n").as("n_b"),
          col("cid").as("clip_b"), col("ct").as("time_b"))
        a.join(broadcast(b),
            col("fp_f1") === col("f1_b") && col("fp_f2") === col("f2_b") &&
              col("sr_a") < col("sr_b"))
          .select(col("fp_f1"), col("fp_f2"), col("sr_a"), col("sr_b"),
            col("clip_a"), col("clip_b"), col("n_a"), col("n_b"),
            col("time_a").cast("timestamp_ntz").as("time_a"),
            col("time_b").cast("timestamp_ntz").as("time_b"))
          .orderBy(col("fp_f1"), col("fp_f2"), col("sr_a"), col("sr_b"))
      },
      Some(s"""$profCtes,
              |ranked AS (
              |  SELECT fp_f1, fp_f2, sr_hz, clip_id, event_time,
              |    COUNT(*) OVER (PARTITION BY fp_f1, fp_f2, sr_hz) AS n,
              |    ROW_NUMBER() OVER (PARTITION BY fp_f1, fp_f2, sr_hz ORDER BY event_time, clip_id) AS rn
              |  FROM prof),
              |per AS (SELECT * FROM ranked WHERE rn = 1)
              |SELECT a.fp_f1, a.fp_f2, a.sr_hz AS sr_a, b.sr_hz AS sr_b,
              |  a.clip_id AS clip_a, b.clip_id AS clip_b, a.n AS n_a, b.n AS n_b,
              |  a.event_time AS time_a, b.event_time AS time_b
              |FROM per a JOIN per b
              |  ON a.fp_f1 = b.fp_f1 AND a.fp_f2 = b.fp_f2 AND a.sr_hz < b.sr_hz
              |ORDER BY a.fp_f1, a.fp_f2, sr_a, sr_b""".stripMargin)),

    // ------------- s28 streaming audio curation (M4×F2×D1 end-to-end)
    // The ingestion-time form of q67 on a live file stream over the
    // binary clip table: fused decode+profile map → quality gates →
    // per-fingerprint-class canonical election in TTL'd keyed state,
    // emitted on event-time timeout. Shares q67's oracle verbatim (the
    // s21≡s22 twin discipline): the stateful fold is order-independent
    // (count + min), so the only schedule dependence is the row-level
    // late filter — excluded by the runner's data-batch count (one:
    // the source is read uncapped).
    QueryDef(
      "s28_stream_audio_curation",
      (s, d) => {
        import s.implicits._
        ClipGen.stagedClips(s, d).head(1) // ensure staged
        val stream = s.readStream.schema(graft.model.Schemas.clips)
          .parquet(ClipGen.clipsTablePath(d))
          .as[graft.model.Clip]
        val profiled = AudioCuration.profileStage(stream)
          .filter(AudioCuration.gate _)
          .withWatermark("event_time", "10 minutes")
        StreamRunner.runToMemory(AudioCuration.keepStage(profiled).toDF(), "append")
          .withColumn("event_time", col("event_time").cast("timestamp_ntz"))
          .orderBy(col("fp_f1"), col("fp_f2"))
      },
      Some(keepOracleSql))
  )
}
