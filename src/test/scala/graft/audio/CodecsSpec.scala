package graft.audio

import org.scalatest.funsuite.AnyFunSuite

import graft.synth.ClipGen

/** Codec round-trip correctness: the engine's per-row invariant is
  * decoded-PCM allclose with SNR ≥ 30 dB (BASELINE.json `input_hint`),
  * mirrored from the reference's serde round-trip tests
  * (/root/reference/src/test/java/de/unimarburg/diz/labtofhir/serde/Hl7SerdeTests.java:17-99).
  */
class CodecsSpec extends AnyFunSuite {

  private def roundTripSnr(codec: String, samples: Array[Float]): Double = {
    val decoded = Codecs.decode(codec, Codecs.encode(codec, samples))
      .fold(e => fail(s"decode failed: $e"), identity)
    assert(decoded.length == samples.length, s"$codec length mismatch")
    Codecs.snrDb(samples, decoded)
  }

  private val signal = ClipGen.samplesFor(seedId = 7, srHz = 16000, durMs = 500)

  test("pcm16le round-trip is near-lossless (SNR > 80 dB)") {
    assert(roundTripSnr("pcm16le", signal) > 80.0)
  }

  test("ulaw round-trip SNR ≥ 30 dB") {
    assert(roundTripSnr("ulaw", signal) >= 30.0)
  }

  test("alaw round-trip SNR ≥ 30 dB") {
    assert(roundTripSnr("alaw", signal) >= 30.0)
  }

  test("adpcm round-trip SNR ≥ 30 dB") {
    assert(roundTripSnr("adpcm", signal) >= 30.0)
  }

  test("every synthesized clip signal round-trips at ≥ 30 dB (lossless-ish codecs)") {
    for (seed <- 0L until 50L; codec <- Seq("pcm16le", "ulaw", "alaw")) {
      val s = ClipGen.samplesFor(seed, srHz = 8000, durMs = 120)
      assert(roundTripSnr(codec, s) >= 30.0, s"codec=$codec seed=$seed")
    }
  }

  test("adpcm round-trips above its 4-bit intrinsic floor (≥ 15 dB) on all clip signals") {
    // IMA ADPCM is a 4-bit predictive codec: ~20 dB round-trip is its
    // physical ceiling for full-band content. The engine's 30 dB
    // invariant is about DECODE fidelity (next test), not encode loss.
    for (seed <- 0L until 50L) {
      val s = ClipGen.samplesFor(seed, srHz = 8000, durMs = 120)
      assert(roundTripSnr("adpcm", s) >= 15.0, s"seed=$seed")
    }
  }

  test("engine decode is bit-identical to an independent oracle decoder (⇒ SNR ≥ 30 dB trivially)") {
    for (seed <- 0L until 20L; codec <- Seq("pcm16le", "ulaw", "alaw")) {
      val src = ClipGen.samplesFor(seed, srHz = 8000, durMs = 80)
      val bytes = Codecs.encode(codec, src)
      val engine = Codecs.decode(codec, bytes).toOption.get
      val oracle = IndependentDecoder.decode(codec, bytes)
      assert(engine.length == oracle.length)
      var i = 0
      while (i < engine.length) {
        assert(engine(i) == oracle(i), s"codec=$codec seed=$seed idx=$i")
        i += 1
      }
    }
  }

  test("adpcm decode is bit-identical to the spec-form oracle on arbitrary payloads") {
    // random bytes reach every code, both predictor clamps and step
    // indices beyond 88 in the header; encoded clips the common path
    val rnd = new scala.util.Random(11)
    val payloads = Seq.fill(200)(Array.fill(4 + rnd.nextInt(3000))(rnd.nextInt(256).toByte)) ++
      (0L until 10L).map(seed => Codecs.encode("adpcm", ClipGen.samplesFor(seed, 8000, 90)))
    for ((bytes, k) <- payloads.zipWithIndex) {
      val engine = Codecs.decode("adpcm", bytes).toOption.get
      assert(engine.sameElements(IndependentDecoder.decode("adpcm", bytes)), s"payload $k")
    }
  }

  test("adpcm handles odd sample counts exactly") {
    val s = ClipGen.samplesFor(3, 8000, 150).take(801)
    val decoded = Codecs.decode("adpcm", Codecs.encode("adpcm", s)).toOption.get
    assert(decoded.length == 801)
  }

  test("ulaw/alaw codec laws bounded over the FULL 16-bit input domain") {
    var v = Short.MinValue.toInt
    while (v <= Short.MaxValue.toInt) {
      val s = v.toShort
      val u = Codecs.ulawDecodeSample(Codecs.ulawEncodeSample(s)).toInt
      val a = Codecs.alawDecodeSample(Codecs.alawEncodeSample(s)).toInt
      // companded error bound: one quantization step (~1/16 relative + bias)
      assert(math.abs(u - v) <= math.max(64, math.abs(v) / 8), s"ulaw v=$v u=$u")
      assert(math.abs(a - v) <= math.max(64, math.abs(v) / 8), s"alaw v=$v a=$a")
      v += 1
    }
  }

  test("unknown codec and malformed payloads are Left, never throw") {
    assert(Codecs.decode("mp3", Array[Byte](1, 2)).isLeft)
    assert(Codecs.decode("pcm16le", Array[Byte](1, 2, 3)).isLeft) // odd length
    assert(Codecs.decode("adpcm", Array[Byte](1, 2)).isLeft) // short header
    assert(Codecs.decode("ulaw", null).isLeft)
  }

  test("snrDb of identical signals is infinite") {
    assert(Codecs.snrDb(signal, signal).isPosInfinity)
  }

  test("fused summarize equals decode + explicit stats pass, bit-for-bit") {
    for (seed <- 0L until 10L; codec <- Seq("pcm16le", "ulaw", "alaw", "adpcm")) {
      val src = ClipGen.samplesFor(seed, 8000, 90)
      val bytes = Codecs.encode(codec, src)
      val st = Codecs.summarize(codec, bytes).toOption.get
      val dec = Codecs.decode(codec, bytes).toOption.get
      assert(st.n == dec.length)
      var sumSq = 0.0; var peak = 0.0; var zc = 0; var clipped = 0
      for (i <- dec.indices) {
        val v = dec(i).toDouble
        sumSq += v * v
        if (math.abs(v) > peak) peak = math.abs(v)
        if (math.abs(v) >= 0.999) clipped += 1
        if (i > 0 && ((dec(i - 1) >= 0) != (dec(i) >= 0))) zc += 1
      }
      assert(st.sumSq == sumSq, s"$codec/$seed sumSq")
      assert(st.peak == peak, s"$codec/$seed peak")
      assert(st.zeroCrossings == zc, s"$codec/$seed zc")
      assert(st.clipped == clipped, s"$codec/$seed clipped")
    }
  }

  test("frameEnergies is bit-identical to the unfused decode+frame path") {
    for (codec <- Seq("pcm16le", "ulaw", "alaw", "adpcm"); seed <- 0L to 6L) {
      val samples = graft.synth.ClipGen.samplesFor(seed, 8000, 137) // 1096 samples, odd tail frame
      val bytes = Codecs.encode(codec, samples)
      val frameLen = 100
      val fused = Codecs.frameEnergies(codec, bytes, frameLen).toOption.get
      val dec = Codecs.decode(codec, bytes).toOption.get
      val nFrames = (dec.length + frameLen - 1) / frameLen
      assert(fused.length == nFrames, s"$codec/$seed frame count")
      for (f <- 0 until nFrames) {
        var e = 0.0
        var i = f * frameLen
        val end = math.min(dec.length, (f + 1) * frameLen)
        while (i < end) { e += dec(i).toDouble * dec(i); i += 1 }
        assert(fused(f) == e, s"$codec/$seed frame $f")
      }
    }
    assert(Codecs.frameEnergies("mp3", Array[Byte](1), 10).isLeft)
    assert(Codecs.frameEnergies("pcm16le", Array[Byte](1, 2, 3), 10).isLeft)
    assert(Codecs.frameEnergies("ulaw", null, 10).isLeft)
  }

  test("resampleLinear: content matches an analytically generated signal at the target rate") {
    // a 200 Hz sine sampled at 8 kHz, upsampled 2× — linear
    // interpolation of a smooth band-limited signal must approximate
    // the directly synthesized 16 kHz sine closely
    val f = 200.0
    val in = Array.tabulate(8000)(i => math.sin(2 * math.Pi * f * i / 8000.0).toFloat)
    val up = Codecs.resampleLinear(in, 8000, 16000)
    assert(up.length == (in.length - 1) * 2 + 1)
    val ref = Array.tabulate(up.length)(j => math.sin(2 * math.Pi * f * j / 16000.0).toFloat)
    assert(Codecs.snrDb(ref, up) >= 30.0, s"SNR ${Codecs.snrDb(ref, up)}")
    // identity when rates match; single-sample and downsample lengths
    assert(Codecs.resampleLinear(in, 8000, 8000) eq in)
    assert(Codecs.resampleLinear(Array(0.5f), 44100, 16000).toSeq == Seq(0.5f))
    val down = Codecs.resampleLinear(in, 8000, 5000)
    assert(down.length == (in.length - 1).toLong * 5000 / 8000 + 1)
    intercept[IllegalArgumentException](Codecs.resampleLinear(in, 0, 16000))
  }

  test("fused resampleStats is bit-identical to decode + resampleLinear + rms (all codecs, up/down/same rate)") {
    for {
      codec <- Seq("pcm16le", "ulaw", "alaw", "adpcm")
      seed <- 0L to 4L
      (inRate, outRate) <- Seq((8000, 16000), (44100, 16000), (16000, 16000), (8000, 5000))
    } {
      val samples = graft.synth.ClipGen.samplesFor(seed, inRate, 173)
      val bytes = Codecs.encode(codec, samples)
      val (nIn, nOut, rms) = Codecs.resampleStats(codec, bytes, inRate, outRate).toOption.get
      val dec = Codecs.decode(codec, bytes).toOption.get
      val r = Codecs.resampleLinear(dec, inRate, outRate)
      assert(nIn == dec.length, s"$codec/$seed/$inRate→$outRate nIn")
      assert(nOut == r.length, s"$codec/$seed/$inRate→$outRate nOut")
      var sumSq = 0.0
      r.foreach(v => sumSq += v.toDouble * v)
      assert(rms == math.sqrt(sumSq / r.length), s"$codec/$seed/$inRate→$outRate rms")
    }
    assert(Codecs.resampleStats("mp3", Array[Byte](1), 8000, 16000).isLeft)
    assert(Codecs.resampleStats("ulaw", Array.empty[Byte], 8000, 16000).isLeft)
  }

  test("summarize rejects the same malformed payloads decode does") {
    assert(Codecs.summarize("mp3", Array[Byte](1)).isLeft)
    assert(Codecs.summarize("pcm16le", Array[Byte](1, 2, 3)).isLeft)
    assert(Codecs.summarize("adpcm", Array[Byte](1, 2)).isLeft)
    assert(Codecs.summarize("ulaw", null).isLeft)
    assert(Codecs.summarize("ulaw", Array.empty[Byte]).isLeft) // empty guard F3
  }

  private def sine(freqHz: Double, srHz: Int, n: Int, amp: Double): Array[Float] =
    Array.tabulate(n)(i =>
      (amp * math.sin(2.0 * math.Pi * freqHz / srHz * i)).toFloat)

  test("goertzelPowerAt: planted 500 Hz tone ≈ (A/2)²; off-tone 600 Hz ≪ threshold") {
    val sr = 8000
    val onTone = Codecs
      .goertzelPowerAt("pcm16le", Codecs.encode("pcm16le", sine(500, sr, sr, 0.5)), sr, 500.0)
      .fold(e => fail(e), identity)
    assert(math.abs(onTone - 0.0625) < 0.001, s"expected ~A²/4=0.0625, got $onTone")
    val offTone = Codecs
      .goertzelPowerAt("pcm16le", Codecs.encode("pcm16le", sine(600, sr, sr, 0.5)), sr, 500.0)
      .fold(e => fail(e), identity)
    assert(offTone < 0.0005, s"100 Hz-away leakage over 1 s must be tiny, got $offTone")
  }

  test("goertzel recurrence agrees with the direct-DFT ground truth to 1e-9 at the MAXIMUM clip length (44.1 kHz × 2 s)") {
    // recurrence error grows with n; the fixture's largest clip is
    // 44100 Hz × 2000 ms = 88200 samples — bound the bound where it
    // is loosest, not just at the small sizes the main test uses
    for (seed <- Seq(0L, 7L)) {
      val bytes = Codecs.encode("pcm16le", ClipGen.samplesFor(seed, 44100, 2000))
      val engine = Codecs.goertzelPowerAt("pcm16le", bytes, 44100, 500.0)
        .fold(e => fail(e), identity)
      val truth = IndependentDecoder.tonePower(
        IndependentDecoder.decode("pcm16le", bytes), 44100, 500.0)
      assert(math.abs(engine - truth) < 1e-9,
        s"seed=$seed n=88200: goertzel $engine vs direct DFT $truth")
    }
  }

  test("goertzel recurrence agrees with the direct-DFT ground truth to 1e-9 (all codecs, synth signals)") {
    for (codec <- Seq("pcm16le", "ulaw", "alaw", "adpcm"); seed <- Seq(0L, 23L, 46L, 7L)) {
      // seeds 0/23/46 put f2 exactly at 500 Hz; 7 does not
      val bytes = Codecs.encode(codec, ClipGen.samplesFor(seed, 16000, 700))
      val engine = Codecs.goertzelPowerAt(codec, bytes, 16000, 500.0)
        .fold(e => fail(e), identity)
      val truth = IndependentDecoder.tonePower(
        IndependentDecoder.decode(codec, bytes), 16000, 500.0)
      assert(math.abs(engine - truth) < 1e-9,
        s"$codec seed=$seed: goertzel $engine vs direct DFT $truth")
      if (seed != 7L)
        assert(engine > 0.015, s"$codec seed=$seed: true tone must clear 3× threshold, got $engine")
      else
        assert(engine < 0.0017, s"$codec seed=7: off-tone must sit ≥3× below threshold, got $engine")
    }
  }

  test("goertzelPowerAt guards: Nyquist bound, malformed payloads") {
    intercept[IllegalArgumentException](
      Codecs.goertzelPowerAt("pcm16le", Array[Byte](0, 0), 8000, 4000.0))
    intercept[IllegalArgumentException](
      Codecs.goertzelPowerAt("pcm16le", Array[Byte](0, 0), 0, 500.0))
    assert(Codecs.goertzelPowerAt("pcm16le", Array[Byte](1, 2, 3), 8000, 500.0).isLeft)
    assert(Codecs.goertzelPowerAt("ulaw", Array.empty[Byte], 8000, 500.0).isLeft)
  }

  // ------------------------------------------------ audio fingerprint

  test("audioFingerprint: engine Goertzel equals independent direct-DFT truth on all codecs × rates × durations") {
    for {
      codec <- Seq("pcm16le", "ulaw", "alaw", "adpcm")
      srHz <- Seq(8000, 16000, 44100)
      durMs <- Seq(60, 120, 500, 1300) // below and above the 125 ms window
      seed <- Seq(3L, 41L, 917L, 4242L)
    } {
      val src = ClipGen.samplesFor(seed, srHz, durMs)
      val bytes = Codecs.encode(codec, src)
      val eng = Codecs.audioFingerprint(codec, bytes, srHz).toOption.get
      val truth = graft.audio.IndependentDecoder.dftFingerprint(
        graft.audio.IndependentDecoder.decode(codec, bytes), srHz)
      assert(eng == truth, s"$codec sr=$srHz dur=$durMs seed=$seed")
    }
  }

  test("audioFingerprint recovers the generative tone pair and is sr/codec/phase/duration-invariant") {
    // seed 123: f1 = 100 + (123 % 40)·10 = 130, f2 = 500 + (123 % 23)·37 = 796
    val want = (130, 796)
    for {
      codec <- Seq("pcm16le", "ulaw", "alaw", "adpcm")
      srHz <- Seq(8000, 16000, 44100)
      durMs <- Seq(200, 1000)
      // same tone classes, different phase: 123 and 123 + 40·23 = 1043
      seed <- Seq(123L, 1043L)
    } {
      val bytes = Codecs.encode(codec, ClipGen.samplesFor(seed, srHz, durMs))
      assert(Codecs.audioFingerprint(codec, bytes, srHz).toOption.get == want,
        s"$codec sr=$srHz dur=$durMs seed=$seed")
    }
  }

  test("curationProfile is bit-identical to summarize + goertzelPowerAt(500) + audioFingerprint") {
    for {
      codec <- Seq("pcm16le", "ulaw", "alaw", "adpcm")
      (srHz, durMs, seed) <- Seq((8000, 90, 5L), (16000, 700, 77L), (44100, 130, 901L))
    } {
      val bytes = Codecs.encode(codec, ClipGen.samplesFor(seed, srHz, durMs))
      val p = Codecs.curationProfile(codec, bytes, srHz).toOption.get
      assert(p.stats == Codecs.summarize(codec, bytes).toOption.get, s"$codec $srHz stats")
      assert(p.tonePower == Codecs.goertzelPowerAt(codec, bytes, srHz, 500.0).toOption.get,
        s"$codec $srHz tone")
      assert((p.fpF1, p.fpF2) == Codecs.audioFingerprint(codec, bytes, srHz).toOption.get,
        s"$codec $srHz fp")
    }
  }

  test("every kernel reports the same Left reason for each malformed payload; quarantine matches summarize") {
    val pcm = "pcm16le"
    val payloads: Seq[(String, Array[Byte], String)] = Seq(
      ("ulaw", null, "null payload"),
      ("mp3", Array[Byte](1, 2), "unknown codec: mp3"),
      (pcm, Array[Byte](1, 2, 3), "pcm16le odd byte count 3"),
      ("adpcm", Array[Byte](1, 2),
        "decode failure: requirement failed: adpcm payload too short: 2"),
      // header only, odd-parity bit set: the sample count goes negative
      ("adpcm", Array[Byte](0, 0, 0, 1),
        "decode failure: requirement failed: adpcm truncated payload: " +
          "parity byte claims a sample beyond 4 bytes"),
      ("ulaw", Array.empty[Byte], "empty payload"))
    for ((codec, bytes, reason) <- payloads) {
      val kernels: Seq[(String, Either[String, Any])] = Seq(
        "summarize" -> Codecs.summarize(codec, bytes),
        "frameEnergies" -> Codecs.frameEnergies(codec, bytes, 10),
        "goertzelPowerAt" -> Codecs.goertzelPowerAt(codec, bytes, 8000, 500.0),
        "resampleStats" -> Codecs.resampleStats(codec, bytes, 8000, 16000),
        "audioFingerprint" -> Codecs.audioFingerprint(codec, bytes, 8000),
        "curationProfile" -> Codecs.curationProfile(codec, bytes, 8000))
      for ((name, got) <- kernels) assert(got == Left(reason), s"$name $codec")
      val decoded = Codecs.decode(codec, bytes)
      if (reason == "empty payload") assert(decoded.toOption.exists(_.isEmpty))
      else assert(decoded == Left(reason), s"decode $codec")
    }
    val spark = graft.TestSpark.spark
    import spark.implicits._
    val t = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val clips = payloads.zipWithIndex.map { case ((codec, bytes, _), i) =>
      graft.model.Clip(s"c$i", bytes, 8000, 0, codec, "", t)
    }
    val quarantined = graft.streaming.ClipPipeline
      .quarantineStage(clips.toDS()).collect().map(r => r._1 -> r._3).toMap
    assert(quarantined == clips.map(c =>
      c.clip_id -> Codecs.summarize(c.codec, c.bytes).left.toOption.get).toMap)
  }

  test("audioFingerprint/curationProfile reject the same malformed payloads decode does") {
    assert(Codecs.audioFingerprint("nope", Array[Byte](1), 8000).isLeft)
    assert(Codecs.audioFingerprint("ulaw", Array.empty[Byte], 8000).isLeft)
    assert(Codecs.audioFingerprint("pcm16le", Array[Byte](1, 2, 3), 8000).isLeft)
    assert(Codecs.curationProfile("nope", Array[Byte](1), 8000).isLeft)
    assert(Codecs.curationProfile("ulaw", Array.empty[Byte], 8000).isLeft)
    intercept[IllegalArgumentException](Codecs.audioFingerprint("ulaw", Array[Byte](1), 0))
  }
}
