package graft.audio

import java.nio.{ByteBuffer, ByteOrder}

/** Verification-side oracle decoder, implemented independently of
  * [[Codecs]] (table-driven G.711 expansion instead of arithmetic
  * reconstruction; ByteBuffer-based PCM) so decode bugs can't hide
  * behind shared code. Tables built from the ITU-T G.711 definition.
  *
  * Used by CodecsSpec (sample-level decode oracle) and by
  * [[graft.synth.ClipGen]]'s staging step, which materializes
  * generator-side expected PCM statistics per clip — the ground truth
  * the p01 DuckDB oracle checks the fused distributed decode against.
  * IMA ADPCM is the one codec with no table-driven alternative (the
  * published IMA algorithm IS the conditional-add reconstruction), so
  * its expansion here mirrors the spec loop; its value for p01 is
  * end-to-end pipeline integrity, not decoder independence — adpcm
  * decode independence is covered by the encode round-trip SNR tests.
  */
object IndependentDecoder {

  /** μ-law expansion table built by inverting the segment layout. */
  private lazy val ulawTable: Array[Short] = {
    val t = new Array[Short](256)
    for (b <- 0 until 256) {
      val u = ~b & 0xff
      val sign = (u & 0x80) != 0
      val exponent = (u >> 4) & 0x07
      val mantissa = u & 0x0f
      val magnitude = (((mantissa << 3) | 0x84) << exponent) - 0x84
      t(b) = (if (sign) -magnitude else magnitude).toShort
    }
    t
  }

  /** A-law expansion table from the G.711 segment definition. */
  private lazy val alawTable: Array[Short] = {
    val t = new Array[Short](256)
    for (b <- 0 until 256) {
      val a = (b ^ 0x55) & 0xff
      val sign = (a & 0x80) != 0
      val exponent = (a >> 4) & 0x07
      val mantissa = a & 0x0f
      val magnitude =
        if (exponent == 0) (mantissa << 4) | 0x8
        else ((mantissa << 4) | 0x108) << (exponent - 1)
      t(b) = (if (sign) magnitude else -magnitude).toShort
    }
    t
  }

  /** IMA/DVI ADPCM step sizes (published spec constants). */
  private val Steps: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41,
    45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190,
    209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499,
    2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845,
    8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385,
    24623, 27086, 29794, 32767)

  private val IndexAdj: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** IMA ADPCM expansion per the spec's conditional-add reconstruction
    * (same 4-byte header layout as the encoder: predictor lo/hi,
    * index, odd-sample parity).
    */
  private def adpcm(bytes: Array[Byte]): Array[Float] = {
    require(bytes.length >= 4, s"adpcm payload too short: ${bytes.length}")
    var predictor = (((bytes(1) & 0xff) << 8) | (bytes(0) & 0xff)).toShort.toInt
    var index = math.min(88, math.max(0, bytes(2) & 0xff))
    // a 4-byte payload (header only) with the odd-parity bit set would
    // compute -1 and throw NegativeArraySizeException — clamp to empty
    val n = math.max(0, (bytes.length - 4) * 2 - (bytes(3) & 0x01))
    val out = new Array[Float](n)
    for (i <- 0 until n) {
      val raw = bytes(4 + (i >> 1)) & 0xff
      val code = if ((i & 1) == 0) raw & 0x0f else (raw >> 4) & 0x0f
      val step = Steps(index)
      var d = step >> 3
      if ((code & 4) != 0) d += step
      if ((code & 2) != 0) d += step >> 1
      if ((code & 1) != 0) d += step >> 2
      predictor =
        if ((code & 8) != 0) math.max(-32768, predictor - d)
        else math.min(32767, predictor + d)
      index = math.min(88, math.max(0, index + IndexAdj(code)))
      out(i) = predictor / 32768.0f
    }
    out
  }

  def decode(codec: String, bytes: Array[Byte]): Array[Float] = codec match {
    case "pcm16le" =>
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Float](bytes.length / 2)
      for (i <- out.indices) out(i) = bb.getShort() / 32768.0f
      out
    case "ulaw"  => bytes.map(b => ulawTable(b & 0xff) / 32768.0f)
    case "alaw"  => bytes.map(b => alawTable(b & 0xff) / 32768.0f)
    case "adpcm" => adpcm(bytes)
    case other   => throw new IllegalArgumentException(other)
  }

  /** Expected per-clip PCM statistics from decoded floats — the
    * generator-side ground truth for the p01 oracle. Every decoded
    * float is an exact s/2¹⁵ for an int16 s, so these float-domain
    * accumulations are bit-identical to [[Codecs.summarize]]'s fused
    * int-domain loop when both are correct: v·v in double equals
    * (s/32768.0)², |v| ≥ 32736/32768 iff |s| ≥ 32736, and v ≥ 0 iff
    * s ≥ 0 — same sums, in the same sequential order.
    */
  final case class Stats(
      n: Int, rms: Double, peak: Double, zeroCrossings: Int, clipped: Int)

  def stats(samples: Array[Float]): Stats = {
    require(samples.nonEmpty, "stats of empty PCM")
    var sumSq = 0.0
    var peak = 0.0f
    var zc = 0
    var clipped = 0
    var prevNonNeg = true
    var first = true
    val clipAt = 32736.0f / 32768.0f // exactly representable (1 − 2⁻¹⁰)
    samples.foreach { v =>
      sumSq += v.toDouble * v.toDouble
      val a = math.abs(v)
      if (a > peak) peak = a
      if (a >= clipAt) clipped += 1
      val nonNeg = v >= 0.0f
      if (!first && nonNeg != prevNonNeg) zc += 1
      prevNonNeg = nonNeg
      first = false
    }
    Stats(samples.length, math.sqrt(sumSq / samples.length), peak.toDouble,
      zc, clipped)
  }

  /** Ground-truth content fingerprint by DIRECT DFT accumulation over
    * the decimated analysis window — the independent-numeric-path twin
    * of [[graft.audio.Codecs.audioFingerprint]] (which runs the
    * Goertzel recurrence inside the engine's fused decode). Shares
    * only the definitional control logic ([[Fingerprint]]: grids,
    * decimation, window, scan order); the decode and the per-candidate
    * power kernel are fully independent. `ClipGen` staging
    * hard-asserts the two fingerprints equal for every staged clip, so
    * any numeric near-tie that could flip an argmax between the two
    * implementations fails loudly at staging instead of flaking the
    * q66–q68/s28 oracles.
    */
  def dftFingerprint(samples: Array[Float], srHz: Int): (Int, Int) = {
    require(samples.nonEmpty, "dftFingerprint of empty PCM")
    val k = Fingerprint.decimation(srHz)
    val maxW = Fingerprint.windowLen(srHz)
    val w = math.min(maxW, (samples.length + k - 1) / k)
    val srE = srHz.toDouble / k
    def dftPower(freqHz: Double): Double = {
      val om = 2.0 * math.Pi * freqHz / srE
      var re = 0.0
      var im = 0.0
      var i = 0
      while (i < w) {
        val x = samples(i * k).toDouble
        re += x * math.cos(om * i)
        im -= x * math.sin(om * i)
        i += 1
      }
      (re * re + im * im) / (w.toDouble * w.toDouble)
    }
    Fingerprint.estimate(dftPower)
  }

  /** Normalized tone power |X(f)|²/n² by DIRECT DFT accumulation
    * (cos/sin running sums) — the ground-truth twin of the engine's
    * Goertzel recurrence ([[graft.audio.Codecs.goertzelPowerAt]]).
    * Different algorithm, different floating-point path: the two agree
    * to ~1e-9 absolute (CodecsSpec bounds it), which survives the
    * round(3) the q58 oracle compares at by >5 orders of magnitude.
    */
  def tonePower(samples: Array[Float], srHz: Int, freqHz: Double): Double = {
    require(samples.nonEmpty, "tonePower of empty PCM")
    val w = 2.0 * math.Pi * freqHz / srHz
    var re = 0.0
    var im = 0.0
    var i = 0
    while (i < samples.length) {
      val x = samples(i).toDouble
      re += x * math.cos(w * i)
      im -= x * math.sin(w * i)
      i += 1
    }
    val n = samples.length.toDouble
    (re * re + im * im) / (n * n)
  }
}
