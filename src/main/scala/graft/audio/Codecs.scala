package graft.audio

/** Pure-JVM audio codecs for the clip payload.
  *
  * This is the decode front-end of the per-record map stage — the
  * analogue of the reference's serde layer
  * (`serializer/Hl7Deserializer.java:22-34` in the reference):
  * opaque bytes in, typed domain value out, malformed input surfaced as
  * `Left(reason)` (the engine quarantines instead of the reference's
  * hard client shutdown, KafkaConfiguration.java:34-41).
  *
  * Codecs (all public-spec, self-contained implementations):
  *  - `pcm16le` — 16-bit little-endian linear PCM (identity container)
  *  - `ulaw`    — ITU-T G.711 μ-law, 8 bits/sample
  *  - `alaw`    — ITU-T G.711 A-law, 8 bits/sample
  *  - `adpcm`   — IMA/DVI ADPCM, 4 bits/sample with a 4-byte state header
  *
  * Decoding has one path. [[reader]] validates a payload once (null,
  * unknown codec, odd pcm16le length, ADPCM header) and returns a
  * [[PcmReader]], or the reason the payload is malformed. The reader
  * fills a caller-owned `Array[Int]` block with int16 samples through
  * `read(buf)`, which returns 0 at the end; each codec has one private
  * fill loop. Every kernel below is a loop over such blocks
  * ([[drain]]) folding each block into small accumulators, so the
  * per-sample work stays in plain loops with no per-sample callback.
  * Decoded floats are `s / 32768` in [-1, 1).
  */
object Codecs {

  val Supported: Set[String] = Set("pcm16le", "ulaw", "alaw", "adpcm")

  // ---------------------------------------------------------------- pcm16le

  def pcm16leEncode(pcm: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](pcm.length * 2)
    var i = 0
    while (i < pcm.length) {
      out(2 * i) = (pcm(i) & 0xff).toByte
      out(2 * i + 1) = ((pcm(i) >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  // ------------------------------------------------------------ G.711 μ-law

  private final val UlawBias = 0x84
  private final val UlawClip = 32635

  def ulawEncodeSample(pcm: Short): Byte = {
    var s = pcm.toInt
    val sign = if (s < 0) 0x80 else 0
    if (s < 0) s = -s
    if (s > UlawClip) s = UlawClip
    s += UlawBias
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    val man = (s >> (exp + 3)) & 0x0f
    (~(sign | (exp << 4) | man)).toByte
  }

  def ulawDecodeSample(b: Byte): Short = {
    val u = (~b) & 0xff
    val sign = u & 0x80
    val exp = (u >> 4) & 0x07
    val man = u & 0x0f
    var s = (((man << 3) + UlawBias) << exp) - UlawBias
    if (sign != 0) s = -s
    s.toShort
  }

  def ulawEncode(pcm: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](pcm.length)
    var i = 0
    while (i < pcm.length) { out(i) = ulawEncodeSample(pcm(i)); i += 1 }
    out
  }

  // ------------------------------------------------------------ G.711 A-law

  def alawEncodeSample(pcm: Short): Byte = {
    var s = pcm.toInt
    val sign = if (s >= 0) 0x80 else 0
    if (s < 0) s = -s - 1
    if (s > UlawClip) s = UlawClip
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    val man =
      if (exp == 0) (s >> 4) & 0x0f // exp 0 also covers s < 256 after loop ends at exp 0
      else (s >> (exp + 3)) & 0x0f
    ((sign | (exp << 4) | man) ^ 0x55).toByte
  }

  def alawDecodeSample(b: Byte): Short = {
    val a = (b ^ 0x55) & 0xff
    val sign = a & 0x80
    val exp = (a >> 4) & 0x07
    val man = a & 0x0f
    var s =
      if (exp == 0) (man << 4) + 8
      else ((man << 4) + 0x108) << (exp - 1)
    if (sign == 0) s = -s
    s.toShort
  }

  def alawEncode(pcm: Array[Short]): Array[Byte] = {
    val out = new Array[Byte](pcm.length)
    var i = 0
    while (i < pcm.length) { out(i) = alawEncodeSample(pcm(i)); i += 1 }
    out
  }

  // ------------------------------------------------ G.711 decode tables
  // 256-entry lookup twins of the arithmetic decoders, built FROM them
  // so bit-identity holds by construction: the reader's G.711 fill loop
  // replaces ~10 bit ops + a call with one L1 load per byte. The
  // arithmetic forms stay the public API — q56's oracle and CodecsSpec
  // pin them against independent SQL.
  private final val UlawTable: Array[Short] =
    Array.tabulate(256)(i => ulawDecodeSample(i.toByte))
  private final val AlawTable: Array[Short] =
    Array.tabulate(256)(i => alawDecodeSample(i.toByte))

  // ------------------------------------------------------------- IMA ADPCM

  private final val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37, 41,
    45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173, 190,
    209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066, 2272, 2499,
    2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894, 6484, 7132, 7845,
    8630, 9493, 10442, 11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385,
    24623, 27086, 29794, 32767)

  private final val IndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  private def clampIndex(i: Int): Int = if (i < 0) 0 else if (i > 88) 88 else i
  private def clampPcm(s: Int): Int =
    if (s > 32767) 32767 else if (s < -32768) -32768 else s

  /** Layout: [predictor lo][predictor hi][index][nSamples parity pad],
    * then ceil(n/2) bytes of packed 4-bit codes (low nibble first).
    */
  def adpcmEncode(pcm: Array[Short]): Array[Byte] = {
    val n = pcm.length
    val out = new Array[Byte](4 + (n + 1) / 2)
    var predictor: Int = if (n > 0) pcm(0).toInt else 0
    var index = 0
    out(0) = (predictor & 0xff).toByte
    out(1) = ((predictor >> 8) & 0xff).toByte
    out(2) = index.toByte
    out(3) = (n & 1).toByte
    var i = 0
    while (i < n) {
      val step = StepTable(index)
      var diff = pcm(i) - predictor
      var code = 0
      if (diff < 0) { code = 8; diff = -diff }
      var tmp = diff
      var vpdiff = step >> 3
      if (tmp >= step) { code |= 4; tmp -= step; vpdiff += step }
      if (tmp >= (step >> 1)) { code |= 2; tmp -= step >> 1; vpdiff += step >> 1 }
      if (tmp >= (step >> 2)) { code |= 1; vpdiff += step >> 2 }
      predictor = clampPcm(if ((code & 8) != 0) predictor - vpdiff else predictor + vpdiff)
      index = clampIndex(index + IndexTable(code))
      val pos = 4 + (i >> 1)
      if ((i & 1) == 0) out(pos) = (code & 0x0f).toByte
      else out(pos) = (out(pos) | ((code & 0x0f) << 4)).toByte
      i += 1
    }
    out
  }

  // ---------------------------------------------------------------- encode

  /** Encode float samples in [-1,1) with the named codec. */
  def encode(codec: String, samples: Array[Float]): Array[Byte] = {
    val pcm = new Array[Short](samples.length)
    var i = 0
    while (i < samples.length) {
      val v = math.round(samples(i) * 32767.0f)
      pcm(i) = clampPcm(v).toShort
      i += 1
    }
    codec match {
      case "pcm16le" => pcm16leEncode(pcm)
      case "ulaw"    => ulawEncode(pcm)
      case "alaw"    => alawEncode(pcm)
      case "adpcm"   => adpcmEncode(pcm)
      case other     => throw new IllegalArgumentException(s"unknown codec: $other")
    }
  }

  // ---------------------------------------------------------------- reader

  /** Samples per block a kernel reads at a time. */
  private final val Block = 1024

  /** One validated payload's int16 samples, decoded in order:
    * `read(buf)` fills `buf` from index 0 and returns the number of
    * samples written, 0 once all [[length]] samples have been read.
    * Built only by [[reader]], so no fill loop can meet a malformed
    * payload.
    */
  sealed abstract class PcmReader(val length: Int) {
    private var pos = 0

    def read(buf: Array[Int]): Int = {
      val m = math.min(buf.length, length - pos)
      if (m <= 0) return 0
      fill(buf, pos, m)
      pos += m
      m
    }

    /** Decodes samples `from until from + m` into `buf(0 until m)`. */
    protected def fill(buf: Array[Int], from: Int, m: Int): Unit
  }

  private final class Pcm16Reader(bytes: Array[Byte])
      extends PcmReader(bytes.length / 2) {
    protected def fill(buf: Array[Int], from: Int, m: Int): Unit = {
      var i = 0
      var b = 2 * from
      while (i < m) {
        buf(i) = (((bytes(b + 1) & 0xff) << 8) | (bytes(b) & 0xff)).toShort
        i += 1
        b += 2
      }
    }
  }

  /** G.711 μ-law and A-law: one table load per byte. */
  private final class TableReader(bytes: Array[Byte], table: Array[Short])
      extends PcmReader(bytes.length) {
    protected def fill(buf: Array[Int], from: Int, m: Int): Unit = {
      var i = 0
      while (i < m) { buf(i) = table(bytes(from + i) & 0xff); i += 1 }
    }
  }

  /** IMA ADPCM after the header [[adpcmReader]] checked: the predictor
    * and step index carry from one block to the next.
    */
  private final class AdpcmReader(bytes: Array[Byte], n: Int)
      extends PcmReader(n) {
    private var predictor = (((bytes(1) & 0xff) << 8) | (bytes(0) & 0xff)).toShort.toInt
    private var index = clampIndex(bytes(2) & 0xff)

    protected def fill(buf: Array[Int], from: Int, m: Int): Unit = {
      var p = predictor
      var ix = index
      var i = 0
      while (i < m) {
        val j = from + i
        val raw = bytes(4 + (j >> 1)) & 0xff
        val code = if ((j & 1) == 0) raw & 0x0f else (raw >> 4) & 0x0f
        val step = StepTable(ix)
        // the spec's conditional adds as masks (-bit is 0 or all ones):
        // the code bits are data, and branches on them mispredict
        val vpdiff = (step >> 3) + (step & -((code >> 2) & 1)) +
          ((step >> 1) & -((code >> 1) & 1)) + ((step >> 2) & -(code & 1))
        val neg = -((code >> 3) & 1) // sign bit set: (vpdiff ^ -1) + 1 = -vpdiff
        p = clampPcm(p + ((vpdiff ^ neg) - neg))
        ix = clampIndex(ix + IndexTable(code))
        buf(i) = p
        i += 1
      }
      predictor = p
      index = ix
    }
  }

  /** Validates `bytes` as a `codec` payload and returns its reader, or
    * the reason it is malformed. The one place that dispatches on the
    * codec name for decoding.
    */
  def reader(codec: String, bytes: Array[Byte]): Either[String, PcmReader] =
    if (bytes == null) Left("null payload")
    else codec match {
      case "pcm16le" =>
        if (bytes.length % 2 != 0) Left(s"pcm16le odd byte count ${bytes.length}")
        else Right(new Pcm16Reader(bytes))
      case "ulaw"  => Right(new TableReader(bytes, UlawTable))
      case "alaw"  => Right(new TableReader(bytes, AlawTable))
      case "adpcm" => adpcmReader(bytes)
      case other   => Left(s"unknown codec: $other")
    }

  /** The 4-byte ADPCM header holds no sample count: it follows from the
    * payload length and the parity bit, and a header-only payload with
    * the parity bit set claims -1 samples. Both reasons, prefix
    * included, are part of the quarantine surface CodecsSpec pins.
    */
  private def adpcmReader(bytes: Array[Byte]): Either[String, PcmReader] = {
    val fail = "decode failure: requirement failed: adpcm"
    if (bytes.length < 4) Left(s"$fail payload too short: ${bytes.length}")
    else {
      val n = (bytes.length - 4) * 2 - (bytes(3) & 0x01)
      if (n < 0) Left(s"$fail truncated payload: parity byte claims a sample beyond ${bytes.length} bytes")
      else Right(new AdpcmReader(bytes, n))
    }
  }

  /** [[reader]] that also rejects a payload of zero samples: every
    * kernel but [[decode]] needs at least one. Its `Left` is the
    * quarantine reason of a clip.
    */
  def nonEmptyReader(codec: String, bytes: Array[Byte]): Either[String, PcmReader] =
    reader(codec, bytes).filterOrElse(_.length > 0, "empty payload")

  /** A kernel's state, folded one block of samples at a time. */
  private sealed trait BlockAcc {
    def add(buf: Array[Int], m: Int): Unit
  }

  /** Reads `r` to the end, folding every block into `acc` and `more`. */
  private def drain[A <: BlockAcc](r: PcmReader, acc: A, more: BlockAcc*): A = {
    val accs = acc +: more
    val buf = new Array[Int](Block)
    var m = r.read(buf)
    while (m > 0) {
      accs.foreach(_.add(buf, m))
      m = r.read(buf)
    }
    acc
  }

  // --------------------------------------------------------------- kernels

  private final class Floats(n: Int) extends BlockAcc {
    val out = new Array[Float](n)
    private var off = 0

    def add(buf: Array[Int], m: Int): Unit = {
      var i = 0
      while (i < m) { out(off + i) = buf(i) / 32768.0f; i += 1 }
      off += m
    }
  }

  /** Decode to normalized floats; malformed input → Left(reason). The
    * Either (instead of an exception that kills the stream) is the
    * engine's deliberate divergence from the reference's poison-pill
    * shutdown (README.md:85-89). An empty payload decodes to an empty
    * array.
    */
  def decode(codec: String, bytes: Array[Byte]): Either[String, Array[Float]] =
    reader(codec, bytes).map(r => drain(r, new Floats(r.length)).out)

  /** One-pass PCM statistics (int16 domain accumulation). */
  final case class PcmStats(
      n: Int, sumSq: Double, peak: Double, zeroCrossings: Int, clipped: Int)

  private final class Stats extends BlockAcc {
    private var n = 0
    private var sumSq = 0.0
    private var peakAbs = 0
    private var zc = 0
    private var clipped = 0
    private var prevNonNeg = true

    def add(buf: Array[Int], m: Int): Unit = {
      if (n == 0) prevNonNeg = buf(0) >= 0 // the first sample crosses nothing
      var i = 0
      while (i < m) {
        val s = buf(i)
        val v = s / 32768.0
        sumSq += v * v
        val a = math.abs(s)
        if (a > peakAbs) peakAbs = a
        if (a >= 32736) clipped += 1 // |v| >= 0.999
        val nonNeg = s >= 0
        if (nonNeg != prevNonNeg) zc += 1
        prevNonNeg = nonNeg
        i += 1
      }
      n += m
    }

    def result: PcmStats = PcmStats(n, sumSq, peakAbs / 32768.0, zc, clipped)
  }

  /** Decode + summarize WITHOUT materializing the sample array — the
    * fused hot path of the per-record map stage. Semantically
    * equivalent to `decode(...)` followed by a stats pass (asserted in
    * CodecsSpec); avoids one Float allocation per sample, which at
    * ~20 M samples/s/core is the difference between GC-bound and
    * compute-bound decode.
    */
  def summarize(codec: String, bytes: Array[Byte]): Either[String, PcmStats] =
    nonEmptyReader(codec, bytes).map(r => drain(r, new Stats).result)

  private final class FrameEnergies(n: Int, frameLen: Int) extends BlockAcc {
    val energies = new Array[Double]((n + frameLen - 1) / frameLen)
    private var fi = 0      // current frame
    private var inFrame = 0 // samples consumed in the current frame

    def add(buf: Array[Int], m: Int): Unit = {
      var i = 0
      while (i < m) {
        if (inFrame == frameLen) { fi += 1; inFrame = 0 }
        val v = buf(i) / 32768.0
        energies(fi) += v * v
        inFrame += 1
        i += 1
      }
    }
  }

  /** Per-frame energies (sum of squared normalized samples per
    * `frameLen`-sample window) computed while decoding — the fused
    * twin of `decode(...)` + framing for the 1:N frame stage (same
    * trick as [[summarize]]: no Float array per clip; measured ~2× on
    * p04). Bit-identical to the unfused path: s/32768.0 is exact for
    * int16 in both float and double, and the per-frame sum runs in the
    * same order.
    */
  def frameEnergies(codec: String, bytes: Array[Byte],
      frameLen: Int): Either[String, Array[Double]] = {
    require(frameLen > 0, s"frameLen must be positive: $frameLen")
    nonEmptyReader(codec, bytes)
      .map(r => drain(r, new FrameEnergies(r.length, frameLen)).energies)
  }

  /** The Goertzel recurrence for the power at `freqHz` of samples at
    * rate `srHz`: [[goertzelPowerAt]]'s tone probe and every probe of
    * the fingerprint filterbank ([[FingerprintWindow]]).
    */
  private final class Goertzel(freqHz: Double, srHz: Double) extends BlockAcc {
    private val coeff = 2.0 * math.cos(2.0 * math.Pi * freqHz / srHz)
    private var s1 = 0.0 // s[n-1]
    private var s2 = 0.0 // s[n-2]
    private var n = 0

    def add(x: Double): Unit = {
      val s0 = x + coeff * s1 - s2
      s2 = s1
      s1 = s0
      n += 1
    }

    def add(buf: Array[Int], m: Int): Unit = {
      var i = 0
      while (i < m) { add(buf(i) / 32768.0); i += 1 }
    }

    /** |X(f)|² from the recurrence tail, normalized by n² so a unit
      * sine at exactly f yields ~(amplitude/2)² independent of length.
      */
    def power: Double = (s1 * s1 + s2 * s2 - coeff * s1 * s2) / (n.toDouble * n.toDouble)
  }

  /** Narrowband tone power at `freqHz` via the Goertzel recurrence
    * (O(n) streaming, allocation-free), fused into the single decode
    * pass — the telephony-style tone/hum detector
    * (the audio analogue of the reference's code-map gating, SURVEY.md
    * §2.7). The oracle's ground truth recomputes the same quantity by
    * DIRECT DFT accumulation ([[IndependentDecoder.tonePower]]) — a
    * different algorithm and numeric path, so agreement is evidence,
    * not a tautology.
    */
  def goertzelPowerAt(codec: String, bytes: Array[Byte], srHz: Int,
      freqHz: Double): Either[String, Double] = {
    require(srHz > 0, s"srHz must be positive: $srHz")
    require(freqHz > 0 && freqHz < srHz / 2.0,
      s"probe frequency $freqHz outside (0, ${srHz / 2.0}) for sr $srHz")
    nonEmptyReader(codec, bytes).map(r => drain(r, new Goertzel(freqHz, srHz)).power)
  }

  /** [[resampleStats]]'s streaming linear interpolator: each output
    * sample is emitted once the input sample after its position is in.
    */
  private final class Resampler(inRate: Int, outRate: Int) extends BlockAcc {
    private var prev = 0.0f
    private var i = -1L // index of the last sample received
    private var j = 0L  // next output index to emit
    private var sumSq = 0.0
    private var emitted = 0L

    private def emit(v: Float): Unit = { sumSq += v.toDouble * v; emitted += 1 }

    def add(buf: Array[Int], m: Int): Unit = {
      var k = 0
      while (k < m) {
        val cur = buf(k) / 32768.0f
        i += 1
        if (i > 0) {
          // emit every output whose floor position is the previous sample
          while ((j * inRate) / outRate == i - 1) {
            val frac = ((j * inRate) % outRate).toDouble / outRate
            emit((prev * (1.0 - frac) + cur * frac).toFloat)
            j += 1
          }
        }
        prev = cur
        k += 1
      }
    }

    /** (n_in, n_out, rms_out), once every input sample is in. */
    def result: (Int, Int, Double) = {
      val nIn = (i + 1).toInt
      val nOut = ((nIn - 1).toLong * outRate / inRate + 1).toInt
      while (emitted < nOut) emit(prev) // tail: floor position == n_in − 1
      (nIn, nOut, if (nOut == 0) 0.0 else math.sqrt(sumSq / nOut))
    }
  }

  /** Fused decode → linear resample → RMS: streams samples through the
    * interpolator, materializing NEITHER the input nor the output
    * array (the unfused decode+[[resampleLinear]] pair allocates ~2
    * float arrays per clip — measured ~4× slower at 100k clips).
    * Arithmetic is identical to the unfused path (same integer
    * position math, same double interpolation of float samples;
    * asserted in CodecsSpec). Returns (n_in, n_out, rms_out).
    */
  def resampleStats(codec: String, bytes: Array[Byte], inRate: Int,
      outRate: Int): Either[String, (Int, Int, Double)] = {
    require(inRate > 0 && outRate > 0, s"rates must be positive: $inRate→$outRate")
    nonEmptyReader(codec, bytes).map(r => drain(r, new Resampler(inRate, outRate)).result)
  }

  /** Linear-interpolation sample-rate conversion — the audio analogue
    * of the multimodal "resize" op (uniform model-ingest rate for a
    * training pipeline). Output length is the deterministic
    * `floor((n_in − 1) · outRate / inRate) + 1` (SQL-expressible, so
    * the q57 oracle can check it), output sample j interpolates the
    * two input samples around position j·inRate/outRate. Position
    * arithmetic is integer (j·inRate exact in Long), so results are
    * bit-stable across platforms.
    */
  def resampleLinear(samples: Array[Float], inRate: Int,
      outRate: Int): Array[Float] = {
    require(inRate > 0 && outRate > 0, s"rates must be positive: $inRate→$outRate")
    if (samples.isEmpty || inRate == outRate) return samples
    val nOut = ((samples.length - 1).toLong * outRate / inRate).toInt + 1
    val out = new Array[Float](nOut)
    var j = 0
    while (j < nOut) {
      val num = j.toLong * inRate // exact integer position numerator
      val i = (num / outRate).toInt
      val frac = (num % outRate).toDouble / outRate
      out(j) =
        if (i + 1 < samples.length)
          (samples(i) * (1.0 - frac) + samples(i + 1) * frac).toFloat
        else samples(samples.length - 1)
      j += 1
    }
    out
  }

  /** The decimated analysis window [[audioFingerprint]] scans: every
    * k-th sample until the window is full.
    */
  private final class FingerprintWindow(srHz: Int) extends BlockAcc {
    private val k = Fingerprint.decimation(srHz)
    private val win = new Array[Double](Fingerprint.windowLen(srHz))
    private var w = 0
    private var idx = 0

    def add(buf: Array[Int], m: Int): Unit = {
      var i = 0
      while (i < m && w < win.length) {
        if (idx % k == 0) { win(w) = buf(i) / 32768.0; w += 1 }
        idx += 1
        i += 1
      }
    }

    /** Full-grid Goertzel filterbank argmax over the window, at its
      * effective rate.
      */
    def fingerprint: (Int, Int) = {
      val srE = srHz.toDouble / k
      Fingerprint.estimate { f =>
        val g = new Goertzel(f, srE)
        var i = 0
        while (i < w) { g.add(win(i)); i += 1 }
        g.power
      }
    }
  }

  /** Content-level audio fingerprint (dominant two-tone signature,
    * [[Fingerprint]]): fused decode → decimated 0.125 s window →
    * full-grid Goertzel filterbank argmax. Ground-truth twin:
    * [[IndependentDecoder.dftFingerprint]] (direct DFT over the
    * independently decoded PCM); the two are hard-asserted equal for
    * every staged clip in `ClipGen` staging.
    */
  def audioFingerprint(codec: String, bytes: Array[Byte],
      srHz: Int): Either[String, (Int, Int)] = {
    val fp = new FingerprintWindow(srHz) // requires srHz > 0
    nonEmptyReader(codec, bytes).map(r => drain(r, fp).fingerprint)
  }

  /** Everything the audio-curation queries need from one clip in ONE
    * decode pass: [[summarize]] stats + the 500 Hz probe-tone power
    * ([[goertzelPowerAt]]) + the content fingerprint
    * ([[audioFingerprint]]) — the same three accumulators the
    * standalone kernels use (asserted bit-identical in CodecsSpec), so
    * q67/s28 pay one decode where three chained calls would pay three.
    */
  final case class CurationProfile(
      stats: PcmStats, tonePower: Double, fpF1: Int, fpF2: Int)

  def curationProfile(codec: String, bytes: Array[Byte],
      srHz: Int): Either[String, CurationProfile] = {
    val fp = new FingerprintWindow(srHz) // requires srHz > 0
    nonEmptyReader(codec, bytes).map { r =>
      val tone = new Goertzel(500.0, srHz)
      val stats = drain(r, new Stats, tone, fp).result
      val (f1, f2) = fp.fingerprint
      CurationProfile(stats, tone.power, f1, f2)
    }
  }

  /** Signal-to-noise ratio in dB of `decoded` against `original`. */
  def snrDb(original: Array[Float], decoded: Array[Float]): Double = {
    require(original.length == decoded.length, "length mismatch")
    var sig = 0.0
    var noise = 0.0
    var i = 0
    while (i < original.length) {
      val o = original(i).toDouble
      val d = decoded(i).toDouble
      sig += o * o
      noise += (o - d) * (o - d)
      i += 1
    }
    if (noise == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(sig / noise)
  }
}
