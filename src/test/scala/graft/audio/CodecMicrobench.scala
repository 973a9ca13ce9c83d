package graft.audio

import graft.synth.ClipGen

/** Single-threaded ns per decoded sample of [[Codecs.decode]] and
  * [[Codecs.summarize]], per codec, over 64 clips of 88 200 samples
  * (44.1 kHz × 2 s, the longest fixture clip). Prints one JSON line:
  * the median over `rounds` timed rounds after `warmup` untimed ones.
  *
  * {{{
  * sbt "Test/runMain graft.audio.CodecMicrobench [rounds] [warmup]"
  * }}}
  */
object CodecMicrobench {

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.map(_.toInt).getOrElse(15)
    val warmup = args.lift(1).map(_.toInt).getOrElse(10)
    val codecs = Seq("pcm16le", "ulaw", "alaw", "adpcm")
    val clips = codecs.map { codec =>
      codec -> (0 until 64).map(i => Codecs.encode(codec, ClipGen.samplesFor(i.toLong, 44100, 2000)))
    }.toMap
    var sink = 0.0 // keeps the results live
    val kernels: Seq[(String, (String, Array[Byte]) => Int)] = Seq(
      "decode" -> { (c, b) => val a = Codecs.decode(c, b).toOption.get; sink += a(a.length / 2); a.length },
      "summarize" -> { (c, b) => val s = Codecs.summarize(c, b).toOption.get; sink += s.sumSq; s.n })
    def timeNsPerSample(kernel: (String, Array[Byte]) => Int, codec: String): Double = {
      val t0 = System.nanoTime()
      var n = 0L
      clips(codec).foreach(b => n += kernel(codec, b))
      (System.nanoTime() - t0).toDouble / n
    }
    val fields = for ((name, kernel) <- kernels; codec <- codecs) yield {
      (0 until warmup).foreach(_ => timeNsPerSample(kernel, codec))
      val xs = (0 until rounds).map(_ => timeNsPerSample(kernel, codec)).sorted
      f""""$name.$codec":${xs(xs.size / 2)}%.3f"""
    }
    println(fields.mkString("{", ",", s""","sink":${sink.isNaN}}"""))
  }
}
