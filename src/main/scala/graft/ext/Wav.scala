package graft.ext

/** JDK-only RIFF/WAVE PCM decoder — the audio analog of [[Png]]: a
  * REAL sample decode (not a stub) with zero external codecs, built
  * for the multimodal asset table. Reference behavior modeled on the
  * public WAVE spec (RIFF chunks, little-endian, PCM format 1).
  *
  * Scope: integer PCM (format 1) at 8/16/24/32-bit and IEEE-float
  * PCM (format 3) at 32-bit — round 9: float WAVs are what DAWs and
  * scientific tooling commonly export — any channel count (channels
  * are averaged to one mono stream before feature math — the standard
  * analysis convention). Chunks are WALKED, not assumed at fixed
  * offsets, so files with LIST/INFO/fact chunks before `data` decode
  * correctly. Anything else (ADPCM, float64, truncated payloads)
  * returns null — callers route those rows to the stub path.
  *
  * Used by [[graft.fn.Kernels.WavPcmFeatures]] inside whole-stage codegen: the
  * per-row call is a static JIT-compiled loop, same pattern as
  * [[Png.grayFeaturesOrNull]].
  */
object Wav {

  private def leU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)

  private def leU32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  private def tag(b: Array[Byte], off: Int): String =
    new String(b, off, 4, "US-ASCII")

  /** Shared RIFF walk + sample decode: (mono in [-1, 1], channels,
    * sampleRate, bits) or null. The chunk walk advances in LONG
    * arithmetic — a hostile size near Int.MaxValue previously wrapped
    * the offset negative and threw out of the documented null
    * contract — and the whole parse sits behind a NonFatal catch so
    * corrupt payloads can never escalate past a null row.
    */
  private def decodeAll(bytes: Array[Byte]): (Array[Double], Int, Int, Int) = {
    try {
      if (bytes == null || bytes.length < 44) return null
      if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "WAVE") return null
      var channels = 0
      var sampleRate = 0L
      var bits = 0
      var fmtCode = -1
      var dataOff = -1
      var dataLen = 0
      var off = 12L
      while (off + 8 <= bytes.length) {
        val o = off.toInt
        val id = tag(bytes, o)
        val size = leU32(bytes, o + 4) // unsigned, as Long
        val payload = o + 8
        id match {
          case "fmt " if size >= 16 && payload + 16 <= bytes.length =>
            fmtCode = leU16(bytes, payload)
            channels = leU16(bytes, payload + 2)
            sampleRate = leU32(bytes, payload + 4)
            bits = leU16(bytes, payload + 14)
          case "data" =>
            dataOff = payload
            dataLen = math.min(size, (bytes.length - payload).toLong).toInt
          case _ => // LIST, fact, cue … — skip
        }
        off = payload + size + (size & 1) // chunks are word-aligned
      }
      // format 1 = integer PCM (8/16/24/32), format 3 = IEEE float (32)
      if (channels < 1 || dataOff < 0) return null
      val isFloat = fmtCode == 3
      if (isFloat) { if (bits != 32) return null }
      else if (fmtCode != 1 ||
        (bits != 8 && bits != 16 && bits != 24 && bits != 32)) return null
      val bytesPerSample = bits / 8
      val frameBytes = bytesPerSample * channels
      val nFrames = dataLen / frameBytes
      if (nFrames == 0) return null
      // full-scale divisor; 8-bit WAV is UNSIGNED (offset binary)
      val scale = (1L << (bits - 1)).toDouble
      val mono = new Array[Double](nFrames)
      var f = 0
      while (f < nFrames) {
        var acc = 0.0
        var c = 0
        while (c < channels) {
          val p = dataOff + f * frameBytes + c * bytesPerSample
          if (isFloat) acc += java.lang.Float.intBitsToFloat(leU32(bytes, p).toInt)
          else {
            val raw: Long = bits match {
              case 8 => (bytes(p) & 0xff).toLong - 128L
              case 16 => leU16(bytes, p).toShort.toLong
              case 24 =>
                val u = (bytes(p) & 0xffL) | ((bytes(p + 1) & 0xffL) << 8) |
                  ((bytes(p + 2) & 0xffL) << 16)
                if ((u & 0x800000L) != 0) u - 0x1000000L else u
              case _ => leU32(bytes, p).toInt.toLong
            }
            acc += raw / scale
          }
          c += 1
        }
        mono(f) = acc / channels
        f += 1
      }
      (mono, channels, sampleRate.toInt, bits)
    } catch {
      case scala.util.control.NonFatal(_) => null
    }
  }

  /** Decode a PCM WAV payload to
    * `[channels, sample_rate, bits_per_sample, n_frames,
    *   rms, mean, peak, zero_cross_rate]`
    * (samples normalized to [-1, 1]; rms/mean/peak/zcr over the
    * channel-averaged mono stream), or null if not decodable PCM.
    */
  def pcmFeaturesOrNull(bytes: Array[Byte]): Array[Double] = {
    val d = decodeAll(bytes)
    if (d == null) return null
    val (mono, channels, sampleRate, bits) = d
    var sumSq = 0.0
    var sum = 0.0
    var peak = 0.0
    var crossings = 0L
    var prevSign = 0
    var f = 0
    while (f < mono.length) {
      val s = mono(f)
      sumSq += s * s
      sum += s
      val a = math.abs(s)
      if (a > peak) peak = a
      val sign = if (s > 0) 1 else if (s < 0) -1 else 0
      if (sign != 0) {
        if (prevSign != 0 && sign != prevSign) crossings += 1
        prevSign = sign
      }
      f += 1
    }
    val n = mono.length
    Array(
      channels.toDouble, sampleRate.toDouble, bits.toDouble, n.toDouble,
      math.sqrt(sumSq / n), sum / n, peak,
      if (n > 1) crossings.toDouble / (n - 1) else 0.0)
  }

  /** Channel-averaged mono stream normalized to [-1, 1] plus the
    * sample rate, or null — the sample-level twin of
    * [[pcmFeaturesOrNull]] feeding [[Audio.fingerprint64OrNull]].
    */
  def monoOrNull(bytes: Array[Byte]): (Array[Double], Int) = {
    val d = decodeAll(bytes)
    if (d == null) null else (d._1, d._3)
  }
}
