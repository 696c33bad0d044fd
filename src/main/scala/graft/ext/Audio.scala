package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Audio perceptual dedup — the last modality joining the shared
  * band-join pair family (text winnow/minhash, image dHash, video
  * keyframe dHash): format-routed sample decode (WAV PCM via
  * [[Wav]], FLAC via [[Flac]] — real frame decode, not headers) →
  * channel-averaged mono → a 64-bit ENERGY-BAND fingerprint (the
  * dHash analog) → [[Images.nearDupPairsFromHashes]], the identical
  * pigeonhole-exact candidate stage images and videos use.
  *
  * Fingerprint construction (deterministic, O(n), JDK-only):
  * the mono stream splits into 9 equal time segments; each segment
  * runs an 8-level Haar filter-bank cascade (averages/differences of
  * adjacent pairs, halving each level), yielding 9 octave-spaced
  * energies — 8 detail bands top octave downward plus the final
  * approximation band. Bit `b·8 + t` is the sign of the DOUBLE
  * difference (Haitsma & Kalker 2002's robust-hash bit):
  * `(E[b][t+1] − E[b][t]) − (E[b+1][t+1] − E[b+1][t]) > 0` —
  * differencing over time kills absolute level, differencing over
  * adjacent bands kills the shared loudness envelope that would
  * otherwise correlate every band's rise/fall pattern. Small
  * amplitude perturbations flip bits only at near-ties, so
  * near-duplicates land within a few bits of hamming distance while
  * distinct spectra decorrelate.
  *
  * Scale shape: the fingerprint is a per-row narrow kernel (no
  * shuffle, scales with executor count); the pair stage is the
  * band-bucketed join graded under q84p/q125p — never all-pairs.
  */
object Audio {

  /** 9 time segments × 9 bands (8 details + approximation) → 8×8
    * double-difference bits.
    */
  private val Segments = 9
  private val Levels = 8
  private val Bands = Levels + 1
  // each segment needs 2^Levels samples for the deepest band to hold
  // at least one detail coefficient
  private val MinSegment = 1 << Levels

  /** Format-routed mono decode: (samples in [-1, 1], sampleRate) or
    * null. WAV by RIFF magic, FLAC by fLaC magic, Ogg Vorbis by OggS
    * magic (the [[VorbisDecode]] signal path — real sample decode,
    * not headers); anything else null.
    */
  def monoOrNull(bytes: Array[Byte]): (Array[Double], Int) = {
    if (bytes == null || bytes.length < 4) return null
    if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' && bytes(3) == 'F')
      return Wav.monoOrNull(bytes)
    if (bytes(0) == 'f' && bytes(1) == 'L' && bytes(2) == 'a' && bytes(3) == 'C') {
      val pcm = Flac.decodeOrNull(bytes)
      if (pcm == null || pcm.nSamples == 0) return null
      return (pcm.mono, pcm.sampleRate)
    }
    if (bytes(0) == 'O' && bytes(1) == 'g' && bytes(2) == 'g' && bytes(3) == 'S') {
      val pcm = VorbisDecode.decodeOrNull(bytes)
      if (pcm == null || pcm.nSamples == 0) return null
      return (pcm.mono, pcm.sampleRate)
    }
    if ((bytes(0) & 0xFF) == 0x1A && (bytes(1) & 0xFF) == 0x45 &&
        (bytes(2) & 0xFF) == 0xDF && (bytes(3) & 0xFF) == 0xA3) {
      // WebM A_VORBIS (round 15): block packets through the same
      // Vorbis core as the Ogg walk
      val pcm = Webm.vorbisPcmOrNull(bytes)
      if (pcm == null || pcm.nSamples == 0) return null
      return (pcm.mono, pcm.sampleRate)
    }
    null
  }

  /** Audio curation signals over the canonical mono stream (round 14
    * — the audio `text_profile` feeding the quality gates):
    * `[n_samples, sample_rate, clip_n, silence_n, rms, peak]` where
    * clipping means |s| ≥ 32767/32768 (full-scale 16-bit), silence
    * means |s| ≤ 0.01 (−40 dBFS), rms = sqrt(Σs²/n), peak = max |s|.
    * Null for undecodable payloads.
    */
  def profileOrNull(bytes: Array[Byte]): Array[Double] = {
    val m = monoOrNull(bytes)
    if (m == null) return null
    val (s, rate) = m
    val n = s.length
    if (n == 0) return null
    val clipT = 32767.0 / 32768.0
    var clipN = 0L
    var silN = 0L
    var sumSq = 0.0
    var peak = 0.0
    var i = 0
    while (i < n) {
      val a = math.abs(s(i))
      if (a >= clipT) clipN += 1
      if (a <= 0.01) silN += 1
      sumSq += s(i) * s(i)
      if (a > peak) peak = a
      i += 1
    }
    Array(n.toDouble, rate.toDouble, clipN.toDouble, silN.toDouble,
      math.sqrt(sumSq / n), peak)
  }

  /** Mean detail energy per Haar cascade level over
    * `s[from, from+len)` (index 0 = top octave) plus the final
    * approximation energy at index [[Levels]].
    */
  private[ext] def bandEnergies(s: Array[Double], from: Int, len: Int): Array[Double] = {
    val e = new Array[Double](Bands)
    var cur = java.util.Arrays.copyOfRange(s, from, from + len)
    var lvl = 0
    while (lvl < Levels) {
      val half = cur.length / 2
      val low = new Array[Double](half)
      var sumSq = 0.0
      var i = 0
      while (i < half) {
        val a = cur(2 * i); val b = cur(2 * i + 1)
        low(i) = (a + b) * 0.5
        val d = (a - b) * 0.5
        sumSq += d * d
        i += 1
      }
      e(lvl) = if (half == 0) 0.0 else sumSq / half
      cur = low
      lvl += 1
    }
    var approx = 0.0
    var i = 0
    while (i < cur.length) { approx += cur(i) * cur(i); i += 1 }
    e(Levels) = if (cur.length == 0) 0.0 else approx / cur.length
    e
  }

  /** The 64-bit energy-band fingerprint of a mono stream, or null
    * when the clip is too short to fill the 9×8 grid.
    */
  def fingerprintOfMono(mono: Array[Double]): java.lang.Long = {
    if (mono == null) return null
    val segLen = mono.length / Segments
    if (segLen < MinSegment) return null
    val grid = Array.tabulate(Segments)(t => bandEnergies(mono, t * segLen, segLen))
    var fp = 0L
    var b = 0
    while (b < Bands - 1) {
      var t = 0
      while (t < Segments - 1) {
        val dd = (grid(t + 1)(b) - grid(t)(b)) -
          (grid(t + 1)(b + 1) - grid(t)(b + 1))
        if (dd > 0) fp |= 1L << (b * (Segments - 1) + t)
        t += 1
      }
      b += 1
    }
    java.lang.Long.valueOf(fp)
  }

  /** Decode + fingerprint in one per-row call (the expression
    * kernel): null for undecodable or too-short payloads.
    */
  def fingerprint64OrNull(bytes: Array[Byte]): java.lang.Long = {
    try {
      val m = monoOrNull(bytes)
      if (m == null) null else fingerprintOfMono(m._1)
    } catch {
      case scala.util.control.NonFatal(_) => null
    }
  }

  /** Fingerprint column (`afp` long, null = undecodable/short). */
  def withFingerprint(assets: DataFrame, contentCol: String = "content"): DataFrame = {
    import org.apache.spark.sql.{graftbridge => gb}
    assets.withColumn("afp",
      gb.column(graft.fn.Kernels.AudioFingerprint64(gb.expression(col(contentCol)))))
  }

  /** Audio near-duplicate pairs `(a_id, b_id, hamming)` — the SAME
    * band-join pair stage as images/videos; undecodable rows drop
    * out (no evidence either way).
    */
  def nearDupAudioPairs(assets: DataFrame, idCol: String,
                        maxHamming: Int = 3, bands: Int = 4,
                        contentCol: String = "content"): DataFrame = {
    val hashed = withFingerprint(assets, contentCol)
      .where(col("afp").isNotNull)
      .select(col(idCol).as("id"), col("afp").as("dhash"))
    Images.nearDupPairsFromHashes(hashed, maxHamming, bands)
  }
}
