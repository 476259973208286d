package graft.functions

import org.apache.spark.sql.Dataset

import graft.model.AudioDoc

/** Multimodal (audio) column operators — the audio sibling of [[ImageOps]].
  * The payload is an opaque BinaryType column (RIFF/WAV, 16-bit PCM); decode
  * and feature extraction run as partition-local batch functions over the
  * bytes. Like [[VideoOps]]'s GVID container (and unlike real-codec
  * video), the WAV container needs no external codec: [[parseWav]] is a
  * real RIFF chunk walker, so the whole path is a genuine implementation.
  *
  * Feature arithmetic is INTEGER (peak = max |s|, energy = Σ s² as BIGINT,
  * zero-crossings = sign-flip count) so the DuckDB oracle can recompute the
  * expected values exactly from the fixture's synthesis parameters — decode
  * bugs cannot hash-match (see [[graft.model.Fixtures.audioDoc]]).
  *
  * Scale notes: bytes never enter a shuffle — decode/feature ops are
  * row-local projections (narrow dependencies), same contract as the image
  * path; scheduling/dedup upstream carry (audio_id, features) narrow
  * columns only.
  */
object AudioOps {

  /** Parsed WAV: PCM parameters + the channel-0 samples. */
  final case class Wav(
      sampleRate: Int, channels: Int, bitsPerSample: Int,
      samples: Array[Short])

  /** RIFF/WAV chunk walker for 16-bit integer PCM. Returns None on
    * anything malformed (bad magic, truncated chunk, non-PCM format,
    * unsupported bit depth) — the error-isolation contract: a corrupt
    * payload yields a typed "undecodable" row, never an exception.
    * Only channel 0 is retained (features are per-frame on the first
    * channel; stereo frames are de-interleaved here).
    */
  def parseWav(bytes: Array[Byte]): Option[Wav] = {
    if (bytes == null || bytes.length < 44) return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag4(at: Int): String =
      new String(bytes, at, 4, "US-ASCII")
    if (tag4(0) != "RIFF" || tag4(8) != "WAVE") return None
    var pos = 12
    var sr = -1; var ch = -1; var bits = -1
    var dataOff = -1; var dataLen = -1
    while (pos + 8 <= bytes.length && (sr < 0 || dataOff < 0)) {
      val tag = tag4(pos)
      val len = buf.getInt(pos + 4)
      if (len < 0 || pos + 8 + len > bytes.length) return None
      tag match {
        case "fmt " =>
          if (len < 16) return None
          val audioFormat = buf.getShort(pos + 8).toInt
          if (audioFormat != 1) return None // integer PCM only
          ch = buf.getShort(pos + 10).toInt
          sr = buf.getInt(pos + 12)
          bits = buf.getShort(pos + 22).toInt
          if (bits != 16 || ch < 1 || sr <= 0) return None
        case "data" =>
          dataOff = pos + 8
          dataLen = len
        case _ => // skip unknown chunks (LIST, fact, ...)
      }
      pos += 8 + len + (len & 1) // chunks are word-aligned
    }
    if (sr < 0 || dataOff < 0) return None
    val frameBytes = ch * 2
    val nFrames = dataLen / frameBytes
    val out = new Array[Short](nFrames)
    var i = 0
    while (i < nFrames) {
      out(i) = buf.getShort(dataOff + i * frameBytes)
      i += 1
    }
    Some(Wav(sr, ch, bits, out))
  }

  final case class AudioMeta(
      audio_id: String, sr: Int, channels: Int, n_frames: Int,
      n_bytes: Long, peak: Int, sum_sq: Long, zero_crossings: Long)

  /** Channel-0 features in one pass: peak |s|, Σ s² (64-bit — no overflow
    * below 2^33 frames at full scale), and strict sign-flip count
    * (s_{i-1} · s_i < 0; zeros break a flip, which the square-wave
    * fixtures never emit, so the analytic oracle stays exact).
    */
  def features(samples: Array[Short]): (Int, Long, Long) = {
    var peak = 0; var sumSq = 0L; var zc = 0L
    var i = 0
    while (i < samples.length) {
      val s = samples(i).toInt
      val a = math.abs(s)
      if (a > peak) peak = a
      sumSq += s.toLong * s.toLong
      if (i > 0 && samples(i - 1).toInt * s < 0) zc += 1
      i += 1
    }
    (peak, sumSq, zc)
  }

  val ZcrWindows = 15
  val ZcrNibbleBits = 4 // 15 windows × 4-bit capped count = 60-bit print

  /** Amplitude-invariant 60-bit audio fingerprint: channel 0 is split into
    * [[ZcrWindows]] equal windows and each window contributes a 4-bit
    * nibble = min(sign-flips inside it, 15). Zero crossings depend only on
    * the waveform's SHAPE (where it changes sign), never its level, so
    * volume-rescaled re-encodes of the same clip produce the IDENTICAL
    * print — the property the near-dup banding exploits — while a pitch
    * (half-period) change moves every nibble. Counts saturate at 15:
    * high-frequency content collapses toward the all-saturated print,
    * a real hot-bucket the banded join must absorb (disclosed in
    * [[graft.operators.TrainingOps.audioZcrNearDups]]).
    *
    * Window w covers flip positions i ∈ (w·len, min((w+1)·len, n−1)] with
    * len = n/15 (integer), a flip at i meaning s[i−1]·s[i] < 0 — the same
    * interval arithmetic the DuckDB oracle evaluates analytically from the
    * square-wave parameters (flips at exact multiples of half_period), so
    * a windowing or de-interleave bug cannot hash-match.
    */
  def zcrFingerprint(samples: Array[Short]): Long = {
    val n = samples.length
    val len = n / ZcrWindows
    if (len == 0) return 0L
    var fp = 0L
    var w = 0
    while (w < ZcrWindows) {
      val lo = w * len
      val hi = math.min((w + 1) * len, n - 1)
      var c = 0
      var i = lo + 1
      while (i <= hi) {
        if (samples(i - 1).toInt * samples(i).toInt < 0) c += 1
        i += 1
      }
      fp |= math.min(c, 15).toLong << (ZcrNibbleBits * w)
      w += 1
    }
    fp
  }

  /** (audio_id, fp) for every DECODABLE row — corrupt payloads drop out
    * here (no fingerprint exists for bytes that don't parse), mirroring
    * the typed-error contract of [[decodeMeta]]. Partition-local: bytes
    * never shuffle; only the 8-byte print enters downstream joins.
    */
  def fingerprints(audios: Dataset[AudioDoc])
      : org.apache.spark.sql.DataFrame = {
    import audios.sparkSession.implicits._
    audios.mapPartitions { it =>
      it.flatMap(d => parseWav(d.bytes).map(w =>
        (d.audio_id, zcrFingerprint(w.samples))))
    }.toDF("audio_id", "fp")
  }

  /** Batch decode + feature extraction — partition-local, mirroring
    * [[ImageOps.decodeMeta]]'s contract: undecodable rows land as typed
    * (-1, …, 0) rows with their byte length preserved for triage.
    */
  def decodeMeta(audios: Dataset[AudioDoc]): Dataset[AudioMeta] = {
    import audios.sparkSession.implicits._
    audios.mapPartitions { it =>
      it.map { d =>
        parseWav(d.bytes) match {
          case Some(w) =>
            val (peak, sumSq, zc) = features(w.samples)
            AudioMeta(d.audio_id, w.sampleRate, w.channels, w.samples.length,
              d.bytes.length.toLong, peak, sumSq, zc)
          case None =>
            AudioMeta(d.audio_id, -1, -1, -1, d.bytes.length.toLong, 0, 0L, 0L)
        }
      }
    }
  }
}
