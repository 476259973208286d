package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.model.VideoDoc

/** Video frame-sampling over opaque binary columns — the third modality
  * (alongside [[ImageOps]] and [[AudioOps]]), and the production shape the
  * brief asks for: schema, partitioning, batch layout and stride sampling
  * are REAL; only the codec is a stand-in. The GVID container
  * ([[graft.model.VideoDoc]]) is parsed with full header/bounds checking
  * like any third-party file; its frames are raw gray8 instead of a
  * compressed codec because no codec libraries ship in this environment
  * (disclosed — a real deployment swaps [[decodeFrame]]'s arraycopy for an
  * FFmpeg/JavaCV grab at the same timestamp; everything downstream of the
  * frame bytes is unchanged).
  *
  * Scale shape: decode is partition-local (`mapPartitions` over the
  * already-partitioned video table — bytes never shuffle); a sampled
  * frame contributes one SMALL feature row (ints only), so the operator's
  * output is ~`n_videos × 8` rows regardless of payload size, and at
  * 100 TB the shuffle-facing volume is the feature rows, never the video
  * bytes. Stride sampling reads only every k-th frame — with a seekable
  * container (this one is) the untouched frames are never even copied.
  */
object VideoOps {

  /** Sampled frames per video: stride k = max(1, n_frames / FramesPerVideo)
    * → 8..15 frames sampled at indices 0, k, 2k, … — the keyframe-ish
    * budget a thumbnail/embedding pipeline takes per clip.
    */
  val FramesPerVideo = 8

  final case class ParsedVideo(w: Int, h: Int, nFrames: Int, fps: Int,
      data: Array[Byte]) {
    def frameOffset(f: Int): Int = 20 + f * w * h
  }

  /** Strict GVID parse: magic + sane header + exact payload length. None
    * on any violation — corrupt payloads drop to the caller's typed error
    * path instead of throwing inside a task (same contract as
    * [[AudioOps.parseWav]]).
    */
  def parseVideo(bytes: Array[Byte]): Option[ParsedVideo] = {
    if (bytes == null || bytes.length < 20) return None
    if (!(bytes(0) == 'G' && bytes(1) == 'V' && bytes(2) == 'I' &&
        bytes(3) == 'D')) return None
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val w = buf.getInt(4); val h = buf.getInt(8)
    val n = buf.getInt(12); val fps = buf.getInt(16)
    if (w <= 0 || h <= 0 || n <= 0 || fps <= 0) return None
    if (w.toLong * h * n > Int.MaxValue - 20L) return None
    if (bytes.length != 20 + w * h * n) return None
    Some(ParsedVideo(w, h, n, fps, bytes))
  }

  /** Frame `f` as raw gray8 bytes (row-major). This is the ONLY line a
    * real-codec deployment replaces.
    */
  def decodeFrame(v: ParsedVideo, f: Int): Array[Byte] = {
    val out = new Array[Byte](v.w * v.h)
    System.arraycopy(v.data, v.frameOffset(f), out, 0, out.length)
    out
  }

  /** Luminance features of every stride-sampled frame, decoded from REAL
    * bytes: (video_id, frame_idx, lum_sum, lum_min, lum_max). Undecodable
    * rows drop out here (no frames exist for bytes that don't parse).
    */
  def frameSampleStats(videos: Dataset[VideoDoc]): DataFrame = {
    import videos.sparkSession.implicits._
    videos.mapPartitions { it =>
      it.flatMap { d =>
        parseVideo(d.bytes).iterator.flatMap { v =>
          val k = math.max(1, v.nFrames / FramesPerVideo)
          Iterator.range(0, v.nFrames, k).map { f =>
            val px = decodeFrame(v, f)
            var sum = 0L; var min = 255; var max = 0
            var i = 0
            while (i < px.length) {
              val p = px(i) & 0xff
              sum += p
              if (p < min) min = p
              if (p > max) max = p
              i += 1
            }
            (d.video_id, f, sum, min, max)
          }
        }
      }
    }.toDF("video_id", "frame_idx", "lum_sum", "lum_min", "lum_max")
  }
}
