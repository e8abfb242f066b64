package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import graft.model.Fixtures

/**
 * Video columns — the multimodal member next to `ImageOps`: payloads are
 * opaque `binary` columns with typed metadata, and every transform is a
 * decode-once `mapPartitions` pass whose OUTPUT is compact rows (bytes never
 * shuffle unless they are the product, like sampled frames).
 *
 * The container has no video codec libraries, so the byte-level decoder is a
 * DETERMINISTIC STUB (a frame synthesizer with a tiny header format, clearly
 * marked below); the Spark-side surface — schema, partitioning, frame
 * fan-out — is real and spec-tested, and a real codec drops into
 * `decodeFrame` without touching any plan.
 */
object Multimodal {

  case class VideoRow(video_id: String, bytes: Array[Byte], w: Int, h: Int,
                      fps: Int, n_frames: Int, caption: String)
  case class Frame(video_id: String, frame_idx: Int, t_seconds: Double,
                   w: Int, h: Int, pixels: Array[Byte])

  /** STUB container: "graft-vid" = 12-byte header + concatenated raw RGB
    * frames (each frame = the deterministic image-pixel generator seeded by
    * (video, frame)). A real demuxer/codec replaces `decodeFrame`. */
  def encodeVideo(i: Long, w: Int, h: Int, fps: Int, nFrames: Int): Array[Byte] = {
    val frame0 = Fixtures.pixels(i, w, h)
    val out = new java.io.ByteArrayOutputStream(12 + frame0.length * nFrames)
    out.write(Array[Byte]('g', 'v', (w >> 8).toByte, (w & 0xff).toByte,
      (h >> 8).toByte, (h & 0xff).toByte, fps.toByte,
      ((nFrames >> 8) & 0xff).toByte, (nFrames & 0xff).toByte, 0, 0, 0))
    var f = 0
    while (f < nFrames) {
      out.write(Fixtures.pixels(i * 1000003L + f, w, h))
      f += 1
    }
    out.toByteArray
  }

  def decodeFrame(bytes: Array[Byte], idx: Int): (Int, Int, Array[Byte]) = {
    require(bytes.length >= 12 && bytes(0) == 'g' && bytes(1) == 'v', "bad graft-vid header")
    val w = ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    val h = ((bytes(4) & 0xff) << 8) | (bytes(5) & 0xff)
    val frameLen = w * h * 3
    val off = 12 + idx * frameLen
    (w, h, java.util.Arrays.copyOfRange(bytes, off, off + frameLen))
  }

  def videoRow(i: Long): VideoRow = {
    val w = 32 + (i % 3).toInt * 16
    val h = 32 + (i % 2).toInt * 16
    val fps = 10
    val nFrames = 8 + (i % 5).toInt
    VideoRow(f"vid-$i%08d", encodeVideo(i, w, h, fps, nFrames), w, h, fps,
      nFrames, Fixtures.caption(i))
  }

  def videos(spark: org.apache.spark.sql.SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 16).map(videoRow(_)).toDF()
  }

  /**
   * Frame sampling: every `everyNth` frame decoded ONCE per video inside a
   * single mapPartitions pass and emitted as typed frame rows — the fan-out
   * (one row per sampled frame, pixels as the payload) is the product, so
   * the shuffle after this operator carries exactly the sampled frames and
   * nothing else. The plan shape is what a real codec would use at 100 TB:
   * videos partition-parallel, no driver involvement, downstream column
   * pruning drops `pixels` when only metadata is consumed.
   */
  def sampleFrames(videos: DataFrame, everyNth: Int): Dataset[Frame] = {
    val spark = videos.sparkSession
    import spark.implicits._
    videos.select("video_id", "bytes", "fps", "n_frames")
      .as[(String, Array[Byte], Int, Int)]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes, fps, nFrames) =>
          (0 until nFrames by everyNth).iterator.map { f =>
            val (w, h, pix) = decodeFrame(bytes, f)
            Frame(id, f, f.toDouble / fps, w, h, pix)
          }
        }
      }
  }
}
