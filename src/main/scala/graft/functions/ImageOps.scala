package graft.functions

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.ImageDoc

/** Multimodal (image) column operators. The payload is an opaque
  * BinaryType column with typed metadata (BASELINE.json input_hint schema);
  * decode and feature extraction run as partition-local batch functions
  * over the bytes — the Spark-side plumbing (schema, partitioning, batch
  * shape) is real and tested. Video frames are sampled in [[VideoOps]].
  *
  * Scale notes: bytes never enter a shuffle — all ops here are row-local
  * projections (narrow dependencies); scheduling/dedup upstream operate on
  * (image_id, phash) narrow columns only (SURVEY.md §7.4.6).
  */
object ImageOps {

  // ------------------------------------------------------------ decoding

  def decode(bytes: Array[Byte]): BufferedImage =
    ImageIO.read(new ByteArrayInputStream(bytes))

  /** PSNR (dB) between two encoded images' decoded RGB pixels.
    * Infinity when identical; NaN when undecodable or dimension mismatch.
    * Used by the sink invariant (decoded-pixel PSNR ≥ 40 dB for lossy,
    * BASELINE.json input_hint) — verification path, not the hot path.
    */
  def psnr(refBytes: Array[Byte], testBytes: Array[Byte]): Double = {
    val a = decode(refBytes); val b = decode(testBytes)
    if (a == null || b == null) return Double.NaN
    if (a.getWidth != b.getWidth || a.getHeight != b.getHeight) return Double.NaN
    var se = 0.0
    var y = 0
    while (y < a.getHeight) {
      var x = 0
      while (x < a.getWidth) {
        val pa = a.getRGB(x, y); val pb = b.getRGB(x, y)
        val dr = ((pa >> 16) & 0xff) - ((pb >> 16) & 0xff)
        val dg = ((pa >> 8) & 0xff) - ((pb >> 8) & 0xff)
        val db = (pa & 0xff) - (pb & 0xff)
        se += dr * dr + dg * dg + db * db
        x += 1
      }
      y += 1
    }
    val mse = se / (3.0 * a.getWidth * a.getHeight)
    if (mse == 0.0) Double.PositiveInfinity
    else 10.0 * math.log10(255.0 * 255.0 / mse)
  }

  val psnr_udf = udf(psnr _)

  // ------------------------------------------------- feature extraction

  final case class ImageMeta(
      image_id: String, fmt: String, w: Int, h: Int,
      decoded_w: Int, decoded_h: Int, n_bytes: Long,
      mean_luma: Double, ahash: Long)

  /** 64-bit average-hash perceptual fingerprint: 8×8 grayscale downsample,
    * threshold at the mean. Real implementation (pure JVM).
    */
  def averageHash(img: BufferedImage): Long = {
    val g = new BufferedImage(8, 8, BufferedImage.TYPE_INT_RGB)
    val gr = g.createGraphics()
    gr.drawImage(img, 0, 0, 8, 8, null)
    gr.dispose()
    val lum = new Array[Double](64)
    var i = 0
    var sum = 0.0
    while (i < 64) {
      val p = g.getRGB(i % 8, i / 8)
      lum(i) = 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
        0.114 * (p & 0xff)
      sum += lum(i)
      i += 1
    }
    val mean = sum / 64.0
    var hash = 0L
    i = 0
    while (i < 64) {
      if (lum(i) >= mean) hash |= (1L << i)
      i += 1
    }
    hash
  }

  /** Batch decode + feature extraction — partition-local, one decoder per
    * partition (the mapInPandas-batch analog in typed Scala form).
    */
  def decodeMeta(images: Dataset[ImageDoc]): Dataset[ImageMeta] = {
    import images.sparkSession.implicits._
    images.mapPartitions { it =>
      it.map { d =>
        val img = decode(d.bytes)
        if (img == null)
          ImageMeta(d.image_id, d.fmt, d.w, d.h, -1, -1, d.bytes.length.toLong,
            Double.NaN, 0L)
        else {
          var sum = 0.0
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val p = img.getRGB(x, y)
              sum += 0.299 * ((p >> 16) & 0xff) + 0.587 * ((p >> 8) & 0xff) +
                0.114 * (p & 0xff)
              x += 1
            }
            y += 1
          }
          ImageMeta(d.image_id, d.fmt, d.w, d.h, img.getWidth, img.getHeight,
            d.bytes.length.toLong, sum / (img.getWidth * img.getHeight),
            averageHash(img))
        }
      }
    }
  }

  // ------------------------------------------------------ sink invariant

  /** Pre-write invariant check (the K1 sink contract): every emitted row's
    * payload must satisfy caption equality with the image table and — when
    * a reference rendering is supplied — decoded-pixel PSNR ≥ 40 dB
    * (lossless formats must match exactly; ∞ passes trivially).
    *
    * @param emitted  crawl output carrying (image_id, caption)
    * @param images   the image table (image_id, bytes, fmt, caption)
    * @param refBytes optional reference bytes table (image_id, ref_bytes)
    * @return emitted ⨝ images with `caption_ok` and `psnr_db` columns —
    *         caller asserts/filters before commit
    */
  def withInvariants(emitted: DataFrame, images: DataFrame,
      refBytes: Option[DataFrame] = None): DataFrame = {
    val joined = emitted.alias("e")
      .join(images.select(col("image_id"),
        col("bytes"), col("fmt"), col("caption").as("image_caption")),
        Seq("image_id"), "left")
      .withColumn("caption_ok",
        col("image_caption").isNotNull &&
          col("e.caption") === col("image_caption"))
    refBytes match {
      case Some(rb) =>
        joined
          .join(rb.select(col("image_id"), col("ref_bytes")),
            Seq("image_id"), "left")
          .withColumn("psnr_db", psnr_udf(col("ref_bytes"), col("bytes")))
          .withColumn("psnr_ok",
            when(col("fmt") === "png", col("psnr_db") === Double.PositiveInfinity)
              .otherwise(col("psnr_db") >= 40.0))
      case None => joined
    }
  }
}
