package graft

import org.apache.spark.sql.functions._

import graft.functions.ImageOps
import graft.model.Fixtures
import graft.pipeline.CrawlTick

/** Payload invariants from BASELINE.json input_hint: decoded-pixel PSNR
  * ≥ 40 dB for lossy formats (exact for lossless) against the reference
  * rendering, and caption equality through the whole pipeline.
  */
class ImageInvariantsSpec extends SparkTestBase {

  private val nImages = 200L

  test("png payloads decode to the reference pixels exactly") {
    import spark.implicits._
    val bad = Fixtures.images(spark, nImages)
      .filter(_.fmt == "png")
      .map { d =>
        val ref = Fixtures.encode(Fixtures.renderImage(d.image_id, d.w, d.h), "png")
        ImageOps.psnr(ref, d.bytes)
      }
      .filter(p => !p.isPosInfinity)
      .count()
    assert(bad === 0L)
  }

  test("jpg payloads hold PSNR >= 40 dB vs the reference rendering") {
    import spark.implicits._
    val psnrs = Fixtures.images(spark, nImages)
      .filter(_.fmt == "jpg")
      .map { d =>
        val ref = Fixtures.encode(Fixtures.renderImage(d.image_id, d.w, d.h), "png")
        ImageOps.psnr(ref, d.bytes)
      }
      .collect()
    assert(psnrs.nonEmpty, "no jpg rows in fixture")
    assert(psnrs.forall(p => p >= 40.0), s"min PSNR ${psnrs.min}")
  }

  test("decodeMeta: distributed batch decode agrees with declared metadata") {
    val meta = ImageOps.decodeMeta(Fixtures.images(spark, nImages)).collect()
    assert(meta.length === nImages)
    assert(meta.forall(m => m.decoded_w == m.w && m.decoded_h == m.h))
    assert(meta.forall(m => !m.mean_luma.isNaN))
  }

  test("average-hash is robust to jpg re-encode, distinguishes images") {
    val imgs = (0L until 12L).map(Fixtures.imageDoc)
    val hashes = imgs.map(d => ImageOps.averageHash(ImageOps.decode(d.bytes)))
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    // re-encode (lossy) and compare: perceptually identical
    imgs.zip(hashes).foreach { case (d, h0) =>
      val re = Fixtures.encode(ImageOps.decode(d.bytes), "jpg")
      val h1 = ImageOps.averageHash(ImageOps.decode(re))
      assert(hamming(h0, h1) <= 6, s"${d.image_id}: re-encode moved ahash")
    }
    // distinct images should separate on average
    val pairs = for (i <- hashes.indices; j <- hashes.indices if i < j)
      yield hamming(hashes(i), hashes(j))
    assert(pairs.sum.toDouble / pairs.length > 8.0,
      s"mean pairwise hamming ${pairs.sum.toDouble / pairs.length}")
  }

  test("crawl sink invariant: caption equality + PSNR gate over a real tick") {
    import spark.implicits._
    val nSources = 10
    val listings = Fixtures.listItemsAt(spark, nSources, 20, tick = 0)
    val emitted = CrawlTick.runTick(spark,
      listings.toDF(),
      Fixtures.sourceSpecs(nSources).toDF(),
      graft.seen.SeenProbe.Exact(
        Fixtures.urlSeenSeed(spark, nSources, 4).toDF().select("canonical_url")),
      Fixtures.robots(nSources).toDF(),
      Fixtures.pageStore(spark, nSources, maxTick = 0).toDF()).emitted

    val images = Fixtures.images(spark, 1000L)
    val refs = images.map(d => (d.image_id,
        Fixtures.encode(Fixtures.renderImage(d.image_id, d.w, d.h), "png")))
      .toDF("image_id", "ref_bytes")

    val checked = ImageOps.withInvariants(
      emitted, images.toDF(), Some(refs)).cache()
    assert(checked.count() > 0)
    assert(checked.filter(!col("caption_ok")).count() === 0L,
      "caption mismatch between emitted rows and image table")
    assert(checked.filter(!col("psnr_ok")).count() === 0L,
      "payload PSNR below invariant")
    checked.unpersist()
  }

  test("sink invariant gate FIRES: planted caption mismatch and corrupted " +
      "payload are flagged, clean rows pass") {
    import spark.implicits._
    val docs = Fixtures.images(spark, 4L).collect()
    val images = Fixtures.images(spark, 4L).toDF()
    val emitted = Seq(
      (docs(0).image_id, docs(0).caption), // clean
      (docs(1).image_id, "WRONG CAPTION"), // planted caption violation
      (docs(2).image_id, docs(2).caption)  // clean caption, corrupted ref
    ).toDF("image_id", "caption")
    // refs: image 2's reference is a DIFFERENT picture at the same dims —
    // the PSNR leg must catch a payload swap the metadata can't see
    val refs = docs.take(3).map { d =>
      val refImg =
        if (d.image_id == docs(2).image_id)
          Fixtures.renderImage(d.image_id + "swapped", d.w, d.h)
        else Fixtures.renderImage(d.image_id, d.w, d.h)
      (d.image_id, Fixtures.encode(refImg, "png"))
    }.toSeq.toDF("image_id", "ref_bytes")
    val out = ImageOps.withInvariants(emitted, images, Some(refs))
      .select("image_id", "caption_ok", "psnr_ok").collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(out(docs(0).image_id) === ((true, true)))
    assert(out(docs(1).image_id)._1 === false, "caption violation missed")
    assert(out(docs(2).image_id) === ((true, false)), "payload swap missed")
  }
}
