package graft

import graft.multimodal.Multimodal

/** Multimodal decode through the real codecs: encoded payloads are
  * genuine files, and decode recovers the closed-form content.
  */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  /** [[Multimodal.encodePng]]'s pattern through the lossy codec — JPEG
    * preserves dimensions exactly (spec-gated) even though pixel
    * values are approximate.
    */
  private def encodeJpeg(seed: Long, width: Int, height: Int): Array[Byte] = {
    val png = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(
      Multimodal.encodePng(seed, width, height)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(png, "jpg", bos)
    bos.toByteArray
  }

  private lazy val docs =
    Tables.load(spark, "/root/testdata/sf0.001", "documents")

  test("PNG decode recovers exact dimensions and pixel sum (real codec)") {
    val assets = Multimodal.imageAssetsFromDocuments(docs, every = 50)
    // payloads are genuine PNGs: magic bytes present
    val first = assets.orderBy($"asset_id").head()
    assert(first.payload.take(8).map(_ & 0xff).toSeq ==
      Seq(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a))
    assert(first.width == 0 && first.height == 0) // decode can't cheat
    val feats = Multimodal.decodeImageFeatures(assets).collect()
      .map(f => f.asset_id -> f).toMap
    assert(feats.nonEmpty)
    for ((id, f) <- feats) {
      val w = (8 + id % 24).toInt
      val h = (8 + (id * 7) % 24).toInt
      val expected = (for (x <- 0 until w; y <- 0 until h)
        yield (id * 31 + 7 * x + 13 * y) % 256).sum
      assert(f.width == w && f.height == h, s"asset $id dims")
      assert(f.pixel_sum == expected, s"asset $id pixel sum")
    }
  }

  test("JPEG decode recovers exact dimensions (real lossy codec)") {
    val jpg = encodeJpeg(seed = 123L, width = 21, height = 14)
    assert((jpg(0) & 0xff) == 0xd8 || (jpg(1) & 0xff) == 0xd8) // SOI marker
    val f = Multimodal.decodeImageFeatures(
      Seq(Multimodal.MediaAsset(123L, "jpg", jpg, 0, 0, 0L)).toDS()).head()
    assert(f.asset_id == 123L && f.width == 21 && f.height == 14)
  }

  test("WAV decode recovers exact frame count and sample sum (real codec)") {
    val assets = Multimodal.audioAssetsFromDocuments(docs, every = 50)
    val first = assets.orderBy($"asset_id").head()
    assert(new String(first.payload.take(4), "US-ASCII") == "RIFF")
    val feats = Multimodal.decodeAudioFeatures(assets).collect()
      .map(f => f.asset_id -> f).toMap
    assert(feats.nonEmpty)
    for ((id, f) <- feats) {
      val n = (256 + id % 512).toInt
      val expected = (0 until n)
        .map(i => (id * 31 + 11L * i) % 65536 - 32768).sum
      assert(f.n_frames == n, s"asset $id frames")
      assert(f.sample_sum == expected, s"asset $id sample sum")
    }
  }

  test("animated GIF decode recovers frames, dims and strided pixel sums") {
    val assets = Multimodal.videoAssetsFromDocuments(docs, every = 50)
    val first = assets.orderBy($"asset_id").head()
    // payloads are genuine animated GIFs: GIF89a magic
    assert(new String(first.payload.take(6), "US-ASCII").startsWith("GIF8"))
    assert(first.width == 0 && first.height == 0) // decode can't cheat
    val feats = Multimodal.decodeVideoFeatures(assets, stride = 2).collect()
      .map(f => f.asset_id -> f).toMap
    assert(feats.nonEmpty)
    for ((id, f) <- feats) {
      val w = (8 + id % 8).toInt
      val h = (8 + (id * 3) % 8).toInt
      val n = (4 + id % 6).toInt
      val expected = (for {
        fr <- 0 until n if fr % 2 == 0
        x <- 0 until w; y <- 0 until h
      } yield (id * 31 + 7 * x + 13 * y + 19 * fr) % 256).sum
      assert(f.n_frames == n, s"asset $id frame count")
      assert(f.width == w && f.height == h, s"asset $id dims")
      assert(f.sampled_pixel_sum == expected, s"asset $id pixel sum")
    }
  }

  test("GIF stride-1 decodes every frame; stride-3 is a strict subset sum") {
    val gif = Multimodal.encodeGif(seed = 42L, width = 9, height = 11,
      nFrames = 7)
    val one = Seq(Multimodal.MediaAsset(42L, "gif", gif, 0, 0, 0L)).toDS()
    val all = Multimodal.decodeVideoFeatures(one, stride = 1).head()
    val sparse = Multimodal.decodeVideoFeatures(one, stride = 3).head()
    assert(all.n_frames == 7 && sparse.n_frames == 7)
    val frameSum = (f: Int) => (for (x <- 0 until 9; y <- 0 until 11)
      yield (42L * 31 + 7 * x + 13 * y + 19 * f) % 256).sum
    assert(all.sampled_pixel_sum == (0 until 7).map(frameSum).sum)
    assert(sparse.sampled_pixel_sum == Seq(0, 3, 6).map(frameSum).sum)
  }

  test("undecodable image payload fails loudly with the asset id") {
    val bad = Seq(Multimodal.MediaAsset(7L, "png",
      Array[Byte](1, 2, 3, 4), 0, 0, 0L)).toDS()
    val e = intercept[Exception] {
      Multimodal.decodeImageFeatures(bad).collect()
    }
    assert(e.toString.contains("7") ||
      Option(e.getCause).exists(_.toString.contains("7")), e.toString)
  }
}
