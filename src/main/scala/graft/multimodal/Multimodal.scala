package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as `binary`
  * columns with typed metadata, decoded by partition-batched codecs.
  *
  * Image (PNG/JPEG via `javax.imageio`), audio (WAV/PCM via
  * `javax.sound.sampled`) and video (multi-frame animated GIF via
  * `javax.imageio`'s sequence reader) decode are REAL pure-JVM
  * codecs — encoded payloads are genuine files a browser/player
  * opens, and decode recovers true dimensions / pixel values /
  * sample values / frame counts (oracled end-to-end by
  * q111/q112/q113: the synthesized content is a closed-form function
  * of the row key, so DuckDB recomputes the expected decoded stats
  * independently). Frame sampling (decode every Nth frame) runs
  * against the real container index, the same access pattern an
  * FFmpeg-backed decoder would use for keyframe striding.
  *
  * Scale: decode is a mapPartitions pass — no shuffle, arbitrary
  * per-partition native batching; partition sizing is controlled by the
  * usual file-split knobs. The unit of decode is a whole asset (a byte
  * range of a PNG, GIF or WAV file is not decodable on its own), so
  * one giant asset occupies one task: skew is bounded per asset, not
  * split below it.
  */
object Multimodal {

  final case class MediaAsset(asset_id: Long, kind: String,
                              payload: Array[Byte],
                              width: Int, height: Int, duration_ms: Long)

  /** Decoded image features: true codec-recovered dimensions and the
    * red-channel pixel sum (lossless for PNG, so exactly oracle-able).
    */
  final case class ImageFeatures(asset_id: Long, width: Int, height: Int,
                                 pixel_sum: Long)

  /** Decoded audio features: true frame count and signed-sample sum
    * recovered from the WAV container (PCM is lossless — oracle-able).
    */
  final case class AudioFeatures(asset_id: Long, n_frames: Long,
                                 sample_sum: Long)

  /** Deterministic grayscale test pattern: pixel (x,y) has value
    * `(seed*31 + 7x + 13y) mod 256` on all three channels. The SAME
    * closed form is recomputable in plain SQL (generate_series), which
    * is what lets a real PNG encode→decode round trip be hash-oracled
    * by an independent engine.
    */
  def encodePng(seed: Long, width: Int, height: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    // r22: one bulk setRGB instead of a per-pixel call — per-pixel
    // setRGB pays a color-model conversion + bounds check per call
    // and this encode runs inside the timed query per rep. Same
    // values, same bytes out.
    val buf = new Array[Int](width * height)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val v = ((seed * 31 + 7L * x + 13L * y) % 256).toInt
        buf(y * width + x) = (v << 16) | (v << 8) | v
        x += 1
      }
      y += 1
    }
    img.setRGB(0, 0, width, height, buf, 0, width)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic 16-bit mono PCM WAV: sample i is
    * `((seed*31 + 11i) mod 65536) - 32768`, `nFrames` frames at 8 kHz.
    * A genuine RIFF/WAVE file any player opens.
    */
  def encodeWav(seed: Long, nFrames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val pcm = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val s = (((seed * 31 + 11L * i) % 65536) - 32768).toShort
      pcm(2 * i) = (s & 0xff).toByte            // little-endian
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Synthesize real PNG assets from the documents table, one per
    * `every`-th doc_id; dimensions are a closed form of the id
    * (width 8..31, height 8..31) that the oracle recomputes. The
    * payload column carries genuine PNG bytes.
    */
  def imageAssetsFromDocuments(docs: DataFrame, every: Int = 5)
      : Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).filter(col("doc_id") % every === 0)
      .as[Long].mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 24).toInt
          val h = (8 + (id * 7) % 24).toInt
          // width/height deliberately NOT recorded on the asset:
          // decode must recover them from the codec, not the metadata
          MediaAsset(id, "png", encodePng(id, w, h), 0, 0, 0L)
        }
      }
  }

  /** Decoded video features: true codec-recovered frame count and
    * dimensions, plus the red-channel pixel sum over every
    * `stride`-th frame (GIF is palette-exact — oracle-able).
    */
  final case class VideoFeatures(asset_id: Long, n_frames: Int,
                                 width: Int, height: Int,
                                 sampled_pixel_sum: Long)

  /** Deterministic multi-frame animated GIF: frame f's pixel (x,y) is
    * `(seed*31 + 7x + 13y + 19f) mod 256` in gray. Frames are written
    * through an explicit 256-entry grayscale palette, so the
    * palette-based codec is LOSSLESS on this content and the decoded
    * pixel values are exactly the closed form — which is what lets a
    * real container round trip be hash-oracled by an engine with no
    * codec. The output is a genuine GIF89a any browser animates.
    */
  def encodeGif(seed: Long, width: Int, height: Int,
                nFrames: Int): Array[Byte] = {
    val gray = Array.tabulate[Byte](256)(i => i.toByte)
    val palette = new java.awt.image.IndexColorModel(8, 256, gray, gray, gray)
    val bos = new java.io.ByteArrayOutputStream()
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(
        width, height, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, palette)
      // r22: one bulk setSamples per frame instead of a per-pixel
      // setSample call (same sample values, same GIF bytes out)
      val samples = new Array[Int](width * height)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          samples(y * width + x) =
            ((seed * 31 + 7L * x + 13L * y + 19L * f) % 256).toInt
          x += 1
        }
        y += 1
      }
      img.getRaster.setSamples(0, 0, width, height, 0, samples)
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Synthesize real animated-GIF "video" assets: `4 + id % 6` frames
    * of `8 + id % 8` × `8 + (id*3) % 8` pixels. Metadata deliberately
    * zeroed — decode must recover everything from the container.
    */
  def videoAssetsFromDocuments(docs: DataFrame, every: Int = 5)
      : Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).filter(col("doc_id") % every === 0)
      .as[Long].mapPartitions { it =>
        it.map { id =>
          val w = (8 + id % 8).toInt
          val h = (8 + (id * 3) % 8).toInt
          val n = (4 + id % 6).toInt
          MediaAsset(id, "gif", encodeGif(id, w, h, n), 0, 0, 0L)
        }
      }
  }

  /** REAL video decode with frame sampling: `javax.imageio`'s GIF
    * sequence reader parses the container's frame index, decodes only
    * every `stride`-th frame (the keyframe-striding access pattern),
    * and recovers true frame count / dimensions / sampled pixel sums.
    * Map-only partition-batched pass; loud on undecodable payloads.
    */
  def decodeVideoFeatures(assets: Dataset[MediaAsset], stride: Int = 2)
      : Dataset[VideoFeatures] = {
    require(stride > 0, "stride must be positive")
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(a.payload))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        require(readers.hasNext, s"asset ${a.asset_id}: undecodable video")
        val reader = readers.next()
        reader.setInput(iis)
        val nFrames = reader.getNumImages(true)
        var sum = 0L
        var w = 0
        var h = 0
        var f = 0
        while (f < nFrames) {
          if (f % stride == 0) { // only sampled frames are decoded
            val img = reader.read(f)
            w = img.getWidth
            h = img.getHeight
            // r22: one bulk getRGB per frame — the per-pixel call
            // re-runs the palette color-model conversion and bounds
            // checks per pixel (same values through the same
            // ColorModel path, amortized once per frame)
            val buf = img.getRGB(0, 0, w, h, null, 0, w)
            var i = 0
            while (i < buf.length) {
              sum += (buf(i) >> 16) & 0xff
              i += 1
            }
          }
          f += 1
        }
        reader.dispose()
        iis.close()
        VideoFeatures(a.asset_id, nFrames, w, h, sum)
      }
    }
  }

  /** Synthesize real WAV assets: `256 + id % 512` frames each. */
  def audioAssetsFromDocuments(docs: DataFrame, every: Int = 5)
      : Dataset[MediaAsset] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).filter(col("doc_id") % every === 0)
      .as[Long].mapPartitions { it =>
        it.map { id =>
          val n = (256 + id % 512).toInt
          MediaAsset(id, "wav", encodeWav(id, n), 0, 0, n * 1000L / 8000L)
        }
      }
  }

  /** REAL image decode (`javax.imageio`, PNG/JPEG/GIF/BMP): recovers
    * true dimensions and red-channel pixel sum from the payload bytes.
    * Partition-batched map-only pass; an undecodable payload fails
    * loudly with the asset id rather than nulling out.
    */
  def decodeImageFeatures(assets: Dataset[MediaAsset])
      : Dataset[ImageFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.payload))
        require(img != null, s"asset ${a.asset_id}: undecodable image")
        // r22: bulk getRGB (see decodeVideoFeatures) — same values,
        // one color-model pass per image instead of per pixel
        val w = img.getWidth
        val h = img.getHeight
        val buf = img.getRGB(0, 0, w, h, null, 0, w)
        var sum = 0L
        var i = 0
        while (i < buf.length) {
          sum += (buf(i) >> 16) & 0xff
          i += 1
        }
        ImageFeatures(a.asset_id, w, h, sum)
      }
    }
  }

  /** REAL audio decode (`javax.sound.sampled`, WAV/PCM): parses the
    * RIFF container, recovers frame count and the sum of signed 16-bit
    * samples. Map-only, loud on undecodable payloads.
    */
  def decodeAudioFeatures(assets: Dataset[MediaAsset])
      : Dataset[AudioFeatures] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(a.payload))
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
          s"asset ${a.asset_id}: expected 16-bit mono PCM, got $fmt")
        val bytes = ais.readAllBytes()
        ais.close()
        val nFrames = bytes.length / 2
        var sum = 0L
        var i = 0
        while (i < nFrames) {
          val lo = bytes(2 * i) & 0xff
          val hi = bytes(2 * i + 1).toInt // sign-extends the high byte
          sum += (hi << 8) | lo
          i += 1
        }
        AudioFeatures(a.asset_id, nFrames.toLong, sum)
      }
    }
  }
}
